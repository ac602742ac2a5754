#!/usr/bin/env python3
"""Steadiness mode: repeat one workload in fresh processes and print,
per metric, the median, the quartiles and the relative spread
(q3 - q1) / median, next to the bound BENCHMARK.json gives the metric.

    python3 perfbench/steady.py --workload trickle_view --runs 10
    python3 perfbench/steady.py --workload trickle_view --runs 10 --vary-seed
    python3 perfbench/steady.py --workload bulk_replay --runs 5 --trace 1

Every run uses ``--seed`` (42 by default), so the spread is the noise
of repeating one run; with ``--vary-seed`` run ``i`` uses seed
``seed + i``, which adds the variation between inputs. With
``--trace 1`` the per-layer metrics are summarised; ``trace.*`` against the untraced end-to-end
medians of an earlier run of this tool (``--against FILE``) gives the
tracing overhead. ``--save FILE`` keeps every run's result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed}, exit {proc.returncode}")
    return json.loads(lines[-1])


def summarise(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "unit": results[0]["metrics"][name]["unit"], "values": vals,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--vary-seed", action="store_true",
                    help="give run i the seed --seed + i")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="write the run results and summary here")
    ap.add_argument("--against", help="an untraced --save file, for overhead")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]

    results = []
    for i in range(args.runs):
        seed = args.seed + i if args.vary_seed else args.seed
        r = run_once(args.workload, seed, seconds, args.trace)
        if not r["correct"]:
            raise SystemExit(f"incorrect result at seed {seed}: {r}")
        results.append(r)
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
            if not k.startswith("spark.")), flush=True)
    summary = summarise(results)

    seeds = f"seeds {args.seed}.." if args.vary_seed else f"seed {args.seed}"
    print(f"\n{args.workload}: {args.runs} runs, {seconds}s each, {seeds}, "
          f"trace={args.trace}")
    print(f"{'metric':45s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, s in summary.items():
        b = bounds.get(name)
        flag = "" if b is None or s["spread"] < b / 3 else "  <-- above bound/3"
        print(f"{name:45s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['spread']:8.3f} {'' if b is None else b:>6}{flag}")

    if args.against:
        with open(args.against) as fh:
            base = json.load(fh)["summary"]
        print("\ntracing overhead (traced median / untraced median - 1):")
        for name in bounds:
            t = summary.get(f"trace.{name}")
            if t and name in base:
                print(f"  {name:20s} {t['median'] / base[name]['median'] - 1:+.3f}")

    if args.save:
        with open(args.save, "w") as fh:
            json.dump({"workload": args.workload, "seconds": seconds,
                       "seed": args.seed, "vary_seed": args.vary_seed,
                       "trace": args.trace, "results": results,
                       "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
