"""Spans around the benchmark's calls into each engine layer.

Every timed call runs inside ``Tracer.span(layer)``. The span's wall
time is always recorded (the end-to-end metrics are built from it).
When tracing is on, each span also runs under its own Spark job group,
so the job count comes from the status tracker and stage metrics
(tasks, CPU, GC, shuffle bytes) from the event log, attributed back to
the span's layer. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    group: str
    wall_s: float
    jobs: int = 0
    stats: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        group = f"{layer}#{len(self.spans)}"
        if self.enabled:
            self.sc.setLocalProperty(GROUP_KEY, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            jobs = 0
            if self.enabled:
                self.sc.setLocalProperty(GROUP_KEY, None)
                jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(Span(layer, group, wall, jobs))

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def attach_event_log(self, log_dir: str) -> None:
        """Fold stage metrics from the (closed) event log into spans."""
        by_group = {s.group: s for s in self.spans}
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        stage_job: dict[int, int] = {}
        paths = sorted(
            os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
        )
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        g = (ev.get("Properties") or {}).get(GROUP_KEY)
                        if g in by_group:
                            job_group[jid] = g
                            job_start[jid] = ev["Submission Time"] / 1000.0
                            for sid in ev.get("Stage IDs", []):
                                stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        jid = ev["Job ID"]
                        if jid in job_group:
                            st = by_group[job_group[jid]].stats
                            st.setdefault("job_intervals", []).append(
                                (job_start[jid], ev["Completion Time"] / 1000.0)
                            )
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        jid = stage_job.get(info["Stage ID"])
                        if jid is None:
                            continue
                        st = by_group[job_group[jid]].stats
                        acc = {
                            a.get("Name"): a.get("Value")
                            for a in info.get("Accumulables", [])
                        }
                        st.setdefault("stage_tasks", []).append(
                            (info["Stage ID"], info["Number of Tasks"])
                        )
                        for key, src, scale in _STAGE_METRICS:
                            st[key] = st.get(key, 0.0) + float(acc.get(src) or 0) * scale

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


_STAGE_METRICS = [
    ("task_cpu_s", "internal.metrics.executorCpuTime", 1e-9),
    ("gc_s", "internal.metrics.jvmGCTime", 1e-3),
    ("shuffle_write_bytes", "internal.metrics.shuffle.write.bytesWritten", 1.0),
]


def job_busy_s(span: Span) -> float:
    """Seconds of the span covered by at least one of its jobs."""
    ivals = sorted(span.stats.get("job_intervals", []))
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivals:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return min(busy, span.wall_s)
