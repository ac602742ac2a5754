"""Correctness oracles that share no code with the engine's sinks.

Everything here runs in DuckDB over the generated binlog parquet files
and is compared with what the engine produced, as sorted row lists
plus an order-insensitive SHA-256 content hash.

Run directly to print the oracle's final row count for a generated
binlog (used to confirm the seed reproduces the replay anchor):

    python3 perfbench/oracle.py --events 2000000 --seed 42
"""

from __future__ import annotations

import hashlib
import json

ROLE_TAG_SEP = ": "
TURN_SEP = "\n"

TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "model", "ts"]

# Last-writer-wins over (ts, seq) per (conv_id, turn_idx); a winning
# delete removes the key. Duplicate deliveries share seq and payload,
# so ties are unobservable.
_LWW_SQL = """
    WITH ev AS (
        SELECT seq,
               json_extract_string(event_json, '$.op') AS op,
               CAST(json_extract_string(event_json, '$.ts') AS TIMESTAMP) AS ts,
               json_extract_string(event_json, '$.data.conv_id') AS conv_id,
               CAST(json_extract_string(event_json, '$.data.turn_idx') AS INTEGER)
                   AS turn_idx,
               json_extract_string(event_json, '$.data.role') AS role,
               json_extract_string(event_json, '$.data.text') AS text,
               json_extract_string(event_json, '$.data.tool') AS tool,
               json_extract_string(event_json, '$.data.model') AS model
        FROM read_parquet({files})
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM ev
    )
    SELECT conv_id, turn_idx, role, text, tool, model,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def _canon(v):
    return None if v is None else str(v)


def digest(rows: list[tuple]) -> str:
    """Order-insensitive content hash of a row list."""
    h = hashlib.sha256()
    for r in sorted(json.dumps([_canon(v) for v in r]) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def lww_final_state(files: list[str]) -> list[tuple]:
    """Final table rows (TABLE_COLS order) after applying ``files``."""
    with _connect() as con:
        return con.execute(_LWW_SQL.format(files=_files_sql(files))).fetchall()


def assembled_view(final_rows: list[tuple]) -> list[tuple]:
    """(conv_id, document, n_turns) assembled from final table rows:
    turns ordered by turn_idx, ``role: text`` lines joined by newline,
    NULL role or text rendered as the empty string."""
    docs: dict[str, list[tuple[int, str]]] = {}
    for conv_id, turn_idx, role, text, *_ in final_rows:
        line = (role or "") + ROLE_TAG_SEP + (text or "")
        docs.setdefault(conv_id, []).append((turn_idx, line))
    return [
        (c, TURN_SEP.join(line for _, line in sorted(turns)), len(turns))
        for c, turns in docs.items()
    ]


def captured_cells(files: list[str], max_seq: int) -> list[tuple]:
    """(seq, op, ts, conv_id, turn_idx, text) as JSON text values for
    every event with seq < ``max_seq``: the pointer-capture reference."""
    sql = f"""
        SELECT seq,
               json_extract_string(event_json, '$.op'),
               json_extract_string(event_json, '$.ts'),
               json_extract_string(event_json, '$.data.conv_id'),
               json_extract_string(event_json, '$.data.turn_idx'),
               json_extract_string(event_json, '$.data.text')
        FROM read_parquet({_files_sql(files)}) WHERE seq < {int(max_seq)}
    """
    with _connect() as con:
        return con.execute(sql).fetchall()


def capture_aggregates(files: list[str]) -> tuple:
    """(documents, non-null texts, sum of turn_idx, distinct conv_id)
    over every event: checks a full typed-capture pass."""
    sql = f"""
        SELECT COUNT(*),
               COUNT(json_extract_string(event_json, '$.data.text')),
               SUM(CAST(json_extract_string(event_json, '$.data.turn_idx')
                        AS BIGINT)),
               COUNT(DISTINCT json_extract_string(event_json, '$.data.conv_id'))
        FROM read_parquet({_files_sql(files)})
    """
    with _connect() as con:
        return tuple(int(v) for v in con.execute(sql).fetchone())


def compare(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Mismatch descriptions (empty when equal as multisets)."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    if digest(got) != digest(want):
        g = {json.dumps([_canon(v) for v in r]) for r in got}
        w = {json.dumps([_canon(v) for v in r]) for r in want}
        sample = sorted(g - w)[:2]
        return [f"{name}: content hash differs from oracle, e.g. {sample}"]
    return []


def main() -> None:
    import argparse
    import os
    import sys
    import tempfile

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from embulk_util_json_spark.sources.generator import ensure_events_segments

    here = os.path.dirname(os.path.abspath(__file__))
    with tempfile.TemporaryDirectory(dir=here) as tmp:
        d = ensure_events_segments(
            tmp, n_events=args.events, segments=64,
            n_convs=max(200, args.events // 2000), n_turns=40,
            evolve_after=0.75, seed=args.seed,
        )
        files = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
        rows = lww_final_state(files)
    print(json.dumps({"events": args.events, "seed": args.seed,
                      "final_rows": len(rows), "digest": digest(rows)}))


if __name__ == "__main__":
    main()
