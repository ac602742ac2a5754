"""The workloads. Each drives the engine only through its public
functions and times those calls from outside, through ``ctx.tracer``.

A workload provides:

- ``make_inputs(cache, seed)``: generate (once per workload and seed)
  the binlog it consumes; never timed;
- ``setup_pass(ctx, i)``: one pass of every timed call on fresh tables
  (the warm-up; part of ``setup_s``);
- ``round(ctx)``: one closed-loop round of the main loop. Each step
  starts only after the previous one has committed;
- ``query(ctx)``: one query over what the main loop produced;
- ``extras(ctx)``: traced run only, outside the end-to-end metrics
  (point lookups, noop cut-points, pointer capture);
- ``check(ctx)``: mismatches against an oracle, run after the timed
  sections.

``STEP_LAYERS`` name the spans that make up a main-loop step,
``QUERY_LAYER`` the span of one query, and ``INPUT_KEY`` the input
sizes the cache directory is keyed by.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F, types as T

import oracle

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("event_json", T.StringType()),
    ]
)

CAPTURE_POINTERS = ["/op", "/ts", "/data/conv_id", "/data/turn_idx", "/data/text"]
CAPTURE_COLS = ["op", "ts", "conv_id", "turn_idx", "text"]


def make_binlog(path: str, n_events: int, segments: int, n_convs: int, seed: int) -> list[str]:
    """Seq-contiguous binlog segment files (generator as in
    ``bench.bench_replay``: 40 turns per conversation, hot-key skew,
    duplicates, deletes, schema evolution after 75%)."""
    from embulk_util_json_spark.sources.generator import ensure_events_segments

    ensure_events_segments(
        path, n_events=n_events, segments=segments, n_convs=n_convs,
        n_turns=40, evolve_after=0.75, seed=seed,
    )
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def file_rows(files: list[str]) -> list[int]:
    import pyarrow.parquet as pq

    return [pq.read_metadata(f).num_rows for f in files]


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _, names in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_rows(df) -> list[tuple]:
    """Collect a sink read as ``oracle.TABLE_COLS`` tuples."""
    cols = [
        F.col(c) if c in df.columns else F.lit(None).cast("string").alias(c)
        for c in oracle.TABLE_COLS[:-1]
    ]
    cols.append(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))
    return [tuple(r) for r in df.select(*cols).collect()]


class SinkWorkload:
    """Shared by the two workloads that apply into the MOR sink. A round
    applies the workload's input, in seq order, into fresh tables; a
    set-up pass is one such round followed by the queries, so the
    warm-up runs every timed path on the layout the measured rounds
    leave."""

    QUERY_LAYER = "read"
    LOOKUPS = 20
    MIN_ROUNDS = 1
    COMPACT_EVERY = 16  # the engine default, pinned
    # Reads per set-up pass: the read path's planning code is still
    # warming up over its first few calls.
    WARM_READS = 2

    def setup_pass(self, ctx, i: int) -> None:
        self._round(ctx, os.path.join(ctx.work, f"warm{i}"))
        for _ in range(self.WARM_READS):
            self._read(ctx, self.sink)
        with ctx.tracer.span("lookup"):
            table_rows(self.sink.read(key_eq={"conv_id": "c000001"}))

    def round(self, ctx) -> None:
        n = ctx.rounds
        if n:
            shutil.rmtree(os.path.join(ctx.work, f"round{n - 1}"), ignore_errors=True)
        root = os.path.join(ctx.work, f"round{n}")
        self._round(ctx, root)
        self.stored_bytes = dir_bytes(root)

    def query(self, ctx) -> None:
        self._read(ctx, self.sink)

    def _sink(self, ctx, root: str):
        from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink

        return ParquetSnapshotSink(
            ctx.spark, root, num_buckets=self.BUCKETS, mode="mor",
            compact_every=self.COMPACT_EVERY,
        )

    def _read(self, ctx, sink) -> None:
        with ctx.tracer.span("read"):
            noop(sink.read())

    def _lookup_ids(self, seed: int) -> list[str]:
        rng = random.Random(seed)
        return [f"c{rng.randrange(self.N_CONVS):06d}" for _ in range(self.LOOKUPS)]

    def _lookups(self, ctx) -> None:
        self.lookup_rows: dict[str, list[tuple]] = {}
        for cid in self._lookup_ids(ctx.seed):
            with ctx.tracer.span("lookup"):
                rows = table_rows(self.sink.read(key_eq={"conv_id": cid}))
            self.lookup_rows[cid] = rows

    def _check_table(self) -> tuple[list[str], list[tuple]]:
        want = oracle.lww_final_state(self.files)
        bad = oracle.compare("table", table_rows(self.sink.read()), want)
        for cid, got in getattr(self, "lookup_rows", {}).items():
            bad += oracle.compare(
                f"lookup {cid}", got, [r for r in want if r[0] == cid]
            )
        return bad, want


class BulkReplay(SinkWorkload):
    """Large micro-batches: envelope parse and the fused reduce/write
    job dominate. Each round applies the whole binlog as one
    micro-batch into a fresh 32-bucket MOR sink. The traced run also
    measures the pointer capture operators over the same binlog
    (``extras``)."""

    name = "bulk_replay"
    N_EVENTS = 200_000
    N_CONVS = 200
    SEGMENTS = 16
    BUCKETS = 32
    SLICE = 5_000
    CHECK_SLICE = 2_000
    CAPTURE_PASSES = 3
    # Three rounds even on a slow host, so that no single round weighs
    # more than a third.
    MIN_ROUNDS = 3
    INPUT_KEY = f"{N_EVENTS}x{SEGMENTS}"
    STEP_LAYERS = ("apply",)

    def make_inputs(self, cache: str, seed: int) -> None:
        self.files = make_binlog(
            os.path.join(cache, "binlog"), self.N_EVENTS, self.SEGMENTS,
            self.N_CONVS, seed,
        )
        self.input_bytes = dir_bytes(os.path.join(cache, "binlog"))

    def _batch(self, ctx):
        return ctx.spark.read.schema(EVENTS_SCHEMA).parquet(*self.files)

    def _round(self, ctx, root: str) -> None:
        from embulk_util_json_spark.streaming.runner import apply_events_batch

        self.sink = self._sink(ctx, root)
        with ctx.tracer.span("apply"):
            res = apply_events_batch(self._batch(ctx), self.sink, "b0")
        ctx.applied(self.N_EVENTS, res)

    def extras(self, ctx) -> None:
        """Lookups, the scan and parse cut-points of the micro-batch,
        and the paper's pointer capture over the same binlog: typed
        capture of every document and parity capture of the first
        SLICE, each after one untimed warm-up call."""
        from embulk_util_json_spark.sources.events import (
            parse_change_events_single_pass,
        )

        self._lookups(ctx)
        with ctx.tracer.span("cut.scan"):
            noop(self._batch(ctx))
        with ctx.tracer.span("cut.parse"):
            noop(parse_change_events_single_pass(self._batch(ctx)))
        noop(capture_typed_df(ctx, self.files))
        noop(capture_parity_df(ctx, self.files, self.SLICE))
        for _ in range(self.CAPTURE_PASSES):
            with ctx.tracer.span("capture.typed"):
                noop(capture_typed_df(ctx, self.files))
            ctx.typed_docs += self.N_EVENTS
            with ctx.tracer.span("capture.parity"):
                noop(capture_parity_df(ctx, self.files, self.SLICE))
            ctx.parity_docs += self.SLICE

    def check(self, ctx) -> list[str]:
        bad = self._check_table()[0]
        if ctx.tracer.enabled:
            bad += check_capture(ctx, self.files, self.CHECK_SLICE)
        return bad


class TrickleView(SinkWorkload):
    """Small micro-batches, each followed by an incremental view
    refresh: the per-batch fixed cost dominates. A round applies STEPS
    batches into a fresh sink and view, so the second refresh merges
    into existing view rows. ``compact_every`` is 1, so the second
    apply auto-compacts every bucket and the reads see the base that
    compaction leaves (the engine default, 16, needs 17 batches, about
    40 s on four cores)."""

    name = "trickle_view"
    BATCH = 3000
    STEPS = 2
    N_CONVS = 200
    BUCKETS = 8
    COMPACT_EVERY = 1
    INPUT_KEY = f"{BATCH}x{STEPS}"
    STEP_LAYERS = ("apply", "refresh")

    def make_inputs(self, cache: str, seed: int) -> None:
        path = os.path.join(cache, "binlog")
        self.files = make_binlog(
            path, self.BATCH * self.STEPS, self.STEPS, self.N_CONVS, seed
        )
        self.rows = file_rows(self.files)
        self.input_bytes = dir_bytes(path)

    def _round(self, ctx, root: str) -> None:
        from embulk_util_json_spark.pipeline.views import IncrementalConversationView
        from embulk_util_json_spark.streaming.runner import apply_events_batch

        self.sink = self._sink(ctx, os.path.join(root, "table"))
        self.view = IncrementalConversationView(
            ctx.spark, self.sink, os.path.join(root, "view")
        )
        for i, path in enumerate(self.files):
            batch = ctx.spark.read.schema(EVENTS_SCHEMA).parquet(path)
            touched = batch.select(
                F.get_json_object("event_json", "$.data.conv_id").alias("conv_id")
            )
            with ctx.tracer.span("apply"):
                res = apply_events_batch(batch, self.sink, f"b{i}")
            with ctx.tracer.span("refresh"):
                self.view.refresh(touched, f"v{i}")
            ctx.applied(self.rows[i], res)

    def extras(self, ctx) -> None:
        self._lookups(ctx)

    def check(self, ctx) -> list[str]:
        bad, final = self._check_table()
        view = [tuple(r) for r in self.view.read().collect()]
        return bad + oracle.compare("view", view, oracle.assembled_view(final))


def _capture_spec():
    from embulk_util_json_spark.plans.capture_spec import CaptureSpec

    return CaptureSpec.compile(CAPTURE_POINTERS, CAPTURE_COLS)


def capture_typed_df(ctx, files: list[str]):
    from embulk_util_json_spark.operators.capture import capture_typed

    docs = ctx.spark.read.schema(EVENTS_SCHEMA).parquet(*files)
    return capture_typed(docs, "event_json", _capture_spec()).drop("event_json")


def capture_parity_df(ctx, files: list[str], n: int):
    """Reference-parity capture of the documents with seq < ``n``."""
    from embulk_util_json_spark.operators.capture import extract_parity

    docs = ctx.spark.read.schema(EVENTS_SCHEMA).parquet(files[0])
    return extract_parity(docs.filter(F.col("seq") < n), "event_json", _capture_spec())


def check_capture(ctx, files: list[str], n: int) -> list[str]:
    """Typed and parity capture agree cell for cell on the documents
    with seq < ``n``, both agree with DuckDB, and typed-capture
    aggregates over ``files`` equal DuckDB's."""
    import json

    cols = ["seq"] + CAPTURE_COLS
    typed = [
        tuple(r) for r in capture_typed_df(ctx, files[:1])
        .filter(F.col("seq") < n).select(*cols).collect()
    ]
    parity = []
    for r in capture_parity_df(ctx, files, n).select(*cols, "_error").collect():
        if r["_error"] is not None:
            parity.append((r["seq"], "error: " + r["_error"]))
            continue
        cells = [None if c is None else json.loads(c) for c in r[1:-1]]
        parity.append((r["seq"], *(None if c is None else str(c) for c in cells)))
    bad = oracle.compare("typed vs parity", typed, parity)
    bad += oracle.compare("typed vs oracle", typed, oracle.captured_cells(files[:1], n))
    got = capture_typed_df(ctx, files).agg(
        F.count(F.lit(1)), F.count("text"),
        F.sum(F.col("turn_idx").cast("long")), F.countDistinct("conv_id"),
    ).collect()[0]
    want = oracle.capture_aggregates(files)
    if tuple(got) != want:
        bad.append(f"typed aggregates {tuple(got)} != oracle {want}")
    return bad


WORKLOADS = {w.name: w for w in (BulkReplay, TrickleView)}
