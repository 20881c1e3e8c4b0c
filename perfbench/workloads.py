"""The three workloads, each driving the package through its public functions.

An operation is one closed-loop unit of work: a back-to-back repetition of
the batch flagship, or one drain of a staged stream backlog at one file per
trigger. Every operation's final result is kept (or re-derivable) so that it
can be checked against the DuckDB oracle after the timed region.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from kafka_streams_rosetta_demo_spark.operators.joins import enrich_calls_with_customers
from kafka_streams_rosetta_demo_spark.plans import rosetta as rosetta_plans
from kafka_streams_rosetta_demo_spark.plans.rosetta import enriched_calls_plan
from kafka_streams_rosetta_demo_spark.sources.parquet import (
    clear_events_schema_cache,
    events_schema,
    events_to_calls,
    normalize_event_ts,
    rosetta_customers,
)
from kafka_streams_rosetta_demo_spark.streaming.runner import (
    backlog_state_shuffle,
    file_stream,
    parquet_changelog_snapshot,
    run_update_query_to_parquet_changelog,
)
from kafka_streams_rosetta_demo_spark.streaming.transforms import (
    streaming_latest_per_key,
    streaming_windowed_call_agg,
)

from .trace import NullTracer, make_progress_listener


@dataclass
class Op:
    wall_s: float
    start: float  # epoch seconds, as the event log and checkpoint files stamp
    end: float
    batch_ms: list[float]  # cycle time of each data micro-batch (streams)
    nodata_batches: int = 0
    root: int | None = None  # span id of the operation when traced
    progress: list[dict] = field(default_factory=list)
    out_dir: str | None = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Backfill:
    """``enriched_calls_plan`` over the whole call log, to a noop sink."""

    oracle_query = "rosetta_enriched"
    check_each = False  # one plan, repeated: its result is checked once
    warmup_reps = 5
    warm_files = 0  # warms up on its own input

    def __init__(self, spark, data_dir: str, tmp: str, warm_dir: str) -> None:
        self.spark, self.data_dir = spark, data_dir

    def warmup(self) -> None:
        # the first repetitions carry the JIT gradient
        for _ in range(self.warmup_reps):
            _noop(enriched_calls_plan(self.spark, self.data_dir))

    @contextmanager
    def _spanned_sources(self, tracer):
        """Span the plan module's calls into the sources module (the
        ``NullTracer`` wraps nothing)."""
        saved = rosetta_plans.rosetta_calls, rosetta_plans.rosetta_customers
        rosetta_plans.rosetta_calls = tracer.wrap("sources.plan", saved[0])
        rosetta_plans.rosetta_customers = tracer.wrap("sources.plan", saved[1])
        try:
            yield
        finally:
            rosetta_plans.rosetta_calls, rosetta_plans.rosetta_customers = saved

    def op(self, tracer) -> Op:
        start = time.time()
        t0 = time.perf_counter()
        with tracer.span("bench.op") as root, self._spanned_sources(tracer):
            with tracer.span("plans.build"):
                df = enriched_calls_plan(self.spark, self.data_dir)
            with tracer.span("operators.execute"):
                _noop(df)
        wall = time.perf_counter() - t0
        return Op(wall, start, time.time(), [wall * 1000], root=root)

    def result(self, op: Op):
        return enriched_calls_plan(self.spark, self.data_dir).toArrow()


def read_batch_cycles(ckpt: str, t_call: float) -> tuple[list[float], int]:
    """Cycle time (ms) of each data micro-batch from the checkpoint's commit
    file times; batch 0 is timed from the call. A batch whose source offset
    did not move is a no-data batch and is counted, not timed."""
    commits = os.path.join(ckpt, "commits")
    ids = sorted(int(n) for n in os.listdir(commits) if n.isdigit())
    cycles, nodata, prev_t, prev_off = [], 0, t_call, None
    for b in ids:
        t = os.stat(os.path.join(commits, str(b))).st_mtime
        with open(os.path.join(ckpt, "offsets", str(b)), encoding="utf-8") as fh:
            off = fh.read().strip().splitlines()[-1]
        if off == prev_off:
            nodata += 1
        else:
            cycles.append((t - prev_t) * 1000)
        prev_t, prev_off = t, off
    return cycles, nodata


class Stream:
    """One drain of the staged backlog through the update-mode changelog sink,
    then the changelog snapshot, materialised to a noop sink."""

    check_each = True  # every drain is its own streaming execution
    warm_files = 4  # the warm-up drains a backlog of this many files

    def __init__(self, spark, data_dir: str, tmp: str, warm_dir: str) -> None:
        self.spark, self.data_dir, self.tmp, self.warm_dir = spark, data_dir, tmp, warm_dir
        self.drains = 0  # names each drain's own checkpoint and sink

    def plan(self, tracer, data_dir: str, schema):
        """The streaming result and the per-batch transform, if any."""
        raise NotImplementedError

    def warmup(self) -> None:
        self._drain(NullTracer(), self.warm_dir)

    def op(self, tracer) -> Op:
        return self._drain(tracer, self.data_dir)

    def _drain(self, tracer, data_dir: str) -> Op:
        self.drains += 1
        ckpt = os.path.join(self.tmp, f"ckpt-{self.drains}")
        out = os.path.join(self.tmp, f"sink-{self.drains}")
        events = f"{data_dir}/events.parquet"
        # each drain is a fresh query start, as in a fresh process
        clear_events_schema_cache()
        listener = make_progress_listener() if tracer.enabled else None
        if listener:
            self.spark.streams.addListener(listener)
        start = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.op") as root:
                with tracer.span("sources.events_schema"):
                    schema = events_schema(self.spark, events)
                result, batch_fn = self.plan(tracer, data_dir, schema)
                with backlog_state_shuffle(self.spark, events):
                    with tracer.span("streaming.run"):
                        run_update_query_to_parquet_changelog(result, ckpt, out, batch_fn=batch_fn)
                with tracer.span("sink.snapshot"):
                    _noop(parquet_changelog_snapshot(self.spark, out, self.keys))
            wall = time.perf_counter() - t0
            end = time.time()
        finally:
            if listener:
                listener.wait_terminated(1)
                self.spark.streams.removeListener(listener)
        cycles, nodata = read_batch_cycles(ckpt, start)
        progress = listener.progress if listener else []
        return Op(wall, start, end, cycles, nodata, root, progress, out)

    def result(self, op: Op):
        return parquet_changelog_snapshot(self.spark, op.out_dir, self.keys).toArrow()


def _events_stream(spark, events: str, schema):
    return normalize_event_ts(file_stream(spark, events, schema, max_files_per_trigger=1))


class EnrichStream(Stream):
    """The ``streaming_enriched`` composition: windowed update-mode aggregate,
    enriched per micro-batch against the customer table, re-read per batch."""

    oracle_query = "rosetta_enriched"
    keys = ["id_telef_origen", "window_start_ts"]

    def plan(self, tracer, data_dir: str, schema):
        with tracer.span("sources.plan"):
            calls = events_to_calls(_events_stream(self.spark, f"{data_dir}/events.parquet", schema))
            customers = rosetta_customers(self.spark, data_dir)
        with tracer.span("plans.build"):
            agg = streaming_windowed_call_agg(calls)

        def enrich(batch_df):
            return enrich_calls_with_customers(batch_df, customers)

        return agg, tracer.wrap("operators.enrich", enrich)


class KTableSkew(Stream):
    """``streaming_latest_per_key`` (the reference's ``builder.table``)."""

    oracle_query = "rosetta_ktable_latest"
    keys = ["user_id"]

    def plan(self, tracer, data_dir: str, schema):
        with tracer.span("sources.plan"):
            events = _events_stream(self.spark, f"{data_dir}/events.parquet", schema)
        with tracer.span("plans.build"):
            latest = streaming_latest_per_key(
                events, key="user_id", ts_col="ts", seq_col="event_id",
                value_cols=["ts", "event_id", "event_type", "value"],
            )
        return latest, None


KINDS = {"enrich_backfill": Backfill, "enrich_stream": EnrichStream, "ktable_skew": KTableSkew}
