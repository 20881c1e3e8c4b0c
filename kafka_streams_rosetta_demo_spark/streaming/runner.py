"""Streaming query execution: file sources, checkpoints, and the brokerless
end-to-end pipelines the correctness gate runs.

T4/T6 mapping: the checkpoint directory is the engine's state store +
offsets log — the equivalent of the reference's RocksDB + changelog topic
and committed consumer offsets (``CallsAggregationApp.java:106``;
``auto.offset.reset=earliest`` ``:29``). Restarting a query on the same
checkpoint resumes from committed progress and reprocesses nothing, which is
exactly the at-least-once contract (T5) the reference runs under.

The ``run_*_to_state`` helpers execute a full streaming topology with
``trigger(availableNow=True)`` over a file source (no broker needed), merge
every update-mode micro-batch into a keyed state dict — the in-memory stand-
in for the compacted output topic — and return the final state as rows.
Update-mode merge = last write per key wins, the compacted-topic read
semantics a downstream ``builder.table`` would see.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

# How many bounded-state keys one state-store partition is sized to hold.
# State rows here are a key plus a handful of longs (tens of bytes), so a
# partition at this bound carries well under a megabyte of state — far
# below any spill threshold — while the per-partition fixed cost stays paid
# once, not |shuffle.partitions| times.
_KEYS_PER_STATE_PARTITION = 4096

# One state-store partition per this many bytes of BOUNDED backlog
# (parquet-encoded, on disk). ~32 MiB of columnar input inflates to roughly
# 100-300 MB of raw rows — the guide's 100 MB-1 GB shuffle-partition target —
# and keyed streaming state is a SUBSET of the rows that arrived (an
# aggregate row per key, one sighting per dedup key, a watermark's worth of
# join rows), so backlog bytes bound state volume from above.
_BACKLOG_BYTES_PER_STATE_PARTITION = 32 * 1024 * 1024


@contextmanager
def _pinned_shuffle_partitions(spark: SparkSession, parts: int | None):
    """Pin ``spark.sql.shuffle.partitions`` to ``parts`` (``None`` leaves it
    as is) and restore the value that was in place on entry, so pins unwind
    like a stack and never leak a count into the next query."""
    from ..session import ensure_conf

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    if parts is not None:
        ensure_conf(spark, "spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        ensure_conf(spark, "spark.sql.shuffle.partitions", prior)


@contextmanager
def bounded_state_shuffle(spark: SparkSession, key_bound: int):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming topology whose
    keyed state is bounded BY CONSTRUCTION to ``key_bound`` keys, restoring
    on exit the count that was in place on entry (no query leaks its pin
    into the next).

    Why (guide §2.2/§2.4 applied to streaming state): every micro-batch
    pays a FIXED cost per state-store partition — a task, a state commit
    (delta file + fsync), and maintenance — even when the partition holds
    zero keys. With the session default of ``$SPARK_GRAFT_CPUS`` (32)
    partitions and a state space of |sources| ≈ 8 keys, a 3-micro-batch
    run spends most of its wall time committing empty state: measured
    10.2 s at 32 partitions vs 4.9 s at 1-2 on the per-source totals
    shape, identical results (OPTIMIZATION_r14.md §streaming).

    The partition count derives from the DOCUMENTED key-space bound, never
    from the machine: ``ceil(key_bound / 4096)`` clamped to the session
    default. This is scale-adaptive, not local tuning — a state space
    bounded by construction (|sources|-row model state, a ≤1000-cell grid)
    needs the same handful of partitions on a 100 TB ingest, because the
    heavy per-row work happens in the map-side partial aggregate at scan
    parallelism BEFORE this exchange; only |keys| pre-aggregated rows ever
    cross it. Unbounded-key topologies (URL-grain dedup state, per-user
    windows) must NOT use this — they keep the scale-parameterised session
    default.
    """
    from ..session import DEFAULT_SHUFFLE_PARTITIONS

    parts = max(1, min(DEFAULT_SHUFFLE_PARTITIONS, -(-key_bound // _KEYS_PER_STATE_PARTITION)))
    with _pinned_shuffle_partitions(spark, parts):
        yield


def backlog_bytes(*paths: str) -> int:
    """Total on-disk bytes of the parquet files under each staged-backlog
    path (a file, or a directory walked recursively). This is the exact
    volume a bounded ``availableNow`` run will ever admit — known up front
    because the whole backlog is staged before the query starts."""
    import os

    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for name in files:
                    if name.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, name))
    return total


@contextmanager
def backlog_state_shuffle(spark: SparkSession, *paths: str):
    """Size the state exchange of a bounded ``availableNow`` topology whose
    key space is DATA-GRAIN (per-user windows, per-URL dedup sightings,
    stream-stream join rows — no construction bound) from the staged
    backlog's on-disk bytes, restoring on exit the count that was in place
    on entry.

    Why this is scale-adaptive, not local tuning (guide §2.2 applied to the
    one exchange AQE cannot touch): every micro-batch pays a FIXED cost per
    state-store partition — a task plus a state commit (delta file + fsync)
    — even for partitions holding zero keys, and AQE never coalesces the
    state exchange because the partition count is frozen into the
    checkpoint at first batch. For a batch exchange AQE solves exactly this
    by sizing partitions from the measured map output
    (``advisoryPartitionSizeInBytes``); here the same number is available
    BEFORE the query starts, because an ``availableNow`` run admits
    precisely the staged backlog and keyed state never exceeds the rows
    that arrived. ``ceil(backlog_bytes / 32 MiB)`` clamped to the session
    default therefore tracks DATA volume: a backlog past ~1 GiB (32 MiB ×
    the 32-partition session default) runs at the scale-parameterised
    default exactly as before, and a genuinely unbounded production ingest
    (no staged backlog to size from) keeps the default too — only runs
    whose whole backlog is small stop paying 32 empty state commits per
    micro-batch for kilobytes of state.

    Topologies whose key space is bounded BY CONSTRUCTION should use the
    tighter :func:`bounded_state_shuffle` instead. Topologies whose
    stateful stage runs per-row PYTHON work (``applyInPandasWithState``)
    must NOT use this: their cost scales with arriving rows, not state
    commits, and fewer partitions serialize the Python workers (measured
    1.2–1.6x WORSE on the two such topologies — OPTIMIZATION_r14.md).

    ``SPARK_GRAFT_BACKLOG_STATE=0`` disables the sizing (A/B lever; the
    session's count then applies, the pre-round-14 behaviour). A backlog of
    ZERO bytes (missing path, or a staged dir with no ``.parquet`` files)
    also keeps the session's count: there is nothing to size from, and
    silently serializing every shuffle onto one task on a typo'd path would
    be the opposite of the adaptive contract (ADVICE r14). Every leg
    restores on exit the count that was in place on entry, so A/B legs leave
    identical session state behind.
    """
    import os

    from ..session import DEFAULT_SHUFFLE_PARTITIONS

    parts = None  # kill-switch or nothing staged: keep the in-place count
    if os.environ.get("SPARK_GRAFT_BACKLOG_STATE", "1") != "0":
        n = backlog_bytes(*paths)
        if n:
            parts = max(
                1,
                min(DEFAULT_SHUFFLE_PARTITIONS, -(-n // _BACKLOG_BYTES_PER_STATE_PARTITION)),
            )
    with _pinned_shuffle_partitions(spark, parts):
        yield


# Result frames whose pin degraded to DISK_ONLY. Unlike the artifact memos
# these are RETURNED to the caller (who may still be reading them), so the
# runner cannot unpersist them behind the caller's back — instead the
# harnesses that run many queries per session (bench reps, sweeps, scaling
# cells) call release_streaming_result_pins() between queries, once the
# previous result is dead, so degraded sessions don't stack disk blocks
# for the life of the process.
_STREAM_RESULT_PINS: list[DataFrame] = []


def release_streaming_result_pins() -> None:
    """Unpersist every DISK_ONLY-degraded streaming result pinned so far.
    Call between queries (after the previous result is fully consumed);
    a no-op when nothing degraded — the common in-budget case."""
    for df in _STREAM_RESULT_PINS:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — blocks are gone anyway
    _STREAM_RESULT_PINS.clear()


def _pin_result(df: DataFrame, spark: SparkSession, what: str) -> DataFrame:
    """Pin a finished streaming result through the shared storage-budget
    boundary (``queries.artifacts.pin_with_budget``): within budget it is
    the eager ``localCheckpoint`` this adapter always used; over budget it
    degrades to an eager serialized ``persist(DISK_ONLY)`` instead of
    OOMing the JVM. The bare-1g sf2.0 sweep showed the unguarded result
    checkpoint was the next OOM site after the round-9 artifact-layer fix:
    the result of a 20x-volume streaming aggregate does not fit a 1g heap
    as deserialized in-memory blocks, but streams to local disk fine.
    Lazy import: queries -> streaming is the normal dependency direction;
    this is the one place streaming reaches back for a shared policy."""
    from ..queries.artifacts import pin_with_budget

    return pin_with_budget(df, spark, what, _STREAM_RESULT_PINS)


def checkpoint_tmpdir(prefix: str) -> tempfile.TemporaryDirectory:
    """Temporary checkpoint/sink directory hardened against Spark's async
    state-store maintenance thread.

    ``HDFSBackedStateStoreProvider`` runs a background maintenance pool that
    keeps writing ``.snapshot``/``.delta`` files into the checkpoint dir
    *after* ``query.awaitTermination()`` returns; under a loaded session the
    pool can lag far enough that ``TemporaryDirectory.__exit__``'s rmtree
    races it and dies with ``OSError: Directory not empty``. The state is
    disposable by construction here (every caller runs availableNow to
    completion and never restarts on the same checkpoint), so a best-effort
    cleanup is the correct contract: leftover files land under $TMPDIR and
    are reaped by the OS, while the query result is unaffected.
    """
    return tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """S1 stand-in without a broker: a parquet landing-zone stream. The
    schema must be explicit (streaming requires it); nanos timestamps follow
    the same long-read contract as the batch loader. ``path`` must be a
    directory (file-source contract); use ``path_glob_filter`` to select one
    table's files out of a shared directory."""
    from ..session import ensure_conf

    ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.parquet(path)


def run_update_query_to_state(
    result: DataFrame,
    state_key: Callable[[Row], tuple],
    checkpoint_dir: str,
    state: dict | None = None,
) -> dict:
    """Run an update-mode streaming aggregate to completion (availableNow),
    merging each micro-batch into ``state`` keyed by ``state_key`` —
    last-update-wins, the changelog/compacted-topic contract (T2).

    The collect inside foreachBatch materializes only the *changed aggregate
    rows* per micro-batch (bounded by key cardinality, not input size); the
    production sink is :func:`run_update_query_to_parquet_changelog`
    (executor-side parquet appends — pytest-pinned equal to this merge),
    or a Kafka/Delta writer in the same ``foreachBatch`` position.
    """
    merged: dict = state if state is not None else {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():
            merged[state_key(row)] = row

    (
        result.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return merged


def state_to_df(spark: SparkSession, state: dict, schema: T.StructType) -> DataFrame:
    """Final keyed state → DataFrame (the compacted-topic snapshot)."""
    return spark.createDataFrame(list(state.values()), schema)


def run_update_query_to_parquet_changelog(
    result: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    batch_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """The PRODUCTION-shaped sink the ``run_update_query_to_*state``
    helpers stand in for: each update-mode micro-batch appends its changed
    aggregate rows to a parquet changelog (stamped with the batch id) —
    entirely executor-side, nothing moves driver-ward, so it scales to
    billions of keys where the in-memory adapters cannot. The changelog is
    the lakehouse analogue of the compacted output topic; read it back
    with :func:`parquet_changelog_snapshot` for last-write-wins state.
    ``tests/test_streaming.py`` pins this sink equal to the driver-merged
    state, proving the in-memory merge is an optional adapter, not
    load-bearing.

    ``batch_fn`` lets a per-batch transform (e.g. the broadcast enrichment
    join — the reference's stream–table leftJoin run inside
    ``foreachBatch``) execute on the executors before the append.
    """
    from pyspark.sql import functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_fn(batch_df) if batch_fn is not None else batch_df
        (
            out.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    (
        result.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def parquet_changelog_snapshot(
    spark: SparkSession, out_dir: str, key_cols: list[str]
) -> DataFrame:
    """Compact a parquet changelog to its final state: last write per key,
    where "last" is the highest micro-batch id (update mode emits a key at
    most once per batch, so batch id is a total order per key). One window
    over the (small, key-cardinality-bounded) changelog — the same read a
    downstream ``builder.table`` does over a compacted topic."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    log = spark.read.parquet(out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.col("_batch_id").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_batch_id", "_rn")
    )


def run_update_query_to_df(
    result: DataFrame,
    key_cols: list[str],
    checkpoint_dir: str,
    out_dir: str,
    batch_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Update-mode run through the production sink shape, end to end: the
    executor-side parquet changelog (:func:`run_update_query_to_parquet_changelog`)
    followed by the last-write-per-key compaction
    (:func:`parquet_changelog_snapshot`). Nothing moves through the driver —
    no ``collect``, no ``toPandas`` — so the path holds at key cardinalities
    the in-memory adapters cannot; this is what the registered
    ``streaming_*`` gate queries call.

    LOCAL-MODE ADAPTER NOTE (same contract as :func:`run_append_query_to_df`):
    the returned snapshot pins to executor memory with an eager
    ``localCheckpoint`` so the caller may delete ``out_dir`` (the gate
    queries sink into a TemporaryDirectory). ``localCheckpoint`` blocks are
    not fault-tolerant — on a multi-executor cluster an executor loss after
    the source files are gone truncates lineage unrecoverably. In production
    the read-back never happens (downstream consumers read the changelog /
    compacted topic directly), so keep the sink directory when running
    beyond local mode.
    """
    run_update_query_to_parquet_changelog(
        result, checkpoint_dir, out_dir, batch_fn=batch_fn
    )
    spark = result.sparkSession
    if not _changelog_has_files(out_dir):
        # schema of the post-batch_fn frame, derived without running a batch:
        # batch_fn is pure DataFrame composition, so applying it to an empty
        # frame of the pre-sink schema yields the sink schema
        schema = (
            result.schema
            if batch_fn is None
            else batch_fn(spark.createDataFrame([], result.schema)).schema
        )
        return spark.createDataFrame([], schema)
    snap = parquet_changelog_snapshot(spark, out_dir, key_cols)
    return _pin_result(snap, spark, "streaming update-mode snapshot")


def _changelog_has_files(out_dir: str) -> bool:
    """Emptiness probe for the plain-append changelog sink (which has no
    ``_spark_metadata`` commit log — writes happen through the batch writer
    inside ``foreachBatch``, committed by the streaming checkpoint)."""
    import os

    return os.path.isdir(out_dir) and any(
        n.endswith(".parquet") for n in os.listdir(out_dir)
    )


def _file_sink_has_commits(out_dir: str) -> bool:
    """Emptiness probe for the NATIVE parquet streaming sink: consult the
    sink's own ``_spark_metadata`` commit log (the source of truth for what
    the sink has committed — a directory listing would also see orphaned
    files from failed tasks, and misses nothing the log has). Each commit
    file is a ``v1`` header followed by one JSON ``SinkFileStatus`` per
    written file; any ``add`` action means the sink holds data."""
    import json
    import os

    meta = os.path.join(out_dir, "_spark_metadata")
    if not os.path.isdir(meta):
        return False
    for name in os.listdir(meta):
        if name.startswith(".") or name.endswith((".tmp", ".crc")):
            continue
        path = os.path.join(meta, name)
        if not os.path.isfile(path):
            continue
        try:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if rec.get("action", "add") == "add":
                        return True
        except OSError:
            continue
    return False


def idempotent_parquet_sink(out_dir: str) -> Callable[[DataFrame, int], None]:
    """The EXACTLY-ONCE OUTPUT upgrade over the at-least-once contract (T5):
    a ``foreachBatch`` writer that lands each micro-batch in its own
    ``batch_id=<id>`` directory with ``mode("overwrite")``. Structured
    Streaming guarantees ``foreachBatch`` is called with the SAME batch_id
    when a batch is redelivered (failure after the sink write but before
    the checkpoint commit), so the retry OVERWRITES its own partition
    instead of appending a duplicate — at-least-once delivery + an
    idempotent, batchId-keyed write = exactly-once output, the pattern the
    Structured Streaming programming guide prescribes for
    non-transactional sinks. The write is the ordinary executor-side batch
    parquet writer; nothing moves through the driver. Read the sink back
    as one dataset with ``spark.read.parquet(out_dir)`` (partition
    discovery exposes ``batch_id``). Redelivery pinned in
    tests/test_streaming.py::test_idempotent_sink_survives_batch_redelivery
    (the naive append sink provably duplicates under the same forced
    replay)."""
    import os

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return sink


def run_append_query_to_idempotent_parquet(
    result: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Run an append-mode stream to completion (availableNow) through the
    batchId-keyed idempotent parquet sink — see
    :func:`idempotent_parquet_sink` for the exactly-once argument."""
    (
        result.writeStream.outputMode("append")
        .foreachBatch(idempotent_parquet_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_append_query_to_rows(
    result: DataFrame,
    checkpoint_dir: str,
    rows: list | None = None,
) -> list:
    """Run an append-mode streaming aggregate to completion (availableNow),
    accumulating each micro-batch's *finalized* rows. Under append mode a
    (key, window) row is emitted at most once across the checkpoint's
    lifetime — the suppress/final-emission contract — so unlike the
    update-mode helpers there is no changelog compaction to do: the sink
    is a plain append, exactly what a Kafka/Delta writer would receive.
    """
    out: list = rows if rows is not None else []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out.extend(batch_df.collect())

    (
        result.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return out


def run_append_query_to_df(
    result: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Append-mode run through the PRODUCTION sink shape: the native
    parquet streaming sink writes each micro-batch's finalized rows
    entirely executor-side (no foreachBatch, no driver collect, no Python
    row round-trip — the lakehouse analogue of a Kafka producer), then the
    result reads back and pins to executor memory with an eager
    ``localCheckpoint`` so the caller may delete ``out_dir`` immediately.
    At scale the read-back never happens — downstream consumers read the
    sink directly; here it turns the finished stream into the gate query's
    return value. Scales to outputs the driver could never hold, where
    :func:`run_append_query_to_rows` (the in-memory adapter) cannot.

    LOCAL-MODE ADAPTER NOTE: ``localCheckpoint`` blocks live in executor
    memory and are NOT fault-tolerant — on a multi-executor cluster, losing
    an executor after the caller deletes ``out_dir`` truncates lineage
    unrecoverably. Fine for the local gate (one JVM, no executor loss
    mode); beyond local mode, keep the sink directory and read it lazily,
    or ``persist``+materialize to a durable store before deleting. The
    emptiness probe consults the sink's ``_spark_metadata`` commit log —
    the sink's source of truth — not a directory listing."""
    (
        result.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    spark = result.sparkSession
    if not _file_sink_has_commits(out_dir):
        return spark.createDataFrame([], result.schema)
    return _pin_result(
        spark.read.schema(result.schema).parquet(out_dir),
        spark,
        "streaming append-mode sink read-back",
    )
