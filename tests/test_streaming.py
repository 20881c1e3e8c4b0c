"""Streaming-semantics pins the batch oracle gate cannot see.

The registered streaming queries prove single-batch equivalence; these tests
split the input into multiple micro-batches and pin the *incremental*
behaviors: update-mode re-emission merging to the batch answer, watermark
late-data drops (T3), checkpoint restart without replay (T4/T6), and the
Kafka serde round-trip (S1/S3/S5) including the log-and-continue drop path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_rosetta_demo_spark.operators.state import latest_per_key
from kafka_streams_rosetta_demo_spark.operators.windowed_agg import (
    unwrap_window,
    windowed_call_agg,
)
from kafka_streams_rosetta_demo_spark.schemas import CALL_AGGREGATE
from kafka_streams_rosetta_demo_spark.sources.parquet import (
    events_schema,
    events_to_calls,
    load_table,
    normalize_event_ts,
)
from kafka_streams_rosetta_demo_spark.streaming.kafka_io import (
    KafkaTopicSpec,
    avro_available,
)
from kafka_streams_rosetta_demo_spark.streaming.runner import (
    file_stream,
    run_update_query_to_state,
    state_to_df,
)
from kafka_streams_rosetta_demo_spark.streaming.transforms import (
    streaming_latest_per_key,
    streaming_windowed_call_agg,
)


def test_events_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """The footer-schema cache keys on (path, mtime, size): rewriting the
    same path with a different schema must serve the NEW schema, not the
    cached one (long-lived drivers rewrite landing zones in place)."""
    import os
    import time

    path = str(tmp_path / "events.parquet")
    spark.range(5).selectExpr("id AS a").coalesce(1).write.mode("overwrite").parquet(path)
    first = events_schema(spark, path)
    assert [f.name for f in first.fields] == ["a"]
    time.sleep(0.05)  # ensure a distinct mtime even on coarse filesystems
    spark.range(5).selectExpr("id AS a", "id * 2 AS b").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    os.utime(path)
    second = events_schema(spark, path)
    assert [f.name for f in second.fields] == ["a", "b"]


def _jobs_submitted(spark, fn):
    """Run ``fn`` and return (its result, ids of the Spark jobs it ran),
    read from the status tracker once the listener bus has drained."""
    sc = spark.sparkContext
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = fn()
    drain()
    return out, set(sc.statusTracker().getJobIdsForGroup()) - before


def test_load_table_repeat_read_runs_no_job(spark, sf_smoke, tmp_path):
    """The footer-schema memo covers load_table: the first read of a path
    infers its schema with a Spark job, a repeat read of the unchanged path
    runs none and yields the same schema."""
    import shutil

    shutil.copy(f"{sf_smoke}/customer.parquet", tmp_path / "customer.parquet")
    first, jobs = _jobs_submitted(spark, lambda: load_table(spark, str(tmp_path), "customer"))
    assert jobs, "the cold read should infer the schema with a job"
    second, jobs = _jobs_submitted(spark, lambda: load_table(spark, str(tmp_path), "customer"))
    assert jobs == set()
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_load_table_memo_serves_rewritten_schema(spark, tmp_path):
    """A table rewritten in place with a different schema is read with the
    NEW schema, not the memoized one."""
    path = str(tmp_path / "customer.parquet")
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "customer").columns == ["a"]
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode("overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "customer").columns == ["a", "b"]


def test_schema_memo_keys_on_inference_confs(spark, tmp_path):
    """The confs that change an inferred schema are part of the memo key:
    one path read under nanosAsLong on and then off is two entries, and a
    raw binary column reads as string only under binaryAsString."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_rosetta_demo_spark.sources import parquet

    path = str(tmp_path / "customer.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    keys = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        parquet.clear_events_schema_cache()
        for nanos in ("true", "false"):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
            load_table(spark, str(tmp_path), "customer")
        assert len(parquet._SCHEMA_MEMO) == 2
        for as_string, want in (("false", T.BinaryType()), ("true", T.StringType())):
            spark.conf.set("spark.sql.parquet.binaryAsString", as_string)
            assert load_table(spark, str(tmp_path), "customer").schema["b"].dataType == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_session_turns_off_dataframe_debugging(spark):
    """get_spark turns off PySpark's per-call call-site capture; an analysis
    error still raises with its error class."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_column")).schema
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"


@pytest.fixture(scope="module")
def split_events_dir(spark, sf_smoke, tmp_path_factory):
    """sf0.001 events split into 3 time-ordered parquet files — 3 micro-
    batches under maxFilesPerTrigger=1 (files are picked up in write order)."""
    import shutil

    out = tmp_path_factory.mktemp("events_stream")
    stage = tmp_path_factory.mktemp("events_stage")
    ev = load_table(spark, sf_smoke, "events").orderBy("ts").collect()
    third = (len(ev) + 2) // 3
    raw_schema = load_table(spark, sf_smoke, "events").schema
    for i in range(3):
        chunk = ev[i * third : (i + 1) * third]
        part_dir = stage / f"part{i}"
        spark.createDataFrame(chunk, raw_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part_dir))
        (part_file,) = part_dir.glob("part-*.parquet")
        shutil.copy(part_file, out / f"{i}.parquet")  # flat dir, write order = batch order
    return str(out)


def _stream(spark, path, **kw):
    # ts is TimestampType in the rewritten files (the fixture writes them from
    # the normalized batch load); the footer read hands back exactly that.
    return normalize_event_ts(file_stream(spark, path, events_schema(spark, path), **kw))


def test_multibatch_windowed_agg_converges_to_batch(spark, split_events_dir, tmp_path):
    calls = events_to_calls(_stream(spark, split_events_dir, max_files_per_trigger=1))
    agg = streaming_windowed_call_agg(calls)
    state = run_update_query_to_state(
        agg, lambda r: (r.id_telef_origen, r.window_start), str(tmp_path / "ckpt")
    )
    got = state_to_df(spark, state, agg.schema)

    batch_calls = events_to_calls(spark.read.parquet(split_events_dir))
    expected = unwrap_window(windowed_call_agg(batch_calls))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_parquet_changelog_sink_equals_driver_merged_state(
    spark, split_events_dir, tmp_path
):
    """The driver-side state merge is an optional ADAPTER, not load-bearing:
    the same update-mode topology written through the production-shaped
    parquet-changelog sink (executor-side appends, nothing collected) must
    compact to exactly the state the in-memory merge produced."""
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        parquet_changelog_snapshot,
        run_update_query_to_parquet_changelog,
    )

    def topology():
        calls = events_to_calls(_stream(spark, split_events_dir, max_files_per_trigger=1))
        return streaming_windowed_call_agg(calls)

    agg = topology()
    state = run_update_query_to_state(
        agg, lambda r: (r.id_telef_origen, r.window_start), str(tmp_path / "ckpt_mem")
    )
    merged = state_to_df(spark, state, agg.schema)

    out_dir = str(tmp_path / "changelog")
    run_update_query_to_parquet_changelog(
        topology(), str(tmp_path / "ckpt_lake"), out_dir
    )
    lake = parquet_changelog_snapshot(
        spark, out_dir, ["id_telef_origen", "window_start"]
    ).select(*merged.columns)

    assert sorted(map(tuple, lake.collect())) == sorted(map(tuple, merged.collect()))


def test_parquet_changelog_sink_restart_replays_nothing(spark, split_events_dir, tmp_path):
    """T5/T6 for the lakehouse sink: restarting the finished query on the
    same checkpoint must append NOTHING to the changelog (offsets are
    committed; availableNow finds no new files) — the exactly-once-per-batch
    contract that makes the parquet changelog safe to re-run."""
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        run_update_query_to_parquet_changelog,
    )

    def topology():
        calls = events_to_calls(_stream(spark, split_events_dir, max_files_per_trigger=1))
        return streaming_windowed_call_agg(calls)

    out_dir = str(tmp_path / "changelog")
    ckpt = str(tmp_path / "ckpt")
    run_update_query_to_parquet_changelog(topology(), ckpt, out_dir)
    first = spark.read.parquet(out_dir).count()
    assert first > 0
    run_update_query_to_parquet_changelog(topology(), ckpt, out_dir)  # restart
    assert spark.read.parquet(out_dir).count() == first


def test_idempotent_sink_survives_batch_redelivery(spark, split_events_dir, tmp_path):
    """T5 upgrade pin: force a batch REDELIVERY (the sink write succeeds,
    then the query dies before the checkpoint commits, then it restarts) and
    prove the batchId-keyed overwrite sink emits every row exactly once —
    while the naive append sink, under the IDENTICAL forced replay,
    provably duplicates the redelivered batch (so the scenario really did
    redeliver; the exactly-once result is earned, not vacuous)."""
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        idempotent_parquet_sink,
    )

    def run_with_post_write_crash(sink_fn, ckpt):
        armed = {"on": True}

        def sink(batch_df, batch_id):
            sink_fn(batch_df, batch_id)  # the write COMMITS to the sink...
            if batch_id == 1 and armed["on"]:
                armed["on"] = False  # ...then the query dies pre-checkpoint
                raise RuntimeError("injected post-write pre-commit failure")

        def go():
            (
                _stream(spark, split_events_dir, max_files_per_trigger=1)
                .select("event_id", "user_id")
                .writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )

        with pytest.raises(Exception, match="injected post-write"):
            go()
        go()  # restart: batch 1 is redelivered with the SAME batch_id

    expected = sorted(
        r["event_id"]
        for r in spark.read.parquet(split_events_dir)
        .select("event_id")
        .collect()
    )

    idem_dir = str(tmp_path / "idem")
    run_with_post_write_crash(
        idempotent_parquet_sink(idem_dir), str(tmp_path / "ckpt_idem")
    )
    got = sorted(
        r["event_id"] for r in spark.read.parquet(idem_dir).collect()
    )
    assert got == expected  # exactly once: no duplicate, no loss

    naive_dir = str(tmp_path / "naive")
    run_with_post_write_crash(
        lambda df, _bid: df.write.mode("append").parquet(naive_dir),
        str(tmp_path / "ckpt_naive"),
    )
    naive = spark.read.parquet(naive_dir).count()
    assert naive > len(expected)  # the replay really happened


def test_multibatch_latest_per_key_converges_to_batch(spark, split_events_dir, tmp_path):
    cols = ["ts", "event_id", "event_type", "value"]
    stream = _stream(spark, split_events_dir, max_files_per_trigger=1)
    latest = streaming_latest_per_key(stream, "user_id", "ts", "event_id", cols)
    state = run_update_query_to_state(latest, lambda r: r.user_id, str(tmp_path / "ck"))
    got = state_to_df(spark, state, latest.schema)

    expected = latest_per_key(
        spark.read.parquet(split_events_dir), "user_id", "ts", "event_id", cols
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def _write_flat(df, stage_dir, out_dir, name):
    """Write a single parquet file into a flat directory (the streaming file
    source does not recurse into subdirectories)."""
    import shutil

    part_dir = stage_dir / f"stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(str(part_dir))
    (part_file,) = part_dir.glob("part-*.parquet")
    out_dir.mkdir(parents=True, exist_ok=True)
    shutil.copy(part_file, out_dir / f"{name}.parquet")


def test_streaming_sessions_merge_across_micro_batches(spark, split_events_dir, tmp_path):
    """Session state must MERGE across micro-batches: an event in batch 2
    landing within the gap of a session opened in batch 1 extends that
    session, it does not start a second one. Fed 3 micro-batches, the
    append-mode emitted sessions must equal the batch sessionization of the
    same rows under the final-watermark cutoff — the multi-batch half of
    what the registered streaming_session_windows query (single batch)
    proves against the SQL oracle."""
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        run_append_query_to_rows,
    )

    def session_agg(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "total_value",
            )
        )

    stream = _stream(spark, split_events_dir, max_files_per_trigger=1)
    agg = session_agg(stream.withWatermark("ts", "24 hours"))
    rows = run_append_query_to_rows(agg, str(tmp_path / "ckpt"))
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in rows
    }

    batch = spark.read.parquet(split_events_dir)
    cutoff = batch.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("c")
    ).first()["c"]
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in session_agg(batch).where(F.col("session_end") <= F.lit(cutoff)).collect()
    }
    assert want, "fixture produced no watermark-closed sessions"
    assert got == want


def test_watermark_drops_rows_later_than_grace(spark, tmp_path):
    """T3: a row arriving (after a checkpointed restart) with event time
    older than the committed watermark is dropped — the silent-drop-after-
    grace contract of Kafka Streams.

    The restart matters: within a single availableNow backlog run Spark only
    *guarantees* state eviction, not input drop ("too-late data may or may
    not be aggregated"); the committed watermark enforced on restart is the
    hard contract, so that is what this pins.
    """

    def rows(hours_and_durs):
        return spark.createDataFrame(
            [
                (key, dur, f"2024-01-01 {h:02d}:30:00")
                for key, h, dur in hours_and_durs
            ],
            "id_telef_origen string, duracion_origen long, event_ts string",
        ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("id_telef_origen", T.StringType(), True),
            T.StructField("duracion_origen", T.LongType(), True),
            T.StructField("event_ts", T.TimestampType(), True),
        ]
    )

    def run(state):
        agg = streaming_windowed_call_agg(
            file_stream(spark, str(src), schema), watermark="1 hour"
        )
        return run_update_query_to_state(
            agg, lambda r: (r.id_telef_origen, r.window_start), ckpt, state=state
        )

    # run 1: key A fills hours 0..10 → committed watermark 09:30
    _write_flat(rows([("A", h, 1) for h in range(11)]), tmp_path, src, "0")
    state = run({})
    assert len(state) == 11

    # run 2: a row back at hour 2 — older than the committed watermark minus
    # the 1h grace → dropped; no update is emitted for its window
    _write_flat(rows([("A", 2, 99)]), tmp_path, src, "1")
    updates: dict = run({})
    assert updates == {}


def test_checkpoint_restart_replays_nothing(spark, split_events_dir, tmp_path):
    """T4/T6: the checkpoint commits source offsets; restarting the same
    query over the same source emits zero new updates."""
    ckpt = str(tmp_path / "ckpt")
    calls = events_to_calls(_stream(spark, split_events_dir))
    agg = streaming_windowed_call_agg(calls)

    first = run_update_query_to_state(
        agg, lambda r: (r.id_telef_origen, r.window_start), ckpt
    )
    assert first

    second: dict = {}
    run_update_query_to_state(
        agg, lambda r: (r.id_telef_origen, r.window_start), ckpt, state=second
    )
    assert second == {}


# ---------------------------------------------------------------------------
# Kafka serde (S1/S3/S5) — brokerless: serialize/parse are pure projections
# ---------------------------------------------------------------------------


def _raw_kafka_frame(spark, spec, typed_rows):
    typed = spark.createDataFrame(typed_rows, CALL_AGGREGATE)
    return spec.serialize(typed, key_col="ID_TELEF_ORIGEN").withColumn(
        "timestamp", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )


def test_kafka_spec_serde_roundtrip(spark):
    spec = KafkaTopicSpec(topic="CALLS_AGG", value_schema=CALL_AGGREGATE)
    rows = [
        (1704067200000, "34600111222", 5, 3, 12, 2),
        (1704070800000, "34600333444", 1, 7, 7, 7),
    ]
    raw = _raw_kafka_frame(spark, spec, rows)
    parsed = spec.parse(raw)
    out = {
        r.ID_TELEF_ORIGEN: (
            r.WINDOW_START_TS,
            r.CALLS_COUNT,
            r.MAX_DURACION_ORIGEN,
            r.TOTAL_DURACION_ORIGEN,
            r.AVG_DURACION_ORIGEN,
        )
        for r in parsed.collect()
    }
    assert out == {
        "34600111222": (1704067200000, 5, 3, 12, 2),
        "34600333444": (1704070800000, 1, 7, 7, 7),
    }
    assert parsed.columns == ["key"] + [f.name for f in CALL_AGGREGATE.fields] + ["kafka_ts"]


def test_kafka_spec_drops_corrupt_values(spark):
    """S5 log-and-continue: undecodable values drop instead of failing."""
    spec = KafkaTopicSpec(topic="CALLS_AGG", value_schema=CALL_AGGREGATE)
    raw = _raw_kafka_frame(spark, spec, [(1704067200000, "34600111222", 5, 3, 12, 2)])
    corrupt = raw.union(
        raw.select(
            F.lit("badkey").alias("key"),
            F.lit(b"\x00not-a-record").alias("value"),
            F.col("timestamp"),
        )
    )
    assert spec.parse(corrupt).count() == 1
    assert spec.parse(corrupt, drop_corrupt=False).count() == 2


def test_confluent_wire_framing_roundtrip(spark):
    """Schema-Registry wire format (CallsEnrichedApp.java:70-79): every value
    is 0x00 + int32 schema id + body; a framed spec must round-trip and the
    on-wire bytes must carry the exact 5-byte header."""
    spec = KafkaTopicSpec(
        topic="CALLS_AGG",
        value_schema=CALL_AGGREGATE,
        wire_format="confluent",
        schema_id=7,
    )
    rows = [(1704067200000, "34600111222", 5, 3, 12, 2)]
    raw = _raw_kafka_frame(spark, spec, rows)
    (value_bytes,) = [r.value for r in raw.select("value").collect()]
    assert value_bytes[:5] == b"\x00\x00\x00\x00\x07"

    parsed = spec.parse(raw).collect()
    assert len(parsed) == 1
    assert parsed[0].ID_TELEF_ORIGEN == "34600111222"
    assert parsed[0].CALLS_COUNT == 5


def test_confluent_wire_framing_rejects_bad_header(spark):
    """Unframed bodies, foreign schema ids, and short records are deser
    errors: nulled, counted by the S5 observe metric, dropped."""
    spec = KafkaTopicSpec(
        topic="CALLS_AGG",
        value_schema=CALL_AGGREGATE,
        wire_format="confluent",
        schema_id=7,
    )
    good = _raw_kafka_frame(spark, spec, [(1704067200000, "34600111222", 5, 3, 12, 2)])
    unframed = _raw_kafka_frame(
        spark,
        KafkaTopicSpec(topic="CALLS_AGG", value_schema=CALL_AGGREGATE),
        [(1704070800000, "34600333444", 1, 7, 7, 7)],
    )
    wrong_id = _raw_kafka_frame(
        spark,
        KafkaTopicSpec(
            topic="CALLS_AGG",
            value_schema=CALL_AGGREGATE,
            wire_format="confluent",
            schema_id=8,
        ),
        [(1704070800000, "34600555666", 2, 4, 8, 4)],
    )
    short = good.select(
        F.col("key"), F.lit(b"\x00\x00").alias("value"), F.col("timestamp")
    )
    mixed = good.union(unframed).union(wrong_id).union(short)
    kept = spec.parse(mixed).collect()
    assert [r.ID_TELEF_ORIGEN for r in kept] == ["34600111222"]
    assert spec.parse(mixed, drop_corrupt=False).count() == 4


def test_serde_selection_is_environment_aware():
    # auto NEVER silently downgrades the wire format to JSON: genuine Avro
    # bytes either way — the JVM expressions when spark-avro is loadable,
    # else the cross-validated pure-Python codec.
    spec = KafkaTopicSpec(topic="t", value_schema=CALL_AGGREGATE)
    assert spec.resolved_serde() == ("avro" if avro_available() else "avro_py")
    assert KafkaTopicSpec(topic="t", value_schema=CALL_AGGREGATE, serde="json").resolved_serde() == "json"
    assert KafkaTopicSpec(topic="t", value_schema=CALL_AGGREGATE, serde="avro_py").resolved_serde() == "avro_py"


def test_reader_writer_options():
    spec = KafkaTopicSpec(
        topic="CALLS", bootstrap_servers="broker:9092", value_schema=CALL_AGGREGATE
    )
    assert spec.reader_options() == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "CALLS",
        "startingOffsets": "earliest",
    }
    assert spec.writer_options()["topic"] == "CALLS"


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState) + topic DDL (S4)
# ---------------------------------------------------------------------------


def test_stateful_running_totals_converges_to_batch(spark, split_events_dir, tmp_path):
    """The applyInPandasWithState accumulator, fed 3 micro-batches, must end
    at the same per-key totals a batch aggregation computes."""
    import pytest

    from kafka_streams_rosetta_demo_spark.streaming.stateful import running_totals

    stream = _stream(spark, split_events_dir, max_files_per_trigger=1)
    totals = running_totals(stream, key_col="user_id", value_col="value")
    state = run_update_query_to_state(
        totals, lambda r: r.user_id, str(tmp_path / "ckpt")
    )

    expected = {
        r.user_id: (r.n, float(r.total))
        for r in spark.read.parquet(split_events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert state.keys() == expected.keys()
    for k, row in state.items():
        n, total = expected[k]
        assert row.n_events == n
        assert row.total_value == pytest.approx(total, rel=1e-9)


def test_topic_ddl_parses_reference_style_properties():
    from kafka_streams_rosetta_demo_spark.streaming.admin import (
        TopicDef,
        parse_topic_defs,
    )

    props = {
        "calls.topic.name": "CALLS",
        "calls.topic.partitions": "3",
        "calls.topic.replication.factor": "2",
        "rekeyed.topic.name": "rekeyed-customers",
        "unrelated.key": "x",
    }
    assert parse_topic_defs(props) == [
        TopicDef("CALLS", 3, 2),
        TopicDef("rekeyed-customers", 1, 1),
    ]


def test_topic_ddl_create_gated_without_client():
    import pytest

    from kafka_streams_rosetta_demo_spark.streaming.admin import create_topics

    try:
        import confluent_kafka  # noqa: F401

        pytest.skip("kafka client present; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="confluent-kafka"):
        create_topics({"a.topic.name": "A"}, "localhost:9092")


# ---------------------------------------------------------------------------
# Streaming dedup (dropDuplicatesWithinWatermark) + stream-stream interval join
# ---------------------------------------------------------------------------


def test_streaming_dedup_within_watermark_drops_redeliveries(
    spark, split_events_dir, tmp_path
):
    """At-least-once redelivery scrub: stream the 3 event files with the
    SECOND file a byte-identical redelivery of the first; the watermarked
    dedup must converge to exactly the batch distinct."""
    import shutil
    from pathlib import Path

    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_dedup_within_watermark,
    )

    src = tmp_path / "dup_src"
    src.mkdir()
    files = sorted(Path(split_events_dir).glob("*.parquet"))
    shutil.copy(files[0], src / "0.parquet")
    shutil.copy(files[0], src / "1.parquet")  # redelivery of batch 0
    shutil.copy(files[1], src / "2.parquet")

    stream = _stream(spark, str(src), max_files_per_trigger=1)
    dedup = streaming_dedup_within_watermark(stream, ["event_id"], "ts")

    got: list = []

    def sink(batch_df, batch_id):
        got.extend(batch_df.collect())

    (
        dedup.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    expected = (
        normalize_event_ts(spark.read.parquet(str(src)))
        .dropDuplicates(["event_id"])
        .collect()
    )
    assert sorted(r.event_id for r in got) == sorted(r.event_id for r in expected)
    assert len(got) == len(set(r.event_id for r in got))


def test_streaming_interval_join_matches_batch(spark, split_events_dir, tmp_path):
    """Stream-stream windowed join (append mode): same-user click/purchase
    pairs within 5 minutes must equal the batch interval join over the same
    rows."""
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_interval_join,
    )

    clicks = _stream(spark, split_events_dir).where(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    purchases = _stream(spark, split_events_dir).where(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = streaming_interval_join(
        clicks.withColumnRenamed("user_id", "k"),
        purchases.withColumnRenamed("p_user_id", "k"),
        key="k",
        left_ts="ts",
        right_ts="p_ts",
        tolerance_seconds=300,
    ).select(F.col("l.event_id").alias("a"), F.col("r.p_event_id").alias("b"))

    got: list = []

    def sink(batch_df, batch_id):
        got.extend(batch_df.collect())

    (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    ev = normalize_event_ts(spark.read.parquet(split_events_dir))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("a"), F.col("user_id").alias("k"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b"), F.col("user_id").alias("k2"), F.col("ts").alias("pts")
    )
    expected = (
        c.join(p, (F.col("k") == F.col("k2"))
               & (F.abs(F.unix_micros("pts") - F.unix_micros("cts")) <= 300_000_000))
        .select("a", "b")
        .collect()
    )
    assert sorted((r.a, r.b) for r in got) == sorted((r.a, r.b) for r in expected)


def test_streaming_interval_left_join_emits_nulls_on_close(
    spark, split_events_dir, tmp_path
):
    """KS ``leftJoin(JoinWindows)`` shape: an unmatched click emits exactly
    once, null-padded, after the watermark proves no partner can arrive.

    Three pins against the batch twin: (1) matched output == the batch inner
    join exactly; (2) every null-padded row is genuinely unmatched in batch;
    (3) every unmatched click the final watermark has *provably closed*
    (ts + tolerance + watermark-delay <= max event time) did emit — rows
    nearer the stream tail than that may legitimately still sit in state,
    and rows already behind the watermark when their micro-batch arrived
    are dropped at input (standard too-late semantics), not null-emitted."""
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_interval_join,
    )

    clicks = _stream(spark, split_events_dir).where(
        F.col("event_type") == "click"
    ).select("event_id", F.col("user_id").alias("k"), "ts")
    purchases = _stream(spark, split_events_dir).where(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("k"),
        F.col("ts").alias("p_ts"),
    )
    joined = streaming_interval_join(
        clicks,
        purchases,
        key="k",
        left_ts="ts",
        right_ts="p_ts",
        tolerance_seconds=300,
        watermark="10 minutes",
        how="left_outer",
    ).select(
        F.col("l.event_id").alias("a"),
        F.col("r.p_event_id").alias("b"),
        F.col("l.ts").alias("cts"),
    )

    got: list = []

    def sink(batch_df, batch_id):
        got.extend(batch_df.collect())

    (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_loj"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    ev = normalize_event_ts(spark.read.parquet(split_events_dir))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("a"), F.col("user_id").alias("k"), F.col("ts").alias("cts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b"), F.col("user_id").alias("k2"), F.col("ts").alias("pts")
    )
    band = (F.col("k") == F.col("k2")) & (
        F.abs(F.unix_micros("pts") - F.unix_micros("cts")) <= 300_000_000
    )
    inner_expected = sorted(
        (r.a, r.b) for r in c.join(p, band).select("a", "b").collect()
    )
    unmatched = {
        r.a: r.cts for r in c.join(p, band, "left_anti").select("a", "cts").collect()
    }
    from datetime import timedelta

    # The global watermark is the MIN over the two watermark nodes
    # (multipleWatermarkPolicy=min), each tracking its own input's max event
    # time — so the close boundary is governed by whichever side lags. In
    # particular the last click in the stream can never be closed by this
    # run: the click-side watermark is derived from its own timestamp.
    # 1s slack on top: the watermark is millisecond-truncated and the close
    # condition is strict.
    wm_final = min(
        ev.where(F.col("event_type") == "click").agg(F.max("ts")).first()[0],
        ev.where(F.col("event_type") == "purchase").agg(F.max("ts")).first()[0],
    ) - timedelta(minutes=10)
    closed_cutoff = wm_final - timedelta(seconds=300) - timedelta(seconds=1)

    # A click already behind the watermark when its micro-batch ran was
    # dropped at input and never enters join state. The watermark during
    # batch i is min(per-side max event time over batches < i) minus the
    # delay (the fixture files are one micro-batch each, in name order).
    from pathlib import Path

    batches = [
        normalize_event_ts(spark.read.parquet(str(f)))
        for f in sorted(Path(split_events_dir).glob("*.parquet"))
    ]
    late_on_arrival: set = set()
    max_c = max_p = None
    for b in batches:
        if max_c is not None and max_p is not None:
            wm = min(max_c, max_p) - timedelta(minutes=10)
            late_on_arrival |= {
                r.event_id
                for r in b.where(
                    (F.col("event_type") == "click") & (F.col("ts") < F.lit(wm))
                )
                .select("event_id")
                .collect()
            }
        mc = b.where(F.col("event_type") == "click").agg(F.max("ts")).first()[0]
        mp = b.where(F.col("event_type") == "purchase").agg(F.max("ts")).first()[0]
        if mc is not None:
            max_c = mc if max_c is None else max(max_c, mc)
        if mp is not None:
            max_p = mp if max_p is None else max(max_p, mp)

    got_matched = sorted((r.a, r.b) for r in got if r.b is not None)
    got_nulls = [r for r in got if r.b is None]

    assert got_matched == inner_expected
    # null-padded rows: correct (all genuinely unmatched), at most once each
    assert all(r.a in unmatched for r in got_nulls)
    assert len({r.a for r in got_nulls}) == len(got_nulls)
    # completeness for provably-closed rows that actually entered state
    must_emit = {
        a
        for a, cts in unmatched.items()
        if cts <= closed_cutoff and a not in late_on_arrival
    }
    assert must_emit <= {r.a for r in got_nulls}


def test_append_mode_emits_each_window_once_final(spark, split_events_dir, tmp_path):
    """KS suppress(untilWindowCloses) ≡ append output mode: each window is
    emitted exactly once, already final, when the watermark passes its end;
    still-open windows are withheld until later input closes them — even
    across a checkpointed restart."""
    import shutil
    from datetime import timedelta
    from pathlib import Path

    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        run_append_query_to_rows,
    )
    from kafka_streams_rosetta_demo_spark.streaming.transforms import (
        streaming_final_windowed_agg,
    )

    src = tmp_path / "src"
    src.mkdir()
    # The file source orders new files by modification time; instantaneous
    # copies tie on mtime and can be batched out of order, which under a
    # 1-second watermark turns reordering into late-data drops. Space the
    # mtimes so batch order == time order, like the original writes had.
    import os
    import time

    now = time.time()
    for i, f in enumerate(sorted(Path(split_events_dir).glob("*.parquet"))):
        shutil.copy(f, src / f.name)
        os.utime(src / f.name, (now - 300 + 10 * i, now - 300 + 10 * i))

    def run(ck):
        calls = events_to_calls(_stream(spark, str(src), max_files_per_trigger=1))
        agg = streaming_final_windowed_agg(calls, watermark="1 second")
        return run_append_query_to_rows(agg, ck)

    ck = str(tmp_path / "ck")
    emitted = run(ck)

    raw = spark.read.parquet(str(src))
    expected = {
        (r.id_telef_origen, r.window_start): tuple(r)
        for r in unwrap_window(windowed_call_agg(events_to_calls(raw))).collect()
    }

    keys = [(r.id_telef_origen, r.window_start) for r in emitted]
    assert len(keys) == len(set(keys)), "a window was emitted twice"
    # the window containing max(ts) cannot be closed by the watermark yet
    assert 0 < len(keys) < len(expected)
    for r in emitted:
        assert tuple(r) == expected[(r.id_telef_origen, r.window_start)]

    # Feed ever-later flush events (each its own restart on the same
    # checkpoint) until the committed watermark has closed every original
    # window; flush events' own windows stay open/partial, so they are the
    # only keys allowed beyond the original expectation.
    last = raw.orderBy(F.desc("ts")).limit(1).collect()[0].asDict()
    flush_keys = set()
    all_rows = list(emitted)
    for i in range(1, 4):
        flush = dict(last)
        flush["ts"] = flush["ts"] + timedelta(hours=6 * i)
        flush_keys.add(str(flush["user_id"]))  # id_telef_origen = cast(user_id as string)
        _write_flat(
            spark.createDataFrame([flush], raw.schema), tmp_path, src, f"flush{i}"
        )
        all_rows += run(ck)
        keys = [(r.id_telef_origen, r.window_start) for r in all_rows]
        assert len(keys) == len(set(keys)), "a restart re-emitted a closed window"
        got = {
            (r.id_telef_origen, r.window_start): tuple(r)
            for r in all_rows
            if (r.id_telef_origen, r.window_start) in expected
        }
        extras = [
            k
            for r in all_rows
            if (k := (r.id_telef_origen, r.window_start)) not in expected
        ]
        assert all(k[0] in flush_keys for k in extras), "unexpected non-flush window"
        if len(got) == len(expected):
            break

    assert got == expected, "append mode never finalized every closed window"


def test_multibatch_cms_sketch_converges_to_batch(spark, split_events_dir, tmp_path):
    """CMS cells accumulated across 3 micro-batches must equal the
    batch-built sketch over the same events — the mergeability that makes
    a sketch valid streaming state. Restarting the finished query must
    change nothing (T4/T6 for sketch state)."""
    from kafka_streams_rosetta_demo_spark.operators.sketches import cms_build

    def topology():
        stream = _stream(spark, split_events_dir, max_files_per_trigger=1)
        return cms_build(
            stream.select(F.col("user_id").cast("string").alias("item")), "item"
        )

    ckpt = str(tmp_path / "ckpt")
    state = run_update_query_to_state(topology(), lambda r: (r.d, r.bucket), ckpt)
    expected = {
        (r.d, r.bucket): r.c
        for r in cms_build(
            spark.read.parquet(split_events_dir)
            .select(F.col("user_id").cast("string").alias("item")),
            "item",
        ).collect()
    }
    got = {k: row.c for k, row in state.items()}
    assert got == expected

    # Restart on the same checkpoint: offsets are committed, so NO updates
    # re-emit (at-least-once with no duplicate processing — the same pin as
    # test_checkpoint_restart_replays_nothing).
    state2 = run_update_query_to_state(topology(), lambda r: (r.d, r.bucket), ckpt)
    assert state2 == {}


def test_multibatch_integer_stateful_totals_exact(spark, split_events_dir, tmp_path):
    """The integer-state accumulator (the gate query's operator) must match
    the batch aggregate EXACTLY across micro-batches — no tolerance."""
    from kafka_streams_rosetta_demo_spark.streaming.stateful import running_totals_cents

    stream = _stream(spark, split_events_dir, max_files_per_trigger=1)
    totals = running_totals_cents(stream)
    state = run_update_query_to_state(
        totals, lambda r: r.user_id, str(tmp_path / "ckpt")
    )
    expected = {
        r.user_id: (r.n, r.total)
        for r in spark.read.parquet(split_events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("total"),
        )
        .collect()
    }
    assert state.keys() == expected.keys()
    for k, row in state.items():
        assert (row.n_events, row.total_cents) == expected[k]


def test_streaming_keyless_range_join_matches_batch_across_batches(
    spark, tmp_path
):
    """The bin-bucketed keyless stream-stream join must form matches ACROSS
    micro-batches: a purpose-built 3-file source places error windows in
    file 1 and their matching events in files 2-3 (plus in-batch matches),
    so correctness REQUIRES both sides' state to persist between
    micro-batches. Result must equal the batch operator over the same rows."""
    import datetime as dt
    import shutil

    from kafka_streams_rosetta_demo_spark.operators.joins import (
        bin_bucketed_range_join,
    )

    B = dt.datetime(2024, 3, 1)
    sec = dt.timedelta(seconds=1)
    # (event_id, offset_s, type): errors at 0s and 500s open [t, t+120s);
    # events at 30s (same batch), 60s/90s (batch 2), 110s/505s (batch 3).
    rows = {
        0: [(1, 0, "error"), (2, 30, "click")],
        1: [(3, 60, "view"), (4, 90, "click")],
        2: [(5, 110, "view"), (6, 500, "error"), (7, 505, "click")],
    }
    src = tmp_path / "keyless_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    for i, chunk in rows.items():
        part_dir = tmp_path / f"stage{i}"
        spark.createDataFrame(
            [(eid, B + off * sec, eid % 3, et, 1.0, "{}") for eid, off, et in chunk],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(str(part_dir))
        (part_file,) = part_dir.glob("part-*.parquet")
        shutil.copy(part_file, src / f"{i}.parquet")

    bin_us = 120_000_000
    ev = _stream(spark, str(src), max_files_per_trigger=1)
    w = (
        ev.where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("win_id"), F.col("ts").alias("w_ts"))
        .withWatermark("w_ts", "24 hours")
        .withColumn(
            "wbin",
            F.explode(
                F.sequence(
                    F.expr(f"unix_micros(w_ts) div {bin_us}"),
                    F.expr(f"(unix_micros(w_ts) + {bin_us} - 1) div {bin_us}"),
                )
            ),
        )
    )
    e = (
        ev.select(F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "24 hours")
        .withColumn("ebin", F.expr(f"unix_micros(e_ts) div {bin_us}"))
    )
    joined = w.join(
        e,
        (F.col("wbin") == F.col("ebin"))
        & (F.col("e_ts") >= F.col("w_ts"))
        & (F.col("e_ts") < F.col("w_ts") + F.expr("INTERVAL 120 SECONDS"))
        & (F.col("e_id") != F.col("win_id")),
    ).select("win_id", "e_id")

    got: list = []

    def sink(batch_df, batch_id):
        got.extend(batch_df.collect())

    (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_krj"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    ev_b = normalize_event_ts(spark.read.parquet(str(src))).select(
        "event_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    wins = ev_b.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("win_id"),
        F.col("t_us").alias("ws"),
        (F.col("t_us") + bin_us).alias("we"),
    )
    probes = ev_b.select(F.col("event_id").alias("e_id"), "t_us")
    expected = sorted(
        (r.win_id, r.e_id)
        for r in bin_bucketed_range_join(wins, probes, "ws", "we", "t_us", bin_us)
        .where(F.col("e_id") != F.col("win_id"))
        .select("win_id", "e_id")
        .collect()
    )
    # window 1 catches 2 (in-batch), 3, 4 (batch 2), 5 (batch 3);
    # window 6 catches 7 (in-batch). Cross-batch matching is structural.
    assert expected == [(1, 2), (1, 3), (1, 4), (1, 5), (6, 7)]
    assert sorted((r.win_id, r.e_id) for r in got) == expected


def test_streaming_psi_histogram_accumulates_across_batches(
    spark, split_events_dir, tmp_path
):
    """streaming_drift_psi's state contract: the 10-bin histogram
    accumulates across micro-batches (3 here), the compacted changelog
    equals the batch conditional aggregation over the same events, and
    the state key space never exceeds the bin count — the
    bounded-by-construction claim, checked, not asserted."""
    from pyspark.sql import functions as F

    from kafka_streams_rosetta_demo_spark.queries.relational_queries import (
        _PSI_BINS,
        _PSI_SPLIT,
        _PSI_WIDTH,
    )
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        parquet_changelog_snapshot,
        run_update_query_to_parquet_changelog,
    )

    def binned(df):
        return df.select(
            F.least(
                F.floor(F.col("value") / _PSI_WIDTH).cast("long"),
                F.lit(_PSI_BINS - 1).cast("long"),
            ).alias("bin"),
            (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("is_base"),
        )

    hist = binned(_stream(spark, split_events_dir, max_files_per_trigger=1)).groupBy(
        "bin"
    ).agg(
        F.count(F.when(F.col("is_base"), 1)).alias("base_n"),
        F.count(F.when(~F.col("is_base"), 1)).alias("curr_n"),
    )
    out_dir = str(tmp_path / "psi_changelog")
    run_update_query_to_parquet_changelog(hist, str(tmp_path / "ckpt_psi"), out_dir)
    got = parquet_changelog_snapshot(spark, out_dir, ["bin"]).select(
        "bin", "base_n", "curr_n"
    )

    expected = (
        binned(spark.read.parquet(split_events_dir))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("is_base"), 1)).alias("base_n"),
            F.count(F.when(~F.col("is_base"), 1)).alias("curr_n"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )
    assert got.count() <= _PSI_BINS


# ---------------------------------------------------------------------------
# round 14 wave 5: backlog-sized state exchanges
# ---------------------------------------------------------------------------


def test_backlog_bytes_sums_parquet_files(tmp_path):
    from kafka_streams_rosetta_demo_spark.streaming.runner import backlog_bytes

    d = tmp_path / "staged"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 100)
    (d / "b.parquet").write_bytes(b"y" * 50)
    (d / "ignore.crc").write_bytes(b"z" * 999)  # non-parquet: not backlog
    lone = tmp_path / "lone.parquet"
    lone.write_bytes(b"w" * 7)
    assert backlog_bytes(str(d)) == 150
    assert backlog_bytes(str(d), str(lone)) == 157
    assert backlog_bytes(str(tmp_path / "missing")) == 0


def test_backlog_state_shuffle_sizes_from_bytes_and_restores(
    spark, tmp_path, monkeypatch
):
    from kafka_streams_rosetta_demo_spark.session import DEFAULT_SHUFFLE_PARTITIONS
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        _BACKLOG_BYTES_PER_STATE_PARTITION,
        backlog_state_shuffle,
    )

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        monkeypatch.delenv("SPARK_GRAFT_BACKLOG_STATE", raising=False)
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        small = tmp_path / "small.parquet"
        small.write_bytes(b"x" * 1024)  # << one partition's worth
        with backlog_state_shuffle(spark, str(small)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        # exit restores the count that was in place on entry
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"

        # a backlog past the clamp point keeps the scale-parameterised
        # default: the sizing can only LOWER the count for small backlogs,
        # never change production parallelism
        big = tmp_path / "big.parquet"
        big.write_bytes(b"x")
        import os

        os.truncate(
            big, _BACKLOG_BYTES_PER_STATE_PARTITION * (DEFAULT_SHUFFLE_PARTITIONS + 5)
        )
        with backlog_state_shuffle(spark, str(big)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                DEFAULT_SHUFFLE_PARTITIONS
            )

        # ZERO backlog (missing path / no .parquet files) never clamps to 1:
        # the in-scope conf stays whatever the session had (ADVICE r14)
        with backlog_state_shuffle(spark, str(tmp_path / "missing")):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"

        # the A/B kill-switch leaves the in-scope conf untouched, and BOTH
        # legs restore the entry count on exit (symmetric A/B state)
        monkeypatch.setenv("SPARK_GRAFT_BACKLOG_STATE", "0")
        with backlog_state_shuffle(spark, str(small)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_state_shuffle_helpers_leave_session_count_unchanged(
    spark, split_events_dir, tmp_path, monkeypatch
):
    """Both state-sizing helpers restore the count the session had, not the
    engine default: a streaming query run inside them, nested, on a session
    at 8 partitions leaves it at 8."""
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        backlog_state_shuffle,
        bounded_state_shuffle,
    )

    monkeypatch.delenv("SPARK_GRAFT_BACKLOG_STATE", raising=False)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        with bounded_state_shuffle(spark, 4096):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        calls = events_to_calls(_stream(spark, split_events_dir, max_files_per_trigger=1))
        agg = streaming_windowed_call_agg(calls)
        with backlog_state_shuffle(spark, split_events_dir):
            with bounded_state_shuffle(spark, 1):
                pass
            state = run_update_query_to_state(
                agg, lambda r: (r.id_telef_origen, r.window_start), str(tmp_path / "ckpt")
            )
        assert state
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_backlog_sized_state_results_identical(spark, sf_smoke, monkeypatch):
    """The partition count cannot change what a stateful topology computes:
    the within-watermark dedup run with the backlog-derived count and with
    the session default must return identical rows."""
    from kafka_streams_rosetta_demo_spark.queries import load_all

    fn = load_all()["streaming_dedup_events"].fn
    monkeypatch.setenv("SPARK_GRAFT_BACKLOG_STATE", "0")
    before = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    monkeypatch.setenv("SPARK_GRAFT_BACKLOG_STATE", "1")
    after = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    assert before == after
    assert len(after) > 0
