"""Batch parquet sources over the driver-generated testdata (TESTDATA.md).

The reference consumes Kafka topics (``builder.stream``/``builder.table``,
``CallsAggregationApp.java:51``, ``CallsEnrichedApp.java:53-60``); the batch
engine reads the equivalent record sets from parquet. Column pruning and
predicate pushdown reach the scan because these are plain declarative reads.

Two *role mappings* adapt the TPC-H-ish testdata to the reference's telco
domain (FIXTURES.md "Driver mapping" notes):

- ``events``   → raw CALLS stream: ``user_id`` → ``id_telef_origen``,
  ``floor(value)`` → ``duracion_origen``, ``ts`` → event time.
- ``customer`` → CLIENTES lookup table: ``c_custkey`` → ``TELEFONO`` (the join
  key after rekey, ``CallsEnrichedApp.java:54``), attributes → the five
  nullable enrichment fields (``callaggcust.avsc:32-44``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table, read with its schema from the footer-schema memo, so a
    repeat read of an unchanged path runs no Spark job.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) — which Spark 4
    rejects outright (PARQUET_TYPE_ILLEGAL) without the nanos-as-long legacy
    conf — and plain micros TIMESTAMP_NTZ. Events are read with the legacy
    conf set (harmless for non-nanos data) and normalized to TimestampType."""
    from ..session import ensure_conf

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to microsecond TimestampType whatever physical form
    the parquet carries it in: nanos-as-long (TIMESTAMP(NANOS) data read
    under the legacy conf) is truncated exactly like DuckDB reading
    TIMESTAMP_NS, and TIMESTAMP_NTZ (micros with isAdjustedToUTC=false) is
    cast in the pinned-UTC session — value-preserving, so oracles agree.
    No-op when ``ts`` is already TimestampType. Shared by the batch loader
    and the streaming file source."""
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Footer-schema memo for every parquet read. Without it each read infers the
# schema anew, which costs the driver a one-task Spark job per path per call
# (a footer read) before any plan is built. The key is the path's on-disk
# fingerprint (mtime + size of the path, or of its direct children for a
# directory-shaped dataset) plus the session confs that change what schema
# inference returns. The fingerprint invalidates an entry when the file is
# rewritten in place, so long-lived drivers never serve a stale schema, and
# the conf values keep e.g. a nanos-as-long read apart from a plain one. A
# path that cannot be stat'ed (a glob, a remote URI) is never memoized.
_SCHEMA_MEMO: dict[tuple, object] = {}
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _path_fingerprint(path: str) -> tuple:
    import os

    try:
        st = os.stat(path)
    except OSError:
        return (path, None)
    if os.path.isdir(path):
        parts = []
        for name in sorted(os.listdir(path)):
            try:
                cst = os.stat(os.path.join(path, name))
                parts.append((name, cst.st_mtime_ns, cst.st_size))
            except OSError:
                parts.append((name, None, None))
        return (path, tuple(parts))
    return (path, st.st_mtime_ns, st.st_size)


def clear_events_schema_cache() -> None:
    """Test / long-session hook: drop every memoized footer schema, of
    every table."""
    _SCHEMA_MEMO.clear()


def _parquet_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    footer once per (fingerprint, schema-affecting confs)."""
    fingerprint = _path_fingerprint(path)
    if fingerprint[1] is None:
        return spark.read.parquet(path).schema
    key = (fingerprint, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    if key not in _SCHEMA_MEMO:
        if len(_SCHEMA_MEMO) >= 64:  # bound growth in long sessions
            _SCHEMA_MEMO.clear()
        _SCHEMA_MEMO[key] = spark.read.parquet(path).schema
    return _SCHEMA_MEMO[key]


def events_schema(spark: SparkSession, events_path: str):
    """Footer-only schema read of an events parquet — the explicit schema a
    streaming file source needs, robust to either physical ts encoding
    (nanos→long under the legacy conf, or native TIMESTAMP/NTZ). Served from
    the footer-schema memo shared with :func:`load_table`; the legacy conf is
    still pinned per call because the subsequent streaming read needs it
    regardless of a memo hit."""
    from ..session import ensure_conf

    ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    return _parquet_schema(spark, events_path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def events_to_calls(events: DataFrame) -> DataFrame:
    """events → the raw CALLS stream shape (implied schema,
    ``CallsAggregationApp.java:54,72``). ``duracion_origen`` is long in the
    reference (``callagg.avsc``); the testdata value column is double, so we
    floor it — deterministic in both Spark and the DuckDB oracle. Shared by
    the batch loader and the streaming file source."""
    return events.select(
        F.col("user_id").cast("string").alias("id_telef_origen"),
        F.floor("value").alias("duracion_origen"),
        F.col("ts").alias("event_ts"),
    )


def rosetta_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw CALLS stream over the testdata role mapping."""
    return events_to_calls(load_table(spark, sf_dir, "events"))


def rosetta_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLIENTES_PORTA_SCR_T lookup side (``CustomerAggregate``,
    ``callaggcust.avsc:32-44``), keyed by ``TELEFONO``.

    Negative-balance customers are treated as churned (absent from the
    dimension) so the left join's null side — untested in the reference
    (``CallCustomerJoiner.java:24-28``) — is exercised on real data.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.where(F.col("c_acctbal") >= 0).select(
        F.concat_ws("_", F.col("c_custkey").cast("string"), F.col("c_name")).alias(
            "TELEF_Y_DOC"
        ),
        F.col("c_custkey").cast("string").alias("TELEFONO"),
        F.col("c_name").alias("DOC_CLIENTE"),
        F.col("c_nationkey").cast("int").alias("CLIENTE_ORANGE"),
        F.floor("c_acctbal").cast("int").alias("DAYS_EXCLIENTE"),
        F.col("c_mktsegment").alias("OPERADOR_ACTUAL"),
        F.when(F.col("c_acctbal") < 1000, F.lit("HIGH"))
        .when(F.col("c_acctbal") < 5000, F.lit("MEDIUM"))
        .otherwise(F.lit("LOW"))
        .alias("RIESGO"),
    )
