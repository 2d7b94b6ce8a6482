"""Table sources over the driver-provided parquet fixtures.

The reference reads its lake with ``spark.read.json`` (schema inference
on every run — reference: spark-apps/eu-to-cleansed/
eu_raw_to_cleansed_merge.py:35) and Delta scans (join_eu_ugc_qdrant_
merge.py:116-117). Our engine is columnar-at-rest: parquet scans with
Catalyst pushdown/pruning; explicit schemas for any JSON ingestion so
no inference pass is paid per run (SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables whose cardinality is BOUNDED (5/25 rows at any
# scale factor) — safe to broadcast explicitly even at 100 TB. All
# other tables scale with SF; their join strategy is AQE's runtime
# call, never a forced broadcast.
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (filter/column pushdown free)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Fixture generations differ: events.ts has shipped both as
        # parquet INT64 TIMESTAMP(NANOS) (Spark rejects it unless read
        # as nanosecond longs) and as plain TIMESTAMP(MICROS). Set the
        # conf here (runtime-settable, no-op for micros files) so the
        # loader also works under a caller's vanilla SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Route single-file/single-row-group fixtures through the scan cache
    # so the first stage parallelizes on input splits exactly as a real
    # multi-file ingest would (sources/scan_cache.py — semantic no-op).
    from .scan_cache import splittable_path

    df = spark.read.parquet(splittable_path(f"{sf_dir}/{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # nanos-as-long generation: truncate ns→µs — the same
            # narrowing DuckDB applies — and restore a timestamp.
            # Integer div: double division would lose ns precision at 1e18.
            # timestamp_micros yields TIMESTAMP_LTZ, so route through the
            # same session-tz-independent NTZ normalization as the micros
            # branch below.
            from pyspark.sql.types import TimestampType

            df = df.withColumn(
                "ts",
                _ts_to_ntz_utc(
                    spark,
                    F.timestamp_micros(F.expr("ts div 1000")),
                    TimestampType(),
                ),
            )
        else:
            # micros generation: already a timestamp; normalize to NTZ
            # so downstream plans/oracles see one type either way.
            df = df.withColumn("ts", _ts_to_ntz_utc(spark, F.col("ts"), df.schema["ts"].dataType))
    return df


def _ts_to_ntz_utc(spark: SparkSession, ts, dtype):
    """Normalize a timestamp column to TIMESTAMP_NTZ carrying the UTC
    wall-clock, independent of the session timezone.

    A bare ``cast('timestamp_ntz')`` from TIMESTAMP_LTZ renders the
    instant in the SESSION timezone, so a non-UTC caller would shift
    every event relative to the UTC-fixed DuckDB oracle (round-2
    advice). ``to_utc_timestamp(ts, session_tz)`` subtracts the session
    offset first, so the subsequent session-tz rendering lands on the
    UTC wall-clock for any session timezone. TIMESTAMP_NTZ input (the
    common inferTimestampNTZ read) is returned as-is.

    Caveat: offsets are evaluated per-value, so instants inside a DST
    transition hour of the session zone can shift by the DST delta.
    Exact for fixed-offset zones and for UTC sessions (the deployment
    default — session.get_spark pins spark.sql.session.timeZone=UTC).

    The timezone is resolved with ``current_timezone()`` AT EXECUTION,
    not captured at plan-construction: the compensating shift and the
    NTZ cast's rendering then always use the same zone, so building the
    DataFrame under one session tz and collecting under another cannot
    desynchronize them.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    if isinstance(dtype, TimestampNTZType):
        return ts.cast("timestamp_ntz")
    return F.to_utc_timestamp(ts, F.expr("current_timezone()")).cast(
        "timestamp_ntz"
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
