"""Table catalog over the driver's parquet testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an sf directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_streaming_2_10_spark.session import configure

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


#: Per-application memo of loaded-table PLANS (not data): keyed by the
#: session's applicationId so a stopped/rebuilt session can never serve
#: an earlier application's DataFrames. ``spark.read.parquet`` costs ~100-250 ms
#: per call on the driver (footer/schema read + py4j chatter) and the
#: query registry calls ``load_table`` ~200 times per bench pass over the
#: same ten immutable files — pure fixed overhead at any scale. The memo
#: reuses the analyzed scan PLAN; every execution still reads the parquet
#: data in full (nothing is materialized or cached data-side), so query
#: results are byte-identical. Contract: an sf_dir's files are immutable
#: for the life of a session. Sessions of one application share the
#: memo: a hit returns the plan of the session that first loaded the
#: table.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types.

    Timestamp normalization (the driver has shipped both representations):

    * ``events.ts`` as parquet TIMESTAMP(NANOS) — with
      ``spark.sql.legacy.parquet.nanosAsLong`` it scans as a nanosecond
      long, which we convert to TimestampType (microsecond truncation —
      identical to DuckDB's TIMESTAMP cast, so oracle comparisons agree).
    * plain TIMESTAMP(MICROS) without UTC adjustment — scans as
      TIMESTAMP_NTZ, which ``window()``/``unix_millis`` reject. The
      session is pinned to UTC (session.py), so casting NTZ→TIMESTAMP
      preserves wall time == epoch semantics exactly.
    """
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    # Once per (application, table): sessions get_spark did not build (the
    # driver's) need RUNTIME_CONF for events.ts and UTC.
    configure(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer division (`div`), NOT `/`: float division of ~1.7e18 ns
        # values rounds at sub-µs precision and can land one µs high.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _PLAN_CACHE[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
