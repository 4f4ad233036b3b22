"""Fixture catalog: the driver's TPC-H-ish tables (see TESTDATA.md).

At 100 TB these would be partitioned/bucketed Hive-catalog tables; here
each is one parquet file. ``load_table`` goes through the same
``spark.read.parquet`` scan path either way, so filter pushdown /
column pruning behavior is representative.
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

# Only FIXED-size dimensions get a forced broadcast hint: region (5
# rows) and nation (25 rows) never grow with SF. supplier/part/customer
# scale linearly (SF x 10k/200k/150k rows), so a forced hint would
# override autoBroadcastJoinThreshold AND AQE demotion at 100 TB —
# multi-GB broadcasts baked into the catalog. For SF-scaled tables the
# threshold + AQE decide: at small SF they still broadcast (asserted in
# tests/test_plans.py), at cluster scale they demote to shuffle joins.
BROADCASTABLE = ("region", "nation")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projection into it.

    ``events.ts`` fixtures have shipped as both parquet TIMESTAMP(NANOS)
    (which Spark's reader rejects — ``get_session`` sets the legacy
    conf that reads it as raw nanos, then this integral-divides to µs,
    matching DuckDB's ns→µs cast truncation) and native
    TIMESTAMP(MICROS) (read as-is). Branch on the decoded type so
    either fixture vintage works; the session's conf is never changed
    here."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events":
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # native micros decodes as TIMESTAMP_NTZ; cast to session-TZ
            # TIMESTAMP (session is pinned UTC — value-preserving) so the
            # engine-facing schema is identical across fixture vintages
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in BROADCASTABLE:
        # bounded-size dimensions: hint the planner so any join builds on
        # them regardless of statistics staleness (a no-op outside joins)
        df = F.broadcast(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view for the SQL front door."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
