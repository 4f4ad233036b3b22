"""Registry plumbing for the query/oracle contract.

Conventions that make the hash-compare robust (driver sorts columns by
name, then order-insensitively hashes values):

- Alias EVERY computed column, identically in Spark and oracle SQL.
- Round every floating aggregate on BOTH sides (``F.round(x, n)`` /
  ``ROUND(x, n)``) so partial-aggregation order can't flip a bit.
- Cast derived integers to BIGINT on both sides (DuckDB's year(),
  count() etc. return BIGINT; Spark's year() returns INT).
- Never emit nondeterministic rows (sample/rand queries are registered
  without an oracle → driver records the weaker rows-only check).
- NO bare array/struct/map OUTPUT columns: the driver canonicalizer
  sorts+hashes cells and ``list``/``dict`` are unhashable. Exercise
  complex types inside the query, then serialize the output column
  (``F.array_join(arr.cast("array<string>"), ",")`` / ``F.to_json`` in
  Spark; ``array_to_string(..., ',')`` / ``to_json`` in DuckDB).
  Enforced by tests/test_registry_contract.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None → rows-only check
    doc: str  # what capability this exercises (SURVEY.md §2 row)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is the DuckDB-equivalent SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand scan used by query bodies (nanos-safe for events)."""
    from big_data_project_implementation_spark.sources.catalog import load_table

    return load_table(spark, sf_dir, name)


def _stream_table_dir(sf_dir: str, name: str) -> str:
    """Expose a fixture table to the file streaming source, which
    requires a flat *directory of files*. Two fixture shapes exist:
    the testdata tables are single parquet FILES (symlink the file in)
    and scale-probe replicas are Spark-written parquet DIRECTORIES
    (symlink each part file in — a symlinked subdirectory is invisible
    to the source's non-recursive listing, which silently streamed
    ZERO rows from scaled dirs until round 7)."""
    import os
    import tempfile

    stream_dir = os.path.join(
        tempfile.gettempdir(),
        f"{name}_stream_" + sf_dir.strip("/").replace("/", "_"),
    )
    src = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(src):
        wanted = {
            f: os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        }
    else:
        wanted = {f"{name}.parquet": src}
    # regeneration safety (ADVICE r7): if the source dir was rewritten
    # with new part names, stale links would double-count/phantom rows
    # and broken links defeat os.path.exists — compare the link SET
    # (lexists + readlink) and rebuild the dir on any mismatch.
    if os.path.isdir(stream_dir):
        have = {
            f: os.readlink(os.path.join(stream_dir, f))
            for f in os.listdir(stream_dir)
            if os.path.islink(os.path.join(stream_dir, f))
        }
        if have != wanted:
            import shutil

            shutil.rmtree(stream_dir)
    os.makedirs(stream_dir, exist_ok=True)
    for fname, target in wanted.items():
        link = os.path.join(stream_dir, fname)
        if not os.path.lexists(link):
            os.symlink(target, link)
    return stream_dir


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents table (file source) — same
    symlinked-dir trick as events_stream, no timestamp conversion."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return spark.readStream.schema(raw_schema).parquet(
        _stream_table_dir(sf_dir, "documents")
    )


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the embeddings table (file source) — arriving
    QUERY VECTORS for the online ANN-serving query; same symlinked-dir
    plumbing as documents_stream."""
    raw_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    return spark.readStream.schema(raw_schema).parquet(
        _stream_table_dir(sf_dir, "embeddings")
    )


def lineitem_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the lineitem table (file source) — arriving
    FACT rows for the streaming join-view maintenance query; same
    symlinked-dir plumbing as documents_stream."""
    raw_schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    return spark.readStream.schema(raw_schema).parquet(
        _stream_table_dir(sf_dir, "lineitem")
    )


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of the events table (file source), with the same
    nanos→µs conversion as the batch path.

    The file streaming source requires a *directory* of files; see
    _stream_table_dir for the single-file vs parquet-dir handling.
    ``max_files_per_trigger`` forces multi-micro-batch runs under
    availableNow (one file per batch — the ordered-ingest shape the
    incremental-state queries exercise)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(_stream_table_dir(sf_dir, "events"))
    if isinstance(raw_schema["ts"].dataType, LongType):
        # legacy TIMESTAMP(NANOS) fixture decoded as raw nanos
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # native micros decodes as TIMESTAMP_NTZ; align with catalog.py
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf
