"""Structured Streaming layer — DStream-surface parity (SURVEY §2.12).

Mapping table (reference STR/dstream/* → here):
- window/reduceByWindow/countByWindow  → windowed_agg (tumbling/sliding)
- updateStateByKey / mapWithState      → stateful sessionize/run_with_state
  (applyInPandasWithState, ProcessingTime/EventTime timeouts)
- foreachRDD / saveAs*                 → sink helpers (foreachBatch, file,
  memory)
- checkpointing                        → checkpoint_location option
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Any = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (reference FileInputDStream); schema required
    for file streams — pass a batch-read schema."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def read_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Deterministic test source (modern replacement for the reference's
    queueStream test harness)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def windowed_agg(
    sdf: DataFrame,
    ts_col: str,
    window: str,
    slide: str | None = None,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Tumbling/sliding event-time windowed aggregation with watermark
    (reference window/reduceByKeyAndWindow, DStream.scala:788-876;
    watermarks are the modern late-data upgrade)."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    group_cols = [win] + [F.col(k) for k in (keys or [])]
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*group_cols)
        .agg(*(aggs or [F.count("*").alias("n")]))
    )


def run_with_state(
    sdf: DataFrame,
    keys: list[str],
    func: Callable[[Any, Any, GroupState], Any],
    output_schema: str,
    state_schema: str,
    timeout: str = "ProcessingTimeTimeout",
) -> DataFrame:
    """applyInPandasWithState — mapWithState/StateSpec parity including
    idle timeouts (reference STR/StateSpec.scala:73,100; state map
    STR/util/StateMap.scala:84)."""
    timeout_conf = {
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
        "EventTimeTimeout": GroupStateTimeout.EventTimeTimeout,
        "NoTimeout": GroupStateTimeout.NoTimeout,
    }[timeout]
    return sdf.groupBy(*keys).applyInPandasWithState(
        func, output_schema, state_schema, "update", timeout_conf
    )


def dedup_stream(
    sdf: DataFrame,
    keys: list[str],
    watermark_col: str | None = None,
    delay: str | None = None,
) -> DataFrame:
    """Stateful streaming exact-dedup — the streaming counterpart of
    operators.dedup.exact_dedup (beyond-reference: a training-data
    ingest pipeline dedups ON the stream, not in a later batch pass).

    With ``watermark_col`` + ``delay``: dropDuplicatesWithinWatermark —
    keyed state is evicted once the watermark passes, so state size is
    bounded by the key arrival rate x delay (the 100 TB/day path;
    duplicates farther apart than ``delay`` re-emit, by contract).
    Without: global dropDuplicates — exact forever, state grows with
    distinct keys (fine for bounded key domains, documented tradeoff)."""
    if watermark_col is not None:
        if delay is None:
            raise ValueError("watermarked dedup_stream needs a delay")
        return sdf.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
            keys
        )
    return sdf.dropDuplicates(keys)


def _start_per_core(sdf: DataFrame, writer):
    """Start ``writer`` with one state store per core: a stateful
    operator opens one store per shuffle partition every micro-batch,
    and each store commits (a changelog fsync) whether or not its
    partition saw rows, so the batch default of ``max(cores, 8)`` ran
    the stores in two waves on a 4-core host. The stream clones its
    session inside ``start()``, so ``spark.sql.shuffle.partitions`` is
    set to ``defaultParallelism`` only around that call and restored
    after; the caller's session keeps its own value (a query planned
    on it while ``start()`` runs would see the per-core value). A
    restarted checkpoint keeps the count its offset log records."""
    conf = sdf.sparkSession.conf
    key = "spark.sql.shuffle.partitions"
    old = conf.get(key)
    conf.set(key, str(sdf.sparkSession.sparkContext.defaultParallelism))
    try:
        return writer.start()
    finally:
        conf.set(key, old)


def to_memory_sink(
    sdf: DataFrame,
    output_mode: str = "update",
    query_name: str | None = None,
    available_now: bool = True,
):
    """Memory sink for tests/driver collection (one state store per
    core, see :func:`_start_per_core`)."""
    name = query_name or ("s" + uuid.uuid4().hex[:12])
    writer = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return name, _start_per_core(sdf, writer)


def foreach_batch_sink(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "update",
    available_now: bool = True,
):
    """foreachRDD parity (reference DStream.scala:659) — per-microbatch
    callback with exactly-once bookkeeping via the checkpoint dir; one
    state store per core (see :func:`_start_per_core`)."""
    writer = (
        sdf.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return _start_per_core(sdf, writer)


def sessionize(
    sdf: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-based) — absent from the reference
    (SURVEY §2.13); native session_window since Spark 3.2."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
    )


def _local_dir(out_dir: str) -> str:
    """Compaction's os-level protocol accepts local paths and ``file:``
    URIs (normalized here — a store that STREAMS fine via the
    Hadoop-FS gate paths must not crash at compaction just because it
    was addressed as a URI); any other scheme is refused with the
    documented guidance instead of a FileNotFoundError mid-lifecycle."""
    if ":" not in out_dir.split("/", 1)[0]:
        return out_dir
    from urllib.parse import urlparse

    parsed = urlparse(out_dir)
    if parsed.scheme == "file":
        return parsed.path
    raise ValueError(
        f"segment compaction is local-filesystem-only (got scheme"
        f" {parsed.scheme!r}): the protocol leans on an atomic os.replace"
        " publish — on HDFS port it to FileSystem.rename; on object"
        " stores route compaction through a table format's commit"
    )


def recover_batch_view_compaction(out_dir: str) -> int:
    """Finish any interrupted :func:`compact_batch_view` (round 10).

    The compaction protocol's only non-atomic step is deleting the
    source partitions AFTER the consolidated segment is published; a
    crash in that window leaves both present (duplicate rows). Every
    published segment carries a ``_COMPACTED_IDS`` manifest naming its
    source directories, so recovery is a sweep: for each live segment,
    delete any named source that still exists. Idempotent — running it
    twice (or on a healthy view) is a no-op. Returns the number of
    stale source directories removed. Leftover ``_tmp_compact``
    staging (crash BEFORE publish) is simply discarded.

    A manifest that fails to parse is QUARANTINED (renamed to
    ``_COMPACTED_IDS.corrupt``) rather than raised on, so one bad
    segment can never wedge every future compaction (ADVICE round 10).
    Under the protocol this should be unreachable — the manifest is
    flushed and fsync'd before the atomic publish — so a corrupt one
    means external damage; its segment's data is untouched, but its
    sources (if any survive) must be reconciled by hand, which the
    quarantine file flags."""
    import json as _json
    import os as _os
    import shutil as _shutil

    out_dir = _local_dir(out_dir)
    removed = 0
    tmp = _os.path.join(out_dir, "_tmp_compact")
    if _os.path.exists(tmp):
        _shutil.rmtree(tmp)
    for d in _os.listdir(out_dir):
        manifest = _os.path.join(out_dir, d, "_COMPACTED_IDS")
        if not _os.path.isfile(manifest):
            continue
        try:
            with open(manifest) as fh:
                sources = _json.load(fh)
        except (ValueError, OSError):
            _os.replace(manifest, manifest + ".corrupt")
            continue
        for src in sources:
            victim = _os.path.join(out_dir, src)
            if _os.path.isdir(victim) and victim != _os.path.join(out_dir, d):
                _shutil.rmtree(victim)
                removed += 1
    return removed


def compact_batch_view(
    spark: SparkSession, out_dir: str, keep_last: int = 1,
    distinct: bool = False,
) -> tuple[int, str | None]:
    """Small-files maintenance for a ``batch_id=N``-partitioned
    maintained view (round 10) — the operational half the streaming
    IVM rows need at 100 TB: exactly-once-by-partition-overwrite
    writes one directory per micro-batch, so a long-lived view decays
    into thousands of tiny parquet files (reference small-file
    lore: streaming/src/main/scala/org/apache/spark/streaming/
    receiver/ReceivedBlockHandler.scala-era WAL compaction). This
    merges every segment EXCEPT the newest ``keep_last`` batch
    partitions into one consolidated segment, safely:

    - only the in-flight (max-id) batch can ever be replayed by a
      restarted stream (earlier ids are committed in the checkpoint's
      offset log), so the un-compacted tail keeps replay-overwrite
      semantics intact;
    - the consolidated segment is staged in ``_tmp_compact`` (invisible
      to the ``batch_id=*`` glob) with a ``_COMPACTED_IDS`` manifest of
      its sources — written through a context manager and flush+fsync
      BEFORE the publish, so a published segment can never carry a
      truncated manifest (ADVICE round 10) — then published by one
      atomic ``os.replace``;
    - source deletion happens last; a crash anywhere converges via
      :func:`recover_batch_view_compaction` (run here first, so each
      compaction heals its predecessor). Previously-compacted segments
      fold into the next compaction.

    Compacted segments take NEGATIVE batch ids (``batch_id=-1``, then
    strictly decreasing), keeping every partition value numeric so the
    inferred ``batch_id`` column stays an integer for basePath readers
    — a non-numeric marker (the round-10 ``c<N>`` scheme) flipped the
    column to string after the first compaction (ADVICE round 10).
    Stream micro-batch ids are non-negative, so the ranges can never
    collide, max-id replay logic is unaffected (negatives sort below
    every live batch), and a fresh name is guaranteed by taking
    min(existing ids, 0) − 1.

    ``distinct=True`` consolidates with a DISTINCT instead of a plain
    concat — the KEY-LOG shape (round 11, VERDICT r10 #6): the
    streaming left-outer view's matched-key log is key-level (readers
    always distinct it), so its segments merge by distinct and the
    consolidated log shrinks to the key cardinality instead of
    accumulating one duplicate per batch a key re-arrived in. Only
    sound for logs whose read semantics are set-based — never for the
    bag-exact data segments.

    Returns (number of source segments merged, new segment dir name).
    Readers never see a missing or double state except in the
    crash-between-publish-and-delete window, which recovery closes —
    the same versioned-publish discipline as the ANN index
    (operators/similarity.py ivfpq_compact).

    LOCAL-FILESYSTEM PATHS ONLY (ADVICE round 11, documented): the
    compaction protocol leans on os-level listing, the fsync'd
    manifest, and one atomic ``os.replace`` publish. The gate /
    read / prune paths already resolve any URI through the Hadoop
    FileSystem (sources/fsio.py); compaction on HDFS would need the
    same port (FileSystem.rename is atomic there), and object stores
    (s3a has no atomic dir rename) should route compaction through a
    table format's commit instead."""
    import json as _json
    import os as _os
    import shutil as _shutil

    out_dir = _local_dir(out_dir)
    if keep_last < 1:
        # keep_last=0 would sweep the newest IN-FLIGHT batch into the
        # consolidated segment; a replayed micro-batch would then
        # rewrite its batch_id partition ALONGSIDE the compacted copy,
        # permanently duplicating its rows in the view (ADVICE r11) —
        # the un-compacted tail is what keeps replay-overwrite sound.
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): the newest batch"
            " partition is the exactly-once replay-rewrite target and"
            " can never be compacted away"
        )
    recover_batch_view_compaction(out_dir)
    segs = [
        d
        for d in _os.listdir(out_dir)
        if _os.path.isdir(_os.path.join(out_dir, d))
        and d.startswith("batch_id=")
    ]
    int_ids: list[tuple[int, str]] = []
    legacy_prior: list[str] = []  # round-10 "c<N>" names, fold in
    for d in segs:
        v = d.split("=")[1]
        try:
            int_ids.append((int(v), d))
        except ValueError:
            legacy_prior.append(d)
    live = sorted((i, d) for i, d in int_ids if i >= 0)
    prior = legacy_prior + [d for i, d in int_ids if i < 0]
    sources = prior + [d for _, d in live[:-keep_last or None]]
    if len(sources) < 2:
        return 0, None
    tmp = _os.path.join(out_dir, "_tmp_compact")
    merged = spark.read.parquet(
        *[_os.path.join(out_dir, d) for d in sources]
    )
    if distinct:
        merged = merged.distinct()
    (
        merged.coalesce(max(1, spark.sparkContext.defaultParallelism // 4))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    with open(_os.path.join(tmp, "_COMPACTED_IDS"), "w") as fh:
        _json.dump(sources, fh)
        fh.flush()
        _os.fsync(fh.fileno())
    new_id = min([i for i, _ in int_ids] + [0]) - 1
    new_name = f"batch_id={new_id}"
    dest = _os.path.join(out_dir, new_name)
    _os.replace(tmp, dest)
    for d in sources:
        _shutil.rmtree(_os.path.join(out_dir, d), ignore_errors=True)
    return len(sources), new_name


def prune_state_chain(
    out_dir: str, keep_last: int = 1, spark: SparkSession | None = None
) -> tuple[int, str | None]:
    """Retention for a VERSIONED state chain (``v=N`` directories —
    the agg/topk/distinct streaming forms): each version is a
    self-contained snapshot, so maintenance is deletion, not merging.
    Keeps the newest ``keep_last + 1`` versions — the newest version
    is the one a replayed in-flight batch would REWRITE, and that
    replay reads its PREDECESSOR, so the predecessor must survive any
    prune for the exactly-once rewrite to stay pure (same reasoning as
    compact_batch_view's untouched tail). Deleting old versions is
    crash-safe in any order: readers take the newest, and a
    half-deleted old version is never read. Returns (versions removed,
    newest kept dir name).

    Paths resolve through the Hadoop FileSystem (of ``spark``, or the
    active session) so HDFS/s3a chains prune like local ones (ADVICE
    round 11); with no session available, falls back to driver-local
    FS APIs — correct only for local paths."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    spark = spark or SparkSession.getActiveSession()
    versions: list[tuple[int, str]] = []
    if spark is not None:
        from ..sources import fsio

        candidates = fsio.list_glob(spark, f"{out_dir}/v=*", dirs_only=True)
    else:
        candidates = [
            p for p in _glob.glob(_os.path.join(out_dir, "v=*"))
            if _os.path.isdir(p)
        ]
    for p in candidates:
        try:
            versions.append((int(p.rsplit("=", 1)[1]), p))
        except ValueError:
            continue  # stray staging/backup dirs are not versions
    versions.sort()
    retain = max(keep_last + 1, 2)
    victims = versions[:-retain] if len(versions) > retain else []
    for _, p in victims:
        if spark is not None:
            from ..sources import fsio

            fsio.delete(spark, p)
        else:
            _shutil.rmtree(p, ignore_errors=True)
    newest = versions[-1][1].rsplit("/", 1)[-1] if versions else None
    return len(victims), newest
