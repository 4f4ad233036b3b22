"""Structured Streaming queries (SURVEY §2.12 DStream parity).

The driver contract needs a batch-collectable DataFrame, so streaming
queries run with Trigger.AvailableNow into an in-memory sink and return
the sink table — real readStream → writeStream plumbing, deterministic
results. Richer stateful coverage (applyInPandasWithState timeouts,
stream-stream joins, checkpoint restart) lives in tests/test_streaming.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_project_implementation_spark.queries.registry import events_stream, query


def _run_stream_to_table(
    build,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int = 8,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming DF to completion into a memory sink.

    ``build`` is a callable ``SparkSession -> streaming DataFrame``:
    the stream is PLANNED on a cloned session (``spark.newSession()``
    — shared SparkContext/catalog/cache, isolated runtime SQLConf), so
    the ``state_partitions`` override below can never leak into a batch
    query planned concurrently on the caller's session (the old
    set/restore-on-the-shared-session form silently gave any such query
    8 shuffle partitions for the stream's whole run).

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` to
    the stream's (fresh) checkpoint: stateful operators instantiate
    one state store PER shuffle partition PER micro-batch, so state
    parallelism must be sized to STATE VOLUME, not inherited from the
    batch conf — at these SFs, 32 inherited partitions meant ~400
    store instantiations and 3x the wall time of the work itself
    (measured 11.5s → 4.3s on the stream-stream outer join at 8).
    A production deployment with large state raises it; results are
    partitioning-invariant either way (oracle-certified)."""
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # ``no_data_batches=False`` is for streams whose FLUSH is already
    # guaranteed by explicit sentinel data (_events_stream_with_flush:
    # one batch advances the watermark, the next applies it): the
    # engine's extra idle micro-batches then only re-instantiate every
    # state store (RocksDB open/commit per store per partition) to
    # evict nothing. Streams without sentinels MUST keep the default —
    # append-mode aggregations rely on a trailing no-data batch to
    # emit windows closed by the last data batch's watermark.
    if not no_data_batches:
        sub.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        build(sub)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory-sink tables are session-scoped temp views — read through
    # the cloned session. The returned DataFrame collects fine from the
    # caller (same SparkContext); downstream transformations plan on the
    # clone, inheriting the context-level conf (AQE etc.) like any
    # session.
    return sub.table(name)


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window + watermark over a file stream
    (reference window(windowDuration) DStream.scala:788 → modern
    F.window; watermarks are the SURVEY §2.12 capability upgrade)."""
    out = _run_stream_to_table(
        lambda s: events_stream(s, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")),
        spark,
    )
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n", "total"
    ).orderBy("window_start", "event_type")


@query(
    "stream_sliding_window",
    oracle="""
    WITH slides AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value,
             UNNEST([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                     date_trunc('hour', CAST(ts AS TIMESTAMP) - INTERVAL 30 MINUTE)
                       + INTERVAL 30 MINUTE]) AS window_start
      FROM events
    )
    SELECT window_start, COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
    FROM slides
    WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1h window, 30m slide) — DStream
    window(win, slide) parity (reference DStream.scala:799)."""
    out = _run_stream_to_table(
        lambda s: events_stream(s, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value")),
        spark,
    )
    return out.select(
        F.col("window.start").alias("window_start"), "n", "avg_value"
    ).orderBy("window_start")


@query(
    "stream_per_key_counts",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def stream_per_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed running counts — updateStateByKey / mapWithState parity in
    aggregate form (reference PairDStreamFunctions.scala:396; custom
    per-event state lives in tests via applyInPandasWithState)."""
    out = _run_stream_to_table(
        lambda s: events_stream(s, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n")),
        spark,
    )
    return out.orderBy("user_id", "event_type")


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 2 HOUR
    ORDER BY user_id, click_id, purchase_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition —
    absent from DStreams (per-batch joins only, SURVEY §2.13); modern
    Structured Streaming buffers both sides in the state store and
    watermarks bound the buffer."""
    def build(s: SparkSession) -> DataFrame:
        clicks = (
            events_stream(s, sf_dir)
            .filter(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            events_stream(s, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        ).select("user_id", "click_id", "purchase_id")

    out = _run_stream_to_table(build, spark, output_mode="append")
    return out.orderBy("user_id", "click_id", "purchase_id")


@query(
    "stream_sessionize",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (F.session_window, 4h idle gap) — the
    modern upgrade over mapWithState sessionization (reference
    StateSpec idle timeout, STR/StateSpec.scala:100). Oracle:
    gaps-and-islands SQL. Spark closes a session when the next event is
    >= gap after the last, hence '>=' in the oracle's lag test."""
    out = _run_stream_to_table(
        lambda s: events_stream(s, sf_dir)
        .groupBy(F.session_window("ts", "4 hours"), "user_id")
        .agg(F.count("*").alias("n_events")),
        spark,
    )
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
    ).orderBy("user_id", "session_start")


@query(
    "stream_dedup_exact",
    oracle="""
    SELECT event_type, COUNT(*) AS n_keys
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming exact-dedup (streaming.dedup_stream →
    dropDuplicates keyed state) — a training-data ingest pipeline
    dedups on the stream; first arrival of each (event_type, user_id)
    survives, later duplicates are dropped by the state store. The
    memory-sink result is then aggregated batch-side; the oracle is the
    equivalent batch DISTINCT. The bounded-state watermarked variant
    (dropDuplicatesWithinWatermark) is covered in tests/test_streaming.py."""
    from big_data_project_implementation_spark import streaming as stm

    out = _run_stream_to_table(
        lambda s: stm.dedup_stream(
            events_stream(s, sf_dir).select("event_type", "user_id", "ts"),
            ["event_type", "user_id"],
        ),
        spark,
        output_mode="append",
    )
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("n_keys"))
        .orderBy("event_type")
    )


@query(
    "stream_quality_filter",
    oracle="""
    WITH stats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / GREATEST(length(text), 1), 6) AS punct_ratio,
             ROUND(1.0 - len(list_distinct(string_split(text, ' ')))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS repetition_ratio,
             ROUND(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
                   / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_tokens < 3 THEN 'too_short'
                WHEN n_tokens > 100000 THEN 'too_long'
                WHEN mean_token_len < 2 OR mean_token_len > 12
                     THEN 'token_len_out_of_range'
                WHEN punct_ratio > 0.3 THEN 'too_much_punct'
                WHEN repetition_ratio > 0.5 THEN 'too_repetitive'
                END AS drop_reason,
           CASE WHEN n_tokens < 3 THEN FALSE
                WHEN n_tokens > 100000 THEN FALSE
                WHEN mean_token_len < 2 OR mean_token_len > 12 THEN FALSE
                WHEN punct_ratio > 0.3 THEN FALSE
                WHEN repetition_ratio > 0.5 THEN FALSE
                ELSE TRUE END AS keep
    FROM stats
    ORDER BY doc_id
    """,
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the Gopher-rule quality filter
    (operators.text.quality_filter — a pure projection, so it applies
    unchanged to a readStream) over a documents file stream, append
    mode. Shares text_quality_filter's oracle verbatim: ingest-time and
    batch curation must certify identically."""
    from big_data_project_implementation_spark.operators import text as text_ops
    from big_data_project_implementation_spark.queries.registry import (
        documents_stream,
    )

    out = _run_stream_to_table(
        lambda s: text_ops.quality_filter(documents_stream(s, sf_dir)).select(
            "doc_id", "drop_reason", "keep"
        ),
        spark,
        output_mode="append",
    )
    return out.orderBy("doc_id")


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(28,10))) AS DOUBLE), 2)
             AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: a live event stream enriched against a
    batch dimension table (Structured Streaming re-plans the static
    side per micro-batch; the dim broadcasts, so NO stream-side state
    is kept — unlike stream-stream joins). DStreams could only
    transform() against a static RDD snapshot per batch; this is the
    declarative upgrade. Aggregated per market segment to a
    deterministic, batch-oracled result."""
    from big_data_project_implementation_spark.queries.registry import t

    def build(s: SparkSession) -> DataFrame:
        sdf = events_stream(s, sf_dir).select("user_id", "value")
        cust = t(s, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        return (
            sdf.join(F.broadcast(cust), "user_id")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                # per-row DECIMAL(28,10) widening before SUM: double
                # addition is order-sensitive across partial-agg orders,
                # so a raw double total near a rounding boundary could
                # hash-mismatch nondeterministically (float-oracle rule)
                F.round(
                    F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 2
                ).alias("total_value"),
            )
        )

    out = _run_stream_to_table(build, spark)
    return out.orderBy("segment")


@query(
    "stream_point_in_interval",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type AS state, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state
      FROM events
    ),
    changes AS (
      SELECT user_id, state, ts, event_id FROM marked
      WHERE prev_state IS NULL OR prev_state <> state
    ),
    iv AS (
      SELECT user_id, state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changes
    )
    SELECT e.event_id, e.user_id, e.ts, iv.state
    FROM events e JOIN iv
      ON e.user_id = iv.user_id
     AND e.ts >= iv.valid_from
     AND (iv.valid_to IS NULL OR e.ts < iv.valid_to)
    ORDER BY e.event_id
    """,
)
def stream_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static TEMPORAL join: a live event stream enriched with
    the SCD2 state valid at each event's timestamp — the static
    interval dimension (operators.events.scd2_intervals, re-planned
    per micro-batch) joins equi-on-user with the range as residual
    condition, stateless on the stream side. Shares
    events_point_in_interval's oracle verbatim: ingest-time and batch
    enrichment must certify identically."""
    from big_data_project_implementation_spark.operators import (
        events as ev_ops,
        relational,
    )
    from big_data_project_implementation_spark.queries.registry import t

    def build(s: SparkSession) -> DataFrame:
        iv = ev_ops.scd2_intervals(t(s, sf_dir, "events")).select(
            "user_id", "state", "valid_from", "valid_to"
        )
        sdf = events_stream(s, sf_dir).select("event_id", "user_id", "ts")
        return relational.interval_join(sdf, iv, "user_id")

    out = _run_stream_to_table(build, spark, output_mode="append")
    return out.orderBy("event_id")


def _events_stream_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events file stream plus TWO far-future sentinel files (negative
    ids, filtered from results). Outer stream-stream joins emit their
    null rows only when the watermark passes a row's join window, and
    the watermark computed by batch N is applied at batch N+1's state
    eviction — so a finite stream needs one batch to ADVANCE the
    watermark past every real window (sentinel 1) and one more to
    APPLY it (sentinel 2). maxFilesPerTrigger=1 keeps the files in
    separate micro-batches; sentinel mtimes order them after the data."""
    import datetime
    import os
    import tempfile

    from pyspark.sql.types import LongType

    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "events_flush_" + sf_dir.strip("/").replace("/", "_"),
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "aaa_events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_nanos = isinstance(raw.schema["ts"].dataType, LongType)
    sent1 = os.path.join(stream_dir, "zz1_sentinel.parquet")
    if not os.path.exists(sent1):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # single parquet FILES at the top level — the file stream
        # source does not recurse into the directory a Spark write
        # would produce, so those sentinels would silently never load
        sch = pq.ParquetFile(f"{sf_dir}/events.parquet").schema_arrow
        mx = raw.agg(F.max("ts")).collect()[0][0]
        for i, path in enumerate(
            [sent1, os.path.join(stream_dir, "zz2_sentinel.parquet")]
        ):
            days = 10 + i
            ts = mx + (
                int(days * 86400 * 1e9)
                if is_nanos
                else datetime.timedelta(days=days)
            )
            by_name = {
                "event_id": [-1 - 10 * i, -2 - 10 * i],
                "ts": [ts, ts],
                "user_id": [-1, -2],
                "event_type": ["click", "purchase"],
                "value": [0.0, 0.0],
                "props": ["{}", "{}"],
            }
            pq.write_table(
                pa.table(
                    {f.name: pa.array(by_name[f.name], type=f.type) for f in sch},
                    schema=sch,
                ),
                path,
            )
    sdf = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    if is_nanos:
        return sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return sdf.withColumn("ts", F.col("ts").cast("timestamp"))


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 2 HOUR
    WHERE c.event_type = 'click'
    ORDER BY user_id, click_id, purchase_id
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the state-store path
    inner joins never touch: unmatched left rows are held until the
    watermark proves no future match can arrive, then emitted with
    nulls. Certified against the batch LEFT JOIN oracle; the sentinel
    mechanics that make a finite stream flush completely are in
    _events_stream_with_flush."""
    def build(s: SparkSession) -> DataFrame:
        sdf = _events_stream_with_flush(s, sf_dir)
        clicks = (
            sdf.filter(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            sdf.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return (
            clicks.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("p_ts") >= F.col("click_ts"))
                & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
                "left_outer",
            )
            # drop watermark sentinels — the OR with a RIGHT-side column
            # makes this predicate non-pushable through the outer join: a
            # plain user_id >= 0 filter would be pushed below the join onto
            # the SHARED file scan, pruning the sentinel rows before the
            # watermark node ever sees them (observed: watermark stuck,
            # trailing null rows never flushed)
            .filter((F.col("click_id") >= 0) | F.col("purchase_id").isNotNull())
            .select("user_id", "click_id", "purchase_id")
        )

    return _run_stream_to_table(
        build, spark, output_mode="append", no_data_batches=False
    ).orderBy(
        "user_id", "click_id", "purchase_id"
    )


@query(
    "stream_stream_full_join",
    oracle="""
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 2 HOUR
    ORDER BY user_id, click_id, purchase_id
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join: both sides hold
    unmatched rows until the watermark closes their windows, then emit
    with nulls — unmatched clicks AND unmatched purchases. Sentinel
    drop predicates are null-TOLERANT per side (IS NULL OR ...) so the
    optimizer cannot push them through the outer join onto the shared
    scan (the stream_stream_left_join lesson)."""
    def build(s: SparkSession) -> DataFrame:
        sdf = _events_stream_with_flush(s, sf_dir)
        clicks = (
            sdf.filter(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            sdf.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return (
            clicks.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("p_ts") >= F.col("click_ts"))
                & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
                "full_outer",
            )
            .filter(F.col("click_id").isNull() | (F.col("click_id") >= 0))
            .filter(F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
            .select(
                F.coalesce("user_id", "p_user_id").alias("user_id"),
                "click_id",
                "purchase_id",
            )
        )

    return _run_stream_to_table(
        build, spark, output_mode="append", no_data_batches=False
    ).orderBy(
        "user_id", "click_id", "purchase_id"
    )


@query("stream_windowed_distinct")  # HLL values engine-specific -> rows-only
def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed distinct-user counts via HLL
    (approx_count_distinct inside an event-time window): COUNT(DISTINCT)
    is unsupported in streaming aggregations by design — unbounded
    per-window key sets — so the sketch IS the production form; its
    fixed-size state merges incrementally in the state store. Sketch
    values are engine-specific (rows-only at the driver); equality with
    the batch sketch on the same data is pinned in
    tests/test_streaming.py::test_stream_hll_matches_batch_hll."""
    out = _run_stream_to_table(
        lambda s: events_stream(s, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count("*").cast("bigint").alias("n_events"),
        ),
        spark,
    )
    return out.select(
        F.col("window.start").alias("window_start"), "approx_users", "n_events"
    ).orderBy("window_start")


@query(
    "stream_topk_trending",
    oracle="""
    WITH wc AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, rnk
    FROM (
      SELECT window_start, event_type, n,
             CAST(rank() OVER (PARTITION BY window_start
                               ORDER BY n DESC, event_type) AS BIGINT)
                 AS rnk
      FROM wc
    )
    WHERE rnk <= 3
    ORDER BY window_start, rnk, event_type
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 event types per tumbling day window — the
    real-time leaderboard pattern: the streaming side maintains
    watermarked per-(window, type) counts (bounded state: windows ×
    types); the top-k rank over the completed windows is a batch
    post-pass on the sink table, which is how production leaderboards
    read their serving store. Certified against the batch
    window+rank oracle — the stream's counts must be exactly the
    batch GROUP BY."""
    out = _run_stream_to_table(
        lambda s: events_stream(s, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n")),
        spark,
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        out.select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .orderBy("window_start", "rnk", "event_type")
    )


def _neardup_ingest_oracle(k=3, num_hashes=8, bands=4, min_agree=6) -> str:
    """Batch DuckDB replay of the streaming NEAR-dup ingest gate:
    md5-family MinHash signatures for every doc, banded collision of
    arriving docs (all) against the historical corpus (even doc_ids),
    signature-agreement verify — the asymmetric twin of
    pipeline_q._minhash_pair_ctes' symmetric cand."""
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _minhash_pair_ctes,
    )

    agree = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(num_hashes)
    )
    return f"""
    WITH{_minhash_pair_ctes(k, num_hashes, bands, min_agree)},
    candx AS MATERIALIZED (
      SELECT DISTINCT x.id AS arriving_id, c.id AS corpus_id
      FROM bnd x JOIN bnd c ON x.b = c.b AND x.key = c.key
      WHERE c.id % 2 = 0
    )
    SELECT cx.arriving_id, cx.corpus_id, CAST({agree} AS BIGINT) AS n_agree
    FROM candx cx
    JOIN sig a ON a.id = cx.arriving_id
    JOIN sig b ON b.id = cx.corpus_id
    WHERE {agree} >= {min_agree}
    ORDER BY arriving_id, corpus_id"""


def _neardup_match_stream(
    spark: SparkSession, sf_dir: str, k=3, num_hashes=8, bands=4, min_agree=6
):
    """Shared plan of the streaming near-dup gate: a builder
    ``session -> streaming DF of verified (arriving_id, corpus_id,
    n_agree) match rows`` (one row per colliding band — consumers
    dedup). Stateless by construction, which is the 100 TB stream
    story: the arriving side's signature is ONE projection
    (dedup.minhash_md5_signature — array_min over shingle hashes, no
    explode+groupBy, so no stream state), banding is a generator, and
    both the postings match and the verify join are stream-STATIC
    joins (the index re-broadcasts per micro-batch; no watermark, no
    state store growth)."""
    from big_data_project_implementation_spark.operators import dedup
    from big_data_project_implementation_spark.queries.registry import (
        documents_stream,
    )

    sig = dedup.minhash_md5_signature("text", k=k, num_hashes=num_hashes)
    keys = dedup.minhash_md5_band_keys("sig", bands=bands, num_hashes=num_hashes)

    # the signature computation is the CPU: the corpus side uses the
    # explode+groupBy codegen form (round 9 — 5.3× cheaper than the
    # HOF projection at equal values; only the ARRIVING side, a true
    # stream-plan projection, keeps the expression form) and is
    # checkpointed so the postings and verify consumers (and every
    # micro-batch) reuse the computed signatures instead of re-hashing
    # the corpus per subtree per batch
    corpus = (
        dedup.minhash_md5_signatures(
            spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
                (F.col("doc_id") % 2 == 0) & F.col("text").isNotNull()
            ),
            "text",
            "doc_id",
            k=k,
            num_hashes=num_hashes,
        )
        .select(F.col("id").alias("corpus_id"), F.col("sig").alias("csig"))
        .localCheckpoint(eager=True)
    )
    postings = corpus.select(
        "corpus_id",
        F.posexplode(
            dedup.minhash_md5_band_keys("csig", bands=bands, num_hashes=num_hashes)
        ).alias("band", "key"),
    )
    n_agree = sum(
        F.when(
            F.element_at("sig", i + 1) == F.element_at("csig", i + 1), 1
        ).otherwise(0)
        for i in range(num_hashes)
    ).cast("bigint")

    n_cores = spark.sparkContext.defaultParallelism

    def build(s: SparkSession) -> DataFrame:
        return (
            documents_stream(s, sf_dir)
            .filter(F.col("text").isNotNull())
            # fan the arriving batch across cores before the md5-heavy
            # signature projection — a single arriving file otherwise
            # hashes on one core (the _spread lesson, stream-side)
            .repartition(n_cores)
            .select(F.col("doc_id").alias("arriving_id"), sig.alias("sig"))
            .select("arriving_id", "sig", F.posexplode(keys).alias("band", "key"))
            .join(postings, ["band", "key"])
            .join(corpus, "corpus_id")
            .withColumn("n_agree", n_agree)
            .filter(F.col("n_agree") >= min_agree)
            .select("arriving_id", "corpus_id", "n_agree")
        )

    return build


@query("stream_neardup_vs_corpus", oracle=_neardup_ingest_oracle())
def stream_neardup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup REPORT (round 7): arriving documents are
    MinHash-banded per micro-batch against a HISTORICAL corpus index
    (even doc_ids stand in for already-ingested data) — the
    approximate twin of `stream_dedup_vs_corpus`'s exact fingerprint
    gate (exact dedup misses boilerplate variants arriving reworded).
    This is the PAIR-enumeration shape — dup-pair listings for audit /
    method-comparison — whose output is inherently match-volume-bound;
    the INGEST-GATE shape with per-arriving-doc output is
    `stream_neardup_verdict` below (VERDICT r7 #1). See
    _neardup_match_stream for the stateless plan. Hash-certified: the
    md5 family makes the whole gate replayable in the batch oracle,
    including which bands collide; self-matches (an even doc
    re-arriving) verify at n_agree = num_hashes — the primary
    "already ingested" signal."""
    out = _run_stream_to_table(
        _neardup_match_stream(spark, sf_dir),
        spark,
        output_mode="append",
    )
    # multi-band collisions emit the verified pair once per band;
    # the sink-side distinct is batch post-processing, not stream state
    return out.distinct().orderBy("arriving_id", "corpus_id")


def _neardup_verdict_oracle(
    k=3, num_hashes=8, bands=4, min_agree=6, cap=64
) -> str:
    """Batch replay of the per-doc verdict INCLUDING the gate's two
    scale disciplines, so the hash gate certifies exactly what the
    stream computes: (1) the corpus collapses to one representative
    per DISTINCT signature (sid = min member id, gsz = member count) —
    identical signatures verify identically, so per-rep verification
    loses nothing; (2) per arriving doc, only the top-``cap``
    candidates by (colliding bands DESC, sid ASC) are verified — a
    DETERMINISTIC rank both engines replay bit-for-bit. best_match =
    min corpus_id among max-agreement docs (= min sid among
    max-agreement reps, since sid is its group's min member);
    n_matches = total matched corpus DOCS (sum of matched groups'
    sizes)."""
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _minhash_sig_ctes,
    )

    hcols = ", ".join(f"h{i}" for i in range(num_hashes))
    agree = " + ".join(
        f"CAST(a.h{i} = g.h{i} AS INT)" for i in range(num_hashes)
    )
    return f"""
    WITH{_minhash_sig_ctes(k, num_hashes, bands)},
    grp AS MATERIALIZED (
      SELECT MIN(id) AS sid, CAST(COUNT(*) AS BIGINT) AS gsz, {hcols}
      FROM sig WHERE id % 2 = 0 GROUP BY {hcols}
    ),
    gbnd AS (
      SELECT g.sid, b.b, b.key FROM grp g JOIN bnd b ON b.id = g.sid
    ),
    cand AS (
      SELECT x.id AS arriving_id, gb.sid, COUNT(*) AS n_bands
      FROM bnd x JOIN gbnd gb ON x.b = gb.b AND x.key = gb.key
      GROUP BY x.id, gb.sid
    ),
    capped AS (
      SELECT arriving_id, sid FROM (
        SELECT arriving_id, sid,
               row_number() OVER (PARTITION BY arriving_id
                                  ORDER BY n_bands DESC, sid) AS rk
        FROM cand
      ) WHERE rk <= {cap}
    ),
    ver AS (
      SELECT c.arriving_id, c.sid, g.gsz,
             CAST({agree} AS BIGINT) AS n_agree
      FROM capped c
      JOIN grp g ON g.sid = c.sid
      JOIN sig a ON a.id = c.arriving_id
      WHERE {agree} >= {min_agree}
    ),
    mx AS (
      SELECT arriving_id, MAX(n_agree) AS max_agree,
             CAST(SUM(gsz) AS BIGINT) AS n_matches
      FROM ver GROUP BY arriving_id
    )
    SELECT v.arriving_id,
           CAST(MIN(v.sid) AS BIGINT) AS best_match,
           CAST(m.max_agree AS BIGINT) AS max_agree,
           m.n_matches
    FROM ver v
    JOIN mx m ON v.arriving_id = m.arriving_id AND v.n_agree = m.max_agree
    GROUP BY v.arriving_id, m.max_agree, m.n_matches
    ORDER BY v.arriving_id"""


def _neardup_verdict_machinery(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    k=3,
    num_hashes=8,
    bands=4,
    min_agree=6,
    cap=64,
    hash_family="md5",
):
    """(stream builder, foreachBatch gate) for the per-doc verdict
    ingest gate — shared by the registry query and the restart pytest.

    Scale disciplines that bound WORK (not just output) by arriving
    volume (VERDICT r7 #1 — the pair shape's 100× wall grew with match
    volume because every (arriving, corpus-family-member) pair paid a
    verify): (1) the corpus collapses to one representative per
    DISTINCT signature (sid = min member id), computed once and
    checkpointed — identical signatures verify identically, so the
    verdict loses nothing and giant exact-dup families cost ONE verify;
    (2) per arriving doc at most ``cap`` candidates are verified,
    ranked deterministically (colliding bands DESC, sid ASC) so the
    DuckDB oracle replays the exact same pruning. All matching is
    batch-LOCAL inside foreachBatch — the streaming plan is just the
    signature projection, so candidate dedup/rank/groupBy are ordinary
    batch ops with ZERO stream state.

    ``hash_family``: ``"md5"`` (default) is the CERTIFIED family —
    every hash is DuckDB-replayable, so the oracle certifies the full
    computation; ``"xxhash64"`` is the same gate over Spark's native
    hash (Broder one-hash-then-derive) — the family a deployment that
    doesn't need external replay would run. Band keys, collapse, cap,
    and verify logic are family-agnostic (they operate on the
    array<long> signature).

    Round 9 (signature cost, measured — SCALING.md): signatures are
    aggregated with the explode+groupBy codegen forms
    (``minhash_md5_signatures`` / ``minhash_signatures``), not the
    per-row HOF expression — 5.3× cheaper on the md5 family at equal
    values, and the gate now computes each batch's signatures ONCE
    (carried through the candidate aggregation via ``first(sig)``)
    instead of re-deriving them in both the candidate and verify
    subtrees. The stream plan thins to (arriving_id, text); all
    hashing is batch-local."""
    from big_data_project_implementation_spark.operators import dedup
    from big_data_project_implementation_spark.queries.registry import (
        documents_stream,
    )

    if hash_family == "md5":
        def signatures(df: DataFrame, id_col: str) -> DataFrame:
            return dedup.minhash_md5_signatures(
                df, "text", id_col, k=k, num_hashes=num_hashes
            )
    elif hash_family == "xxhash64":
        def signatures(df: DataFrame, id_col: str) -> DataFrame:
            return dedup.minhash_signatures(
                df, "text", id_col, k=k, num_hashes=num_hashes
            )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")

    # corpus reps: one row per distinct signature; postings from the
    # rep's band keys (identical for every member). Checkpointed once —
    # every micro-batch reuses the computed signatures.
    reps = (
        signatures(
            spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
                (F.col("doc_id") % 2 == 0) & F.col("text").isNotNull()
            ),
            "doc_id",
        )
        .select(F.col("id").alias("corpus_id"), F.col("sig").alias("csig"))
        .groupBy("csig")
        .agg(
            F.min("corpus_id").alias("sid"),
            F.count("*").cast("bigint").alias("gsz"),
        )
        .localCheckpoint(eager=True)
    )
    postings = reps.select(
        "sid",
        F.posexplode(
            dedup.minhash_md5_band_keys(
                "csig", bands=bands, num_hashes=num_hashes
            )
        ).alias("band", "key"),
    )
    n_agree = sum(
        F.when(
            F.element_at("sig", i + 1) == F.element_at("csig", i + 1), 1
        ).otherwise(0)
        for i in range(num_hashes)
    ).cast("bigint")
    keys = dedup.minhash_md5_band_keys(
        "sig", bands=bands, num_hashes=num_hashes
    )
    def build(s: SparkSession) -> DataFrame:
        # the STREAM plan is only the thin (id, text) projection; all
        # hashing happens batch-locally in the gate (round 9 — the
        # codegen signature aggregate needs an exchange, which
        # foreachBatch provides for free)
        return (
            documents_stream(s, sf_dir)
            .filter(F.col("text").isNotNull())
            .select(F.col("doc_id").alias("arriving_id"), "text")
        )

    def gate(batch: DataFrame, batch_id: int) -> None:
        # signatures computed ONCE per batch and carried through the
        # candidate aggregation (sig is constant per arriving_id, so
        # first(sig) is deterministic) — the verify join never
        # re-derives them from text
        sigs = signatures(batch, "arriving_id").select(
            F.col("id").alias("arriving_id"), "sig"
        )
        cand = (
            sigs.select(
                "arriving_id",
                "sig",
                F.posexplode(keys).alias("band", "key"),
            )
            .join(postings, ["band", "key"])
            .groupBy("arriving_id", "sid")
            .agg(
                F.count("*").alias("n_bands"),
                F.first("sig").alias("sig"),
            )
        )
        w = Window.partitionBy("arriving_id").orderBy(
            F.desc("n_bands"), F.asc("sid")
        )
        capped = (
            cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= cap)
            .select("arriving_id", "sid", "sig")
        )
        ver = (
            capped.join(reps, "sid")
            .withColumn("n_agree", n_agree)
            .filter(F.col("n_agree") >= min_agree)
        )
        (
            ver.groupBy("arriving_id")
            .agg(
                F.max_by(
                    "sid",
                    F.struct(
                        F.col("n_agree").alias("a"),
                        (-F.col("sid")).alias("b"),
                    ),
                )
                .cast("bigint")
                .alias("best_match"),
                F.max("n_agree").cast("bigint").alias("max_agree"),
                F.sum("gsz").cast("bigint").alias("n_matches"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return build, gate


@query("stream_neardup_verdict", oracle=_neardup_verdict_oracle())
def stream_neardup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingest GATE, per-doc verdict shape
    (round 8, VERDICT r7 #1): one output row per arriving doc with a
    verified match — ``(best_match, max_agree, n_matches)`` — so BOTH
    output and per-batch work scale with ARRIVING volume, never with
    corpus dup-family size (the r7 100× probe measured the pair shape
    growing ~5,400×; a gate must not). See _neardup_verdict_machinery
    for the two scale disciplines (corpus signature collapse;
    deterministic top-``cap`` candidate rank) — both replayed by the
    DuckDB oracle, so the hash gate certifies exactly what the stream
    computes, pruning included. Each batch's verdicts land in a
    ``batch_id=N`` parquet partition via overwrite — replaying a batch
    after restart overwrites its own partition, keeping the sink
    exactly-once (pinned by the restart pytest). Docs with no verified
    match emit nothing — absence IS the pass verdict; the gate's
    decision column is n_matches > 0."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="neardup_verdict_")
    ckpt = tempfile.mkdtemp(prefix="neardup_verdict_ckpt_")
    build, gate = _neardup_verdict_machinery(spark, sf_dir, out_dir)

    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        build(sub)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("basePath", out_dir)
        .parquet(f"{out_dir}/batch_id=*")
        .select("arriving_id", "best_match", "max_agree", "n_matches")
        .orderBy("arriving_id")
    )


@query(
    "stream_dedup_vs_corpus",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ),
    s AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    )
    SELECT s.fp AS content_fp, CAST(COUNT(*) AS BIGINT) AS n_arrivals
    FROM s LEFT JOIN corpus c USING (fp)
    WHERE c.fp IS NULL
    GROUP BY s.fp
    ORDER BY content_fp
    """,
)
def stream_dedup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion dedup against a HISTORICAL corpus: arriving documents
    are content-fingerprinted (the exact_dedup/leakage_safe_split
    normalization) and left-anti joined per micro-batch against a
    static fingerprint index (even doc_ids stand in for the already-
    ingested corpus) — only genuinely new content survives to the
    sink. Stream-static anti joins keep NO stream state (the static
    side re-plans and broadcasts each micro-batch), which is what
    makes this the 100 TB ingest shape: the index is a compact
    fingerprint table (or, beyond broadcast range, the Bloom filter of
    sketch.bloom_build probed the same way). Output aggregates the
    sink by fingerprint so the result is arrival-order invariant; the
    oracle is the equivalent batch anti join. Intra-stream dedup (two
    NEW copies arriving in one batch both pass the anti join) is the
    stream_dedup_exact state story, composable upstream."""
    from big_data_project_implementation_spark.operators.dedup import _norm
    from big_data_project_implementation_spark.queries.registry import (
        documents_stream,
    )

    static_fps = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(_norm(F.col("text"))).alias("fp"))
        .distinct()
    )
    out = _run_stream_to_table(
        lambda s: (
            documents_stream(s, sf_dir)
            .select(F.md5(_norm(F.col("text"))).alias("fp"))
            .join(static_fps, "fp", "left_anti")
        ),
        spark,
        output_mode="append",
    )
    return (
        out.groupBy(F.col("fp").alias("content_fp"))
        .agg(F.count("*").alias("n_arrivals"))
        .orderBy("content_fp")
    )


def _stream_ann_serve_oracle() -> str:
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _ivfpq_oracle,
    )

    return _ivfpq_oracle(16, 2, 8, 32, 2, 4, 16, 5)


@query("stream_ann_serve", oracle=_stream_ann_serve_oracle())
def stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE ANN serving (round 8): arriving query vectors answered
    per micro-batch from the PERSISTED IVF-PQ index — the streaming
    twin of `similarity_ivfpq_serve`, and the shape a real similarity
    service runs (index trained offline; queries arrive continuously).
    The index is the same per-user cached build (pipeline_q
    ._ann_index_cached — same hyper-parameters), the per-batch serve
    is the same `ivfpq_topk_from_index` plan (two broadcast model
    scans, DPP on the cell key, ADC LUT, exact re-rank), so the same
    unrolled _ivfpq_oracle hash-certifies the whole streaming
    composition. Stream-static by construction: the batch side joins
    the static index/corpus each micro-batch — ZERO stream state; the
    sink is the exactly-once batch_id-partitioned overwrite of the
    verdict gate. Queries are the vec_id<5 arrivals (the serve query's
    contract); at deployment the filter is the arriving stream
    itself."""
    import tempfile

    from big_data_project_implementation_spark.operators import (
        similarity as sim,
    )
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _ann_index_cached,
    )
    from big_data_project_implementation_spark.queries.registry import (
        embeddings_stream,
        t,
    )

    emb = t(spark, sf_dir, "embeddings")
    path = _ann_index_cached(emb, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="ann_serve_")
    ckpt = tempfile.mkdtemp(prefix="ann_serve_ckpt_")

    def gate(batch: DataFrame, batch_id: int) -> None:
        (
            sim.ivfpq_topk_from_index(
                batch, emb, path, k=5, nprobe=4, refine=16
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        embeddings_stream(sub, sf_dir)
        .filter(F.col("vec_id") < 5)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    served = spark.read.option("basePath", out_dir).parquet(
        f"{out_dir}/batch_id=*"
    )
    return served.drop("batch_id").orderBy("query_id", "rank")


def _stream_ann_index_update_oracle() -> str:
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _ivfpq_oracle,
    )

    return _ivfpq_oracle(16, 2, 8, 32, 2, 4, 16, 5, train_pred="id % 4 <> 3")


@query("stream_ann_index_update", oracle=_stream_ann_index_update_oracle())
def stream_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index MAINTENANCE (round 8): arriving vectors
    join the persisted IVF-PQ index per micro-batch WITHOUT retraining
    — the other half of a live similarity service (stream_ann_serve
    answers queries; this ingests new corpus). The base index is
    trained+encoded on the historical 3/4 of the embeddings table
    (vec_id % 4 != 3); the remaining quarter ARRIVES as a stream and
    each micro-batch is routed + PQ-encoded against the FROZEN model
    (operators.similarity.ivfpq_encode_with_model — the same primitive
    the initial build runs) and appended as a flat code segment, the
    LSM shape: base stays cell-partitioned (DPP), deltas accumulate
    until a rebuild compacts them (compaction = the caller's policy).
    Exactly-once: segments land batch_id-partitioned with per-batch
    overwrite, so micro-batch replay after failure rewrites the SAME
    deterministic rows instead of duplicating them. Certification:
    the unrolled _ivfpq_oracle gains a train_pred that restricts ONLY
    the model-training CTEs to the base split while encoding/serving
    cover every vector — so one hash match certifies frozen-model
    routing + encoding of the arrivals AND that serving reads the
    merged base+delta lists (a lost segment or a retrained codebook
    both break the hash). Zero stream state; model tables broadcast
    per batch."""
    import tempfile

    from big_data_project_implementation_spark.operators import (
        similarity as sim,
    )
    from big_data_project_implementation_spark.queries.pipeline_q import (
        _ann_index_cached,
    )
    from big_data_project_implementation_spark.queries.registry import (
        embeddings_stream,
        t,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 3)
    path = _ann_index_cached(base, sf_dir, variant="_base34")
    delta = tempfile.mkdtemp(prefix="ann_delta_")
    ckpt = tempfile.mkdtemp(prefix="ann_delta_ckpt_")

    def append_segment(batch: DataFrame, batch_id: int) -> None:
        ss = batch.sparkSession
        cents = ss.read.parquet(f"{path}/centroids")
        books = ss.read.parquet(f"{path}/codebooks")
        m = books.agg(F.max("sub")).first()[0] + 1
        (
            sim.ivfpq_encode_with_model(batch, cents, books, m=m)
            .write.mode("overwrite")
            .parquet(f"{delta}/batch_id={batch_id}")
        )

    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        embeddings_stream(sub, sf_dir)
        .filter(F.col("vec_id") % 4 == 3)
        .writeStream.foreachBatch(append_segment)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    qs = emb.filter(F.col("vec_id") < 5)
    return sim.ivfpq_topk_from_index(
        qs, emb, path, k=5, nprobe=4, refine=16, delta_path=delta
    ).orderBy("query_id", "rank")


@query(
    "stream_kafka_ingest",
    oracle="""
    SELECT doc_id, text
    FROM documents
    ORDER BY doc_id
    """,
)
def stream_kafka_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka DIRECT-stream ingestion, certified end to end (round 8):
    the documents table is PRODUCED into an in-process Kafka broker
    from the executors (foreachPartition — the data plane never
    touches the driver), then STREAM-read back through the `pykafka`
    DataSource (sources/kafka_source.py — the reference
    DirectKafkaInputDStream contract: one split per topic-partition,
    plan-time offset bounds, deterministic range replay over the
    public v0 wire protocol) and landed exactly-once via the
    batch_id-partitioned sink. The oracle reads the ORIGINAL parquet,
    so the hash match certifies the whole loop: produce framing,
    CRC-checked message-sets, offset-bounded fetches, key/value byte
    round-trip (NULL text rides a null Kafka value), and the
    exactly-once sink — a lost record, a duplicated offset range, or
    one corrupted byte anywhere in the wire path breaks the hash.
    MiniBroker stands in for the external cluster (the embedded-Derby
    discipline); at deployment only option("bootstrap", ...) changes."""
    import tempfile

    from big_data_project_implementation_spark.queries.registry import t
    from big_data_project_implementation_spark.sources import (
        kafka_source,
        kafka_wire,
    )

    broker = kafka_wire.MiniBroker().start()
    try:
        n_parts = 4
        broker.create_topic("docs", n_parts)
        host, port = broker.host, broker.port

        def produce(rows) -> None:
            client = kafka_wire.KafkaClient(host, port)
            try:
                buckets: dict[int, list] = {}
                for r in rows:
                    buckets.setdefault(int(r.doc_id) % n_parts, []).append(
                        (
                            str(r.doc_id).encode(),
                            r.text.encode() if r.text is not None else None,
                        )
                    )
                for p, entries in buckets.items():
                    client.produce("docs", p, entries)
            finally:
                client.close()

        t(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).foreachPartition(produce)

        kafka_source.register(spark)
        out_dir = tempfile.mkdtemp(prefix="kafka_ingest_")
        ckpt = tempfile.mkdtemp(prefix="kafka_ingest_ckpt_")
        q = (
            spark.readStream.format("pykafka")
            .option("bootstrap", f"{host}:{port}")
            .option("topic", "docs")
            .load()
            .writeStream.foreachBatch(
                lambda batch, bid: batch.write.mode("overwrite").parquet(
                    f"{out_dir}/batch_id={bid}"
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        broker.stop()
    landed = spark.read.option("basePath", out_dir).parquet(
        f"{out_dir}/batch_id=*"
    )
    return (
        landed.select(
            F.col("key").cast("string").cast("bigint").alias("doc_id"),
            F.col("value").cast("string").alias("text"),
        )
        .orderBy("doc_id")
    )


def _incremental_state_machinery(spark: SparkSession, state_dir: str):
    """Shared by the stream_incremental_agg query and its restart
    pytest: (fold, read_final) for a versioned mergeable-state chain.
    State version v=N is a PURE function of v=N-1 and micro-batch N,
    so a replayed batch rewrites its own version byte-identically
    instead of double-folding — exactly-once without any transaction
    log beyond the engine's offset checkpoint."""
    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )

    mv = MaterializedView("agg", keys=["event_type"], value="v")

    def prepare(batch: DataFrame) -> DataFrame:
        micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
        return batch.select("event_type", micro.alias("v"))

    # round 11: the versioned chain now runs THROUGH the unified
    # MaterializedView surface (stream_gate folds v=N from v=N-1 +
    # batch N; stream_read takes the newest version) — same certified
    # algebra, same hashes, one declarative front door
    fold = mv.stream_gate(state_dir, prepare=prepare)

    def read_final(ss: SparkSession) -> DataFrame:
        return mv.stream_read(ss, state_dir)

    return fold, read_final


@query(
    "stream_incremental_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS total_micro,
           CAST(MIN(v) AS BIGINT) AS min_micro,
           CAST(MAX(v) AS BIGINT) AS max_micro
    FROM (SELECT event_type,
                 CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v
          FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained aggregate (round 8): the STREAMING form
    of `incremental_agg_refresh` — each micro-batch's mergeable state
    (n, sum, min, max over exact micro-units) folds into a VERSIONED
    state chain (v=N = merge(v=N-1, delta_N)), so the maintained view
    is always one tiny merge behind the stream while the base corpus
    is never rescanned (the kappa-architecture materialized view;
    contrast with stream_per_key_counts, whose state lives inside the
    engine's store — here the state IS the published table, readable
    by any engine mid-stream). Exactly-once: a replayed batch rewrites
    its own version from the unchanged previous version —
    deterministic, idempotent, no double-fold (restart pytest). Runs
    maxFilesPerTrigger=1 so availableNow actually exercises the
    multi-batch chain. The oracle recomputes from the FULL events
    table, so the hash match is the maintained-view-equals-truth
    audit at every publication point."""
    import tempfile

    from big_data_project_implementation_spark.queries.registry import (
        events_stream,
    )

    state_dir = tempfile.mkdtemp(prefix="inc_state_")
    ckpt = tempfile.mkdtemp(prefix="inc_state_ckpt_")
    fold, read_final = _incremental_state_machinery(spark, state_dir)
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        events_stream(sub, sf_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_final(spark)
    return final.select(
        "event_type",
        "n",
        F.col("sum").alias("total_micro"),
        F.col("min").alias("min_micro"),
        F.col("max").alias("max_micro"),
    ).orderBy("event_type")


def _stream_join_machinery(spark: SparkSession, sf_dir: str, out_dir: str):
    """(stream builder, foreachBatch gate) for the streaming join-view
    maintenance query — shared by the registry row and the restart
    pytest. The static side (orders) is read and projected once; each
    micro-batch of arriving lineitems appends exactly its increment
    ΔM = A ⋈ ΔB via `relational.delta_join_increment` (ΔA empty — the
    one-sided stream case of the same algebra the batch rows certify)
    into a ``batch_id=N`` partition, so a replayed batch overwrites
    its own rows and the sink stays exactly-once."""
    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )
    from big_data_project_implementation_spark.queries.registry import (
        lineitem_stream,
    )

    def project_b(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("price_cents"),
        )

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderstatus")
        .localCheckpoint(eager=True)
    )

    def build(s: SparkSession) -> DataFrame:
        return lineitem_stream(s, sf_dir)

    # round 11: the per-batch increment gate now comes from the
    # unified MaterializedView surface — same one-sided
    # delta_join_increment, same batch_id partition-overwrite
    gate = MaterializedView("inner", on=["o_orderkey"]).stream_gate(
        out_dir,
        static_a=orders,
        prepare=project_b,
        select_cols=[
            "o_orderkey",
            "l_linenumber",
            "o_orderstatus",
            "qty",
            "price_cents",
        ],
    )

    return build, gate


@query(
    "stream_incremental_join",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderstatus,
           CAST(l.l_quantity AS BIGINT) AS qty,
           CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             AS price_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ORDER BY o.o_orderkey, l.l_linenumber
    """,
)
def stream_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained JOIN view (round 9): the STREAMING form
    of `incremental_join_refresh`, completing the IVM symmetry the agg
    family already has (`incremental_agg_refresh` ↔
    `stream_incremental_agg`). Arriving lineitems join the static
    orders dimension per micro-batch through
    `relational.delta_join_increment` (the one-sided ΔB case) and each
    batch APPENDS exactly its increment — output ∝ arrivals, the view
    is never rewritten, and the stored table is plain parquet readable
    by any engine mid-stream. Exactly-once: a replayed batch
    overwrites its own ``batch_id=N`` partition (restart pytest). The
    oracle recomputes the full join, so the hash match is the
    maintained-view-equals-truth audit over the whole chain of
    appends."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="stream_join_")
    ckpt = tempfile.mkdtemp(prefix="stream_join_ckpt_")
    build, gate = _stream_join_machinery(spark, sf_dir, out_dir)
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        build(sub)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("basePath", out_dir)
        .parquet(f"{out_dir}/batch_id=*")
        .select(
            "o_orderkey", "l_linenumber", "o_orderstatus", "qty", "price_cents"
        )
        .orderBy("o_orderkey", "l_linenumber")
    )


def _stream_left_join_machinery(spark: SparkSession, sf_dir: str, out_dir: str):
    """(stream builder, foreachBatch gate, view reader) for the
    streaming LEFT OUTER view — shared by the registry row and the
    restart pytest. A LEFT OUTER view is NOT monotone under arriving
    facts (each arrival can kill a null-extension row), so a naive
    append sink cannot maintain it. The factorization that restores
    monotonicity: store (1) the INNER increments per batch — append-
    only, exactly the one-sided `delta_join_increment` — and (2) the
    arriving join KEYS per batch — also append-only, since an order
    once matched never un-matches under append-only streams. The
    null complement is derived at read as orders ▷ matched-keys
    (dimension-sized, pruned by a compact key log), so NOTHING stored
    is ever rewritten and both logs stay exactly-once by batch_id
    partition overwrite."""
    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )
    from big_data_project_implementation_spark.queries.registry import (
        lineitem_stream,
    )

    def project_b(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("price_cents"),
        )

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderstatus")
        .localCheckpoint(eager=True)
    )
    view_cols = [
        "o_orderkey", "l_linenumber", "o_orderstatus", "qty", "price_cents",
    ]

    def build(s: SparkSession) -> DataFrame:
        return lineitem_stream(s, sf_dir)

    # round 11: the monotone factorization (matches + key log, null
    # complement derived at read) now runs THROUGH the unified
    # MaterializedView surface — same stores, same hashes
    mv = MaterializedView("left", on=["o_orderkey"])
    gate = mv.stream_gate(
        out_dir, static_a=orders, prepare=project_b, select_cols=view_cols
    )

    def read_view(s: SparkSession) -> DataFrame:
        return mv.stream_read(s, out_dir, static_a=orders)

    return build, gate, read_view


@query(
    "stream_incremental_left_join",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderstatus,
           CAST(l.l_quantity AS BIGINT) AS qty,
           CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             AS price_cents
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ORDER BY o.o_orderkey, l.l_linenumber
    """,
)
def stream_incremental_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained LEFT OUTER join view (round 10): the
    streaming twin of `incremental_left_join_refresh`, completing the
    outer algebra's streaming symmetry. The flip problem — each
    arriving lineitem can kill an order's null-extension row — makes
    the view non-monotone, so the machinery stores the MONOTONE
    factorization instead: per-batch inner increments (∝ arrivals)
    plus an append-only matched-key log (an order once matched never
    un-matches under append-only streams), and derives the null
    complement at read as orders ▷ matched-keys. Nothing stored is
    ever rewritten; exactly-once by batch_id partition overwrite on
    BOTH logs (restart pytest). The ORACLE recomputes the full LEFT
    JOIN, so the hash match certifies the factorization end to end —
    a surviving stale null row for a matched order (~98.3% of them)
    or a dropped never-matched order (~1.7%) both break it."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="stream_ljoin_")
    ckpt = tempfile.mkdtemp(prefix="stream_ljoin_ckpt_")
    build, gate, read_view = _stream_left_join_machinery(
        spark, sf_dir, out_dir
    )
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        build(sub)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_view(spark).orderBy("o_orderkey", "l_linenumber")


@query(
    "stream_view_compacted",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderstatus,
           CAST(l.l_quantity AS BIGINT) AS qty,
           CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             AS price_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ORDER BY o.o_orderkey, l.l_linenumber
    """,
)
def stream_view_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files maintenance of the streaming join view (round 10,
    streaming.compact_batch_view): the per-batch partition-overwrite
    discipline that makes the maintained view exactly-once also decays
    it into one directory per micro-batch — at 100 TB, thousands of
    tiny parquet files. This row runs the same stream as
    `stream_incremental_join`, then COMPACTS every committed batch
    partition except the in-flight tail into one consolidated segment
    (staged invisible to the glob, a _COMPACTED_IDS manifest naming
    its sources, one atomic os.replace publish, sources deleted last —
    recovery heals the only non-atomic window; the ANN index's
    versioned-publish discipline) and reads the view back. The ORACLE
    recomputes the full join, so the hash match certifies the
    compaction moved every row exactly once — a dropped source
    partition, a double-read of a surviving source, or a tail batch
    swept into the segment (breaking replay safety) all break it."""
    import tempfile

    from big_data_project_implementation_spark import streaming as st_mod

    out_dir = tempfile.mkdtemp(prefix="stream_compact_")
    ckpt = tempfile.mkdtemp(prefix="stream_compact_ckpt_")
    build, gate = _stream_join_machinery(spark, sf_dir, out_dir)
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        build(sub)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_merged, _seg = st_mod.compact_batch_view(spark, out_dir, keep_last=1)
    return (
        spark.read.option("basePath", out_dir)
        .parquet(f"{out_dir}/batch_id=*")
        .select(
            "o_orderkey", "l_linenumber", "o_orderstatus", "qty", "price_cents"
        )
        .orderBy("o_orderkey", "l_linenumber")
    )


@query(
    "stream_topk_view",
    oracle="""
    SELECT event_type, event_id, v_micro
    FROM (SELECT event_type, event_id,
                 CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v_micro,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
                            DESC, event_id ASC) AS rn
          FROM events) s
    WHERE rn <= 5
    ORDER BY event_type, event_id
    """,
)
def stream_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-group TOP-K view (round 11, VERDICT
    r10 #4): the streaming twin of `topk_view_refresh`, driven through
    the unified MaterializedView surface — top-5 events by value per
    event type, maintained as a VERSIONED state chain (v=N =
    topk_view_refresh(v=N-1, batch N); state is ≤ k·|groups| rows, so
    each version is a tiny file while the stream is unbounded).
    Exactly-once by the same purity argument as the agg chain: a
    replayed batch rewrites its own version from the unchanged
    previous one (restart pytest). Under APPEND-ONLY arrivals the new
    top-k of any group is contained in state ∪ delta — the monotone
    property that makes the rank view streamable without RocksDB
    state. The ORACLE recomputes ROW_NUMBER over the FULL events
    table; the hash match is maintained-view-equals-truth at the
    final version (a stale horizon row kept across ANY chain step
    breaks it)."""
    import tempfile

    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )
    from big_data_project_implementation_spark.queries.registry import (
        events_stream,
    )

    state_dir = tempfile.mkdtemp(prefix="stream_topk_")
    ckpt = tempfile.mkdtemp(prefix="stream_topk_ckpt_")
    mv = MaterializedView(
        "topk",
        keys=["event_type"],
        order_by=[F.col("v_micro").desc(), F.col("event_id").asc()],
        k=5,
    )

    def prepare(batch: DataFrame) -> DataFrame:
        return batch.select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("v_micro"),
        )

    gate = mv.stream_gate(state_dir, prepare=prepare)
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        events_stream(sub, sf_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        mv.stream_read(spark, state_dir)
        .select("event_type", "event_id", "v_micro")
        .orderBy("event_type", "event_id")
    )


@query(
    "stream_distinct_view",
    oracle="""
    SELECT DISTINCT event_type,
           CAST(user_id % 50 AS BIGINT) AS user_bucket
    FROM events
    ORDER BY event_type, user_bucket
    """,
)
def stream_distinct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained DISTINCT view (round 11, VERDICT r10
    #4): the streaming twin of `incremental_distinct_apply`, driven
    through the unified MaterializedView surface — the distinct
    (event type, user bucket) pairs as a VERSIONED count-annotated
    state chain (v=N folds batch N's counts into v=N-1; counts are a
    group under addition, so the fold is one map-side-combined
    aggregation and the state is |distinct values| rows forever).
    The count annotation is what makes the view DELETION-ready
    mid-stream (a CDC retraction batch would subtract instead of add
    — same state, same fold); the published view is the n > 0
    projection. Exactly-once by version purity (restart pytest). The
    ORACLE recomputes SELECT DISTINCT over the full table; the hash
    match is maintained-view-equals-truth at the final version."""
    import tempfile

    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )
    from big_data_project_implementation_spark.queries.registry import (
        events_stream,
    )

    state_dir = tempfile.mkdtemp(prefix="stream_distinct_")
    ckpt = tempfile.mkdtemp(prefix="stream_distinct_ckpt_")
    mv = MaterializedView("distinct", cols=["event_type", "user_bucket"])

    def prepare(batch: DataFrame) -> DataFrame:
        return batch.select(
            "event_type",
            (F.col("user_id") % 50).cast("bigint").alias("user_bucket"),
        )

    gate = mv.stream_gate(state_dir, prepare=prepare)
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        events_stream(sub, sf_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return mv.stream_read(spark, state_dir).orderBy(
        "event_type", "user_bucket"
    )


@query(
    "stream_left_view_compacted",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderstatus,
           CAST(l.l_quantity AS BIGINT) AS qty,
           CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             AS price_cents
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ORDER BY o.o_orderkey, l.l_linenumber
    """,
)
def stream_left_view_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files maintenance of the streaming LEFT OUTER view's TWO
    stores (round 11, VERDICT r10 #6): the monotone factorization
    writes one ``matches`` partition AND one matched-KEY-log partition
    per micro-batch, so both decay into small files — and the key log
    is key-level (readers always distinct it), so its segments merge
    by DISTINCT, shrinking the consolidated log to the key cardinality
    instead of accumulating one copy per batch a key re-arrived in.
    This row runs the same stream as `stream_incremental_left_join`,
    compacts both stores through the unified MaterializedView surface
    (``mv.compact`` → data segments bag-exact, key log set-exact, both
    under the crash-safe manifest/publish/recover protocol), and reads
    the view back. The ORACLE recomputes the full LEFT JOIN: a dropped
    key-log entry resurrects a stale null row for a matched order, a
    dropped match partition loses rows, and a tail segment swept in
    breaks replay — all break the hash."""
    import tempfile

    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )
    from big_data_project_implementation_spark.queries.streaming_q import (
        _stream_left_join_machinery,
    )

    out_dir = tempfile.mkdtemp(prefix="stream_ljc_")
    ckpt = tempfile.mkdtemp(prefix="stream_ljc_ckpt_")
    # re-chunk lineitem into 4 files so maxFilesPerTrigger=1 yields a
    # REAL multi-batch run — the single-file fixture would give one
    # batch and a vacuous (no-op) compaction
    src_dir = tempfile.mkdtemp(prefix="stream_ljc_src_")
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    raw.repartition(4).write.mode("overwrite").parquet(src_dir)
    _build_unused, gate, _rv = _stream_left_join_machinery(
        spark, sf_dir, out_dir
    )
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        sub.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    mv = MaterializedView("left", on=["o_orderkey"])
    n_merged, _seg = mv.compact(spark, out_dir, keep_last=1)
    if n_merged < 4:  # not assert: must survive python -O
        raise ValueError(f"compaction was vacuous ({n_merged} segments)")
    return mv.stream_read(spark, out_dir, static_a=orders).orderBy(
        "o_orderkey", "l_linenumber"
    )


def _stream_bm25_machinery(spark: SparkSession, out_dir: str):
    """(gate, read_state) for the CONTINUOUSLY-MAINTAINED lexical
    index — since round 12 a thin adapter over
    :class:`operators.views.LexicalIndex` (VERDICT r11 #4: the
    round-11 hand-rolled machinery here was the one streaming store
    that missed the ``stream_gate`` hardening — its docfreq/stats
    chains silently re-initialized when v=N-1 was missing, truncating
    idf/corpus stats for every later fold; the class RAISES instead,
    and resolves paths through the Hadoop FileSystem). Kept as a named
    shim so the round-11 replay-idempotence tests pin the same
    surface."""
    lx = _lexical_index()
    gate = lx.stream_gate(out_dir)

    def read_state(ss: SparkSession):
        return lx.stream_read(ss, out_dir)

    return gate, read_state


def _lexical_index():
    from big_data_project_implementation_spark.operators.views import (
        LexicalIndex,
    )

    return LexicalIndex(text_col="text", id_col="doc_id")


@query(
    "stream_bm25_index",
    oracle="""
    WITH lens AS (
      SELECT doc_id AS id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
      FROM lens
    ),
    tf AS (
      SELECT id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id AS id,
                   UNNEST(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word IN ('customer', 'spark', 'vector')
      GROUP BY id, word
    ),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    )
    SELECT tf.id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           ROUND(CAST(SUM(CAST(
             ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / stats.avgdl))
             AS DECIMAL(28,10))) AS DOUBLE), 6) AS score
    FROM tf
    JOIN dfreq USING (word)
    JOIN lens USING (id)
    CROSS JOIN stats
    GROUP BY tf.id
    ORDER BY doc_id
    """,
)
def stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUSLY-MAINTAINED search index (round 11; since round 12
    driven THROUGH `operators.views.LexicalIndex` — VERDICT r11 #4):
    documents stream in and the inverted index stays queryable
    mid-stream — the streaming twin of `incremental_bm25_search`,
    composing the two exactly-once disciplines (append-only batch
    partitions for postings/lengths, versioned state chains for
    doc-frequency and the corpus scalars, both REFUSING to fold over a
    missing predecessor version). The corpus is re-chunked into 4
    files with maxFilesPerTrigger=1 so the chain is REALLY multi-batch
    — each micro-batch's idf context changes as later batches land,
    which is exactly what a from-scratch scorer cannot see being
    maintained. After the stream the store is COMPACTED mid-lifecycle
    (postings/lens segments merge bag-exact, chains prune — VERDICT
    r11 what's-wrong #3) and scored from the compacted layout. The
    ORACLE recomputes BM25 over the full corpus; the hash match
    certifies the final maintained state scores bit-identically (a df
    folded twice on replay, a lost posting partition, a stale scalar,
    or a compaction that dropped/duplicated a posting all flip a
    6-decimal score)."""
    import tempfile

    from big_data_project_implementation_spark.queries.pipeline_q import (
        BM25_QUERY_TERMS,
    )

    out_dir = tempfile.mkdtemp(prefix="stream_bm25_")
    ckpt = tempfile.mkdtemp(prefix="stream_bm25_ckpt_")
    src_dir = tempfile.mkdtemp(prefix="stream_bm25_src_")
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw.repartition(4).write.mode("overwrite").parquet(src_dir)
    lx = _lexical_index()
    gate = lx.stream_gate(out_dir)
    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        sub.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_merged, _seg = lx.compact(spark, out_dir, keep_last=1)
    if n_merged < 4:  # not assert: must survive python -O
        raise ValueError(f"compaction was vacuous ({n_merged} segments)")
    state = lx.stream_read(spark, out_dir)
    return lx.search(state, BM25_QUERY_TERMS).orderBy("doc_id")


@query(
    "stream_twosided_view",
    oracle="""
    SELECT c.user_id AS user_id, c.event_id AS click_id,
           p.event_id AS purchase_id
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 3 HOUR
    WHERE c.event_type = 'click'
    ORDER BY user_id, click_id, purchase_id
    """,
)
def stream_twosided_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SIDED streaming view maintenance through the view API
    (round 12, VERDICT r11 #5 "what's missing" — the last cell of the
    maintenance matrix: static×Δ is the batch algebra, static×stream
    is `stream_gate`, and BOTH-SIDES-LIVE is
    `MaterializedView.stream_join`, which returns Spark's watermarked
    stream-stream join as the maintained form rather than rebuilding
    it: the join's state stores ARE the algebra's bounded a_old/b_old,
    each micro-batch probing the opposite state is
    delta_join_increment run symmetrically, and watermark-triggered
    null-extension emission is the deferred form of the batch
    algebra's eager outer retraction). Clicks and purchases both
    stream; the LEFT view holds unmatched clicks until the watermark
    proves no purchase can arrive within 3 hours, then null-extends.
    ORACLE: the batch LEFT JOIN under the same time bound."""

    def build(s: SparkSession) -> DataFrame:
        from big_data_project_implementation_spark.operators.views import (
            MaterializedView,
        )

        sdf = _events_stream_with_flush(s, sf_dir)
        clicks = (
            sdf.filter(F.col("event_type") == "click")
            .select(
                "user_id",
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "1 hour")
        )
        purchases = (
            sdf.filter(F.col("event_type") == "purchase")
            .select(
                "user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        mv = MaterializedView("left", on=["user_id"])
        out = mv.stream_join(
            clicks,
            purchases,
            time_bound=(F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 3 HOURS")),
        )
        # sentinel drop must stay non-pushable through the outer join
        # (the stream_stream_left_join lesson: a pushable predicate
        # prunes the watermark-driving rows off the shared scan)
        return out.filter(
            (F.col("click_id") >= 0) | F.col("purchase_id").isNotNull()
        ).select("user_id", "click_id", "purchase_id")

    return _run_stream_to_table(
        build, spark, output_mode="append", no_data_batches=False
    ).orderBy(
        "user_id", "click_id", "purchase_id"
    )
