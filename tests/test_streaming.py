"""Structured Streaming coverage beyond the driver queries: stateful
processing (applyInPandasWithState — mapWithState parity), foreachBatch
sinks, and checkpointed restart (reference TestSuiteBase replay-style
tests, SURVEY §5.5).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from big_data_project_implementation_spark import streaming
from big_data_project_implementation_spark.queries.registry import events_stream
from tests.conftest import SF_DIR


def _batch_events(spark):
    from big_data_project_implementation_spark.queries.registry import t

    return t(spark, SF_DIR, "events")


def test_stateful_count_with_state(spark):
    """updateStateByKey parity: running per-user counts via
    applyInPandasWithState match the batch groupBy."""

    def count_fn(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

    sdf = streaming.run_with_state(
        events_stream(spark, SF_DIR),
        keys=["user_id"],
        func=count_fn,
        output_schema="user_id bigint, n bigint",
        state_schema="n bigint",
        timeout="NoTimeout",
    )
    name, q = streaming.to_memory_sink(sdf, output_mode="update")
    q.awaitTermination()
    got = {r.user_id: r.n for r in spark.table(name).collect()}
    expect = {
        r.user_id: r.n
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


def test_foreach_batch_sink(spark):
    seen: list[tuple[int, int]] = []

    def collect_batch(df, epoch_id: int):
        seen.append((epoch_id, df.count()))

    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        sdf = events_stream(spark, SF_DIR).select("event_id")
        q = streaming.foreach_batch_sink(sdf, collect_batch, ckpt, "append")
        q.awaitTermination()
        assert sum(n for _, n in seen) == _batch_events(spark).count()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_checkpoint_restart_is_exactly_once(spark):
    """Restarting from the same checkpoint must not reprocess data
    (file source + availableNow: second run sees zero new rows)."""
    counts: list[int] = []

    def collect_batch(df, epoch_id: int):
        counts.append(df.count())

    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        sdf = events_stream(spark, SF_DIR).select("event_id")
        q1 = streaming.foreach_batch_sink(sdf, collect_batch, ckpt, "append")
        q1.awaitTermination()
        first_total = sum(counts)
        counts.clear()
        sdf2 = events_stream(spark, SF_DIR).select("event_id")
        q2 = streaming.foreach_batch_sink(sdf2, collect_batch, ckpt, "append")
        q2.awaitTermination()
        assert first_total == _batch_events(spark).count()
        assert sum(counts) == 0, "checkpointed restart reprocessed data"
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_session_window(spark):
    out = streaming.sessionize(
        events_stream(spark, SF_DIR), gap="30 minutes", watermark="10 hours"
    )
    name, q = streaming.to_memory_sink(out, output_mode="complete")
    q.awaitTermination()
    rows = spark.table(name).collect()
    assert rows
    # session invariant: windows for one user never overlap
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.session_window.start, r.session_window.end)
        )
    for user, wins in by_user.items():
        wins.sort()
        for (s1, e1), (s2, _e2) in zip(wins, wins[1:]):
            assert e1 <= s2, f"overlapping sessions for user {user}"


def test_rate_source_smoke(spark):
    sdf = streaming.read_rate_stream(spark, rows_per_second=50)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_watermark_drops_late_data(spark):
    """Late rows behind the watermark are dropped from append-mode
    windowed aggregation — the §2.12 capability upgrade over 1.6 (which
    had processing-time windows only, no late-data semantics)."""
    import json
    import os
    import time
    import uuid

    d = tempfile.mkdtemp(prefix="late_")
    try:
        # batch order = file mtime order: on-time events, then an event
        # that advances the watermark past the window, then a late row
        batches = [
            ("a.json", [f"2024-01-01 10:{m:02d}:00" for m in (0, 15, 30)]),
            ("b.json", ["2024-01-01 13:00:00"]),
            ("c.json", ["2024-01-01 00:30:00"]),  # far behind the watermark
        ]
        now = time.time()
        for i, (fn, tss) in enumerate(batches):
            p = os.path.join(d, fn)
            with open(p, "w") as fh:
                for ts in tss:
                    fh.write(json.dumps({"ts": ts, "v": 1}) + "\n")
            os.utime(p, (now - 600 + 300 * i,) * 2)
        sdf = (
            spark.readStream.schema("ts timestamp, v int")
            .option("maxFilesPerTrigger", 1)
            .json(d)
        )
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
        )
        name = "late" + uuid.uuid4().hex[:8]
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        assert dropped == 1, [p["stateOperators"] for p in q.recentProgress]
        rows = {
            r["window"]["start"].strftime("%H:%M"): r["n"]
            for r in spark.table(name).collect()
        }
        # 10:00 window finalized with ONLY the on-time events; the late
        # 00:30 row never created a 00:00 window
        assert rows.get("10:00") == 3, rows
        assert "00:00" not in rows, rows
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_event_time_timeout_fires(spark):
    """mapWithState idle-timeout parity (reference StateSpec.scala:100)
    with deterministic event-time semantics: a key whose timeout
    timestamp falls behind the advancing watermark gets the timed-out
    callback, emits a final record, and is removed."""
    import json
    import os
    import time
    import uuid

    d = tempfile.mkdtemp(prefix="tmo_")
    try:
        batches = [
            ("a.json", [("2024-01-01 10:00:00", 1)]),
            ("b.json", [("2024-01-01 12:00:00", 2)]),  # advances watermark past 10:30
        ]
        now = time.time()
        for i, (fn, rows) in enumerate(batches):
            p = os.path.join(d, fn)
            with open(p, "w") as fh:
                for ts, uid in rows:
                    fh.write(json.dumps({"ts": ts, "user_id": uid}) + "\n")
            os.utime(p, (now - 600 + 300 * i,) * 2)

        def sess_fn(key, pdfs, state):
            if state.hasTimedOut:
                (n,) = state.get
                state.remove()
                yield pd.DataFrame({"user_id": [key[0]], "n": [n], "closed": [True]})
            else:
                n = state.get[0] if state.exists else 0
                mx = 0
                for pdf in pdfs:
                    n += len(pdf)
                    mx = max(mx, int(pdf["ts"].max().timestamp() * 1000))
                state.update((n,))
                # close the key if no events for 30 event-time minutes
                state.setTimeoutTimestamp(mx + 30 * 60 * 1000)
                yield pd.DataFrame({"user_id": [key[0]], "n": [n], "closed": [False]})

        from pyspark.sql.streaming.state import GroupStateTimeout

        sdf = (
            spark.readStream.schema("ts timestamp, user_id int")
            .option("maxFilesPerTrigger", 1)
            .json(d)
            .withWatermark("ts", "0 seconds")
        )
        out = sdf.groupBy("user_id").applyInPandasWithState(
            sess_fn,
            "user_id int, n bigint, closed boolean",
            "n bigint",
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
        name = "tmo" + uuid.uuid4().hex[:8]
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = [(r.user_id, r.n, r.closed) for r in spark.table(name).collect()]
        assert (1, 1, False) in rows  # user 1 opened
        assert (1, 1, True) in rows  # ...and closed by event-time timeout
        assert (2, 1, False) in rows
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stateful_restart_resumes_state(spark):
    """applyInPandasWithState + checkpoint: a restarted query RESUMES
    the state store — counts accumulate across runs instead of
    restarting from zero (reference mapWithState checkpoint semantics,
    STR/rdd/MapWithStateRDD.scala:120 / Checkpoint.scala)."""
    import json
    import os
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    d = tempfile.mkdtemp(prefix="restate_")
    ckpt = tempfile.mkdtemp(prefix="restate_ckpt_")

    def count_fn(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    def run_once():
        # memory sink can't recover from a checkpoint; foreachBatch can
        sdf = spark.readStream.schema("user_id int, v int").json(d)
        out = sdf.groupBy("user_id").applyInPandasWithState(
            count_fn, "user_id int, n bigint", "n bigint", "update",
            GroupStateTimeout.NoTimeout,
        )
        got: dict[int, int] = {}

        def sink(df, _epoch):
            for r in df.collect():
                got[r.user_id] = r.n

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    try:
        with open(os.path.join(d, "a.json"), "w") as fh:
            for _ in range(3):
                fh.write(json.dumps({"user_id": 1, "v": 1}) + "\n")
        first = run_once()
        assert first == {1: 3}, first
        with open(os.path.join(d, "b.json"), "w") as fh:
            for _ in range(2):
                fh.write(json.dumps({"user_id": 1, "v": 1}) + "\n")
        second = run_once()
        # only the new file is processed, but the count RESUMES from 3
        assert second == {1: 5}, second
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_dedup_stream_exact_matches_batch_distinct(spark):
    """Streaming dropDuplicates keyed state == batch DISTINCT."""
    sdf = events_stream(spark, SF_DIR).select("event_type", "user_id", "ts")
    deduped = streaming.dedup_stream(sdf, ["event_type", "user_id"])
    name, q = streaming.to_memory_sink(deduped, output_mode="append")
    q.awaitTermination()
    got = spark.table(name).select("event_type", "user_id").distinct().count()
    want = (
        _batch_events(spark).select("event_type", "user_id").distinct().count()
    )
    assert spark.table(name).count() == want  # one survivor per key
    assert got == want


def test_dedup_stream_within_watermark_drops_near_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving within
    the delay is dropped; keys are evicted after the watermark passes
    (bounded state — the streaming-ingest dedup path)."""
    src = str(tmp_path / "src")
    import os

    os.makedirs(src)
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),  # dup within 1h of first → dropped
            (2, "2024-01-01 10:05:00"),
        ],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema("k long, ts timestamp").parquet(src)
    deduped = streaming.dedup_stream(
        sdf, ["k"], watermark_col="ts", delay="1 hour"
    )
    name, q = streaming.to_memory_sink(deduped, output_mode="append")
    q.awaitTermination()
    rows = spark.table(name).groupBy("k").count().collect()
    assert {r.k: r["count"] for r in rows} == {1: 1, 2: 1}


def test_dedup_stream_watermark_requires_delay(spark):
    sdf = events_stream(spark, SF_DIR)
    with pytest.raises(ValueError, match="delay"):
        streaming.dedup_stream(sdf, ["user_id"], watermark_col="ts")


def test_socket_stream_source_ingests_lines(spark):
    """Socket text source (reference STR/dstream/SocketInputDStream.scala:
    the socketTextStream entry point) — a live TCP server feeds lines
    into a streaming query; proves the push-based source path beyond
    the file/rate sources the oracle queries use."""
    import socket
    import threading
    import time

    lines = [f"msg-{i}" for i in range(20)]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        with conn:
            for ln in lines:
                conn.sendall((ln + "\n").encode())
            time.sleep(5)  # keep the socket open while batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    sdf = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("socket_sink")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            got = spark.sql("SELECT value FROM socket_sink").count()
            if got >= len(lines):
                break
            time.sleep(0.5)
        vals = {r.value for r in spark.sql("SELECT value FROM socket_sink").collect()}
        assert set(lines) <= vals
    finally:
        q.stop()
        server.close()


def test_python_datasource_stream_exactly_once(spark, tmp_path):
    """Streaming Python DataSource (SimpleDataSourceStreamReader): the
    bounded synthetic stream delivers every row exactly once through
    micro-batches, and offsets checkpoint as plain dicts."""
    from big_data_project_implementation_spark.sources import python_datasource

    python_datasource.register(spark)
    q = (
        spark.readStream.format("synthetic_docs_stream")
        .option("limit", 25)
        .option("batch", 7)
        .load()
        .writeStream.format("memory")
        .queryName("pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT doc_id) AS d, max(doc_id) AS m "
        "FROM pyds_stream"
    ).collect()[0]
    assert (got.n, got.d, got.m) == (25, 25, 24)


def test_foreach_batch_upsert_sink_is_idempotent(spark, tmp_path):
    """foreachBatch + upsert_partitioned = an exactly-once keyed parquet
    sink: replaying the same micro-batch (the at-least-once retry case)
    must leave the table unchanged — dedup by key, not by append."""
    from big_data_project_implementation_spark.sources import writers

    path = str(tmp_path / "t")
    batch1 = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20)], "id long, day string, v long"
    )
    batch2 = spark.createDataFrame(
        [(2, "a", 21), (3, "b", 30)], "id long, day string, v long"
    )

    def sink(df, _epoch):
        writers.upsert_partitioned(df, path, keys=["id"], partition_by=["day"])

    sink(batch1, 0)
    sink(batch2, 1)
    sink(batch2, 1)  # retry replay of the same epoch
    got = {(r.id, r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", 10), (2, "a", 21), (3, "b", 30)}


def test_stream_hll_matches_batch_hll(spark):
    """The streaming windowed HLL (state-store merged across
    micro-batches) must equal the batch HLL over the same data — sketch
    merge is associative, so incremental == one-shot."""
    from big_data_project_implementation_spark.queries import REGISTRY
    from big_data_project_implementation_spark.queries.registry import events_stream

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r.window_start, r.approx_users, r.n_events)
        for r in REGISTRY["stream_windowed_distinct"].fn(spark, sf).collect()
    }
    from big_data_project_implementation_spark.sources.catalog import load_table
    import pyspark.sql.functions as F

    batch = {
        (r.window_start, r.approx_users, r.n_events)
        for r in (
            load_table(spark, sf, "events")
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.approx_count_distinct("user_id").alias("approx_users"),
                F.count("*").cast("bigint").alias("n_events"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "approx_users",
                "n_events",
            )
            .collect()
        )
    }
    assert streamed == batch


def test_run_stream_conf_isolated_from_caller_session(spark):
    """_run_stream_to_table plans the stream on a cloned session: the
    state-partitions override must be visible to the stream's planner
    and NEVER to the caller's session (a concurrent batch query on the
    shared session used to silently inherit 8 shuffle partitions for
    the stream's whole run — round-5 ADVICE)."""
    from big_data_project_implementation_spark.queries import streaming_q

    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}

    def build(s):
        # observed DURING the stream's lifetime, not after a restore
        seen["caller"] = spark.conf.get("spark.sql.shuffle.partitions")
        seen["stream"] = s.conf.get("spark.sql.shuffle.partitions")
        seen["cloned"] = s is not spark
        return (
            events_stream(s, SF_DIR)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    out = streaming_q._run_stream_to_table(build, spark, state_partitions=4)
    assert out.count() > 0
    assert seen["cloned"] is True
    assert seen["stream"] == "4"
    assert seen["caller"] == before  # caller conf untouched while running
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_state_store_is_rocksdb(spark):
    """Round 7 (VERDICT r6 #5): every stateful stream in the engine
    runs on the RocksDB state store, not the executor-heap
    HDFSBackedStateStore — heap state is the first casualty at 100 TB
    stream volume. Pinned two ways so a silent revert breaks loudly:
    the session conf names the provider, and a live stateful query's
    state-operator metrics carry RocksDB instance metrics (the heap
    provider emits none of them)."""
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )

    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "4")
    src = tempfile.mkdtemp()
    try:
        spark.createDataFrame(
            [(i % 5, i) for i in range(100)], "k long, v long"
        ).write.mode("overwrite").parquet(src)
        q = (
            sub.readStream.schema("k long, v long")
            .parquet(src)
            .groupBy("k")
            .agg(F.count("*").alias("n"))
            .writeStream.format("memory")
            .queryName("rocks_pin")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ops = q.lastProgress["stateOperators"]
        metrics = ops[0].get("customMetrics", {})
        rocks_keys = [k for k in metrics if k.startswith("rocksdb")]
        assert len(rocks_keys) >= 10, (
            "stateful query did not run on RocksDB; metrics: "
            f"{sorted(metrics)[:8]}"
        )
        assert {(r.k, r.n) for r in sub.table("rocks_pin").collect()} == {
            (i, 20) for i in range(5)
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_neardup_verdict_restart_is_exactly_once(spark):
    """The per-doc near-dup verdict gate survives a checkpointed
    restart without duplicate verdicts (VERDICT r7 #6): the gate is
    stateless, so exactly-once rests on (a) the file source's
    checkpointed offsets — the second run replays nothing — and (b)
    the batch_id-partitioned dynamic-overwrite sink — a REPLAYED batch
    overwrites its own partition instead of appending. Cheap by
    design: replay run 2 from the same checkpoint, assert the verdict
    set is byte-identical."""
    from big_data_project_implementation_spark.queries.streaming_q import (
        _neardup_verdict_machinery,
    )

    out_dir = tempfile.mkdtemp(prefix="verdict_restart_out_")
    ckpt = tempfile.mkdtemp(prefix="verdict_restart_ckpt_")
    build, gate = _neardup_verdict_machinery(spark, SF_DIR, out_dir)

    def run_once():
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

    try:
        run_once()
        first = sorted(
            (r.arriving_id, r.best_match, r.max_agree, r.n_matches)
            for r in spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch_id=*")
            .collect()
        )
        assert first, "gate emitted no verdicts"
        # one verdict row per arriving doc — never per match pair
        assert len(first) == len({t[0] for t in first})
        run_once()  # restart from the same checkpoint: replays nothing
        second = sorted(
            (r.arriving_id, r.best_match, r.max_agree, r.n_matches)
            for r in spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch_id=*")
            .collect()
        )
        assert second == first, "restart duplicated or altered verdicts"
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_exact_ingest_gate_restart_is_exactly_once(spark):
    """stream_dedup_vs_corpus's exact fingerprint gate, restart
    semantics (VERDICT r7 #6): second run from the same checkpoint
    admits zero rows — the stream-static anti join is stateless, so
    the only exactly-once machinery is the source offset log."""
    from big_data_project_implementation_spark.operators.dedup import _norm
    from big_data_project_implementation_spark.queries.registry import (
        documents_stream,
    )

    static_fps = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(_norm(F.col("text"))).alias("fp"))
        .distinct()
    )
    admitted: list[int] = []

    def sink(batch, batch_id):
        admitted.append(batch.count())

    ckpt = tempfile.mkdtemp(prefix="exact_gate_ckpt_")

    def run_once():
        sdf = (
            documents_stream(spark, SF_DIR)
            .select(F.md5(_norm(F.col("text"))).alias("fp"))
            .join(static_fps, "fp", "left_anti")
        )
        q = streaming.foreach_batch_sink(sdf, sink, ckpt, "append")
        q.awaitTermination()

    try:
        run_once()
        first_total = sum(admitted)
        assert first_total > 0
        admitted.clear()
        run_once()
        assert sum(admitted) == 0, "restart re-admitted ingested docs"
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


DAY_NANOS = 86_400_000_000_000
SHIFT_NANOS = 31 * DAY_NANOS  # > the 30-day fixture span: no overlap
KEY_STRIDE = 10_000_000


def build_stream_dir(spark, src: str, dst: str, factor: int) -> None:
    """Write `factor` time+key-shifted replicas of events as ordered
    single parquet files under dst (fresh build each run). Replica i
    shifts ts by i × 31 days and user/event ids by i × stride, and its
    mtime pins it as the i-th micro-batch, so event time advances
    monotonically across batches and the watermark closes each
    replica's windows as the next arrives. Shifted keys make a state
    plateau proof of eviction (leaked state would grow ~N×)."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = spark.read.parquet(f"{src}/events.parquet")
    nanos = base.schema["ts"].dataType.simpleString() == "bigint"
    for i in range(factor):
        rep = base
        if nanos:
            rep = rep.withColumn("ts", F.col("ts") + F.lit(i * SHIFT_NANOS))
        else:
            # fixture may decode as TIMESTAMP_NTZ — shift via cast
            rep = rep.withColumn(
                "ts",
                F.timestamp_micros(
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    + F.lit(i * (SHIFT_NANOS // 1000))
                ).cast(rep.schema["ts"].dataType.simpleString()),
            )
        rep = rep.withColumn(
            "user_id", F.col("user_id") + F.lit(i * KEY_STRIDE)
        ).withColumn("event_id", F.col("event_id") + F.lit(i * KEY_STRIDE))
        tmp = f"{dst}/.build_{i}"
        rep.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        final = f"{dst}/replica_{i:04d}.parquet"
        os.rename(f"{tmp}/{part}", final)
        shutil.rmtree(tmp)
        # file source orders batches by (mtime, path): pin both
        os.utime(final, (1_700_000_000 + i, 1_700_000_000 + i))


def _events_stream(spark, data_dir: str):
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(data_dir).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    if isinstance(schema["ts"].dataType, LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def sessionize(s, d):
    """Append-mode session windows over the replica stream, mirroring
    the registry's stateful sessionize row."""
    return (
        _events_stream(s, d)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


def run_probe(spark, name: str, build, data_dir: str) -> dict:
    """Run ``build(session, data_dir)`` to completion into a noop sink
    and return its per-batch state-operator metrics and their totals."""
    import uuid

    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "8")
    # keep every batch's progress (default retains last 100)
    sub.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    ckpt = tempfile.mkdtemp(prefix=f"state_probe_{name}_")
    try:
        q = (
            build(sub, data_dir)
            .writeStream.format("noop")
            .queryName("p" + uuid.uuid4().hex[:8])
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    batches = []
    for p in q.recentProgress:
        if not p.get("stateOperators"):
            continue
        so = p["stateOperators"][0]
        batches.append(
            {
                "batch": p["batchId"],
                "input": p["numInputRows"],
                "rows_total": so["numRowsTotal"],
                "rows_removed": so["numRowsRemoved"],
                "mem_mb": round(so["memoryUsedBytes"] / 1e6, 2),
                "rocksdb": any(
                    k.startswith("rocksdb")
                    for k in so.get("customMetrics", {})
                ),
            }
        )
    totals = {
        "state_rows_max": max((b["rows_total"] for b in batches), default=0),
        "rows_removed_total": sum(b["rows_removed"] for b in batches),
        "rocksdb": all(b["rocksdb"] for b in batches) and bool(batches),
    }
    return {"totals": totals, "batches": batches}


def test_rocksdb_state_bounded_by_watermark_across_batches(spark):
    """Watermark eviction bounds stateful-stream state by the ACTIVE
    event-time window, not total ingested volume (VERDICT r7 #2): over
    time-ordered micro-batches, numRowsTotal plateaus at ~one batch's
    key count while rows_removed accounts for closed sessions, every
    batch running on the RocksDB provider; and a LATE file (behind the
    watermark) is dropped without growing state. The 100× record lives
    in SCALING.md's round-8 section — this pins the mechanism at test
    scale."""
    data_dir = tempfile.mkdtemp(prefix="state_bound_")
    try:
        build_stream_dir(spark, SF_DIR, data_dir, 3)
        # a LATE replica: replica-0 timestamps (31+ days behind the
        # watermark after batch 2) arriving LAST — mtime pins order
        late = os.path.join(data_dir, "replica_9999_late.parquet")
        shutil.copyfile(os.path.join(data_dir, "replica_0000.parquet"), late)
        os.utime(late, (1_700_000_500, 1_700_000_500))

        res = run_probe(spark, "sessionize", sessionize, data_dir)
        b = res["batches"]
        assert res["totals"]["rocksdb"], "not on RocksDB"
        assert res["totals"]["rows_removed_total"] > 0, "no eviction"
        first = b[0]["rows_total"]
        # plateau: no batch holds more than ~2 batches' worth of keys
        # (sessions still open at the batch boundary carry over)
        assert res["totals"]["state_rows_max"] <= 2 * first, b
        # the late replica contributed input rows but no lasting state:
        # final state is the tail sessions of the LAST in-order replica
        assert b[-1]["rows_total"] <= first, b
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)


def test_ann_index_update_segments_exactly_once(spark):
    """The streaming index update appends each arriving vector to the
    code lists EXACTLY once (round 8): segment rows are keyed by
    neighbor_id with no duplicates, cover every arriving vec_id, carry
    the same (cell, codes) the frozen-model batch encode produces, and
    a checkpointed restart replays nothing (same three guarantees as
    the verdict gate: offset log + batch_id-overwrite sink +
    deterministic encode)."""
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

    emb = t(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 3)
    path = _ann_index_cached(base, SF_DIR, variant="_base34")
    delta = tempfile.mkdtemp(prefix="ann_delta_test_")
    ckpt = tempfile.mkdtemp(prefix="ann_delta_test_ckpt_")

    def append_segment(batch, batch_id):
        ss = batch.sparkSession
        cents = ss.read.parquet(f"{path}/centroids")
        books = ss.read.parquet(f"{path}/codebooks")
        m = books.agg(F.max("sub")).first()[0] + 1
        (
            sim.ivfpq_encode_with_model(batch, cents, books, m=m)
            .write.mode("overwrite")
            .parquet(f"{delta}/batch_id={batch_id}")
        )

    def run_once():
        sub = spark.newSession()
        sub.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            embeddings_stream(sub, SF_DIR)
            .filter(F.col("vec_id") % 4 == 3)
            .writeStream.foreachBatch(append_segment)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        run_once()
        seg = spark.read.parquet(delta).select("cell", "neighbor_id", "codes")
        rows = {r.neighbor_id: (r.cell, tuple(r.codes)) for r in seg.collect()}
        arriving = {
            r.vec_id for r in emb.filter(F.col("vec_id") % 4 == 3).collect()
        }
        assert seg.count() == len(rows), "duplicate neighbor_id in segments"
        assert set(rows) == arriving, "segments must cover every arrival"
        # frozen-model parity: the stream's encode IS the batch encode
        cents = spark.read.parquet(f"{path}/centroids")
        books = spark.read.parquet(f"{path}/codebooks")
        m = books.agg(F.max("sub")).first()[0] + 1
        batch_enc = {
            r.neighbor_id: (r.cell, tuple(r.codes))
            for r in sim.ivfpq_encode_with_model(
                emb.filter(F.col("vec_id") % 4 == 3), cents, books, m=m
            ).collect()
        }
        assert rows == batch_enc
        run_once()  # restart: offset log replays nothing
        seg2 = {
            r.neighbor_id: (r.cell, tuple(r.codes))
            for r in spark.read.parquet(delta)
            .select("cell", "neighbor_id", "codes")
            .collect()
        }
        assert seg2 == rows, "restart duplicated or altered segments"
        # compaction: merging segments into the base lists must not
        # change a single answer (serve(base+delta) == serve(compacted))
        # — run on a COPY so the shared cached index keeps its
        # base-only codes for the gate query
        copy = tempfile.mkdtemp(prefix="ann_compact_") + "/idx"
        shutil.copytree(path, copy)
        qs = emb.filter(F.col("vec_id") < 5)
        before = [
            tuple(r)
            for r in sim.ivfpq_topk_from_index(
                qs, emb, copy, k=5, nprobe=4, refine=16, delta_path=delta
            )
            .orderBy("query_id", "rank")
            .collect()
        ]
        sim.ivfpq_compact(spark, copy, delta)
        after = [
            tuple(r)
            for r in sim.ivfpq_topk_from_index(
                qs, emb, copy, k=5, nprobe=4, refine=16
            )
            .orderBy("query_id", "rank")
            .collect()
        ]
        assert before == after, "compaction changed answers"
        # publication contract (round 9, ADVICE r8): compact swaps the
        # codes.current pointer atomically and RETAINS the superseded
        # table for one cycle, so a reader that resolved the old path
        # never finds it missing mid-scan
        assert os.path.exists(f"{copy}/codes.current")
        v1 = sim._codes_dir(copy)
        assert os.path.basename(v1).startswith("codes.v-")
        assert os.path.isdir(f"{copy}/codes"), "superseded base GC'd early"
        old_answers = [
            tuple(r)
            for r in sim.ivfpq_topk_from_index(
                qs, emb, copy, k=5, nprobe=4, refine=16
            )
            .orderBy("query_id", "rank")
            .collect()
        ]
        assert old_answers == after
        # a second compact (empty-ish delta: reuse the same segments —
        # dup rows are fine for the layout contract) must GC the
        # legacy dir, keep v1 for in-flight readers, and re-point
        sim.ivfpq_compact(spark, copy, delta)
        v2 = sim._codes_dir(copy)
        assert v2 != v1 and os.path.isdir(v1)
        assert not os.path.exists(f"{copy}/codes"), "2-cycle GC missed"
        shutil.rmtree(copy, ignore_errors=True)
    finally:
        shutil.rmtree(delta, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_incremental_agg_state_chain_replay_idempotent(spark):
    """The versioned state chain (round 8, stream_incremental_agg):
    replaying a micro-batch rewrites its own version byte-identically
    (v=N is a pure function of v=N-1 and batch N — no double-fold),
    a checkpointed restart replays nothing, and the final state
    matches the one-pass batch aggregate."""
    from big_data_project_implementation_spark.queries.registry import (
        events_stream,
        t,
    )
    from big_data_project_implementation_spark.queries.streaming_q import (
        _incremental_state_machinery,
    )

    state_dir = tempfile.mkdtemp(prefix="inc_state_test_")
    ckpt = tempfile.mkdtemp(prefix="inc_state_test_ckpt_")
    fold, read_final = _incremental_state_machinery(spark, state_dir)

    def run_once():
        sub = spark.newSession()
        sub.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            events_stream(sub, SF_DIR, max_files_per_trigger=1)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def snapshot():
        return sorted(
            tuple(r)
            for r in read_final(spark)
            .select("event_type", "n", "sum", "min", "max")
            .collect()
        )

    try:
        run_once()
        first = snapshot()
        assert first, "state chain is empty"
        # final state == one-pass batch aggregate over the full table
        micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast(
            "bigint"
        )
        truth = sorted(
            tuple(r)
            for r in t(spark, SF_DIR, "events")
            .select("event_type", micro.alias("v"))
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("v").cast("bigint").alias("sum"),
                F.min("v").cast("bigint").alias("min"),
                F.max("v").cast("bigint").alias("max"),
            )
            .collect()
        )
        assert first == truth
        # manual REPLAY of the newest batch: refold an arbitrary
        # batch-shaped df at its own version id — v=N depends only on
        # v=N-1 (untouched), so the rewrite must be value-identical
        import glob as g

        top = max(
            int(p.rsplit("=", 1)[1]) for p in g.glob(f"{state_dir}/v=*")
        )
        replay = t(spark, SF_DIR, "events").limit(0)  # empty delta
        fold(replay, top + 1)  # v=top+1 = merge(v=top, empty) == v=top
        after_empty = snapshot()
        assert after_empty == first, "empty-delta fold changed the view"
        # checkpointed restart: offset log replays nothing
        run_once()
        assert snapshot() == after_empty
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_incremental_join_restart_appends_nothing(spark):
    """The streaming join-view maintenance (round 9) survives a
    checkpointed restart without duplicate appends: run 2 from the
    same checkpoint replays no batch (offset log) and a hypothetical
    replay would overwrite its own batch_id partition — the view is
    byte-identical after the second run."""
    from big_data_project_implementation_spark.queries.streaming_q import (
        _stream_join_machinery,
    )

    out_dir = tempfile.mkdtemp(prefix="sj_restart_out_")
    ckpt = tempfile.mkdtemp(prefix="sj_restart_ckpt_")
    build, gate = _stream_join_machinery(spark, SF_DIR, out_dir)

    def run_once():
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

    try:
        run_once()
        cols = [
            "o_orderkey",
            "l_linenumber",
            "o_orderstatus",
            "qty",
            "price_cents",
        ]
        view = (
            spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch_id=*")
            .select(*cols)
        )
        first = sorted(tuple(r) for r in view.collect())
        assert first, "no rows appended"
        # increment == the full join (every lineitem arrived once)
        want = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .selectExpr("o_orderkey", "o_orderstatus")
            .join(
                spark.read.parquet(f"{SF_DIR}/lineitem.parquet").selectExpr(
                    "l_orderkey AS o_orderkey",
                    "l_linenumber",
                    "CAST(l_quantity AS BIGINT) AS qty",
                    "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
                    " AS price_cents",
                ),
                ["o_orderkey"],
            )
            .select(
                "o_orderkey",
                "l_linenumber",
                "o_orderstatus",
                "qty",
                "price_cents",
            )
            .collect()
        )
        assert first == want
        run_once()  # restart: offset log replays nothing
        second = sorted(
            tuple(r)
            for r in spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch_id=*")
            .select(*cols)
            .collect()
        )
        assert second == first, "restart duplicated or altered the view"
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_incremental_left_join_restart_is_stable(spark):
    """The streaming LEFT OUTER view (round 10) survives a
    checkpointed restart: run 2 from the same checkpoint replays no
    batch, both logs (inner increments + matched keys) are unchanged,
    and the derived view still equals the full LEFT JOIN — including
    exactly one null-extension row per never-matched order."""
    from big_data_project_implementation_spark.queries.streaming_q import (
        _stream_left_join_machinery,
    )

    out_dir = tempfile.mkdtemp(prefix="slj_restart_out_")
    ckpt = tempfile.mkdtemp(prefix="slj_restart_ckpt_")
    build, gate, read_view = _stream_left_join_machinery(
        spark, SF_DIR, out_dir
    )

    def run_once():
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

    def canon(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    try:
        run_once()
        first = canon(read_view(spark))
        assert first, "no rows in the maintained view"
        want = canon(
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .selectExpr("o_orderkey", "o_orderstatus")
            .join(
                spark.read.parquet(f"{SF_DIR}/lineitem.parquet").selectExpr(
                    "l_orderkey AS o_orderkey",
                    "l_linenumber",
                    "CAST(l_quantity AS BIGINT) AS qty",
                    "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
                    " AS price_cents",
                ),
                ["o_orderkey"],
                "left",
            )
            .select(
                "o_orderkey",
                "l_linenumber",
                "o_orderstatus",
                "qty",
                "price_cents",
            )
        )
        assert first == want
        # never-matched orders appear exactly once, null-extended
        nulls = [r for r in first if r[1] is None]
        assert nulls and len(nulls) == len({r[0] for r in nulls})
        run_once()  # restart from the same checkpoint: replays nothing
        assert canon(read_view(spark)) == first
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_compact_batch_view_equivalence_and_crash_recovery(spark):
    """compact_batch_view (round 10): merging all but the newest batch
    partition preserves the view bag exactly and shrinks the segment
    count; the newest (replayable) partition survives untouched; and
    the one non-atomic window — crash AFTER the consolidated segment
    publishes but BEFORE its sources are deleted — converges via
    recover_batch_view_compaction (duplicates removed), which is also
    an idempotent no-op on a healthy view."""
    import json
    import os

    from big_data_project_implementation_spark import streaming as st_mod

    out_dir = tempfile.mkdtemp(prefix="compact_test_")
    try:
        base = spark.range(0, 40).selectExpr("id", "id % 7 AS v")
        for b in range(5):
            base.filter(F.col("id") % 5 == b).write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/batch_id={b}")

        def canon():
            return sorted(
                tuple(r)
                for r in spark.read.option("basePath", out_dir)
                .parquet(f"{out_dir}/batch_id=*")
                .select("id", "v")
                .collect()
            )

        want = canon()
        n, seg = st_mod.compact_batch_view(spark, out_dir, keep_last=1)
        assert n == 4 and seg == "batch_id=-1"
        assert canon() == want
        dirs = sorted(os.listdir(out_dir))
        assert dirs == ["batch_id=-1", "batch_id=4"]  # tail untouched

        # simulate the crash window: re-create a "source" that the
        # published segment claims (duplicate rows until recovery)
        base.filter(F.col("id") % 5 == 1).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id=1"
        )
        manifest = json.load(open(f"{out_dir}/batch_id=-1/_COMPACTED_IDS"))
        assert "batch_id=1" in manifest
        assert len(canon()) > len(want)  # duplicates visible pre-recovery
        removed = st_mod.recover_batch_view_compaction(out_dir)
        assert removed == 1
        assert canon() == want
        assert st_mod.recover_batch_view_compaction(out_dir) == 0  # no-op

        # a second compaction folds the c-segment in with the new tail
        base.filter(F.col("id") % 5 == 0).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id=5"
        )
        n2, seg2 = st_mod.compact_batch_view(spark, out_dir, keep_last=1)
        assert n2 == 2 and seg2 == "batch_id=-2"
        dup = sorted(
            tuple(r)
            for r in spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch_id=*")
            .select("id", "v")
            .collect()
        )
        assert dup == sorted(
            want + [tuple(r) for r in base.filter(F.col("id") % 5 == 0)
                    .select("id", "v").collect()]
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# -- the stream gate: one job per steady-state batch, one store per core

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, value long"


def _land_events(inbox: str, k: int, ids: list[int]) -> None:
    """One parquet event FILE (the file source does not recurse into a
    Spark-written directory); its mtime makes it micro-batch k under
    ``max_files_per_trigger=1``."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    path = os.path.join(inbox, f"f{k}.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [t0 + datetime.timedelta(seconds=i) for i in ids],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([i % 7 for i in ids], pa.int64()),
            "value": pa.array(ids, pa.int64()),
        }),
        path,
    )
    os.utime(path, (1_000 + k, 1_000 + k))


def _event_stream(spark, inbox: str, watermark: bool = True):
    sdf = streaming.read_file_stream(
        spark, inbox, schema=EVENT_SCHEMA, max_files_per_trigger=1
    )
    if watermark:
        return streaming.dedup_stream(sdf, ["event_id"], "ts", "1 hour")
    return streaming.dedup_stream(sdf, ["event_id"])


def _n_parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(path))


def _conf_of(ckpt: str, batch_id: int) -> dict:
    import json

    with open(f"{ckpt}/offsets/{batch_id}") as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


def test_stream_gate_steady_state_runs_one_job(spark):
    """Inside a stateful stream, a steady-state agg gate call (v=N>0)
    runs exactly one Spark job, the write (which also runs the batch's
    dedup), and writes one file: v=N-1 is read with the batch's own
    state schema (no inference job), and the fan-out comes from
    v=N-1's parquet footers (no checkpoint job, no count job)."""
    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
    )

    d = tempfile.mkdtemp(prefix="gate_jobs_")
    sc = spark.sparkContext
    try:
        inbox = f"{d}/inbox"
        os.makedirs(inbox)
        for k in range(3):
            # each file repeats its first id: one duplicate per batch
            _land_events(inbox, k, list(range(100 * k, 100 * k + 100)) + [100 * k])
        mv = MaterializedView("agg", keys=["user_id"], value="value")
        gate = mv.stream_gate(f"{d}/view")
        jobs: dict[int, int] = {}

        def grouped(batch, batch_id):
            group = f"{d}-gate-{batch_id}"
            sc.setJobGroup(group, group)
            try:
                gate(batch, batch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[batch_id] = len(sc.statusTracker().getJobIdsForGroup(group))

        streaming.foreach_batch_sink(
            _event_stream(spark, inbox), grouped, f"{d}/ckpt", "append"
        ).awaitTermination()
        assert jobs[1] == 1 and jobs[2] == 1, jobs
        assert _n_parquet_files(f"{d}/view/v=1") == 1
        assert _n_parquet_files(f"{d}/view/v=2") == 1
        got = sorted(
            tuple(r) for r in mv.stream_read(spark, f"{d}/view")
            .select("user_id", "n", "sum", "min", "max").collect()
        )
        users = [list(range(u, 300, 7)) for u in range(7)]
        assert got == [
            (u, len(xs), sum(xs), min(xs), max(xs)) for u, xs in enumerate(users)
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_state_gate_first_version_releases_its_checkpoint(spark):
    """v=0 has no predecessor footer to size from, so it checkpoints
    and counts exactly — and releases that checkpoint after its write:
    a batch-0 gate call adds no persisted RDD. (Compared as id sets,
    not sizes: the context cleaner may drop earlier tests' RDDs
    meanwhile.)"""
    from big_data_project_implementation_spark.operators.views import (
        LexicalIndex,
        MaterializedView,
    )

    d = tempfile.mkdtemp(prefix="gate_release_")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    try:
        before = set(persisted().keys())
        rows = spark.range(100).select(
            (F.col("id") % 50).alias("g"), F.col("id").alias("v")
        )
        MaterializedView("agg", keys=["g"], value="v").stream_gate(
            f"{d}/agg"
        )(rows, 0)
        assert set(persisted().keys()) <= before
        docs = spark.createDataFrame(
            [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
        )
        LexicalIndex().stream_gate(f"{d}/lex")(docs, 0)
        assert set(persisted().keys()) <= before
        assert _n_parquet_files(f"{d}/agg/v=0") == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_state_chain_fanout_follows_predecessor_footer(spark):
    """Under state_files="auto" a version's fan-out follows the row
    count in its PREDECESSOR's parquet footers, so it lags one batch:
    the batch that carries the chain past state_file_rows still writes
    one file, and the next version — whose predecessor holds more than
    state_file_rows rows — is not coalesced. AQE is off here, as in a
    stateful stream, so the plan's own parallelism is the shuffle's."""
    from big_data_project_implementation_spark.operators.views import (
        MaterializedView,
        _sized_state,
    )
    from big_data_project_implementation_spark.sources import fsio

    d = tempfile.mkdtemp(prefix="gate_fanout_")
    sub = spark.newSession()
    sub.conf.set("spark.sql.adaptive.enabled", "false")
    sub.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        mv = MaterializedView("agg", keys=["g"], value="v", state_file_rows=10)
        gate = mv.stream_gate(d)

        def batch(lo, hi):
            return sub.range(lo, hi).select(
                F.col("id").alias("g"), F.col("id").alias("v")
            )

        gate(batch(0, 5), 0)  # exact count: 5 rows, one file
        gate(batch(5, 40), 1)  # v=0 held 5 rows: one file, 40 rows in it
        gate(batch(40, 41), 2)  # v=1 holds 40 > 10: not coalesced
        assert _n_parquet_files(f"{d}/v=0") == 1
        assert _n_parquet_files(f"{d}/v=1") == 1
        assert fsio.parquet_rows(sub, f"{d}/v=1") == 40
        assert _n_parquet_files(f"{d}/v=2") > 1
        assert fsio.parquet_rows(sub, f"{d}/v=2") == 41
        got = sorted(tuple(r) for r in mv.stream_read(sub, d).collect())
        assert got == [(g, 1, g, g, g) for g in range(41)]
        # the rule itself: a predecessor over the bound leaves the plan
        # as it is, one at the bound coalesces it
        rows = batch(0, 41)
        assert _sized_state(rows, "auto", 10, prev_rows=11) is rows
        assert _sized_state(rows, "auto", 10, prev_rows=10).rdd.getNumPartitions() == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_sinks_start_one_state_store_per_core(spark):
    """foreach_batch_sink and to_memory_sink start a stateful stream
    with spark.sql.shuffle.partitions = defaultParallelism — recorded
    in the checkpoint's offsets/0 and seen as the state operator's
    store count — while the caller's session keeps its own value,
    during the stream and after it."""
    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    sub = spark.newSession()
    sub.conf.set(key, str(cores + 3))
    d = tempfile.mkdtemp(prefix="per_core_")
    seen: list[str] = []

    def sink(batch, batch_id):
        # a stateful batch must run (its stores commit) to complete
        batch.count()
        seen.append(sub.conf.get(key))

    try:
        inbox = f"{d}/inbox"
        os.makedirs(inbox)
        _land_events(inbox, 0, list(range(50)))
        q = streaming.foreach_batch_sink(
            _event_stream(sub, inbox), sink, f"{d}/ckpt", "append"
        )
        q.awaitTermination()
        assert seen and set(seen) == {str(cores + 3)}
        assert sub.conf.get(key) == str(cores + 3)
        assert _conf_of(f"{d}/ckpt", 0)[key] == str(cores)
        stores = [
            op["numStateStoreInstances"]
            for p in q.recentProgress for op in p.stateOperators
            if p.numInputRows > 0
        ]
        assert stores and set(stores) == {cores}

        name, mq = streaming.to_memory_sink(
            _event_stream(sub, inbox), output_mode="append"
        )
        mq.awaitTermination()
        assert sub.conf.get(key) == str(cores + 3)
        assert sub.table(name).count() == 50
        assert {
            op.numStateStoreInstances
            for p in mq.recentProgress for op in p.stateOperators
            if p.numInputRows > 0
        } == {cores}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_restart_keeps_checkpointed_state_partitions(spark):
    """A checkpoint begun with more state partitions than cores keeps
    its count when foreach_batch_sink restarts it (Spark restores it
    from the offset log), and the dedup stays exactly-once across the
    restart: every id lands once, none replays, and a duplicate of an
    id from before the restart is still dropped."""
    cores = spark.sparkContext.defaultParallelism
    begun = 2 * cores
    key = "spark.sql.shuffle.partitions"
    d = tempfile.mkdtemp(prefix="per_core_restart_")
    out: list[int] = []

    def sink(batch, batch_id):
        out.extend(r.event_id for r in batch.select("event_id").collect())

    try:
        inbox, ckpt = f"{d}/inbox", f"{d}/ckpt"
        os.makedirs(inbox)
        _land_events(inbox, 0, list(range(40)))
        first = spark.newSession()
        first.conf.set(key, str(begun))
        (
            _event_stream(first, inbox, watermark=False)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        assert _conf_of(ckpt, 0)[key] == str(begun)
        # ids 30..39 repeat from before the restart
        _land_events(inbox, 1, list(range(30, 60)))
        streaming.foreach_batch_sink(
            _event_stream(spark, inbox, watermark=False), sink, ckpt, "append"
        ).awaitTermination()
        assert _conf_of(ckpt, 1)[key] == str(begun)
        parts = {p for p in os.listdir(f"{ckpt}/state/0") if p.isdigit()}
        assert parts == {str(p) for p in range(begun)}
        assert sorted(out) == list(range(60))
    finally:
        shutil.rmtree(d, ignore_errors=True)
