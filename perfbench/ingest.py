"""The open-loop ``ingest_stream`` workload.

A separate generator process (``perfbench.streamgen``) lands event files
into a watched inbox. The engine runs

    streaming.read_file_stream(max_files_per_trigger=FILES_PER_BATCH)
      -> streaming.dedup_stream(["event_id"], "ts", WATERMARK_DELAY)
      -> streaming.foreach_batch_sink(MaterializedView("agg", ...).stream_gate)

with the default trigger; the gate writes a new version of the per-user
aggregate to the view store every micro-batch. A run has three phases:

1. set-up: the first files are landed and committed before the generator
   starts (the cold first batch);
2. open loop: the generator lands files at ``streamgen.RATE``, below what
   the engine clears, for ``streamgen.OPEN_FILES / RATE`` seconds. The first
   ``LATENCY_SKIP`` files warm the JIT; the rest give the event latencies;
3. drain: a backlog sized to about ``--seconds`` of work lands at once.
   Drain batches are full, so their rows per busy second (the throughput,
   a median over the batches) read how fast the engine clears files, not
   the offered rate.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from datetime import datetime

import numpy as np
import pandas as pd

from . import harness, metrics, streamgen
from .tracing import COUNTERS, ENGINE_COUNTERS, Tracer, add_counters

FILES_PER_BATCH = 4  # well above the 2-3 files that land during an open-loop batch
LATENCY_SKIP = 20  # open-loop files that only warm up: the JIT keeps speeding
# batches up for about 25 batches
DRAIN_BATCHES_PER_S = 0.8  # backlog size: about --seconds of drain batches
LATENCY_LIMIT_S = 60.0  # a file not committed this long after its schedule failed
SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string, gen_ts timestamp"
)


def _prepare(df):
    from pyspark.sql import functions as F

    return df.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v_micro"),
    )


def expected_view(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """The per-user aggregate over the distinct events the generator
    landed, computed without Spark."""
    ev = pd.concat(frames).drop_duplicates("event_id")
    v = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame({"user_id": ev["user_id"].to_numpy(), "v": v}).groupby("user_id")["v"]
    return pd.DataFrame({
        "n": g.size(), "sum": g.sum(), "min": g.min(), "max": g.max()
    }).reset_index()


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id. The file source logs each file under its
    own log offset; the checkpoint's offset log says which log offset each
    micro-batch ended at. A data-less batch repeats its predecessor's offset,
    so an offset belongs to the first batch that reached it."""
    batch_of: dict[int, int] = {}
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as fh:
                last = fh.read().strip().splitlines()[-1]
            off = int(json.loads(last)["logOffset"])
            batch_of[off] = min(int(name), batch_of.get(off, int(name)))
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    b = batch_of.get(int(e["batchId"]))
                    if b is not None:
                        out[os.path.basename(e["path"])] = b
    return out


def _committed(ckpt: str) -> set[int]:
    return {
        int(os.path.basename(p))
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if os.path.basename(p).isdigit()
    }


def _wait_committed(ckpt: str, files: list[str], deadline: float) -> bool:
    while time.time() < deadline:
        log, done = _source_log(ckpt), _committed(ckpt)
        if all(log.get(f, -1) in done for f in files):
            return True
        time.sleep(0.05)
    return False


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def run(r: harness.Run) -> dict:
    from big_data_project_implementation_spark import streaming
    from big_data_project_implementation_spark.operators.views import MaterializedView
    from tools.check_correctness import compare

    spark = r.spark
    tracer = Tracer(spark, r.workload, r.trace)
    inbox, staging = r.path("inbox"), r.path("staging")
    ckpt, view_dir = os.path.join(r.dir, "checkpoint"), os.path.join(r.dir, "view")
    gen_log = os.path.join(r.dir, "generator.json")

    mv = MaterializedView("agg", keys=["user_id"], value="v_micro")
    gate = mv.stream_gate(view_dir, prepare=_prepare)
    gate_calls: list[tuple[int, float, float]] = []

    def timed_gate(batch, batch_id: int) -> None:
        t0 = time.time()
        gate(batch, batch_id)
        gate_calls.append((batch_id, t0, time.time()))

    t0 = time.time()
    sdf = streaming.dedup_stream(
        streaming.read_file_stream(spark, inbox, schema=SCHEMA,
                                   max_files_per_trigger=FILES_PER_BATCH),
        ["event_id"], "ts", streamgen.WATERMARK_DELAY,
    )
    query = streaming.foreach_batch_sink(
        sdf, timed_gate, ckpt, output_mode="append", available_now=False
    )
    gen = None
    backlog = FILES_PER_BATCH * max(1, round(r.seconds * DRAIN_BATCHES_PER_S))
    try:
        landed = [
            streamgen.land_file(r.seed, k, time.time(), inbox, staging)
            for k in range(streamgen.FIRST_FILES)
        ]
        if not _wait_committed(ckpt, [f["file"] for f in landed], time.time() + 90):
            raise RuntimeError("the first files were not committed within 90 s")
        setup_s = time.time() - t0

        gen = subprocess.Popen(
            [sys.executable, "-m", "perfbench.streamgen", "--inbox", inbox,
             "--staging", staging, "--log", gen_log, "--seed", str(r.seed),
             "--count", str(streamgen.OPEN_FILES + backlog)],
            cwd=r.root,
        )
        gen.wait(timeout=streamgen.OPEN_FILES / streamgen.RATE + 60)
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(gen_log) as fh:
            generated = json.load(fh)
        landed += generated
        last_due = max(f["scheduled"] for f in generated) + LATENCY_LIMIT_S
        if _wait_committed(ckpt, [f["file"] for f in generated], last_due):
            # a batch reports its progress just after its commit (an idle
            # trigger's report may carry the same id earlier, without rows)
            want = set(_source_log(ckpt).values())
            while time.time() < last_due and not want <= {
                p.batchId for p in query.recentProgress if p.numInputRows > 0
            }:
                time.sleep(0.05)
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()

    # by batch id; an idle trigger's report carries the id of the batch that
    # follows it, so the batch's own (later) report replaces it
    progress = {p["batchId"]: p for p in map(json.loads, (p.json for p in query.recentProgress))}
    file_batch = _source_log(ckpt)
    done = _committed(ckpt)
    end_of = {
        b: _iso(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        for b, p in progress.items()
    }

    # every generated file must commit within the limit; the open-loop
    # files after the warm-up give the event latencies
    lat, weights, late_files, missing = [], [], 0, []
    for i, f in enumerate(generated):
        b = file_batch.get(f["file"])
        if b is None or b not in done or b not in end_of:
            late_files += 1
            missing.append((f["file"], b, b in done, b in end_of))
            continue
        dt = end_of[b] - f["scheduled"]
        late_files += dt > LATENCY_LIMIT_S
        if LATENCY_SKIP <= i < streamgen.OPEN_FILES:
            lat.append(dt)
            weights.append(f["rows"])

    def window(files):
        """Every batch from the first to the last one that committed one of
        ``files``, data-less batches included."""
        ids = [file_batch[f["file"]] for f in files if f["file"] in file_batch]
        return [b for b in sorted(progress) if ids and min(ids) <= b <= max(ids)]

    open_batches = window(generated[LATENCY_SKIP:streamgen.OPEN_FILES])
    drain_batches = window(generated[streamgen.OPEN_FILES:])
    # rows per busy second of each drain batch; the median leaves out the
    # last, partly filled batch
    drain_rate = [
        progress[b]["numInputRows"] / (progress[b]["durationMs"]["triggerExecution"] / 1e3)
        for b in drain_batches
    ]

    # correctness: the view against an independent aggregate, and the counts
    dedup_ops = [op for p in progress.values() for op in p.get("stateOperators", [])]
    dropped_wm = sum(op.get("numRowsDroppedByWatermark", 0) for op in dedup_ops)
    kept = sum(op.get("numRowsUpdated", 0) for op in dedup_ops)
    total_in = sum(p["numInputRows"] for p in progress.values())
    injected = sum(f["duplicates"] for f in landed)
    dups_dropped = total_in - kept - dropped_wm
    frames = [
        streamgen.file_events(r.seed, f["k"])[0].to_pandas() for f in landed
    ]
    view = mv.stream_read(spark, view_dir).toPandas()
    view_ok, view_msg = compare(view, expected_view(frames))
    checks = {
        "missing": missing,
        "drain_batches": [(b, progress[b]["numInputRows"],
                           progress[b]["durationMs"]["triggerExecution"])
                          for b in drain_batches],
        "view": view_msg,
        "dropped_by_watermark": dropped_wm,
        "duplicates_dropped": dups_dropped,
        "duplicates_injected": injected,
    }
    failed = late_files + (not view_ok) + (dropped_wm != 0) + (dups_dropped != injected)

    result = {
        "attempted": len(landed),
        "failed": min(failed, len(landed)),
        "checks": checks,
        "end_to_end": {
            "setup_s": r.get_session_s + setup_s,
            "throughput_per_s": metrics.median(drain_rate),
        },
        "latency_samples": sum(weights),
        "event_latency_p50_s": metrics.percentile(lat, 0.5, weights),
        "backlog_files": backlog,
    }
    if r.trace:
        result["per_layer"] = _layers(
            r, tracer, query, progress, window(generated[LATENCY_SKIP:]), open_batches,
            generated, file_batch, gate_calls, lat, weights, view_dir, landed,
            setup_s, checks,
        )
        result["spans"] = tracer
    tracer.close()
    return result


def _layers(r, tracer, query, progress, mbatches, open_batches, generated, file_batch,
            gate_calls, lat, weights, view_dir, landed, setup_s, checks) -> dict:
    dur = {b: progress[b]["durationMs"] for b in mbatches}
    med = lambda f: metrics.median([f(b) for b in mbatches])  # noqa: E731
    end = lambda b: _iso(progress[b]["timestamp"]) + dur[b]["triggerExecution"] / 1e3  # noqa: E731
    # one span per measured batch, with the stage counters of its jobs
    eng = dict.fromkeys(COUNTERS, 0)
    t0 = time.time()
    by_batch: dict[int, list[dict]] = {}
    if tracer.rest:
        for j in tracer.rest.get("/jobs") or ():
            desc = j.get("description") or ""
            if j.get("jobGroup") == str(query.runId) and "batch = " in desc:
                b = int(desc.rsplit("batch = ", 1)[1].split()[0].rstrip(","))
                by_batch.setdefault(b, []).append(j)
    for b in mbatches:
        start = _iso(progress[b]["timestamp"])
        c = tracer.rest.counters(by_batch.get(b, []), start) if tracer.rest else {}
        add_counters(eng, c)
        tracer.record(f"batch{b}", start, start + dur[b]["triggerExecution"] / 1e3,
                      counters=c, rows=progress[b]["numInputRows"])
    for b, s, e in gate_calls:
        if b in dur:
            tracer.record(f"gate{b}", s, e)
    tracer.overhead_s += time.time() - t0

    busy = sum(d["triggerExecution"] for d in dur.values()) / 1e3
    # the open-loop latency window: how busy, and the backlog at each batch
    # start (open-loop files landed but not yet in a batch)
    open_busy = sum(dur[b]["triggerExecution"] for b in open_batches) / 1e3
    open_window = end(open_batches[-1]) - _iso(progress[open_batches[0]]["timestamp"])
    backlog = [
        sum(1 for f in generated[:streamgen.OPEN_FILES]
            if f["landed"] <= _iso(progress[b]["timestamp"])
            and file_batch.get(f["file"], 1 << 60) >= b)
        for b in open_batches
    ]
    ops = {b: progress[b].get("stateOperators", [{}])[0] for b in mbatches}
    gates = {b: e - s for b, s, e in gate_calls if b in dur}
    versions = sorted(glob.glob(os.path.join(view_dir, "v=*")),
                      key=lambda p: int(p.rsplit("=", 1)[1]))
    store = _dir_bytes(view_dir)
    in_bytes = sum(f["bytes"] for f in landed)
    return {
        "session.get_session_s": r.get_session_s,
        "session.warmup_s": setup_s,
        "sources.scan_bytes": eng["scan_bytes"],
        "sources.scan_records": eng["scan_records"],
        "sources.write_bytes": eng["write_bytes"],
        "sources.write_amp": store / in_bytes,
        **{f"engine.{k}": eng[k] for k in ENGINE_COUNTERS},
        "engine.jobs_per_s": eng["jobs"] / busy,
        "engine.busy_frac": eng["executor_run_s"] / (busy * r.cpus),
        "streaming.batches": len(mbatches),
        "streaming.batch_p50_s": med(lambda b: dur[b]["triggerExecution"] / 1e3),
        "streaming.event_latency_p50_s": metrics.percentile(lat, 0.5, weights),
        "streaming.event_latency_p90_s": metrics.percentile(lat, 0.9, weights),
        "streaming.source_s": med(
            lambda b: (dur[b].get("latestOffset", 0) + dur[b].get("getBatch", 0)) / 1e3),
        "streaming.planning_s": med(lambda b: dur[b].get("queryPlanning", 0) / 1e3),
        "streaming.sink_s": med(lambda b: dur[b].get("addBatch", 0) / 1e3),
        "streaming.log_commit_s": med(
            lambda b: (dur[b].get("walCommit", 0) + dur[b].get("commitOffsets", 0)) / 1e3),
        "streaming.busy_frac": open_busy / open_window,
        "streaming.backlog_files_max": max(backlog),
        "streaming.state_rows": ops[mbatches[-1]].get("numRowsTotal", 0),
        "streaming.state_memory_bytes": max(o.get("memoryUsedBytes", 0) for o in ops.values()),
        "streaming.state_commit_s": med(lambda b: ops[b].get("commitTimeMs", 0) / 1e3),
        "streaming.state_update_s": med(lambda b: ops[b].get("allUpdatesTimeMs", 0) / 1e3),
        "streaming.dropped_by_watermark": checks["dropped_by_watermark"],
        "streaming.duplicates_dropped": checks["duplicates_dropped"],
        "streaming.duplicates_injected": checks["duplicates_injected"],
        "views.gate_s": metrics.median(list(gates.values())),
        "views.state_bytes": _dir_bytes(versions[-1]) if versions else 0,
        "bench.generator_late_s": max(f["landed"] - f["scheduled"] for f in generated),
        "bench.trace_overhead_frac": tracer.overhead_s / busy,
        "bench.latency_samples": sum(weights),
        "engine.peak_rss_mb": harness.peak_rss_mb(r.spark),
    }
