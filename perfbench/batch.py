"""The closed-loop ``sql_tpch`` workload.

One client runs the 22 TPC-H registry rows in a seed-permuted order per
pass, after three untimed warm-up queries: timed passes until the timed work
reaches ``--seconds``, at least one. A job is
``REGISTRY[name].fn(spark, sf_dir)`` (the build) followed by an Arrow collect
of the result (the execute). Each collected result is compared with the
job's DuckDB oracle outside the timed region, and cached tables and
persisted RDDs are dropped between jobs.
"""

from __future__ import annotations

import random
import time

from . import harness, metrics
from .tracing import COUNTERS, ENGINE_COUNTERS, Tracer, add_counters

# untimed first queries, fixed: set-up for the JVM's first query shapes. A
# whole untimed pass took three times as long without steadier figures
WARMUP = ("q6_forecast_revenue", "q1_pricing_summary", "q3_shipping_priority")


def pass_orders(seed: int):
    """Endless seed-determined sequence of per-pass job orders."""
    rng = random.Random(f"sql_tpch:{seed}")
    while True:
        order = list(metrics.TPCH_ROWS)
        rng.shuffle(order)
        yield order


def run(r: harness.Run) -> dict:
    from big_data_project_implementation_spark import plans
    from big_data_project_implementation_spark.queries import REGISTRY
    from tools.check_correctness import compare, duck_connect

    spark = r.spark
    tracer = Tracer(spark, r.workload, r.trace)
    # warm-up: the JVM's first queries pay class loading and code-generation
    # set-up several times over
    t0 = time.perf_counter()
    for name in WARMUP:
        REGISTRY[name].fn(spark, r.data_dir).toPandas()
        harness.reset(spark)
    warmup_s = time.perf_counter() - t0

    duck = duck_connect(r.data_dir)
    oracle: dict = {}
    calls: list[dict] = []
    passes: list[float] = []
    failed = 0
    orders = pass_orders(r.seed)
    while not passes or sum(passes) < r.seconds:
        wall = 0.0
        with tracer.span(f"pass{len(passes)}") as pspan:
            for name in next(orders):
                call = {"name": name, "ok": False}
                with tracer.span(name, pspan) as jspan:
                    try:
                        with tracer.span("build", jspan, engine=True) as b:
                            df = REGISTRY[name].fn(spark, r.data_dir)
                        with tracer.span("execute", jspan, engine=True) as e:
                            pdf = df.toPandas()
                        call["ok"] = True
                    except Exception as exc:  # a failed job is counted, not fatal
                        call["error"] = repr(exc)[:300]
                # the job's own time: build + execute, without the trace's
                # counter reads that follow each of them
                call["wall"] = jspan["end"] - jspan["start"] - jspan.get("overhead", 0.0)
                if call["ok"]:
                    call["build"] = b["end"] - b["start"]
                    call["execute"] = e["end"] - e["start"]
                    call["counters"] = add_counters(
                        dict(b.get("counters", {})), e.get("counters", {})
                    )
                    if r.trace:
                        call["shuffles"] = plans.count_shuffles(df)
                    if name not in oracle:
                        oracle[name] = duck.execute(REGISTRY[name].oracle).fetchdf()
                    call["ok"], call["check"] = compare(pdf, oracle[name])
                failed += not call["ok"]
                harness.reset(spark)
                wall += call["wall"]
                calls.append(call)
        passes.append(wall)
    duck.close()
    timed = sum(passes)

    result = {
        "attempted": len(calls),
        "failed": failed,
        "errors": [{k: c.get(k) for k in ("name", "error", "check")}
                   for c in calls if not c["ok"]][:5],
        "passes": [round(w, 4) for w in passes],
        "calls": [(c["name"], round(c["wall"], 3)) for c in calls],
        "get_session_s": r.get_session_s,
        "warmup_s": warmup_s,
        "end_to_end": {
            "setup_s": r.get_session_s + warmup_s,
            "throughput_per_s": len(calls) / timed,
        },
        "latency_samples": len(calls),
    }
    if r.trace:
        result["per_layer"] = _layers(r, calls, len(passes), timed, warmup_s, tracer)
        result["spans"] = tracer
    tracer.close()
    return result


def _layers(r, calls, n_pass, timed, warmup_s, tracer) -> dict:
    ok = [c for c in calls if "counters" in c]
    eng = dict.fromkeys(COUNTERS, 0)
    for c in ok:
        add_counters(eng, c["counters"])
    per = {k: v / n_pass for k, v in eng.items()}
    out = {
        "session.get_session_s": r.get_session_s,
        "session.warmup_s": warmup_s,
        "queries.build_s": sum(c["build"] for c in ok) / n_pass,
        "queries.execute_s": sum(c["execute"] for c in ok) / n_pass,
        "queries.latency_geomean_s": metrics.geomean([c["wall"] for c in calls]),
        "plans.shuffles": sum(c["shuffles"] for c in ok) / n_pass,
        "sources.scan_bytes": per["scan_bytes"],
        "sources.scan_records": per["scan_records"],
        "sources.write_bytes": per["write_bytes"],
        "engine.jobs_per_s": eng["jobs"] / timed,
        "engine.busy_frac": eng["executor_run_s"] / (timed * r.cpus),
        "bench.trace_overhead_frac": tracer.overhead_s / timed,
        "bench.latency_samples": len(calls),
        "engine.peak_rss_mb": harness.peak_rss_mb(r.spark),
    }
    out.update({f"engine.{k}": per[k] for k in ENGINE_COUNTERS})
    by_row: dict[str, list[float]] = {}
    for c in calls:
        by_row.setdefault(c["name"], []).append(c["wall"])
    for name, walls in by_row.items():
        out[f"queries.{name}_s"] = metrics.median(walls)
    return out
