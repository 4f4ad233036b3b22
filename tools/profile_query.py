"""Profile one registry query: run it to the noop sink with the Spark
event log enabled, then summarize per-stage wall time, task time,
shuffle bytes and row counts from the log (guide §1: measure first).

Usage:
    python tools/profile_query.py [--sf-dir /root/testdata/sf0.1] [--passes 2] name
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="sparkev_")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from big_data_project_implementation_spark import get_session
    from big_data_project_implementation_spark.queries import REGISTRY

    spark = get_session(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    def run(name: str) -> float:
        df = REGISTRY[name].fn(spark, args.sf_dir)
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        return dt

    # warmup pass for JVM/codegen, then timed passes
    for name in args.names:
        walls = []
        for p in range(args.passes):
            t0 = time.time()
            wall_noop = run(name)
            walls.append((time.time() - t0, wall_noop))
        print(
            f"== {name}: build+exec wall per pass: "
            f"{['%.2f' % w for w, _ in walls]} (exec {['%.2f' % e for _, e in walls]})"
        )

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log: stage submit/complete times, shuffle bytes
    paths = []
    for f in os.listdir(evdir):
        full = os.path.join(evdir, f)
        if f.startswith(app_id):
            paths.append(full)
        elif f == f"eventlog_v2_{app_id}" and os.path.isdir(full):
            paths.extend(
                os.path.join(full, g)
                for g in sorted(os.listdir(full))
                if g.startswith("events_")
            )
    if not paths:
        print("no event log found", file=sys.stderr)
        return 1

    stages = {}
    jobs = {}
    stage_to_job = {}
    def lines():
        for p in paths:
            with open(p) as fh:
                yield from fh

    for line in lines():
            line = line.strip()
            if not line:
                continue
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # truncated trailing line in a live event log
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev.get("Submission Time", 0),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_to_job[sid] = jid
            elif e == "SparkListenerJobEnd":
                jobs.setdefault(ev["Job ID"], {})["t1"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                t0 = si.get("Submission Time")
                t1 = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:90],
                    "wall_ms": (t1 - t0) if t0 and t1 else 0,
                    "tasks": si.get("Number of Tasks", 0),
                    "job": stage_to_job.get(sid),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                agg = stages.setdefault(sid, {})
                agg["task_ms"] = agg.get("task_ms", 0) + m.get(
                    "Executor Run Time", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                agg["sh_read"] = (
                    agg.get("sh_read", 0)
                    + sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                )
                agg["sh_write"] = agg.get("sh_write", 0) + sw.get(
                    "Shuffle Bytes Written", 0
                )
                inp = m.get("Input Metrics") or {}
                agg["input"] = agg.get("input", 0) + inp.get("Bytes Read", 0)

    total_wall = sum(s.get("wall_ms", 0) for s in stages.values())
    print(f"\n{len(stages)} stages, {len(jobs)} jobs, sum stage wall {total_wall/1e3:.2f}s")
    print(f"{'stage':>5} {'wall_s':>7} {'task_s':>7} {'tasks':>5} {'shR_MB':>7} {'shW_MB':>7} {'in_MB':>7}  name")
    for sid, s in sorted(stages.items(), key=lambda kv: -kv[1].get("wall_ms", 0))[:40]:
        print(
            f"{sid:>5} {s.get('wall_ms',0)/1e3:7.2f} {s.get('task_ms',0)/1e3:7.2f} "
            f"{s.get('tasks',0):>5} {s.get('sh_read',0)/1e6:7.1f} {s.get('sh_write',0)/1e6:7.1f} "
            f"{s.get('input',0)/1e6:7.1f}  {s.get('name','')}"
        )
    # job-level gaps: time not covered by any stage (driver work)
    jtimes = sorted(
        (j.get("t0", 0), j.get("t1", 0), jid, j.get("desc", ""))
        for jid, j in jobs.items()
        if j.get("t0") and j.get("t1")
    )
    if jtimes:
        span = jtimes[-1][1] - jtimes[0][0]
        covered = sum(t1 - t0 for t0, t1, *_ in jtimes)
        print(f"\njobs span {span/1e3:.2f}s, job-covered {covered/1e3:.2f}s, gaps {(span-covered)/1e3:.2f}s")
        print(f"{'job':>4} {'wall_s':>7} {'gap_before_s':>12}")
        prev_end = None
        for t0, t1, jid, desc in jtimes:
            gap = (t0 - prev_end) / 1e3 if prev_end else 0.0
            prev_end = max(prev_end or t1, t1)
            print(f"{jid:>4} {(t1-t0)/1e3:7.2f} {gap:12.2f}  {desc[:60]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
