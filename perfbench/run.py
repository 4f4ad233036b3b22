"""Benchmark entry point.

    python3 perfbench/run.py --workload {sql_tpch,ingest_stream} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1`` (see perfbench/README.md). The line before it
carries the run's details (cores, driver heap, pass times, checks). With
``--trace 1`` the spans are written to ``.perfbench_work/spans-*.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.getcwd()
# run as a script, sys.path[0] is this directory; import the package from
# the checkout root instead, so no module here shadows a standard one
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path.pop(0)
sys.path.insert(0, ROOT)
from perfbench import harness, metrics  # noqa: E402

DEADLINE_S = 175


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    spec = metrics.load_spec()
    ap = argparse.ArgumentParser(description="perfbench: run one workload")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pkg = os.path.join(ROOT, "big_data_project_implementation_spark", "__init__.py")
    oracle = os.path.join(ROOT, "tools", "check_correctness.py")
    if not (os.path.isfile(pkg) and os.path.isfile(oracle)):
        print(f"perfbench: no engine to measure under {ROOT}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    run = harness.Run(ROOT, args.workload, args.seed % (1 << 63), args.seconds,
                      bool(args.trace))
    try:
        harness.prepare(run)
        harness.start_session(run)
        if args.workload == "ingest_stream":
            from perfbench import ingest as workload
        else:
            from perfbench import batch as workload
        res = workload.run(run)
        if run.trace:
            res.pop("spans").write(os.path.join(
                ROOT, harness.WORK_DIR, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        signal.alarm(0)
        harness.stop(run)

    if run.trace:
        layer = res["per_layer"]
        out = {m["name"]: {"value": layer.get(m["name"], 0), "unit": m["unit"]}
               for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end"]}
    detail = {k: v for k, v in res.items() if k not in ("end_to_end", "per_layer")}
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  cpus=run.cpus, driver_mem=run.mem, data_scale=harness.SCALE)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
