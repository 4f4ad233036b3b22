"""Generate (shuffle count, sorted join multiset) plan fingerprints
for every query in tests/test_plans.py's *_PLAN_FINGERPRINTS dicts
(the one list of pinned queries), or for the names given — the data
behind those dicts and PLAN_AUDIT.md's table, so docs and tests derive
from one source and cannot diverge (VERDICT r6 #1/#8).

Usage:
    python tools/gen_plan_fingerprints.py [--sf-dir /root/testdata/sf0.001] [names...]

Prints one python-dict-literal line per query. NB: building some DFs
executes work (iterative operators run behind localCheckpoints,
streams run to completion, the serve index builds lazily) — this is a
plan census, not a timing run.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct)"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from big_data_project_implementation_spark import get_session, plans
    from big_data_project_implementation_spark.queries import REGISTRY
    from tests.test_plans import (
        BENCH_PLAN_FINGERPRINTS,
        TPCH_PLAN_FINGERPRINTS,
    )

    spark = get_session("plan-fingerprints")
    names = args.names or [*TPCH_PLAN_FINGERPRINTS, *BENCH_PLAN_FINGERPRINTS]
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            plan = plans.physical_plan(df)
            fp = (
                plans.count_shuffles(df),
                tuple(sorted(JOIN_RE.findall(plan))),
            )
            print(f'    "{name}": {fp!r},', flush=True)
        except Exception as e:  # noqa: BLE001 — census must not abort
            print(f"    # {name}: ERROR {type(e).__name__}: {e}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
