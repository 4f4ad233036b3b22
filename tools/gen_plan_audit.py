"""Regenerate PLAN_AUDIT.md's fingerprint table from the SAME dicts
tests/test_plans.py asserts (VERDICT r6 #8: the hand-maintained table
drifted — 34 vs the pinned 33 exchanges for dedup_minhash_lsh; a
generated table cannot).

Usage: python tools/gen_plan_audit.py   # prints the markdown table
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fmt_joins(joins: tuple[str, ...]) -> str:
    if not joins:
        return "—"
    return " + ".join(
        f"{name.removesuffix('Join')}×{n}" for name, n in sorted(Counter(joins).items())
    )


def main() -> None:
    from tests.test_plans import (
        BENCH_PLAN_FINGERPRINTS,
        TPCH_PLAN_FINGERPRINTS,
    )

    print("| query | shuffles | joins |")
    print("|---|---|---|")
    for name, (shuffles, joins) in {
        **TPCH_PLAN_FINGERPRINTS,
        **BENCH_PLAN_FINGERPRINTS,
    }.items():
        print(f"| {name} | {shuffles} | {_fmt_joins(joins)} |")


if __name__ == "__main__":
    main()
