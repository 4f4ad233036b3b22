"""The metric catalogue and the statistics the benchmark reports with.

Every run prints every end-to-end metric (untraced) or every per-layer
metric (traced) of the catalogue in BENCHMARK.json, whatever its workload;
a layer a workload never enters reads 0 there.
"""

from __future__ import annotations

import json
import math
import os
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SPEC_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)

TPCH_ROWS = (
    "q1_pricing_summary",
    "q2_min_price_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_value",
    "q12_priority_shipping",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_quantity_revenue",
    "q18_large_volume_customer",
    "q19_disjunctive_join",
    "q20_potential_promotion",
    "q21_waiting_orders",
    "q22_global_sales",
)



def load_spec(path: str = SPEC_PATH) -> dict:
    """BENCHMARK.json: the workloads, and every metric's name, unit and
    direction. It is the one copy of the metric catalogue."""
    with open(path) as fh:
        return json.load(fh)


MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A percentile was asked for with fewer than MIN_BEYOND samples above it."""


def percentile(values, q: float, weights=None) -> float:
    """The ``q`` quantile (0 < q < 1) of ``values``, by linear interpolation
    between order statistics; ``weights`` repeats each value that many times
    (row-weighted latency).

    Refuses unless at least ``MIN_BEYOND`` samples lie beyond the quantile's
    rank, so a reported tail is never one or two outliers."""
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    pairs = sorted(zip(values, weights if weights is not None else [1] * len(values)))
    n = sum(w for _, w in pairs)
    if n - math.ceil(q * n) < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {n - math.ceil(q * n)} beyond it;"
            f" needs {MIN_BEYOND}"
        )
    pos = q * (n - 1)
    lo, frac = int(pos), pos - int(pos)
    return _rank(pairs, lo) * (1 - frac) + _rank(pairs, min(lo + 1, n - 1)) * frac


def _rank(pairs, i: int) -> float:
    seen = 0
    for v, w in pairs:
        seen += w
        if i < seen:
            return float(v)
    raise IndexError(i)


def geomean(values) -> float:
    """Geometric mean: the TPC-H power test's summary of query times, which
    weighs a 10% change in a short query like one in a long query."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values) -> float:
    """Plain median of a layer's per-call figures (no sample-count rule:
    layer medians are not reported as latency percentiles)."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0
