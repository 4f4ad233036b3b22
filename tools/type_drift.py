"""Dtype sweep: for every oracled query, compare the Spark result
schema against the DuckDB result dtypes WITHOUT looking at values —
this catches int-vs-float oracle drift even for queries whose result
is EMPTY at the probe SF (where the value compare is vacuous). The
round-3 q12/text_pack_sequences HUGEINT bugs were exactly this class.

Usage: python tools/type_drift.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import duck_connect  # noqa: E402

_INT = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"}
_FLOAT = {"float32", "float64"}


def kind(dtype_name: str) -> str:
    d = dtype_name.lower()
    if d in _INT:
        return "int"
    if d in _FLOAT:
        return "float"
    if d.startswith("datetime"):
        return "ts"
    return "other"


def spark_kind(dt: str) -> str:
    d = dt.lower()
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "other"
    if d.startswith("timestamp") or d == "date":
        return "ts"
    return "other"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from big_data_project_implementation_spark import get_session
    from big_data_project_implementation_spark.queries import REGISTRY

    spark = get_session("type-drift")
    con = duck_connect(args.sf_dir)

    n_flag = n_empty = 0
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            sdf = spec.fn(spark, args.sf_dir)
            s_kinds = {f.name: spark_kind(f.dataType.simpleString()) for f in sdf.schema}
            n_spark = sdf.count()
            duck: pd.DataFrame = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {str(e)[:120]}")
            n_flag += 1
            continue
        if n_spark == 0 and len(duck) == 0:
            n_empty += 1
        drift = []
        for col in duck.columns:
            if col not in s_kinds:
                drift.append(f"{col}: missing on spark side")
                continue
            dk, sk = kind(duck[col].dtype.name), s_kinds[col]
            # nullable-int → float64 widening in pandas affects only
            # the DuckDB side; treat duck-float-vs-spark-int as drift
            # ONLY when the duck column has no NULLs (else it's the
            # pandas bridge, symmetric with Spark's own toPandas)
            if dk == "float" and sk == "int" and not duck[col].isna().any():
                drift.append(f"{col}: duck float64 vs spark int (q12-class)")
            elif dk == "int" and sk == "float":
                drift.append(f"{col}: duck int vs spark float")
        if drift:
            n_flag += 1
            flag = " EMPTY-AT-SF" if n_spark == 0 else ""
            print(f"DRIFT {name}{flag}: {'; '.join(drift)}")
    print(
        f"\n== {n_flag} flagged, {n_empty} empty-at-this-SF of "
        f"{sum(1 for s in REGISTRY.values() if s.oracle)} oracled queries =="
    )
    return 1 if n_flag else 0


if __name__ == "__main__":
    raise SystemExit(main())
