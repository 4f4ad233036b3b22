"""Local replica of the driver's correctness gate.

For every query in the registry: run the Spark DataFrame and (when an
oracle exists) the DuckDB SQL at the same SF, then compare row count,
column names, and values (columns sorted by name, rows sorted by all
columns, exact match after normalization). Reports per-query PASS /
FAIL / RowsOnly.

Usage:
    python tools/check_correctness.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # Strict, driver-grade form: a float cell must NEVER
            # canonicalize to the same string as an int cell — the
            # driver's hasher distinguishes 2061 (BIGINT) from 2061.0
            # (float64), and collapsing them here is exactly how the
            # q12/text_pack_sequences HUGEINT oracle bugs slipped
            # through to the round-3 driver gate (VERDICT r3 #4).
            if v == int(v) and abs(v) < 1e15:
                return f"{int(v)}.0"
            s = f"{v:.9g}"
            # %.9g drops the point when 9 sig figs round to integral
            # (2061.0000000001 → "2061"); keep float-form everywhere
            return s if ("." in s or "e" in s or "n" in s) else s + ".0"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(canon(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
        if hasattr(v, "asDict"):  # pyspark Row (struct)
            d = v.asDict()
            return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(d.items())) + "}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if hasattr(v, "isoformat"):
            # plain date → midnight timestamp form so engines whose
            # pandas bridge widens DATE to datetime64 still compare equal
            iso = v.isoformat()
            return iso + "T00:00:00" if len(iso) == 10 else iso
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(canon)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> tuple[bool, str]:
    if len(spark_pdf) != len(duck_pdf):
        return False, f"row count {len(spark_pdf)} vs {len(duck_pdf)}"
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        return False, f"columns {s_cols} vs {d_cols}"
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if a.equals(b):
        return True, "ok"
    # first differing cell for debugging
    for c in a.columns:
        neq = a[c] != b[c]
        if neq.any():
            i = int(neq.idxmax())
            return False, f"col {c} row {i}: spark={a[c][i]!r} duck={b[c][i]!r}"
    return False, "unknown diff"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from big_data_project_implementation_spark import get_session
    from big_data_project_implementation_spark.queries import REGISTRY

    spark = get_session("check-correctness")
    con = duck_connect(args.sf_dir)

    names = args.names or list(REGISTRY)
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        if spec.oracle is None:
            n_rows_only += 1
            print(f"ROWS  {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            duck_pdf = con.execute(spec.oracle).fetchdf()
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue
        ok, msg = compare(spark_pdf, duck_pdf)
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            failures.append(name)
        print(f"{status}  {name}: {len(spark_pdf)} rows, {msg} ({time.time()-t0:.1f}s)")

    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
        f"of {len(names)} queries =="
    )
    if failures:
        print("failing:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
