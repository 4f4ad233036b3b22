"""Synthetic fixture tables for the benchmark.

Writes the ten tables the query registry reads (``region`` ... ``embeddings``,
one parquet file each, see FIXTURES.md for the schemas) with the same column
types and value domains as the project's TPC-H-ish fixtures. The tables are a
pure function of ``(scale, TABLE_SEED)``: the benchmark seed never changes
them, it only drives job order and the stream's disorder and duplicates.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.14, 0.14, 0.15]
EMBED_DIM = 64
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def _days(lo: str, hi: str, rng: np.random.Generator, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + off).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def event_rows(rng: np.random.Generator, event_ids: np.ndarray, ts_us: np.ndarray,
               n_users: int) -> dict[str, np.ndarray]:
    """Column arrays of ``events`` rows with the given ids and times."""
    n = len(event_ids)
    value = np.round(np.minimum(rng.exponential(25.0, n), 490.0) + 0.01, 2)
    return {
        "event_id": event_ids.astype(np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": value,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }


def build_tables(scale: float) -> dict[str, pa.Table]:
    """All fixture tables at ``scale`` (1.0 = the TPC-H SF1 row counts)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", rng, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", rng, n_line),
    })
    ts = EVENTS_T0_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table(
        event_rows(rng, np.arange(n_ev), ts, max(150, n_cust // 10))
    )

    # documents: random word bags, 5% of them a near-duplicate (an earlier
    # document's text plus " dup") so the dedup operators find clusters
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    order = rng.permutation(n_docs)
    texts = [texts[j] for j in order]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def materialize(out_dir: str, scale: float) -> str:
    """Write the tables to ``out_dir`` unless a complete copy is there.

    The directory is built under a unique name and renamed into place, so
    an interrupted build never leaves a half-written fixture behind."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    stage = f"{out_dir}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(stage)
    try:
        for name, table in build_tables(scale).items():
            pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
        open(os.path.join(stage, "_SUCCESS"), "w").close()
        os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
        os.rename(stage, out_dir)
    except OSError:
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return out_dir

