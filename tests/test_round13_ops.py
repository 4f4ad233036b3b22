"""Round 13: ADVICE r12 fixes + VERDICT r12 next-round items —
structural plan introspection, filtered maintained views, ATTACH,
join-view disk deployment, density-adaptive IVF-PQ refine."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_project_implementation_spark.operators.views import (
    MaterializedView,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _sqlcat(spark, **kw):
    from big_data_project_implementation_spark.operators.view_sql import (
        SqlViewCatalog,
    )

    return SqlViewCatalog(spark, **kw)


# -- VERDICT r12 what's-wrong #2: prose counts are generated ---------------


def test_readme_registry_count_matches_generator():
    """README's registry-count block is generated from the registry
    (tools/gen_queries_md.sync_readme) — the doc must equal the
    generator's output so the count can never drift again."""
    import tools.gen_queries_md as gs

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "README.md")) as fh:
        text = fh.read()
    assert gs.readme_counts_line() in text


# -- VERDICT r12 next #1: filtered derivations fold into maintenance -------


def test_sql_filtered_single_base_views(spark):
    """CREATE MATERIALIZED VIEW … WHERE <deterministic pred> for every
    single-base kind: σ_p commutes with key-local maintenance, so the
    predicate folds each delta/retract stream and the maintained view
    equals recomputing the WHERE'd defining query over the current
    base — including the ADVICE r12 case (a WHERE hidden inside the
    top-k inline subquery), which is now MAINTAINED, not dropped."""
    cat = _sqlcat(spark)
    rows = [(g, o, g * 10 + o) for g in (1, 2, 3) for o in range(1, 6)]
    base = spark.createDataFrame(rows, "g int, o int, v int")
    base.createOrReplaceTempView("r13_t")
    delta = spark.createDataFrame(
        [(1, 9, 18), (1, 8, 17), (4, 1, 41), (4, 2, 42)], "g int, o int, v int"
    )
    delta.createOrReplaceTempView("r13_d")
    merged = base.unionByName(delta)
    merged.createOrReplaceTempView("r13_m")

    # agg view over WHERE v % 2 = 0
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_fa AS SELECT g, COUNT(*) AS n,"
        " SUM(v) AS sum, MIN(v) AS min, MAX(v) AS max FROM r13_t"
        " WHERE v % 2 = 0 GROUP BY g"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_fa USING r13_d")
    want = spark.sql(
        "SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
        " MAX(v) AS max FROM r13_m WHERE v % 2 = 0 GROUP BY g"
    )
    assert _canon(spark.table("r13_fa")) == _canon(want)
    # retraction: the catalog filters BOTH the deleted rows and the
    # remaining base by the view's predicate before the repair
    dead = merged.filter("g = 1 AND o >= 8")
    dead.createOrReplaceTempView("r13_dead")
    merged.exceptAll(dead).createOrReplaceTempView("r13_rem")
    cat.sql(
        "ALTER MATERIALIZED VIEW r13_fa RETRACT USING r13_dead"
        " REMAINING r13_rem"
    )
    want2 = spark.sql(
        "SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
        " MAX(v) AS max FROM r13_m WHERE v % 2 = 0"
        " AND NOT (g = 1 AND o >= 8) GROUP BY g"
    )
    assert _canon(spark.table("r13_fa")) == _canon(want2)

    # distinct view over a predicate on a column OUTSIDE the output
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_fd AS SELECT DISTINCT g FROM r13_t"
        " WHERE o > 3"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_fd USING r13_d")
    assert _canon(spark.table("r13_fd")) == _canon(
        merged.filter("o > 3").select("g").distinct()
    )

    # the ADVICE r12 escape: WHERE inside the top-k subquery
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_ft AS SELECT g, o, v FROM"
        " (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, o)"
        " AS rn FROM r13_t WHERE v % 2 = 0) WHERE rn <= 2"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_ft USING r13_d")
    want_tk = spark.sql(
        "SELECT g, o, v FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g"
        " ORDER BY v DESC, o) AS rn FROM r13_m WHERE v % 2 = 0)"
        " WHERE rn <= 2"
    )
    assert _canon(spark.table("r13_ft")) == _canon(want_tk)

    # filtered window view
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_fw AS SELECT g, o, v,"
        " SUM(v) OVER (PARTITION BY g ORDER BY o, v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs"
        " FROM r13_t WHERE v % 2 = 0"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_fw USING r13_d")
    want_w = spark.sql(
        "SELECT g, o, v, SUM(v) OVER (PARTITION BY g ORDER BY o, v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs"
        " FROM r13_m WHERE v % 2 = 0"
    )
    assert _canon(spark.table("r13_fw")) == _canon(want_w)


def test_sql_filtered_join_views(spark):
    """One-sided predicates on join views: σ_p(a) ⋈ b == σ_p(a ⋈ b)
    when p references only a's columns — CREATE records the side and
    filters that side's deltas/retractions; the non-commuting shapes
    (full outer, right side of a left join, both-sides predicates,
    nondeterministic predicates) are refused."""
    cat = _sqlcat(spark)
    a = spark.createDataFrame(
        [(k, k * 2) for k in range(8)], "k int, av int"
    )
    b = spark.createDataFrame(
        [(k, k * 100) for k in range(0, 8, 2)], "k int, bv int"
    )
    a.filter("k < 6").createOrReplaceTempView("r13_ja")
    b.filter("k < 4").createOrReplaceTempView("r13_jb")
    a.filter("k >= 6").createOrReplaceTempView("r13_jda")
    b.filter("k >= 4").createOrReplaceTempView("r13_jdb")
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_fj AS SELECT * FROM r13_ja"
        " JOIN r13_jb USING (k) WHERE av % 4 = 0"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_fj USING r13_jda, r13_jdb")
    want = a.filter("av % 4 = 0").join(b, "k", "inner")
    assert _canon(spark.table("r13_fj")) == _canon(want)

    # LEFT join with a LEFT-side predicate maintains
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_fl AS SELECT * FROM r13_ja"
        " LEFT JOIN r13_jb USING (k) WHERE av % 4 = 0"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_fl USING r13_jda, r13_jdb")
    want_l = a.filter("av % 4 = 0").join(b, "k", "left")
    assert _canon(spark.table("r13_fl")) == _canon(want_l)

    # the shapes that do NOT commute as side filters maintain as
    # READ-TIME predicates over the unfiltered join state (round 13):
    # right side of a LEFT join, any predicate over a FULL join, a
    # both-sides predicate on an inner join
    for nm, q in {
        "fx1": "SELECT * FROM {a} LEFT JOIN {b} USING (k) WHERE bv > 0",
        "fx2": "SELECT * FROM {a} FULL JOIN {b} USING (k) WHERE av > 0",
        "fx3": "SELECT * FROM {a} JOIN {b} USING (k) WHERE av + bv > 300",
    }.items():
        cat.sql(
            f"CREATE MATERIALIZED VIEW {nm} AS "
            + q.format(a="r13_ja", b="r13_jb")
        )
        cat.sql(f"REFRESH MATERIALIZED VIEW {nm} USING r13_jda, r13_jdb")
        a.createOrReplaceTempView("r13_jfa")
        b.createOrReplaceTempView("r13_jfb")
        assert _canon(spark.table(nm)) == _canon(
            spark.sql(q.format(a="r13_jfa", b="r13_jfb"))
        ), nm

    # refusals: the genuinely unmaintainable shapes
    for stmt, msg in {
        "CREATE MATERIALIZED VIEW fx4 AS SELECT DISTINCT k FROM r13_ja"
        " WHERE rand() < 0.5": "nondeterministic",
        # ORDER BY over the view query: a maintained view is a table,
        # not an ordering — silently dropping the Sort would certify a
        # different query (the structural walk refuses unknown nodes)
        "CREATE MATERIALIZED VIEW fx6 AS SELECT DISTINCT k FROM r13_ja"
        " ORDER BY k": "cannot infer",
    }.items():
        with pytest.raises(ValueError, match=msg):
            cat.sql(stmt)

    # stacked filters over nested subqueries CONJOIN (σ_p2∘σ_p1)
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_fs AS SELECT DISTINCT k FROM"
        " (SELECT * FROM r13_ja WHERE av >= 4) WHERE k < 5"
    )
    spark.createDataFrame(
        [(1, 4), (4, 16), (5, 10)], "k int, av int"
    ).createOrReplaceTempView("r13_fsd")
    cat.sql("REFRESH MATERIALIZED VIEW r13_fs USING r13_fsd")
    # base k∈0..5 with av=2k: av>=4 ∧ k<5 → {2,3,4}; delta row (1,4)
    # passes both predicates and folds in; (5,10) is filtered out
    assert sorted(r["k"] for r in spark.table("r13_fs").collect()) == [
        1, 2, 3, 4,
    ]


# -- VERDICT r12 next #2: ATTACH rebinds a store, no recompute -------------


def test_sql_attach_rebinds_store_in_fresh_session(spark):
    """CREATE … STORED AT in one catalog; ATTACH in a catalog over a
    FRESH session (spark.newSession() — separate temp-view state)
    rebinds the store from its manifest without recomputation, REFRESH
    there maintains on disk, and the result hash-matches recompute.
    The optional AS clause verifies the manifest against a re-stated
    defining query and refuses disagreement."""
    root = tempfile.mkdtemp(prefix="mv_attach_")
    path = f"{root}/agg"
    try:
        base = spark.createDataFrame(
            [(g, v) for g in range(6) for v in (g, g + 3, g + 10)],
            "g int, v int",
        )
        base.createOrReplaceTempView("r13_at")
        cat = _sqlcat(spark)
        cat.sql(
            f"CREATE MATERIALIZED VIEW r13_av STORED AT '{path}' BUCKETS 8"
            " AS SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
            " MAX(v) AS max FROM r13_at WHERE v % 2 = 0 GROUP BY g"
        )
        fresh = spark.newSession()
        assert not fresh.catalog.tableExists("r13_at")  # truly fresh
        cat2 = _sqlcat(fresh)
        cat2.sql(f"ATTACH MATERIALIZED VIEW r13_re AT '{path}'")
        delta = fresh.createDataFrame([(1, 99), (1, 98), (7, 70)], "g int, v int")
        delta.createOrReplaceTempView("r13_ad")
        cat2.sql("REFRESH MATERIALIZED VIEW r13_re USING r13_ad")
        # the ATTACHed view keeps the FILTERED semantics (pred pinned
        # in the manifest): v=99 is odd and must not fold in
        merged = base.unionByName(
            spark.createDataFrame([(1, 99), (1, 98), (7, 70)], "g int, v int")
        ).filter("v % 2 = 0")
        want = merged.groupBy("g").agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sum"),
            F.min("v").alias("min"),
            F.max("v").alias("max"),
        )
        assert _canon(fresh.table("r13_re")) == _canon(want)
        # AS-clause verification: agreement passes, disagreement refuses
        fresh.createDataFrame([(0, 0)], "g int, v int").createOrReplaceTempView(
            "r13_axbase"
        )
        cat3 = _sqlcat(fresh)
        cat3.sql(
            f"ATTACH MATERIALIZED VIEW r13_ok AT '{path}' AS"
            " SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
            " MAX(v) AS max FROM r13_axbase WHERE v % 2 = 0 GROUP BY g"
        )
        with pytest.raises(ValueError, match="disagrees"):
            cat3.sql(
                f"ATTACH MATERIALIZED VIEW r13_bad AT '{path}' AS"
                " SELECT v, COUNT(*) AS n, SUM(g) AS sum, MIN(g) AS min,"
                " MAX(g) AS max FROM r13_axbase GROUP BY v"
            )
        # ATTACHing onto an existing name refuses
        with pytest.raises(ValueError, match="already exists"):
            cat2.sql(f"ATTACH MATERIALIZED VIEW r13_re AT '{path}'")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- VERDICT r12 next #4: bucketed disk deployment for join views ----------


def test_join_view_store_inner_semi_anti(spark):
    """materialize + apply_join_delta + apply_join_retract for the
    key-local join kinds: the store equals recompute after every verb,
    and emptied buckets disappear (anti flips can empty one)."""
    import glob

    root = tempfile.mkdtemp(prefix="mv_join_store_")
    a = spark.createDataFrame(
        [(k, f"a{k}", i) for k in range(8) for i in range(2)],
        "k int, av string, aid int",
    ).withColumn("aid", F.col("k") * 10 + F.col("aid"))
    b = spark.createDataFrame(
        [(k, k * 100) for k in range(0, 8, 2)], "k int, bv int"
    )
    a_old, da = a.filter("k < 6"), a.filter("k >= 6")
    b_old, db = b.filter("k < 4"), b.filter("k >= 4")
    a_new_full, b_new_full = a, b
    try:
        for kind in ("inner", "semi", "anti"):
            mv = MaterializedView(kind, on=["k"], broadcast_deltas=True)
            path = f"{root}/{kind}"
            mv.materialize(mv.compute(a_old, b_old), path, buckets=8)
            touched = mv.apply_join_delta(spark, path, a_old, da, b_old, db)
            assert touched  # some buckets rewritten
            got = sorted(
                tuple(r) for r in mv.read_materialized(spark, path).collect()
            )
            want = sorted(tuple(r) for r in mv.compute(a, b).collect())
            assert got == want, kind
            # retract: delete all b rows of k=2 (semi loses k=2 rows,
            # anti GAINS them) and the a rows of k=7
            ra = a.filter("k = 7")
            rb = b.filter("k = 2")
            a_new = a.exceptAll(ra)
            b_new = b.exceptAll(rb)
            mv.apply_join_retract(
                spark, path, retract_a=ra, retract_b=rb,
                a_new=a_new, b_new=b_new,
            )
            got2 = sorted(
                tuple(r) for r in mv.read_materialized(spark, path).collect()
            )
            want2 = sorted(tuple(r) for r in mv.compute(a_new, b_new).collect())
            assert got2 == want2, f"{kind} retract"
        # left/full refuse with the two-sided reason
        for kind in ("left", "full"):
            mv = MaterializedView(kind, on=["k"])
            with pytest.raises(ValueError, match="append-only streaming"):
                mv.materialize(mv.compute(a_old, b_old), f"{root}/bad")
        # single-base verbs refuse the join kinds
        mv = MaterializedView("inner", on=["k"])
        path = f"{root}/inner"
        with pytest.raises(ValueError, match="apply_join_delta"):
            mv.apply_delta(spark, path, da)
        with pytest.raises(ValueError, match="apply_join_retract"):
            mv.apply_retract(spark, path, da)
        # bare-id retract frames (no join key) refuse — buckets can't prune
        with pytest.raises(ValueError, match="full rows"):
            mv.apply_join_retract(
                spark, path,
                retract_a=a.select("aid"), retract_b=b.select("bv"),
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_join_view_store_keyed_retract(spark):
    """The keyed (row-id) inner retract on disk: the retract frames
    carry the join key for pruning, the ids drive the deletion."""
    root = tempfile.mkdtemp(prefix="mv_join_keyed_")
    try:
        a = spark.createDataFrame(
            [(k, 10 * k + i, f"a{k}{i}") for k in range(6) for i in range(2)],
            "k int, aid int, av string",
        )
        b = spark.createDataFrame(
            [(k, 100 * k + j, k * 7) for k in range(6) for j in range(2)],
            "k int, bid int, bv int",
        )
        mv = MaterializedView("inner", on=["k"], a_id="aid", b_id="bid")
        path = f"{root}/keyed"
        mv.materialize(mv.compute(a, b), path, buckets=8)
        ra = a.filter("aid = 31")
        rb = b.filter("bid = 401")
        mv.apply_join_retract(spark, path, retract_a=ra, retract_b=rb)
        got = sorted(
            tuple(r) for r in mv.read_materialized(spark, path).collect()
        )
        want = sorted(
            tuple(r)
            for r in mv.compute(
                a.filter("aid <> 31"), b.filter("bid <> 401")
            ).collect()
        )
        assert got == want
        # the manifest pins the keyed-retract ids: a rebind keeps the
        # keyed algebra, never silently downgrades to keyless
        mv2 = MaterializedView.from_materialized(spark, path)
        assert (mv2.a_id, mv2.b_id) == ("aid", "bid")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sql_stored_join_view_and_attach(spark):
    """CREATE … STORED AT over an INNER join maintains the view on the
    bucketed store by SQL verbs; ATTACH in a fresh session re-resolves
    the manifest-pinned side names and keeps maintaining."""
    root = tempfile.mkdtemp(prefix="mv_sql_join_store_")
    path = f"{root}/j"
    try:
        a = spark.createDataFrame(
            [(k, f"a{k}") for k in range(8)], "k int, av string"
        )
        b = spark.createDataFrame(
            [(k, k * 100) for k in range(0, 8, 2)], "k int, bv int"
        )
        a.filter("k < 6").createOrReplaceTempView("r13_sja")
        b.filter("k < 4").createOrReplaceTempView("r13_sjb")
        a.filter("k >= 6").createOrReplaceTempView("r13_sjda")
        b.filter("k >= 4").createOrReplaceTempView("r13_sjdb")
        cat = _sqlcat(spark)
        cat.sql(
            f"CREATE MATERIALIZED VIEW r13_sjv STORED AT '{path}' BUCKETS 8"
            " AS SELECT * FROM r13_sja JOIN r13_sjb USING (k)"
        )
        cat.sql("REFRESH MATERIALIZED VIEW r13_sjv USING r13_sjda, r13_sjdb")
        want = sorted(tuple(r) for r in a.join(b, "k").collect())
        assert sorted(tuple(r) for r in spark.table("r13_sjv").collect()) == want
        # fresh session: sides must be registered under the SAME names
        fresh = spark.newSession()
        a.createOrReplaceTempView("r13_sja")  # full, current bases
        b.createOrReplaceTempView("r13_sjb")
        for n, df in (("r13_sja", a), ("r13_sjb", b)):
            df.createOrReplaceTempView(n)
        cat2 = _sqlcat(fresh)
        fresh.createDataFrame(a.collect(), a.schema).createOrReplaceTempView(
            "r13_sja"
        )
        fresh.createDataFrame(b.collect(), b.schema).createOrReplaceTempView(
            "r13_sjb"
        )
        cat2.sql(f"ATTACH MATERIALIZED VIEW r13_sjv2 AT '{path}'")
        assert sorted(tuple(r) for r in fresh.table("r13_sjv2").collect()) == want
        # and maintenance continues there: retract k=2's b rows
        fresh.table("r13_sjb").filter("k = 2").createOrReplaceTempView("r13_rb")
        fresh.table("r13_sja").filter("1 = 0").createOrReplaceTempView("r13_ra")
        fresh.table("r13_sja").createOrReplaceTempView("r13_anew")
        fresh.table("r13_sjb").filter("k <> 2").createOrReplaceTempView("r13_bnew")
        cat2.sql(
            "ALTER MATERIALIZED VIEW r13_sjv2 RETRACT USING r13_ra, r13_rb"
            " REMAINING r13_anew, r13_bnew"
        )
        want2 = sorted(
            tuple(r) for r in a.join(b.filter("k <> 2"), "k").collect()
        )
        assert (
            sorted(tuple(r) for r in fresh.table("r13_sjv2").collect()) == want2
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- VERDICT r12 what's-wrong #1: IVF-PQ serving defaults are measured ------


def test_adaptive_refine_measured_defaults(spark):
    """The refine default is a MEASURED shortlist depth: the estimator
    computes, per sampled query, how deep the ADC ranking buries the
    exact top-k; build_ann_index persists the floor in _ANN_MANIFEST;
    ivfpq_topk_from_index defaults to the manifest value."""
    import json

    from big_data_project_implementation_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = sim.pq_codebooks(emb, m=8, k=32).localCheckpoint(eager=True)
    est = sim.adaptive_refine(emb, books, k=5)
    assert 4 <= est["refine"] <= 64
    assert est["shortlist_floor"] > 0 and est["sampled"] > 0
    # refine_for_k scales the floor to any serving depth, clamped
    assert sim.refine_for_k(est["shortlist_floor"], 1) >= est["refine"]
    assert sim.refine_for_k(10.0, 5) == 4 and sim.refine_for_k(1e6, 5) == 64

    root = tempfile.mkdtemp(prefix="ann_manifest_")
    try:
        sim.build_ann_index(emb, root, n_cells=16, m=8, n_codes=32)
        manifest = sim.read_ann_manifest(root)
        assert manifest is not None and manifest["shortlist_floor"] > 0
        qs = emb.filter(F.col("vec_id") < 3)
        # the default (None) resolves to the manifest's measured value:
        # identical rows to pinning that value explicitly
        auto = sim.ivfpq_topk_from_index(qs, emb, root, k=5, nprobe=4)
        pinned = sim.ivfpq_topk_from_index(
            qs, emb, root, k=5, nprobe=4,
            refine=sim.refine_for_k(manifest["shortlist_floor"], 5),
        )
        assert _canon(auto) == _canon(pinned)
        assert auto.groupBy("query_id").count().agg(
            F.max("count")
        ).first()[0] <= 5
        # an index with no manifest (pre-round-13) still gets a measured
        # default — the estimator runs inline at serve time
        os.remove(os.path.join(root, "_ANN_MANIFEST"))
        legacy = sim.ivfpq_topk_from_index(qs, emb, root, k=5, nprobe=4)
        assert legacy.count() > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- HAVING / output filters: read-time over unfiltered state --------------


def test_sql_having_and_output_filters(spark):
    """Filters over the view's OWN OUTPUT maintain as read-time
    predicates (round 13): HAVING in any spelling (raw aggregate or
    alias, or an outer WHERE over the aggregated subquery), output
    filters over distinct/window/top-k results — the maintained state
    stays UNFILTERED and the public projection applies σ_h, which is
    exactly where the filter sits in the defining query's plan. The
    predicate is pinned into the store manifest so ATTACH keeps it."""
    cat = _sqlcat(spark)
    rows = [(g, o, g * 10 + o) for g in (1, 2, 3) for o in range(1, 6)]
    spark.createDataFrame(rows, "g int, o int, v int").createOrReplaceTempView(
        "r13_ht"
    )
    spark.createDataFrame(
        [(1, 9, 19), (1, 8, 18), (4, 1, 41)], "g int, o int, v int"
    ).createOrReplaceTempView("r13_hd")
    spark.sql(
        "SELECT * FROM r13_ht UNION ALL SELECT * FROM r13_hd"
    ).createOrReplaceTempView("r13_hm")

    # HAVING over the raw aggregate (resolves to the n alias) + WHERE
    A = (
        "SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
        " MAX(v) AS max FROM {t} WHERE v %% 2 = 0 GROUP BY g"
        " HAVING COUNT(*) > %d"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_hv AS " + A.format(t="r13_ht") % 2)
    cat.sql("REFRESH MATERIALIZED VIEW r13_hv USING r13_hd")
    want = spark.sql(A.format(t="r13_hm") % 2)
    assert _canon(spark.table("r13_hv")) == _canon(want)
    assert spark.table("r13_hv").count() > 0  # non-vacuous

    # a RETRACT that drops a group back under the HAVING bound: the
    # unfiltered state keeps the group, the read filter hides it
    dead = spark.sql("SELECT * FROM r13_hm WHERE g = 1 AND o >= 4")
    dead.createOrReplaceTempView("r13_hdead")
    spark.sql(
        "SELECT * FROM r13_hm WHERE NOT (g = 1 AND o >= 4)"
    ).createOrReplaceTempView("r13_hrem")
    cat.sql(
        "ALTER MATERIALIZED VIEW r13_hv RETRACT USING r13_hdead"
        " REMAINING r13_hrem"
    )
    want2 = spark.sql(
        "SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
        " MAX(v) AS max FROM r13_hrem WHERE v % 2 = 0 GROUP BY g"
        " HAVING COUNT(*) > 2"
    )
    assert _canon(spark.table("r13_hv")) == _canon(want2)

    # distinct + outer WHERE over the distinct output
    D = "SELECT * FROM (SELECT DISTINCT g, o FROM {t}) WHERE o > 3"
    cat.sql("CREATE MATERIALIZED VIEW r13_hvd AS " + D.format(t="r13_ht"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_hvd USING r13_hd")
    assert _canon(spark.table("r13_hvd")) == _canon(
        spark.sql(D.format(t="r13_hm"))
    )

    # STORED + ATTACH: the post predicate survives the manifest
    root = tempfile.mkdtemp(prefix="mv_having_")
    try:
        cat.sql(
            f"CREATE MATERIALIZED VIEW r13_hs STORED AT '{root}/v'"
            " BUCKETS 8 AS " + A.format(t="r13_ht") % 2
        )
        fresh = spark.newSession()
        cat2 = _sqlcat(fresh)
        cat2.sql(f"ATTACH MATERIALIZED VIEW r13_hs2 AT '{root}/v'")
        fresh.createDataFrame(
            [(1, 9, 19), (1, 8, 18), (4, 1, 41)], "g int, o int, v int"
        ).createOrReplaceTempView("r13_hd2")
        cat2.sql("REFRESH MATERIALIZED VIEW r13_hs2 USING r13_hd2")
        assert _canon(fresh.table("r13_hs2")) == _canon(want)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_window_view_fn_family(spark):
    """Running windows over every touched-key-rewritable aggregate
    (round 13): SUM (round 12) plus COUNT(*)/COUNT(v)/MIN/MAX/AVG —
    maintenance re-windows whole touched keys, so the aggregate is a
    parameter of the rewrite, not a constraint. Each fn's refresh and
    a MAX retract hash-match recompute; fn survives the STORED
    manifest through ATTACH."""
    import tempfile as _tf

    cat = _sqlcat(spark)
    rows = [(g, o, g * 10 + o) for g in (1, 2, 3) for o in range(1, 6)]
    spark.createDataFrame(rows, "g int, o int, v int").createOrReplaceTempView(
        "r13_ft"
    )
    spark.createDataFrame(
        [(1, 9, 19), (2, 0, 3), (4, 1, 41)], "g int, o int, v int"
    ).createOrReplaceTempView("r13_fd")
    spark.sql(
        "SELECT * FROM r13_ft UNION ALL SELECT * FROM r13_fd"
    ).createOrReplaceTempView("r13_fm")
    for i, fn_sql in enumerate(
        ["COUNT(*)", "COUNT(v)", "MIN(v)", "MAX(v)", "AVG(v)"]
    ):
        Q = (
            f"SELECT g, o, v, {fn_sql} OVER (PARTITION BY g ORDER BY o, v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r"
            " FROM {t}"
        )
        nm = f"r13_fv{i}"
        cat.sql(f"CREATE MATERIALIZED VIEW {nm} AS " + Q.format(t="r13_ft"))
        cat.sql(f"REFRESH MATERIALIZED VIEW {nm} USING r13_fd")
        assert _canon(spark.table(nm)) == _canon(
            spark.sql(Q.format(t="r13_fm"))
        ), fn_sql
    # retract on the MAX window: deleting the key's max re-windows it
    spark.sql(
        "SELECT * FROM r13_fm WHERE g = 1 AND o = 9"
    ).createOrReplaceTempView("r13_fdel")
    cat.sql("ALTER MATERIALIZED VIEW r13_fv3 RETRACT USING r13_fdel")
    want = spark.sql(
        "SELECT g, o, v, MAX(v) OVER (PARTITION BY g ORDER BY o, v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r"
        " FROM (SELECT * FROM r13_fm WHERE NOT (g = 1 AND o = 9))"
    )
    assert _canon(spark.table("r13_fv3")) == _canon(want)
    # an unsupported window function still refuses with the list
    with pytest.raises(ValueError, match="running windows"):
        cat.sql(
            "CREATE MATERIALIZED VIEW r13_fbad AS SELECT g, o, v,"
            " STDDEV(v) OVER (PARTITION BY g ORDER BY o, v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r"
            " FROM r13_ft"
        )
    # fn survives the manifest through ATTACH
    root = _tf.mkdtemp(prefix="mv_fnattach_")
    try:
        cat.sql(
            f"CREATE MATERIALIZED VIEW r13_fst STORED AT '{root}/v'"
            " BUCKETS 8 AS SELECT g, o, v, MAX(v) OVER (PARTITION BY g"
            " ORDER BY o, v ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " CURRENT ROW) AS r FROM r13_ft"
        )
        fresh = spark.newSession()
        cat2 = _sqlcat(fresh)
        cat2.sql(f"ATTACH MATERIALIZED VIEW r13_fst2 AT '{root}/v'")
        assert cat2._views["r13_fst2"].mv.fn == "max"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sql_named_subquery_wraps(spark):
    """``FROM (SELECT …) s`` — NAMED inline subquery aliases are
    transparent (round 13): a SubqueryAlias whose child is a plan op
    (not a ``View`` node) passes through the walk above AND below the
    view node, with its qualifier stripped from the recorded SQL so
    maintenance streams re-resolve on the inner base's shape. A
    REGISTERED name remains an atomic base (deltas arrive shaped like
    it), distinguished structurally by the View node."""
    cat = _sqlcat(spark)
    rows = [(g, o, g * 10 + o) for g in (1, 2, 3) for o in range(1, 6)]
    spark.createDataFrame(rows, "g int, o int, v int").createOrReplaceTempView(
        "r13_wt"
    )
    spark.createDataFrame(
        [(1, 9, 19), (4, 1, 41)], "g int, o int, v int"
    ).createOrReplaceTempView("r13_wd")
    spark.sql(
        "SELECT * FROM r13_wt UNION ALL SELECT * FROM r13_wd"
    ).createOrReplaceTempView("r13_wm")

    # wrap ABOVE the view node: HAVING spelled via a named subquery
    Q1 = (
        "SELECT s.g, s.n FROM (SELECT g, COUNT(*) AS n, SUM(v) AS sum,"
        " MIN(v) AS min, MAX(v) AS max FROM {t} GROUP BY g) s"
        " WHERE s.n > 4"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_w1 AS " + Q1.format(t="r13_wt"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_w1 USING r13_wd")
    assert _canon(spark.table("r13_w1")) == _canon(
        spark.sql(Q1.format(t="r13_wm"))
    )

    # wrap BELOW the view node: derived column + filter inside, with
    # s-qualified references in the GROUP BY expression
    Q2 = (
        "SELECT s.d, COUNT(*) AS n, SUM(s.v) AS sum, MIN(s.v) AS min,"
        " MAX(s.v) AS max FROM (SELECT v % 5 AS d, v FROM {t}"
        " WHERE v > 12) s GROUP BY s.d"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_w2 AS " + Q2.format(t="r13_wt"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_w2 USING r13_wd")
    assert _canon(spark.table("r13_w2")) == _canon(
        spark.sql(Q2.format(t="r13_wm"))
    )

    # nested wraps compose
    Q3 = (
        "SELECT dd, COUNT(*) AS n, SUM(vv) AS sum, MIN(vv) AS min,"
        " MAX(vv) AS max FROM (SELECT d AS dd, v AS vv FROM"
        " (SELECT v % 4 AS d, v FROM {t}) s1) s2 GROUP BY dd"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_w3 AS " + Q3.format(t="r13_wt"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_w3 USING r13_wd")
    assert _canon(spark.table("r13_w3")) == _canon(
        spark.sql(Q3.format(t="r13_wm"))
    )

    # a REGISTERED derived view stays an atomic base
    spark.table("r13_wt").filter("g = 1").createOrReplaceTempView("r13_wf")
    out = cat.sql(
        "CREATE MATERIALIZED VIEW r13_w4 AS SELECT DISTINCT g FROM r13_wf"
    )
    assert [r["g"] for r in out.collect()] == [1]


def test_sql_qualifier_strip_is_literal_safe(spark):
    """Round-13 self-review regressions: (a) the qualifier strip must
    not rewrite string literals that happen to contain a side name
    followed by a dot; (b) the one-sided side filter must actually be
    EXTRACTED for the documented USING spelling (the analyzer's
    USING-merge Project sits between the WHERE and the Join — the
    state must shrink, not just the read)."""
    cat = _sqlcat(spark)
    c = spark.createDataFrame(
        [(1, "jc.x", 1), (2, "y", 2)], "k int, s string, cv int"
    )
    c.createOrReplaceTempView("jc")
    spark.createDataFrame([(1, 100), (2, 200)], "k int, bv int")\
        .createOrReplaceTempView("jb")
    c.filter("1=0").createOrReplaceTempView("r13_qea")
    spark.table("jb").filter("1=0").createOrReplaceTempView("r13_qeb")
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_qs AS SELECT * FROM jc JOIN jb"
        " USING (k) WHERE s <> 'jc.x'"
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_qs USING r13_qea, r13_qeb")
    assert _canon(spark.table("r13_qs")) == _canon(
        spark.sql("SELECT * FROM jc JOIN jb USING (k) WHERE s <> 'jc.x'")
    )
    # (b) the side filter is recorded (state-shrinking), not read-time
    h = cat._views["r13_qs"]
    assert h.meta.get("pred_side") == "a" and "s" in h.meta["pred_sql"]


def test_sql_derived_output_columns(spark):
    """Read-time PROJECTIONS over the maintained output (round 13):
    ``SELECT g, n, sum / n AS avg FROM (<mergeable state>)`` — derived
    aggregates (avg, ratios), renames, pruning and reordering all
    maintain by replaying the projection chain over the unfiltered
    state at read. Includes the bag-semantics fix: a projection over a
    DISTINCT subquery keeps one row per distinct TUPLE (duplicates in
    the projected column), never silently narrowing the dedup keys."""
    cat = _sqlcat(spark)
    rows = [(g, o, g * 10 + o) for g in (1, 2, 3) for o in range(1, 5)]
    spark.createDataFrame(rows, "g int, o int, v int").createOrReplaceTempView(
        "r13_pt"
    )
    spark.createDataFrame(
        [(1, 9, 19), (4, 1, 41)], "g int, o int, v int"
    ).createOrReplaceTempView("r13_pd")
    spark.sql(
        "SELECT * FROM r13_pt UNION ALL SELECT * FROM r13_pd"
    ).createOrReplaceTempView("r13_pm")

    # avg view: derived from the mergeable state at read
    A = (
        "SELECT g, n, sum / n AS avg, max - min AS spread FROM"
        " (SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
        " MAX(v) AS max FROM {t} GROUP BY g) WHERE n > 1"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_pv AS " + A.format(t="r13_pt"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_pv USING r13_pd")
    assert _canon(spark.table("r13_pv")) == _canon(
        spark.sql(A.format(t="r13_pm"))
    )
    assert spark.table("r13_pv").columns == ["g", "n", "avg", "spread"]

    # bag semantics: π_g over DISTINCT (g, o) keeps duplicates in g
    B = "SELECT g FROM (SELECT DISTINCT g, o FROM {t})"
    cat.sql("CREATE MATERIALIZED VIEW r13_pb AS " + B.format(t="r13_pt"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_pb USING r13_pd")
    got = sorted(r["g"] for r in spark.table("r13_pb").collect())
    want = sorted(r["g"] for r in spark.sql(B.format(t="r13_pm")).collect())
    assert got == want and len(got) > len(set(got))  # duplicates kept

    # join view with a projected/renamed output
    a = spark.createDataFrame([(k, k * 2) for k in range(6)], "k int, av int")
    b = spark.createDataFrame(
        [(k, k * 100) for k in range(0, 6, 2)], "k int, bv int"
    )
    a.createOrReplaceTempView("r13_pja")
    b.createOrReplaceTempView("r13_pjb")
    a.filter("1=0").createOrReplaceTempView("r13_pea")
    b.filter("1=0").createOrReplaceTempView("r13_peb")
    J = "SELECT k, av + bv AS total FROM {a} JOIN {b} USING (k)"
    cat.sql(
        "CREATE MATERIALIZED VIEW r13_pj AS "
        + J.format(a="r13_pja", b="r13_pjb")
    )
    cat.sql("REFRESH MATERIALIZED VIEW r13_pj USING r13_pea, r13_peb")
    assert _canon(spark.table("r13_pj")) == _canon(
        spark.sql(J.format(a="r13_pja", b="r13_pjb"))
    )

    # nondeterministic output columns refuse
    with pytest.raises(ValueError, match="nondeterministic"):
        cat.sql(
            "CREATE MATERIALIZED VIEW px1 AS SELECT g, n * rand() AS r FROM"
            " (SELECT g, COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min,"
            " MAX(v) AS max FROM r13_pt GROUP BY g)"
        )


# -- expression keys: π_e folds into maintenance like σ_p ------------------


def test_sql_expression_key_views(spark):
    """``GROUP BY date_trunc('day', ts)`` — the time-bucketed rollup —
    and computed DISTINCT columns maintain: deterministic scalar key
    expressions commute with key-local maintenance, so the catalog
    records the ordered derivation stages (filters AND computed
    columns) at CREATE and replays them over every delta/retract
    stream. Nondeterministic keys and unprojected computed keys are
    refused with the reason."""
    cat = _sqlcat(spark)
    rows = [
        (i, f"2024-01-{(i % 9) + 1:02d} 0{i % 7}:00:00", i * 7 % 50)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "k int, ts string, v long").selectExpr(
        "k", "cast(ts as timestamp) ts", "v"
    )
    df.filter("k % 3 != 0").createOrReplaceTempView("r13_et")
    df.filter("k % 3 = 0").createOrReplaceTempView("r13_ed")
    df.createOrReplaceTempView("r13_em")

    Q = (
        "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n, SUM(v) AS sum,"
        " MIN(v) AS min, MAX(v) AS max FROM {t} WHERE v % 2 = 0"
        " GROUP BY date_trunc('day', ts)"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_ev AS " + Q.format(t="r13_et"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_ev USING r13_ed")
    assert _canon(spark.table("r13_ev")) == _canon(
        spark.sql(Q.format(t="r13_em"))
    )
    dead = "k % 11 = 0"
    df.filter(dead).createOrReplaceTempView("r13_edead")
    df.filter(f"NOT ({dead})").createOrReplaceTempView("r13_erem")
    cat.sql(
        "ALTER MATERIALIZED VIEW r13_ev RETRACT USING r13_edead"
        " REMAINING r13_erem"
    )
    assert _canon(spark.table("r13_ev")) == _canon(
        spark.sql(Q.format(t="r13_erem"))
    )

    # computed DISTINCT columns (the derive stage lives in the Project
    # below Distinct) + an outer filter REFERENCING the derived column
    D = (
        "SELECT DISTINCT date_trunc('day', ts) AS d, v % 10 AS bucket"
        " FROM (SELECT * FROM {t}) WHERE v % 10 < 8"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_evd AS " + D.format(t="r13_et"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_evd USING r13_ed")
    assert _canon(spark.table("r13_evd")) == _canon(
        spark.sql(D.format(t="r13_em"))
    )

    # window and top-k views over a DERIVED partition key (full-width:
    # the maintained state is the transformed base + the window column)
    W = (
        "SELECT k, ts, v, vb, SUM(v) OVER (PARTITION BY vb ORDER BY k, v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs"
        " FROM (SELECT *, v % 5 AS vb FROM {t})"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_evw AS " + W.format(t="r13_et"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_evw USING r13_ed")
    assert _canon(spark.table("r13_evw")) == _canon(
        spark.sql(W.format(t="r13_em"))
    )
    T = (
        "SELECT k, ts, v, vb FROM (SELECT *, ROW_NUMBER() OVER"
        " (PARTITION BY vb ORDER BY v DESC, k) AS rn"
        " FROM (SELECT *, v % 5 AS vb FROM {t})) WHERE rn <= 2"
    )
    cat.sql("CREATE MATERIALIZED VIEW r13_evt AS " + T.format(t="r13_et"))
    cat.sql("REFRESH MATERIALIZED VIEW r13_evt USING r13_ed")
    assert _canon(spark.table("r13_evt")) == _canon(
        spark.sql(T.format(t="r13_em"))
    )

    # refusals: nondeterministic key; computed key not in the select list
    with pytest.raises(ValueError, match="nondeterministic"):
        cat.sql(
            "CREATE MATERIALIZED VIEW ex1 AS SELECT rand() AS r,"
            " COUNT(*) AS n, SUM(v) AS sum, MIN(v) AS min, MAX(v) AS max"
            " FROM r13_et GROUP BY rand()"
        )
    with pytest.raises(ValueError, match="must appear in the select list"):
        cat.sql(
            "CREATE MATERIALIZED VIEW ex2 AS SELECT COUNT(*) AS n,"
            " SUM(v) AS sum, MIN(v) AS min, MAX(v) AS max"
            " FROM r13_et GROUP BY date_trunc('day', ts)"
        )


def test_sql_expression_key_stored_attach(spark):
    """Expression-key views deploy and ATTACH: the derivation STAGES
    are pinned into the store manifest, so a fresh session's catalog
    keeps deriving the key on every delta — and the AS-clause
    verification compares the stages, refusing a different
    derivation."""
    root = tempfile.mkdtemp(prefix="mv_exprkey_")
    path = f"{root}/v"
    try:
        rows = [
            (i, f"2024-01-{(i % 9) + 1:02d} 03:00:00", i % 40)
            for i in range(90)
        ]
        df = spark.createDataFrame(
            rows, "k int, ts string, v long"
        ).selectExpr("k", "cast(ts as timestamp) ts", "v")
        df.createOrReplaceTempView("r13_est")
        cat = _sqlcat(spark)
        Q = (
            "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n,"
            " SUM(v) AS sum, MIN(v) AS min, MAX(v) AS max FROM {t}"
            " GROUP BY date_trunc('day', ts)"
        )
        cat.sql(
            f"CREATE MATERIALIZED VIEW r13_esv STORED AT '{path}'"
            " BUCKETS 8 AS " + Q.format(t="r13_est")
        )
        fresh = spark.newSession()
        cat2 = _sqlcat(fresh)
        cat2.sql(f"ATTACH MATERIALIZED VIEW r13_esv2 AT '{path}'")
        extra = [(900 + i, f"2024-02-0{i % 9 + 1} 01:00:00", i) for i in range(30)]
        fresh.createDataFrame(extra, "k int, ts string, v long").selectExpr(
            "k", "cast(ts as timestamp) ts", "v"
        ).createOrReplaceTempView("r13_esd")
        cat2.sql("REFRESH MATERIALIZED VIEW r13_esv2 USING r13_esd")
        merged = df.unionByName(
            spark.createDataFrame(extra, "k int, ts string, v long").selectExpr(
                "k", "cast(ts as timestamp) ts", "v"
            )
        )
        merged.createOrReplaceTempView("r13_esm")
        assert _canon(fresh.table("r13_esv2")) == _canon(
            spark.sql(Q.format(t="r13_esm"))
        )
        # AS-clause: the same derivation agrees; a different key
        # expression refuses (stages compared, alias-normalized)
        fresh.createDataFrame([(1, "2024-01-01 00:00:00", 2)],
                              "k int, ts string, v long").selectExpr(
            "k", "cast(ts as timestamp) ts", "v"
        ).createOrReplaceTempView("r13_esx")
        cat2.sql(
            f"ATTACH MATERIALIZED VIEW r13_ok AT '{path}' AS "
            + Q.format(t="r13_esx")
        )
        with pytest.raises(ValueError, match="disagrees"):
            cat2.sql(
                f"ATTACH MATERIALIZED VIEW r13_bad AT '{path}' AS "
                + Q.replace("'day'", "'month'").format(t="r13_esx")
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_save_restore(spark):
    """SqlViewCatalog.save writes the name→store bindings; restore in a
    fresh session ATTACHes everything in one call; in-memory views are
    recorded as skipped, never silently 'recovered'."""
    import json

    root = tempfile.mkdtemp(prefix="mv_catalog_")
    try:
        base = spark.createDataFrame(
            [(g, v) for g in range(4) for v in (g, g + 2)], "g int, v int"
        )
        base.createOrReplaceTempView("r13_ct")
        cat = _sqlcat(spark)
        cat.sql(
            f"CREATE MATERIALIZED VIEW r13_cv STORED AT '{root}/agg'"
            " BUCKETS 4 AS SELECT g, COUNT(*) AS n, SUM(v) AS sum,"
            " MIN(v) AS min, MAX(v) AS max FROM r13_ct GROUP BY g"
        )
        cat.sql(
            "CREATE MATERIALIZED VIEW r13_mem AS SELECT DISTINCT g FROM r13_ct"
        )
        saved = cat.save(root)
        assert saved == ["r13_cv"]
        with open(f"{root}/_MV_CATALOG") as fh:
            rec = json.load(fh)
        assert rec["skipped"] == ["r13_mem"]
        fresh = spark.newSession()
        cat2 = _sqlcat(fresh)
        assert cat2.restore(root) == ["r13_cv"]
        got = {r["g"]: r["n"] for r in fresh.table("r13_cv").collect()}
        assert got == {g: 2 for g in range(4)}
        # and the restored view keeps maintaining
        fresh.createDataFrame([(0, 9), (9, 1)], "g int, v int")\
            .createOrReplaceTempView("r13_cd")
        cat2.sql("REFRESH MATERIALIZED VIEW r13_cv USING r13_cd")
        got2 = {r["g"]: r["n"] for r in fresh.table("r13_cv").collect()}
        assert got2[0] == 3 and got2[9] == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
