"""Generic iterative graph dataflow over edge DataFrames.

Companion to the connected-components operator in ``dedup.py`` (the
alternating star algorithm): where CC answers "which docs form one
near-dup cluster", PageRank answers "which doc is the most central
member" — canonical-document selection inside a cluster, domain/link
authority over a crawl graph, influence over an interaction graph.

The reference ships no graph operator (GraphX is out of its surveyed
surface, SURVEY §7.4); both operators are beyond-reference
training-data-pipeline components built purely from joins + groupBys,
so Catalyst/AQE own the physical strategy at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) PageRank over the undirected graph given as a pair
    list (near-dup pairs, co-click pairs, hyperlinks-as-pairs).
    Undirected: each edge contributes mass in both directions, the
    standard symmetrization for similarity graphs.

    Power iteration, fixed ``iterations`` (8 rounds reaches ~1e-3 on
    graphs with damping 0.85; callers needing tighter tails raise it):

        r(v) <- (1-d)/N + d * sum_{u~v} r(u) / deg(u)

    Numerics (round 6, the repo's integer convention): rank state is a
    fixed-point BIGINT in 1e-12 units of total mass, contributions are
    integer floor divisions (``rq div deg``), and damping applies as
    an exact integer ratio (``damping`` quantized to 1/10000) — the
    whole iteration is integer arithmetic, bit-identical on any
    engine/partitioning, which is what lets graph_pagerank carry an
    unrolled SQL oracle. The floor divisions shave at most one 1e-12
    unit per edge per iteration off total mass — far below the 1e-3
    convergence scale of the fixpoint itself.

    Every node appearing in ``pairs`` gets a row; ranks over each
    connected component sum to that component's share of N (teleport
    is uniform), so within-cluster ranks are directly comparable for
    canonical-member selection.

    100 TB design: one join (ranks x edges on the source key) + one
    groupBy (destination key) per iteration — both hash-partitioned by
    node id, map-side combined; degrees come from one upfront groupBy.
    Rank state is localCheckpoint-ed every iteration to truncate the
    iterative lineage (swap for checkpoint() on a cluster if executor
    loss matters). Hub nodes cost their own degree, never a
    neighborhood materialization.
    """
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    n_nodes = deg.count()
    scale = 10**12
    d_num = int(round(damping * 10000))  # damping as an exact /10000 ratio
    t_q = ((10000 - d_num) * scale) // (10000 * n_nodes)
    ranks = deg.select("u", F.lit(scale // n_nodes).cast("long").alias("rq"))
    for _ in range(iterations):
        contribs = (
            sym.join(ranks, "u")
            .join(deg, "u")
            # integer floor division — `div`, not `/`: a double ratio's
            # floor can flip an ulp away from an integer; div cannot
            .select("v", F.expr("rq div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("mass"))
        )
        # left join keeps isolated-by-direction nodes (none in the
        # symmetrized graph, but the shape stays correct for directed
        # callers); missing mass means only teleport rank
        ranks = (
            deg.select("u")
            .join(contribs.withColumnRenamed("v", "u"), "u", "left")
            .select(
                "u",
                (
                    F.lit(t_q)
                    + F.expr(f"({d_num} * coalesce(mass, 0L)) div 10000")
                )
                .cast("long")
                .alias("rq"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("u").alias("id"), (F.col("rq") / F.lit(float(scale))).alias("rank")
    )


def co_occurrence_edges(
    df: DataFrame, group_col: str, node_col: str
) -> DataFrame:
    """Undirected co-occurrence edge list: nodes sharing a group
    (suppliers co-filling an order, users co-editing a doc, terms
    co-occurring in a window) get one canonical ``src < dst`` edge.

    Scale shape: distinct (group, node) first — membership dedup kills
    the multiplicity blowup — then a within-group self-join whose
    fan-out is bounded by group size squared. A power-law hub group
    WOULD blow up here, so real deployments cap or sample mega-groups;
    the fixture's groups (lineitems per order) are bounded by
    construction. Final distinct collapses parallel edges."""
    m = df.select(
        F.col(group_col).alias("g"), F.col(node_col).alias("n")
    ).distinct()
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.n") < F.col("b.n")))
        .select(F.col("a.n").alias("src"), F.col("b.n").alias("dst"))
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over a canonical (src < dst) edge list —
    the clustering-structure scalar every graph report leads with.

    The classic two-join formulation: wedges a-b-c from edges (a,b),
    (b,c), closed by probing (a,c). Canonical orientation (a < b < c
    throughout) counts each triangle exactly once AND bounds the wedge
    stream by out-degrees in the degree-ordered DAG — the standard
    skew-defense for triangle counting at scale. Joins are plain
    equi-joins; AQE picks broadcast vs shuffle per side."""
    ab = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Degree distribution of an undirected canonical edge list:
    (degree, n_nodes) rows. Two map-side-combined groupBys — endpoints
    union to (node, 1) partials, then degrees roll up; shuffle traffic
    is node- then degree-cardinality, never edge payloads."""
    ends = edges.select(F.col("src").alias("n")).unionAll(
        edges.select(F.col("dst").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count("*").cast("bigint").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("degree")
    )


#: Broadcast the node-state table in iterative graph sweeps when it has
#: at most this many rows: ~4M (node, label) longs is ~64 MB serialized
#: — comfortably within a typical executor broadcast budget — and
#: broadcasting the node-cardinality side removes the per-round shuffle
#: of the EDGE-cardinality side entirely (measured 1.4x on the sf0.1
#: co-purchase graph: 6.8s -> 4.9s for 6 sweeps). Above the threshold
#: the sweep falls back to a shuffled join, the only shape that scales
#: to billions of nodes; checkpointed scans report no stats, so AQE
#: cannot make this call itself — the operator knows n_nodes and does.
_BROADCAST_STATE_MAX_NODES = 4_000_000


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every node starts in its own community; each round a
    node adopts the most frequent label among its neighbors (ties →
    smallest label, making the whole run deterministic — the classic
    LPA tie-coin is the one thing that doesn't belong on a cluster).
    Returns (node, label) — topical grouping of a near-dup/co-click
    graph where connected components are too coarse (CC glues
    everything that touches; LPA splits loosely-bridged regions).

    100 TB design: per round, one join (labels × symmetrized edges on
    the source key) + one two-level groupBy (neighbor-label counts →
    per-node argmax via max_by) — all hash-partitioned on node id,
    map-side combined, no neighborhood materialization; hubs cost
    their degree in count rows, never a collect_list. When the node
    state fits ``_BROADCAST_STATE_MAX_NODES`` the label side is
    broadcast instead, and the edge table never shuffles at all. Label state is
    localCheckpoint-ed per round (same lineage discipline as
    ``pagerank``). Fixed ``iterations`` keeps the job graph static;
    LPA converges in a handful of sweeps on social/similarity graphs.

    Return contract: (node, label, converged) — ``converged`` is a
    constant boolean column, TRUE iff the FINAL sweep changed no
    label, in which case the returned labeling equals the previous
    round's and is therefore a synchronous-LPA fixed point. Out-of-band
    by design (round 7): the earlier in-band (-1, -1) sentinel row was
    a representable node id that downstream joins/aggregations could
    silently absorb as a phantom node; a flag column cannot be.

    The guard is FREE (the ``k_core`` discipline — its probe rides the
    final degree table): the final sweep's pre-aggregation stream gains
    one extra row per node carrying the node's own current label
    (a node-cardinality union into an edge-cardinality stream), so the
    final aggregation emits (new label, old label) together and
    convergence is a scalar bool_and over the already-checkpointed
    result — no extra edge join, no extra label-table join. An
    under-provisioned ``iterations`` still breaks an oracle hash match
    LOUDLY (the flag flips), never silently certifies: to certify a
    labeling that first becomes stable after n sweeps, register n+1
    iterations (the final sweep is then the no-op witness).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # NB: a repartition("v") before this checkpoint measures ~2x SLOWER
    # end-to-end — localCheckpoint scans report unknown partitioning to
    # Catalyst, so the join re-shuffles anyway and the upfront exchange
    # is pure overhead. On a real cluster, bucketed edge storage is the
    # way to make the per-round edge shuffle disappear.
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    # n_nodes is invariant across sweeps (every node keeps exactly one
    # label), so one cheap count on the checkpointed init decides the
    # join strategy for ALL rounds — see _BROADCAST_STATE_MAX_NODES.
    n_nodes = labels.count()
    bcast_state = n_nodes <= _BROADCAST_STATE_MAX_NODES
    # node-state tables are n_nodes rows; size their checkpointed
    # partitioning from that measured count (same discipline as
    # connected_components' _sized) so each sweep's broadcast build and
    # checkpoint don't churn through dozens of near-empty partitions —
    # capped at the inherited count, so huge graphs keep parallelism
    state_parts = max(1, min(labels.rdd.getNumPartitions(), n_nodes // 500_000 + 1))

    def _sized(state: DataFrame) -> DataFrame:
        if state.rdd.getNumPartitions() > state_parts:
            return state.coalesce(state_parts)
        return state

    labels = _sized(labels)

    def sweep(state: DataFrame, probe: bool = False) -> DataFrame:
        side = F.broadcast(state) if bcast_state else state
        neigh = sym.join(
            side.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        if not probe:
            # deterministic mode == the LPA argmax (most frequent
            # neighbor label, SMALLEST label on ties — pinned by
            # tests/test_graph.py): one hash aggregation with map-side
            # partial maps instead of the old two-level groupBy
            # (count per (node,label) → argmax per node), which paid a
            # second exchange per sweep (guide §2.4: two operations
            # keyed the same way should share one shuffle).
            return neigh.groupBy("node").agg(
                F.mode("label", True).alias("label")
            )
        # probe sweep: ride the node's OWN label through the same
        # aggregation (one node-cardinality row per node unioned into
        # the edge-cardinality neighbor stream — cost-free next to the
        # edge join) so old vs new label falls out of ONE groupBy pair.
        tagged = neigh.withColumn("own", F.lit(False)).unionByName(
            state.select("node", "label", F.lit(True).alias("own"))
        )
        counts = tagged.groupBy("node", "label").agg(
            F.sum(F.when(F.col("own"), 0).otherwise(1)).alias("c"),
            F.max(F.col("own")).alias("is_own"),
        )
        return counts.groupBy("node").agg(
            # FILTER keeps a label that appears ONLY as the node's own
            # (zero neighbor votes) out of the argmax
            F.expr(
                "max_by(label, struct(c, -label)) FILTER (WHERE c > 0)"
            ).alias("label"),
            F.max(F.when(F.col("is_own"), F.col("label"))).alias("old_label"),
        )

    # TWO plain sweeps compose lazily into each checkpointed plan
    # (round 14, guide §1.2): per materialization the loop paid one
    # checkpoint job whose wall at bench scale is job/planning floor,
    # not aggregation work, so halving the materializations halves
    # that floor. The final probe sweep always runs alone on a
    # checkpointed state: it reads its state twice (join side and own
    # labels), so composing it with the sweep before would inline that
    # edge-sized aggregation twice. Checkpoint placement is
    # semantics-free — the label state after N sweeps is identical
    # wherever lineage is cut (the unrolled per-sweep DuckDB oracle
    # hash-certifies every sweep either way).
    i = 0
    while i < iterations:
        if iterations - 1 - i >= 2:
            composed = sweep(sweep(labels))
            i += 2
        else:
            composed = sweep(labels, probe=(i == iterations - 1))
            i += 1
        labels = _sized(composed.localCheckpoint(eager=True))
    # convergence flag: scalar over the checkpointed final state — the
    # final sweep already carried each node's previous label alongside
    # the new one, so no extra edge sweep and no label-table join.
    flag = labels.agg(
        F.coalesce(
            F.bool_and(F.col("label") == F.col("old_label")), F.lit(True)
        ).alias("converged")
    )
    return (
        labels.select("node", "label")
        .crossJoin(F.broadcast(flag))
        .orderBy("node")
    )


def k_core(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by synchronous peeling (Batagelj-Zaversnik
    family, fixed-round distributed form): repeatedly delete every
    node whose degree in the SURVIVING subgraph is < ``k``. The
    standard link-graph denoiser — spam farms and orphan pages fall
    out of the 3-core; what survives is the densely-linked body.
    Returns (node, degree, converged) for nodes still alive after
    ``rounds`` peels, with their final in-core degree.

    A fixed ``rounds`` keeps the job graph static and the operator
    oracle-checkable (the SQL oracle unrolls the same rounds —
    LPA's discipline); peeling converges geometrically on power-law
    graphs. Convergence guard: peeling has converged iff NO surviving
    node's degree is still < k, so the final degree table doubles as
    the probe — ``converged`` is a constant boolean column (TRUE iff
    zero violations remain), making an under-provisioned ``rounds``
    break an oracle hash match LOUDLY instead of both engines agreeing
    on the same non-converged subgraph. Out-of-band by design
    (round 7): the earlier in-band (-1, -1) sentinel row was a
    representable node id a downstream join could absorb as a phantom
    node; a flag column cannot be. The probe is free (the final
    degrees are computed anyway; the flag is a scalar bool_and over
    them).

    100 TB design: per round, one map-side-combined degree count over
    surviving edges + one broadcast-friendly semi-join of edges
    against surviving nodes on EACH endpoint — all hash-partitioned
    on node id; edge state localCheckpoint-ed per round so lineage
    stays flat while the edge set shrinks monotonically."""
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    # the surviving-node set only shrinks, so the initial node count
    # bounds every round's semi-join side — one cheap count on the
    # checkpointed edges decides the strategy for ALL peels (measured
    # 1.3x on the sf0.1 co-purchase graph: 5.2s -> 3.9s for 6 peels);
    # see _BROADCAST_STATE_MAX_NODES for the scale fallback.
    bcast_alive = (
        sym.select("u").distinct().count() <= _BROADCAST_STATE_MAX_NODES
    )
    for _ in range(rounds):
        deg = sym.groupBy("u").agg(F.count("*").alias("d"))
        alive = deg.filter(F.col("d") >= k).select("u")
        if bcast_alive:
            alive = F.broadcast(alive)
        sym = (
            sym.join(alive, "u", "left_semi")
            .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    final_deg = sym.groupBy("u").agg(
        F.count("*").cast("bigint").alias("degree")
    ).localCheckpoint(eager=True)
    flag = final_deg.agg(
        F.coalesce(F.bool_and(F.col("degree") >= k), F.lit(True)).alias(
            "converged"
        )
    )
    return (
        final_deg.filter(F.col("degree") >= k)
        .select(F.col("u").alias("node"), "degree")
        .crossJoin(F.broadcast(flag))
        .orderBy("node")
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed_col: str = "id",
    max_dist: int = 20,
) -> DataFrame:
    """Multi-source BFS / reachability levels (round 8): shortest
    hop-distance from a seed set over an undirected edge list — the
    graph family's missing traversal primitive (PageRank ranks, LPA
    clusters, k-core filters; BFS answers "how far is everything from
    HERE", the contamination-spread / influence-radius question on
    the near-dup graph).

    Frontier expansion, the standard distributed BFS: each round is
    ONE id-keyed join (frontier → neighbors) + ONE anti-join (drop
    visited) + a distinct — work ∝ |frontier edges|, rounds = graph
    diameter (near-dup graphs: small), lineage truncated per round
    with eager localCheckpoints. Termination is the frontier going
    empty — the count that decides the loop IS the natural stop
    signal, not a bolted-on probe (the k_core/LPA free-probe
    discipline); ``max_dist`` bounds adversarial diameters. Returns
    (id, dist) for every reached node, dist exact — integers
    end-to-end, so the recursive-CTE oracle replays it verbatim."""
    sym = edges.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).unionByName(
        edges.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    )
    visited = seeds.select(
        F.col(seed_col).alias("id"), F.lit(0).cast("bigint").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, max_dist + 1):
        nxt = (
            frontier.join(sym, frontier["id"] == sym["u"], "inner")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(d).cast("bigint"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def link_prediction_jaccard(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    min_num: int = 1,
    min_den: int = 3,
    max_degree: int = 4096,
    hub_observation=None,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction (round 8): for every
    non-adjacent node pair sharing ≥1 neighbor, the Jaccard overlap
    of their neighbor sets — the classic "these two should probably
    be connected" signal (in the dedup setting: two docs that
    near-match the same third docs but not each other — candidate
    missed merges for entity resolution). Keeps pairs with
    jac ≥ min_num/min_den as an exact integer cross-multiply
    (``inter * den ≥ num * union`` — no float threshold).

    Plan shape: wedge enumeration through the shared neighbor (one
    self-join of the symmetric adjacency keyed on the MIDDLE node —
    the same shuffle pattern as triangle_count), then one groupBy per
    candidate pair; degrees broadcast back in. Work ∝ Σ deg(m)² over
    middle nodes — the wedge count, the known cost of any
    common-neighbor method.

    **Hub cap (round 9, the 100 TB guard):** wedge work is quadratic
    in MIDDLE-node degree, so one viral hub (a boilerplate family
    that survived dedup with degree 10⁵) costs 10¹⁰ wedge rows. The
    same lazy-cap discipline as the LSH ``max_bucket``: an in-plan
    window count over the wedge key ``u`` (no extra job, same
    exchange as the self-join) drops middle nodes with
    ``deg(u) > max_degree`` before enumeration, bounding per-hub
    work at max_degree². Capping is conservative: candidate pairs
    lose hub-mediated common neighbors, so ``inter`` undercounts
    through hubs and near-threshold hub-only pairs drop — the same
    recall trade every flood cap in this repo makes, and the right
    one (a 10⁵-degree "shared neighbor" carries no evidence two
    specific spokes match). Endpoint degrees ``uni`` stay TRUE
    degrees from the uncapped adjacency. Pass ``hub_observation``
    (a ``pyspark.sql.Observation``) to surface
    ``capped_postings`` / ``total_postings`` after an action, the
    ``flood_observation`` pattern from ``dedup.minhash_lsh_pairs``
    (same caveat: AQE's empty-relation propagation drops the
    CollectMetrics node if the overall result collapses to empty).
    Default 4096 exceeds every degree in the sf0.1 near-dup fixture
    (max observed 2933), so certified-oracle behavior is unchanged
    there while the cap still bounds adversarial graphs.

    Returns (id_a, id_b, inter, uni) with id_a < id_b, exact
    integers — fully SQL-replayable below the cap."""
    sym = edges.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).unionByName(
        edges.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    # lazy hub cap: in-plan window count on the wedge key — shares its
    # exchange with the self-join, so construction launches no jobs
    deg_w = Window.partitionBy("u")
    sized = sym.withColumn("_deg", F.count("*").over(deg_w))
    mid = sized.filter(F.col("_deg") <= max_degree).drop("_deg")
    mid_obs = mid
    if hub_observation is not None:
        # one plan position only: a CollectMetrics node in a
        # self-joined subtree appears twice and fails the run, so
        # only the left side of the wedge join observes (same rows)
        mid_obs = (
            sized.observe(
                hub_observation,
                F.sum((F.col("_deg") > max_degree).cast("long")).alias(
                    "capped_postings"
                ),
                F.count("*").alias("total_postings"),
            )
            .filter(F.col("_deg") <= max_degree)
            .drop("_deg")
        )
    # wedges: a -(m)- b with a < b, keyed on the middle node m
    wedge = (
        mid_obs.select(F.col("u").alias("m"), F.col("v").alias("a"))
        .join(mid.select(F.col("u").alias("m"), F.col("v").alias("b")), "m")
        .filter(F.col("a") < F.col("b"))
    )
    inter = wedge.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("inter")
    )
    adjacent = edges.select(
        F.least(F.col(id_a), F.col(id_b)).alias("a"),
        F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
    )
    cand = inter.join(adjacent, ["a", "b"], "left_anti")
    scored = (
        cand.join(deg.withColumnRenamed("u", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("u", "b"), "b")
        .withColumnRenamed("deg", "deg_b")
        .select(
            F.col("a"),
            F.col("b"),
            "inter",
            (F.col("deg_a") + F.col("deg_b") - F.col("inter")).alias("uni"),
        )
    )
    return (
        scored.filter(
            F.col("inter") * F.lit(min_den) >= F.lit(min_num) * F.col("uni")
        )
        .select(
            F.col("a").alias(id_a),
            F.col("b").alias(id_b),
            "inter",
            "uni",
        )
    )


def personalized_pagerank(
    pairs: DataFrame,
    seeds: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed_col: str = "id",
    iterations: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank (round 8): :func:`pagerank` with the
    teleport mass restricted to a seed set — rank becomes "relevance
    to THESE nodes" instead of global centrality (the
    random-walk-with-restart score behind related-item retrieval and
    seed-expansion labeling; pairs with :func:`bfs_levels`, which
    answers reachability where this answers affinity).

    Same integer fixed-point discipline as :func:`pagerank` (1e-12
    mass units, ``div`` floor contributions, /10000 damping) with two
    deltas: the restart vector is ``scale // |S|`` on seeds and 0
    elsewhere, and the per-round teleport term applies only to seed
    rows — both exact integers, so the unrolled SQL oracle replays
    the walk verbatim. Seeds outside the graph carry no edges and are
    dropped (teleport normalizes over in-graph seeds). Same plan
    shape per iteration: one id-keyed join + one map-side-combined
    groupBy, lineage checkpoint-truncated."""
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    seed_nodes = (
        seeds.select(F.col(seed_col).cast("long").alias("u"))
        .distinct()
        .join(deg.select("u"), "u", "left_semi")
        .withColumn("is_seed", F.lit(True))
        .localCheckpoint(eager=True)
    )
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is in the graph")
    scale = 10**12
    d_num = int(round(damping * 10000))
    t_q = ((10000 - d_num) * scale) // (10000 * n_seeds)
    base = deg.join(seed_nodes.select("u", "is_seed"), "u", "left")
    ranks = base.select(
        "u",
        F.when(F.col("is_seed"), F.lit(scale // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rq"),
    )
    for _ in range(iterations):
        contribs = (
            sym.join(ranks, "u")
            .join(deg, "u")
            .select("v", F.expr("rq div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            base.join(contribs.withColumnRenamed("v", "u"), "u", "left")
            .select(
                "u",
                (
                    F.when(F.col("is_seed"), F.lit(t_q)).otherwise(F.lit(0))
                    + F.expr(f"({d_num} * coalesce(mass, 0L)) div 10000")
                )
                .cast("long")
                .alias("rq"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("u").alias("id"),
        (F.col("rq") / F.lit(float(scale))).alias("rank"),
    )
