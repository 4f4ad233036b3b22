"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-once designs:

- **exact**: hash-groupBy on a normalized fingerprint. One shuffle on
  the 64-bit hash; survivors picked deterministically (min id).
- **ngram-Jaccard**: exact similarity on shingle sets via a
  shingle-posting self-join. Exact but quadratic per shingle bucket —
  the correctness oracle for the approximate methods.
- **MinHash + LSH**: shingles → k minhashes → bands → bucket-join.
  Candidate pairs only collide within a band bucket, so the join is
  linear-ish in corpus size. The 100 TB path.
- **SimHash**: 64-bit weighted-feature hash; near-dups differ in few
  bits. Banded same way.
- **embedding near-dup**: cosine threshold over an embedding column
  (delegates to operators.similarity).

Everything is built from JVM-side expressions (split / transform /
xxhash64 / explode / groupBy) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _norm(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def norm_tokens(col: Column | str) -> Column:
    """THE normalized identity-bearing tokenizer for dedup compositions:
    lower → trim → collapse whitespace runs → single-space split.
    ``shingles`` (and through it jaccard/minhash/clusters/decontaminate)
    tokenizes with exactly this expression; any pipeline stage whose
    output identity depends on token boundaries (e.g. a dedup-prefix
    fingerprint composed with decontamination) must call THIS function
    rather than hand-rolling a split — `\\s+`-split vs single-space
    split silently diverge on tabs/newlines/space runs (round-6
    tokenization contract, COVERAGE.md)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.split(_norm(col), " ")


def _target_parallelism(df: DataFrame) -> int:
    """Cores-worth of partitions for CPU-heavy small-input stages.

    ``spark.sql.shuffle.partitions`` may be non-numeric on platforms
    with auto-optimized shuffle ('auto') — fall back to the scheduler's
    default parallelism rather than crash at plan-build time."""
    spark = df.sparkSession
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_parts = 0
    return max(spark.sparkContext.defaultParallelism, conf_parts)


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ONLY when the input is narrower than the core count
    (a single local parquet file or an AQE-coalesced exchange would
    otherwise run a CPU-bound chain single-threaded). Already-wide
    inputs — the 100 TB scan shape — pass through with no shuffle."""
    n_parts = _target_parallelism(df)
    if df.rdd.getNumPartitions() >= n_parts:
        return df
    return df.repartition(n_parts, *cols) if cols else df.repartition(n_parts)


def _hashed_postings(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, s, h) shingle postings: one xxhash64 per shingle string,
    explode_outer so empty docs keep a row (s null). Shared by the
    minhash/simhash signature aggregates."""
    return (
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
            "id",
        )
        .select("id", F.explode_outer(shingles("_t", k)).alias("s"))
        .select("id", "s", F.xxhash64("s").alias("h"))
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative of each normalized-text group.

    groupBy on the fingerprint (8 bytes) not the text itself — at 100 TB
    the shuffle moves hashes + ids, never document bodies."""
    fp = F.xxhash64(_norm(F.col(text_col))).alias("_fp")
    keep = (
        df.select(F.col(id_col), fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles as an array of strings (distinct)."""
    toks = norm_tokens(text)
    if k == 1:  # fast path: 1-shingles are the tokens themselves
        return F.array_distinct(toks)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
        )
    )


def _bitmask_set_pairs(
    sets: DataFrame,
    threshold: float,
    n_parts: int | None = None,
    nwords: int | None = None,
) -> DataFrame:
    """All-pairs exact Jaccard over distinct shingle sets for SMALL
    vocabularies: encode each set as a bitmask over the vocab (one
    bigint per 64 words), so intersection size is a popcount of ANDed
    longs — orders of magnitude cheaper per pair than array_intersect.

    This is the degenerate-corpus regime (template text, tiny/skewed
    vocab) where postings-based pruning is provably useless because
    every token is hot. u² pair evaluations at ~L machine ops each.

    ``sets``: (sid, sh: array<string>, n). Returns (sid_a, sid_b,
    jaccard) with jaccard >= threshold, computed with the same
    double-division the SQL oracle uses."""
    from pyspark.sql import Window

    posts = sets.select("sid", F.explode("sh").alias("shingle"))
    vocab = (
        posts.select("shingle")
        .distinct()
        .withColumn("vid", F.row_number().over(Window.orderBy("shingle")) - 1)
    )
    if nwords is None:
        nwords = vocab.count()  # exact; gated small by the caller
    L = (nwords + 63) // 64
    aggs = [
        F.expr(
            f"coalesce(bit_or(case when vid div 64 = {w} then "
            f"shiftleft(cast(1 as bigint), cast(vid % 64 as int)) end), "
            f"cast(0 as bigint))"
        ).alias(f"m{w}")
        for w in range(L)
    ]
    # keep the mask WORDS as flat bigint columns, never an array: the
    # popcount kernel below runs once per CANDIDATE PAIR (u²/2 rows),
    # and the old array form (zip_with + aggregate) is interpreted
    # (HigherOrderFunction = CodegenFallback) — measured 10x slower
    # than the codegen'd flat form on a 25M-row popcount stream
    # (guide §1/§4: the per-pair kernel is the stage; make it codegen).
    # L is bounded by the caller's vocab gate (<= 4096 → L <= 64).
    def _popsum(cols: list) -> Column:
        s = F.bit_count(cols[0]).cast("bigint")
        for c in cols[1:]:
            s = s + F.bit_count(c).cast("bigint")
        return s

    masks = (
        posts.join(F.broadcast(vocab), "shingle")
        .groupBy("sid")
        .agg(*aggs)
        .select(
            "sid",
            *[F.col(f"m{w}") for w in range(L)],
            _popsum([F.col(f"m{w}") for w in range(L)]).alias("n"),
        )
    )
    a = masks.select(
        F.col("sid").alias("sid_a"),
        *[F.col(f"m{w}").alias(f"ma{w}") for w in range(L)],
        F.col("n").alias("n_a"),
    )
    b = masks.select(
        F.col("sid").alias("sid_b"),
        *[F.col(f"m{w}").alias(f"mb{w}") for w in range(L)],
        F.col("n").alias("n_b"),
    )
    nc = _popsum(
        [F.col(f"ma{w}").bitwiseAND(F.col(f"mb{w}")) for w in range(L)]
    )
    len_ok = F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b")
    if n_parts:  # fan the u^2/2 popcount stream over every core
        a = a.repartition(n_parts)
    return (
        a.join(F.broadcast(b), (F.col("sid_a") < F.col("sid_b")) & len_ok)
        .withColumn("n_common", nc)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("sid_a", "sid_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    dense_max_sets: int = 100_000,
) -> DataFrame:
    """Exact Jaccard-similar pairs, set-canonicalized and strategy-adaptive.

    J(A,B) depends only on the shingle *sets*, so step 1 collapses docs
    with identical sets into groups (one shuffle keyed by the sorted
    array; set-id = min doc id). In dup-heavy corpora — the reason one
    runs dedup at all — this shrinks the quadratic core from n docs to
    u <= n distinct sets; identical-set doc pairs are emitted directly
    with J = 1.

    Step 2 compares distinct sets, choosing the physical strategy from
    the observed set count (same spirit as AQE's runtime re-planning):

    - **dense** (u <= dense_max_sets): broadcast nested-loop join with
      the length filter ``min(n_a,n_b) >= t*max(n_a,n_b)`` and exact
      ``array_intersect`` verification — no shuffle at all. Right when
      a postings join would explode (small/skewed vocabulary: every
      token is hot, nothing prunes).
    - **sparse** (u large — the 100 TB shape with a Zipfian vocab):
      AllPairs/PPJoin prefix filtering. Post only each set's
      ``n - ceil(t*n) + 1`` globally-rarest shingles (if J >= t the
      prefixes must share a token), join postings, verify candidates
      exactly. Linear-ish in corpus size; AQE skew-join splits any
      residual hot shingle.

    Step 3 expands set pairs back to doc pairs through the membership
    table (broadcast-sized relative to the output it generates).
    """
    from pyspark.sql import Window

    # canonicalize + compare HASHED shingles (8-byte longs), not the
    # shingle strings: set cardinalities and intersections are
    # hash-collision-exact w.h.p. (~n^2/2^64), array ops on fixed-width
    # longs run ~3x faster than on strings, and every downstream
    # shuffle/broadcast moves 8 bytes per token instead of ~20
    docs = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(
            F.transform(shingles(text_col, k), lambda s: F.xxhash64(s))
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    # the hash prefix key changes NOTHING semantically (a function of
    # sh added to the partition key keeps groups identical) but lets
    # the window's partition sort resolve almost every comparison on
    # 8 bytes instead of comparing full shingle arrays element-wise
    member = docs.withColumn(
        "sid",
        F.min("id").over(Window.partitionBy(F.xxhash64("sh"), F.col("sh"))),
    )
    member.cache()  # reused: sets, intra pairs, expansion joins
    sets = member.filter(F.col("id") == F.col("sid")).select(
        "sid", "sh", F.size("sh").alias("n")
    )

    len_ok = F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)

    a = sets.select(
        F.col("sid").alias("sid_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    b = sets.select(
        F.col("sid").alias("sid_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    if sets.count() <= dense_max_sets:  # cheap agg-only job, no data to driver
        # EXACT distinct vocab (the dense gate already bounds the
        # posting stream): one job that _bitmask_set_pairs reuses as
        # its word count instead of re-counting the same vocabulary
        vocab_est = (
            sets.select(F.explode("sh").alias("s")).distinct().count()
        )
        # the streamed side of the nested-loop would otherwise inherit
        # the (often AQE-coalesced, possibly single) upstream partition
        # count — u^2/2 array_intersect verifications must fan out over
        # every core, so rebalance the u-row side explicitly (cheap)
        n_parts = _target_parallelism(df)
        if vocab_est <= 4096:
            set_pairs = _bitmask_set_pairs(
                sets, threshold, n_parts, nwords=vocab_est
            )
        else:
            set_pairs = (
                a.repartition(n_parts)
                .join(F.broadcast(b), (F.col("sid_a") < F.col("sid_b")) & len_ok)
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("sid_a", "sid_b", "jaccard")
            )
    else:
        posts = sets.select(
            "sid", F.col("n").alias("n_sh"), F.explode("sh").alias("shingle")
        )
        freq = posts.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
        # global order = (set frequency asc, shingle) → rarest first
        w = Window.partitionBy("sid").orderBy("df_cnt", "shingle")
        pref_len = F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
        prefix = (
            posts.join(freq, "shingle")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= pref_len)
            .select("sid", "n_sh", "shingle")
        )
        cand = (
            prefix.alias("x")
            .join(
                prefix.alias("y"),
                (F.col("x.shingle") == F.col("y.shingle"))
                & (F.col("x.sid") < F.col("y.sid"))
                & (
                    F.least("x.n_sh", "y.n_sh")
                    >= F.lit(threshold) * F.greatest("x.n_sh", "y.n_sh")
                ),
            )
            .select(F.col("x.sid").alias("sid_a"), F.col("y.sid").alias("sid_b"))
            .distinct()
        )
        set_pairs = (
            cand.join(a, "sid_a")
            .join(b, "sid_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("sid_a", "sid_b", "jaccard")
        )

    intra = (
        member.alias("x")
        .join(
            member.alias("y"),
            (F.col("x.sid") == F.col("y.sid")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    ma = member.select(F.col("sid").alias("sid_a"), F.col("id").alias("ida"))
    mb = member.select(F.col("sid").alias("sid_b"), F.col("id").alias("idb"))
    inter = (
        set_pairs.join(ma, "sid_a")
        .join(mb, "sid_b")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(inter).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_signature(sh: Column, num_hashes: int = 64) -> Column:
    """Array of ``num_hashes`` min-hashes over a shingle array.

    Hash family: each shingle STRING is hashed once (xxhash64), then
    the family is seeded xxhash64 over that fixed-width long —
    re-hashing 8 bytes num_hashes times costs a fraction of re-hashing
    the variable-length string num_hashes times (Broder's
    one-hash-then-derive construction). JVM-side, no UDF.

    NOTE: this per-row expression form runs ``num_hashes`` interpreted
    higher-order passes over each shingle array. For batch corpora use
    ``minhash_signatures`` (explode + codegen'd min-aggregates) — same
    values, whole-stage-codegen speed; this form remains for contexts
    that need a single-column expression (e.g. streaming projections)."""
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    return F.array(
        *[
            F.array_min(F.transform(hashes, lambda h: F.xxhash64(h, F.lit(i))))
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, sig) per document via explode + one groupBy with
    ``num_hashes`` min-aggregates — value-identical to
    ``minhash_signature`` but JVM-codegen end to end.

    Scale shape: the shingle explode is map-local; partial (map-side)
    min-aggregation collapses each doc to one 64-long row BEFORE the
    single shuffle, so the exchange carries |docs| x 512 bytes, never
    the shingle postings. The interpreted-HOF form this replaces was
    ~10x slower at sf0.1 (num_hashes passes per row outside codegen).

    Docs with no shingles keep a row (explode_outer) with an all-null
    signature — identical to array_min over an empty array.

    Contract: ``id_col`` values must be unique — groupBy(id) would
    blend the shingles of two rows sharing an id into one fabricated
    signature (the per-row expression form emits one per row instead).
    Narrow inputs are spread across cores first (see ``_spread``)."""
    posts = _hashed_postings(df, text_col, id_col, k)
    # one string hash per posting; the family re-hashes the fixed-width
    # long, not the variable-length string, once per seed
    aggs = [
        F.min(
            F.when(F.col("s").isNotNull(), F.xxhash64("h", F.lit(i)))
        ).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return posts.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    min_band_collisions: int = 1,
    mode: str = "pairs",
    flood_observation=None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, then verified
    with the estimated Jaccard (signature agreement rate).

    ``flood_observation``: optional ``pyspark.sql.Observation`` — when
    given, the first action on the result reports ``flooded_postings``
    (rows dropped by the ``max_bucket`` cap) and ``total_postings``
    without any extra job; when None (default) the plan carries no
    CollectMetrics node. Construction itself NEVER launches a job
    (round 8 — the cap is an in-plan window, not an eager count).
    Caveat: if the WHOLE result collapses to empty, AQE's
    empty-relation propagation may drop the CollectMetrics node and
    ``Observation.get`` fails — read the metrics only from non-empty
    runs (tests/test_plans.py pins the working shape).

    ``min_band_collisions`` is the precision knob for near-threshold-
    dense corpora (SCALING.md): requiring a pair to collide in ≥m bands
    cuts the candidate set roughly by the m-th power of the per-band
    collision rate while true high-J pairs (per-band p = j^rows ≈ 1)
    are barely affected. The default 1 is classic LSH.

    bands=16 over 64 hashes → rows-per-band 4 → collision prob
    1-(1-j^4)^16 (≈0.98 at j=0.8). Only band buckets join, so the
    shuffle carries (band_hash → id) postings, never signatures of
    non-colliding docs.

    Two defenses against LSH's quadratic failure mode (giant near-dup
    clusters flooding a bucket — a 10× scale probe exposed this):

    - **signature canonicalization**: exact dups share the whole
      signature; collapse identical signatures first (sid = min id),
      bucket-join only distinct signatures, expand members afterwards
      (intra-group pairs emit est=1 directly). Exact-dup floods — the
      common real-corpus case — now cost O(group) not O(group²).
    - **bucket cap**: a (band,bucket) holding more than ``max_bucket``
      distinct signatures is skipped for that band (the flood is
      near-threshold impostors by construction; true high-J pairs
      still collide in their other bands). Skipped buckets are
      LOGGED via big_data_project_implementation_spark.operators.dedup logger — a capped run is
      visible, never silent.

    ``mode``: ``"pairs"`` (default) enumerates every verified pair —
    the REPORT shape (dup-pair listings, method-comparison metrics).
    ``"star"`` emits a verified SPANNING set instead — per (band,
    bucket) only (hub = min sid, other sid) edges, one edge per
    colliding sid pair, one member edge per doc — for the CLUSTERING
    consumer (``assign_dedup_clusters``), which needs connectivity,
    not enumeration. The difference is the 100 TB wall: a true
    near-dup family of f docs costs C(f,2) rows in pairs mode (the
    round-7 100× probe measured 749M verified pairs from ~40k-doc
    families — output-size quadratic by nature, OOMing the downstream
    closure) but O(f · bands) in star mode, at the price of dropping
    borderline member↔member links whose hub edge fails the estimate
    verify (hub→member estimates of true families sit at the family's
    true J, so connectivity loss is confined to near-threshold
    stragglers; the sf0.1 recall floor is pinned in pytest)."""
    if mode not in ("pairs", "star"):
        raise ValueError(f"mode must be 'pairs' or 'star', got {mode!r}")
    if mode == "star" and min_band_collisions > 1:
        # star candidates are (hub, sid) per band-bucket where the hub
        # is that BUCKET's min sid — the hub differs across bands, so a
        # per-pair band count no longer means "shared bands" and the
        # filter would silently under-count and over-prune (ADVICE r7)
        raise ValueError(
            "min_band_collisions > 1 is unsupported in star mode: hub "
            "identity varies per band, so per-pair collision counts do "
            "not measure shared bands; use mode='pairs' for that filter"
        )

    rows_per_band = num_hashes // bands
    all_sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col, k=k, num_hashes=num_hashes
    )
    # hash-prefix partition key: same groups (the hash is a function
    # of sig), but the partition sort compares 8 bytes first instead
    # of 64-element signature arrays
    member = all_sig.withColumn(
        "sid",
        F.min("id").over(Window.partitionBy(F.xxhash64("sig"), F.col("sig"))),
    )
    member.cache()  # reused: distinct sigs, intra pairs, expansion
    sig = member.filter(F.col("id") == F.col("sid")).select("sid", "sig")
    bands_df = sig.select(
        "sid",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # LAZY flood cap (VERDICT r7 #3): an in-plan window count over
    # (band, bucket) replaces the old eager `flooded.count()` job —
    # building the DataFrame now launches ZERO Spark jobs, and the
    # postings scan is no longer double-counted. The window shares its
    # partitioning with the star-mode hub window and the pairs-mode
    # self-join key, so AQE plans ONE exchange on (band, bucket) for
    # both. Flood visibility moved from a log line to the optional
    # ``flood_observation`` post-action metric below.
    flood_w = Window.partitionBy("band", "bucket")
    sized = bands_df.withColumn("_bsz", F.count("*").over(flood_w))
    bands_df = sized.filter(F.col("_bsz") <= max_bucket).drop("_bsz")
    bands_obs = bands_df
    if flood_observation is not None:
        # attach to ONE plan position only: a CollectMetrics node in a
        # self-joined subtree appears twice and fails the run, so the
        # pairs-mode join observes its left side only (same rows)
        bands_obs = sized.observe(
            flood_observation,
            F.sum((F.col("_bsz") > max_bucket).cast("long")).alias(
                "flooded_postings"
            ),
            F.count("*").alias("total_postings"),
        ).filter(F.col("_bsz") <= max_bucket).drop("_bsz")
    if mode == "star":
        # spanning edges only: every colliding sid links to its
        # bucket's min sid — O(bucket) rows, never O(bucket²)
        hub_w = Window.partitionBy("band", "bucket")
        cand = (
            bands_obs.withColumn("_hub", F.min("sid").over(hub_w))
            .filter(F.col("sid") != F.col("_hub"))
            .select(F.col("_hub").alias("sid_a"), F.col("sid").alias("sid_b"))
        )
    else:
        cand = (
            bands_obs.alias("x")
            .join(
                bands_df.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.sid") < F.col("y.sid")),
            )
            .select(F.col("x.sid").alias("sid_a"), F.col("y.sid").alias("sid_b"))
        )
    if min_band_collisions > 1:
        # one join row per shared (band, bucket) → count distinct bands
        cand = (
            cand.groupBy("sid_a", "sid_b")
            .agg(F.count("*").alias("_nb"))
            .filter(F.col("_nb") >= min_band_collisions)
            .select("sid_a", "sid_b")
        )
    else:
        cand = cand.distinct()
    sa = sig.select(F.col("sid").alias("sid_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("sid").alias("sid_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))
    set_pairs = (
        cand.join(sa, "sid_a")
        .join(sb, "sid_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("sid_a", "sid_b", "est_jaccard")
    )
    if mode == "star":
        # sid IS its group's min member id: one member edge per doc,
        # one edge per verified sid pair — the spanning set, no
        # member-product expansion anywhere
        intra = member.filter(F.col("id") != F.col("sid")).select(
            F.col("sid").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
        inter = set_pairs.select(
            F.col("sid_a").alias("id_a"),
            F.col("sid_b").alias("id_b"),
            "est_jaccard",
        )
    else:
        intra = (
            member.alias("x")
            .join(
                member.alias("y"),
                (F.col("x.sid") == F.col("y.sid")) & (F.col("x.id") < F.col("y.id")),
            )
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.lit(1.0).alias("est_jaccard"),
            )
        )
        ma = member.select(F.col("sid").alias("sid_a"), F.col("id").alias("ida"))
        mb = member.select(F.col("sid").alias("sid_b"), F.col("id").alias("idb"))
        inter = (
            set_pairs.join(ma, "sid_a")
            .join(mb, "sid_b")
            .select(
                F.least("ida", "idb").alias("id_a"),
                F.greatest("ida", "idb").alias("id_b"),
                "est_jaccard",
            )
        )
    return (
        intra.unionByName(inter)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def _md5long(col: Column) -> Column:
    """60-bit int from the first 15 md5 hex chars — the engine-portable
    hash primitive (sketch._bucket precedent): md5 exists in every SQL
    engine, so a pipeline built on it replays cell-for-cell in an
    external oracle. ~2x slower per hash than xxhash64 — certification
    variants only, never the production hot path."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_md5_signature(
    text: Column | str, k: int = 3, num_hashes: int = 8
) -> Column:
    """md5-family MinHash signature as ONE projection (array<long> of
    ``num_hashes`` minima over the doc's distinct k-shingles) — value-
    identical to ``minhash_md5_pairs``' explode+groupBy signature
    (pinned by pytest), but expressible where aggregation is not:
    per-row on a STREAM (the ingest near-dup gate computes arriving
    docs' signatures statelessly inside the micro-batch projection)
    and inside any codegen pipeline without an exchange. NULL text
    yields a NULL signature — callers filter, as the md5 family's
    NULL-contract requires."""
    sh = shingles(text, k)
    return F.array(
        *[
            F.array_min(
                F.transform(
                    sh, lambda s: _md5long(F.concat(F.lit(f"mh{i}:"), s))
                )
            )
            for i in range(num_hashes)
        ]
    )


def minhash_md5_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """(id, sig) md5-family MinHash signatures via explode + one
    groupBy with ``num_hashes`` min-aggregates — value-identical to
    :func:`minhash_md5_signature` (pinned by pytest) but whole-stage-
    codegen end to end, the same two-forms split as
    ``minhash_signature`` / ``minhash_signatures`` in the xxhash64
    family.

    Round 9: measured at 50k sf0.1 docs, the per-row HOF expression
    form costs 15.6s against this form's 2.9s — the interpreted
    ``transform``/``array_min`` passes, NOT the md5 function, are the
    cost (the md5→xxhash64 swap inside one form moves only ~1.1-1.35×).
    So certified md5 pipelines should aggregate signatures with THIS
    form wherever an exchange is available (batch corpora;
    foreachBatch bodies) and reserve the expression form for true
    single-column-projection contexts (stream-plan projections).

    Same contracts as the expression form: duplicate shingles cannot
    change a min; docs whose shingle array is null (NULL text) keep a
    row with an all-null signature via explode_outer; ``id_col`` must
    be unique. Narrow inputs are spread across cores first."""
    posts = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
        "id",
    ).select("id", F.explode_outer(shingles("_t", k)).alias("s"))
    aggs = [
        F.min(
            F.when(
                F.col("s").isNotNull(),
                _md5long(F.concat(F.lit(f"mh{i}:"), F.col("s"))),
            )
        ).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return posts.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_md5_band_keys(sig: Column | str, bands: int, num_hashes: int) -> Column:
    """Band keys of an md5 MinHash signature as an array<string> —
    the same comma-joined row groups ``minhash_md5_pairs`` buckets on,
    as a pure projection for stream-side banding."""
    sig = F.col(sig) if isinstance(sig, str) else sig
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at(sig, b * rows_per_band + j + 1).cast("string")
                    for j in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    min_agree: int = 6,
) -> DataFrame:
    """Certification variant of ``minhash_lsh_pairs``: the identical
    algorithm — per-shingle hash family, per-doc min-aggregation,
    banded bucket join (only colliding bands meet), signature-agreement
    verify — over an md5-derived hash family instead of xxhash64, so
    every stage is replayable in an external SQL engine and the whole
    pipeline certifies as a hash-match rather than rows-only.

    What this certifies that the recall-floor pytest cannot: the band
    partitioning arithmetic, the candidate join's dedup/ordering, and
    the agreement count — the parts of LSH that can be silently wrong
    while recall still looks plausible. The production path remains
    ``minhash_lsh_pairs`` (xxhash64 family + signature collapse +
    flood caps); this variant deliberately omits the caps so the
    oracle semantics are closed-form.

    Returns (id_a, id_b, n_agree) for candidate pairs agreeing on
    ``min_agree`` of ``num_hashes`` signature positions. Docs with no
    shingles carry no signature (inner explode) — mirrored by the
    oracle's empty-gram CASE."""
    rows_per_band = num_hashes // bands
    # NULL text shingles to [NULL] (array_join of a null slice), which
    # would become an all-NULL signature whose concat_ws band key is ""
    # — two NULL docs would spuriously pair, and the oracle (which
    # filters NULL text) would disagree. Drop null shingles so NULL
    # docs simply have no signature, matching the oracle's WHERE.
    posts = (
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
            "id",
        )
        .select("id", F.explode(shingles("_t", k)).alias("s"))
        .filter(F.col("s").isNotNull())
    )
    sig = posts.groupBy("id").agg(
        *[
            F.min(_md5long(F.concat(F.lit(f"mh{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    band_keys = [
        F.concat_ws(
            ",",
            *[
                F.col(f"h{b * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    bands_df = sig.select(
        "id", F.posexplode(F.array(*band_keys)).alias("band", "key")
    )
    cand = (
        bands_df.alias("x")
        .join(
            bands_df.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sb = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ).cast("bigint")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_agree", n_agree)
        .filter(F.col("n_agree") >= min_agree)
        .select("id_a", "id_b", "n_agree")
    )


def simhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bits: int = 16,
    blocks: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Certification variant of ``simhash_pairs``: the identical
    algorithm — per-bit ±1 votes over distinct shingles, sign →
    fingerprint bit, block-banded candidate join, Hamming verify —
    over an md5-derived hash (``_md5long``) so the whole pipeline
    replays in an external SQL engine as a hash-match.

    Pigeonhole soundness: ``max_hamming`` < ``blocks`` guarantees any
    pair within the Hamming ball shares at least one intact block, so
    block banding loses no true pair (Manku et al.'s simhash blocking,
    WWW'07 — public). 16 bits / 4 blocks / hamming ≤ 2 mirrors the
    production 64/4/8 shape at a quarter scale.

    Returns (id_a, id_b, hamming). Production path remains
    ``simhash_pairs`` (64-bit xxhash64)."""
    bits_per_block = bits // blocks
    posts = (
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
            "id",
        )
        .select("id", F.explode(shingles("_t", k)).alias("s"))
        .filter(F.col("s").isNotNull())  # NULL docs: no votes, no fp (oracle WHERE parity)
        .select("id", _md5long(F.concat(F.lit("sh:"), F.col("s"))).alias("h"))
    )
    votes = posts.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    fp = sum(
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(0)
        for j in range(bits)
    ).cast("bigint")
    sig = votes.select("id", fp.alias("fp"))
    block_keys = [
        F.shiftright("fp", b * bits_per_block)
        .bitwiseAND(F.lit((1 << bits_per_block) - 1))
        for b in range(blocks)
    ]
    blocks_df = sig.select(
        "id", F.posexplode(F.array(*block_keys)).alias("b", "key")
    )
    cand = (
        blocks_df.alias("x")
        .join(
            blocks_df.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    fa = sig.select(F.col("id").alias("id_a"), F.col("fp").alias("fa"))
    fb = sig.select(F.col("id").alias("id_b"), F.col("fp").alias("fb"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash(text: Column | str, k: int = 3, bits: int = 64) -> Column:
    """64-bit SimHash over shingle features, expression-only.

    For each bit position: sum(+1/-1 votes over features) → sign. Votes
    derived from xxhash64(shingle) bit tests."""
    def _vote(sh_col: Column, bit: int) -> Column:
        return F.aggregate(
            sh_col,
            F.lit(0).cast("bigint"),
            lambda acc, s: acc
            + F.when(
                F.shiftright(F.xxhash64(s), bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        )

    sh = shingles(text, k)
    bit_cols = []
    for i in range(bits):
        vote = _vote(sh, i)
        bit_cols.append(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out.bitwiseOR(c)
    return out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bits: int = 64,
) -> DataFrame:
    """(id, sh64) per document — value-identical to ``simhash`` but via
    explode + ``bits`` codegen'd sum-aggregates (the same
    one-shuffle/map-side-combine shape as ``minhash_signatures``; the
    expression form runs ``bits`` interpreted passes per row). Same
    unique-``id_col`` contract as ``minhash_signatures``."""
    posts = _hashed_postings(df, text_col, id_col, k)
    aggs = [
        F.sum(
            F.when(
                F.col("s").isNotNull(),
                F.when(
                    F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            )
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = out.bitwiseOR(
            F.when(
                F.col(f"_v{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return posts.groupBy("id").agg(*aggs).select("id", out.alias("sh64"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit hash into ``bands``
    16-bit chunks (pigeonhole: ≤3 differing bits → some chunk equal),
    bucket-join, verify Hamming distance ≤ max_hamming.

    Same flood defenses as minhash_lsh_pairs: identical 64-bit hashes
    collapse to one representative (their pairs emit hamming=0
    directly), and chunk buckets with more than ``max_bucket`` distinct
    hashes are skipped with a logged warning."""
    import logging

    member = simhash_signatures(df, text_col=text_col, id_col=id_col, k=k).withColumn(
        "gid", F.min("id").over(Window.partitionBy("sh64"))
    )
    member.cache()  # reused: distinct hashes, intra pairs, expansion
    h = member.filter(F.col("id") == F.col("gid")).select(
        F.col("gid").alias("sid"), "sh64"
    )
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = h.select(
        "sid",
        "sh64",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sh64", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    flooded = (
        chunks.groupBy("band", "chunk")
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
    )
    if flooded.count():
        logging.getLogger(__name__).warning(
            "simhash_pairs: skipping flooded chunk buckets (> %d hashes)", max_bucket
        )
        chunks = chunks.join(
            F.broadcast(flooded.select("band", "chunk")), ["band", "chunk"], "left_anti"
        )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    rep_pairs = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.sid") < F.col("y.sid")),
        )
        .select(
            F.col("x.sid").alias("sid_a"),
            F.col("y.sid").alias("sid_b"),
            F.col("x.sh64").alias("ha"),
            F.col("y.sh64").alias("hb"),
        )
        .distinct()
        .withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("sid_a", "sid_b", "hamming")
    )
    intra = (
        member.alias("x")
        .join(
            member.alias("y"),
            (F.col("x.gid") == F.col("y.gid")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    ma = member.select(F.col("gid").alias("sid_a"), F.col("id").alias("ida"))
    mb = member.select(F.col("gid").alias("sid_b"), F.col("id").alias("idb"))
    inter = (
        rep_pairs.join(ma, "sid_a")
        .join(mb, "sid_b")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "hamming",
        )
    )
    return intra.unionByName(inter).select("id_a", "id_b", "hamming")


def _edge_signature(edges: DataFrame) -> tuple:
    """Order-insensitive fingerprint of an edge set: (count, sum of
    per-edge xxhash64). One scalar aggregation per convergence check —
    a single row crosses to the driver, never data. The hash is summed
    as decimal so ANSI mode can't overflow-error on a large edge set."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("big", "small").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``, where
    ``component`` is the minimum node id of its connected component.

    The last stage of a dedup pipeline: near-dup PAIRS (from
    ngram_jaccard_pairs / minhash_lsh_pairs / embedding near-dup) are
    not transitive-closed — picking survivors needs the transitive
    clusters. This computes them with the alternating
    large-star / small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): O(log n) rounds,
    each round two groupBy+join passes over the edge set.

    100 TB design: per-node neighborhood minima come from groupBy.min —
    no collect_list, so hub nodes (a 100k-member dup cluster) never
    materialize a neighbor array on one executor. Each round's edge set
    is localCheckpoint-ed to truncate lineage (an iterative join chain
    otherwise multiplies the logical plan every round); convergence is
    detected by a one-row signature aggregate, so driver traffic is
    O(log n) scalars. On a cluster, set a checkpoint dir and swap
    localCheckpoint for checkpoint if executor loss matters mid-job.

    Reference parity: the reference ships no graph operator; this is a
    beyond-reference training-data-pipeline component.
    """
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("x"), F.col(id_b).cast("long").alias("y")
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("big"), F.least("x", "y").alias("small"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = _edge_signature(edges)
    import logging

    def _sized(ck: DataFrame, n_edges: int) -> DataFrame:
        """Partition the checkpointed edge set BY ITS MEASURED SIZE
        (the signature already paid for the count): the contraction
        rounds inherit the upstream pair-join's partitioning otherwise,
        and a shrunken edge set spread over dozens of near-empty
        partitions pays ~100 task launches per round for sub-MB work
        (guide §2: make partitioning scale-adaptive, derive from input
        size). coalesce() is narrow — no shuffle — and the cap at the
        current partition count keeps a genuinely large edge set (the
        100 TB shape) at full parallelism."""
        target = max(1, min(ck.rdd.getNumPartitions(), n_edges // 500_000 + 1))
        return ck.coalesce(target) if target < ck.rdd.getNumPartitions() else ck

    edges = _sized(edges, prev_sig[0])

    def _star_round(e: DataFrame) -> DataFrame:
        """One large-star + small-star contraction (Kiveris et al.):
        pure plan builder, no action. Idempotent at the fixpoint —
        applying it to a converged star forest returns the same edge
        set, so an unchanged signature means convergence."""
        # large-star: for each node u, link every strictly-larger
        # neighbor v to m = min(N(u) ∪ {u}).
        sym = e.select(
            F.col("big").alias("u"), F.col("small").alias("v")
        ).unionByName(e.select(F.col("small").alias("u"), F.col("big").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .filter(F.col("big") != F.col("small"))
            .distinct()
        )
        # small-star: edges are (big, small) with small < big; link each
        # big node and all its smaller neighbors to their common min.
        mins2 = large.groupBy("big").agg(F.min("small").alias("m"))
        return (
            large.join(mins2, "big")
            .select(F.col("small").alias("node"), "m")
            .unionByName(mins2.select(F.col("big").alias("node"), "m"))
            .filter(F.col("node") != F.col("m"))
            .select(F.col("node").alias("big"), F.col("m").alias("small"))
            .distinct()
        )

    for _round in range(max_iterations):
        # size this round's OUTPUT from the previous round's measured
        # count: edge sets shrink geometrically, so the new edge set is
        # at most the same scale as the last one. Narrow-coalescing the
        # round plan BEFORE the eager checkpoint makes the checkpoint
        # job's final stage and the follow-up signature scan run
        # `target`-many tasks instead of shuffle-partition-many
        # near-empty ones (measured: 2 x 32 idle-task stages per round
        # at sub-MB edge volumes). The cap is the round input's
        # partition count, so a 100 TB edge set keeps full parallelism.
        out_target = max(
            1, min(edges.rdd.getNumPartitions(), prev_sig[0] // 500_000 + 1)
        )
        new_edges = (
            _star_round(edges).coalesce(out_target).localCheckpoint(eager=True)
        )
        sig = _edge_signature(new_edges)
        edges = _sized(new_edges, sig[0])
        # the count is already paid for by the convergence signature;
        # logging it gives the O(log n) edge-decay evidence per run
        # (SCALING.md's rounds-x-decay probes read these lines)
        logging.getLogger(__name__).info(
            "connected_components round %d: %d edges", _round + 1, sig[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    # Fixpoint is a star forest: every edge points member -> root.
    return (
        edges.select(F.col("big").alias("id"), F.col("small").alias("component"))
        .unionByName(
            edges.select(F.col("small").alias("id"), F.col("small").alias("component"))
        )
        .distinct()
    )


def assign_dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Label EVERY row of ``df`` with its dedup cluster: ``component``
    (min doc id of the transitive near-dup cluster, self for
    singletons) and ``is_survivor`` (this row is the cluster's keeper).

    ``df.filter("is_survivor")`` is the deduplicated corpus;
    ``df.filter(NOT is_survivor)`` is the drop list with provenance
    (which survivor shadows each dropped doc). The labels join is a
    plain equi-join on the id — shuffle-safe at any scale, and AQE
    broadcasts it when the pair graph is small."""
    labels = connected_components(pairs, id_a=id_a, id_b=id_b).withColumnRenamed(
        "id", "__cc_id"
    )
    return (
        df.join(labels, F.col(id_col) == F.col("__cc_id"), "left")
        .drop("__cc_id")
        .withColumn("component", F.coalesce("component", F.col(id_col).cast("long")))
        .withColumn("is_survivor", F.col("component") == F.col(id_col))
    )


def _positional_gram_occ(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, h) positional k-gram occurrences: one xxhash64 per
    gram. The normalize/split/slice/hash chain is CPU-bound, so narrow
    inputs (a single local parquet file) are ``_spread`` across cores
    first — the 100 TB scan shape passes through with no shuffle."""
    toks = F.split(_norm(F.col("_t")), " ")
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
        "id",
    ).select("id", F.posexplode(grams).alias("pos", "h"))


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Maximal duplicated token spans (ExactSubstr-style dedup, Lee et
    al. "Deduplicating Training Data Makes Language Models Better",
    ACL'22, adapted from suffix arrays to a shuffle-bounded k-gram
    shape): for every document, the maximal runs of token positions
    whose k-token gram occurs more than once in the corpus (in another
    doc, or repeated within the same doc). Emits one row per maximal
    span: (doc_id, span_start 0-based token index, span_tokens,
    n_grams). Cutting the spans (or whole docs over a duplicated-mass
    budget) is the caller's policy.

    Scale shape — three shuffle-bounded stages, no suffix array:

    1. positional grams: map-local posexplode; each occurrence hashes
       its gram to 8 bytes (xxhash64), so the corpus-wide frequency
       groupBy shuffles (hash, count) longs, never gram text.
    2. duplicated-gram filter: left-semi join of occurrences against
       grams with count > 1 (AQE broadcasts the dup set when small —
       on real corpora the duplicated vocabulary is the Zipf head,
       orders of magnitude smaller than the gram universe).
    3. islands: per-doc window (lag + running sum) merges adjacent
       duplicated positions into maximal spans — partitioned by doc,
       so no global sort anywhere.

    The 64-bit gram hash makes stage 1 exact up to xxhash64 collisions
    (~n^2/2^65 expected false dup-marks); the oracle groups raw gram
    strings instead, which doubles as the collision check at test SF.
    """
    occ = _positional_gram_occ(df, text_col, id_col, k)
    dup = occ.groupBy("h").agg(F.count("*").alias("_c")).filter(
        F.col("_c") > 1
    )
    flagged = occ.join(dup.select("h"), "h", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) != 1),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = flagged.withColumn("_brk", brk).withColumn(
        "_island",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("id", "_island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("bigint").alias("span_tokens"),
            F.count("*").cast("bigint").alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col), "span_start", "span_tokens", "n_grams"
        )
    )


def duplicated_mass(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    drop_threshold: float = 0.8,
) -> DataFrame:
    """Per-document duplicated-token mass — the policy layer over
    ``duplicated_spans``: what fraction of each doc's tokens sits
    inside a duplicated k-gram, and the curation action that follows
    (RefinedWeb-style: drop near-fully-duplicated docs, trim docs with
    partial duplication, keep clean ones). One row per input doc.

    Exact token accounting: a flagged gram at position p covers tokens
    p..p+k-1; spans closer than k tokens overlap, so summing span
    lengths would double-count. Each flagged gram instead explodes its
    k covered positions (bounded, k is a small constant) and the
    per-doc DISTINCT collapses overlaps before counting — the shuffle
    carries (doc, position) pairs, bounded by corpus token count.
    """
    occ = _positional_gram_occ(df, text_col, id_col, k)
    dup = occ.groupBy("h").agg(F.count("*").alias("_c")).filter(F.col("_c") > 1)
    covered = (
        occ.join(dup.select("h"), "h", "left_semi")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tok"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("dup_tokens"))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(
            F.col(text_col).isNotNull(), F.size(F.split(_norm(F.col(text_col)), " "))
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    out = (
        base.join(covered, "id", "left")
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0)).cast("bigint"))
        .withColumn(
            "dup_fraction",
            F.round(F.col("dup_tokens") / F.greatest("n_tokens", F.lit(1)), 6),
        )
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "dup_tokens",
        "dup_fraction",
        F.when(F.col("dup_fraction") >= drop_threshold, F.lit("drop"))
        .when(F.col("dup_tokens") > 0, F.lit("trim"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Pairwise content overlap between corpus slices (sources,
    crawls, snapshot vintages): for every pair of groups, the number
    of shared distinct k-gram shingles and the Jaccard of their
    shingle sets. The corpus-diagnostics companion to document-level
    dedup — "which of my sources are copies of each other" before any
    per-doc work.

    Scale shape: shingles collapse to DISTINCT (group, gram-hash)
    postings first — group count (not doc count) bounds everything
    after that; the gram-keyed self-join emits one row per
    (gram, group-pair) and a Zipf-truncated gram that floods G groups
    costs G^2/2 rows for that gram only. Output is |groups|^2/2 rows.
    """
    sg = (
        _spread(
            df.select(F.col(group_col).alias("g"), F.col(text_col).alias("_t")),
            "g",
        )
        .select("g", F.explode(shingles("_t", k)).alias("s"))
        .select("g", F.xxhash64("s").alias("h"))
        .distinct()
    )
    sizes = sg.groupBy("g").agg(F.count("*").alias("n"))
    shared = (
        sg.alias("a")
        .join(sg.alias("b"), "h")
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("g_a"), F.col("b.g").alias("g_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(F.col("g").alias("g_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("g").alias("g_b"), F.col("n").alias("n_b"))
    return (
        shared.join(sa, "g_a")
        .join(sb, "g_b")
        .select(
            "g_a",
            "g_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 64,
) -> DataFrame:
    """Ordered near-SUBSET pairs by n-gram containment
    C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ ``threshold`` —
    the asymmetric complement of Jaccard: a short document quoted
    wholesale inside a long one scores low Jaccard (union is large)
    but containment ≈ 1. The boilerplate/quotation/sub-document
    detector that pairs with ``duplicated_spans``.

    Scale shape: ONE corpus shuffle — (doc, gram-hash) postings
    groupBy gram with a map-side partial collect_set; the df-cap is a
    filter on the grouped row; the Σ df(g)² intra-gram pairs expand
    in codegen (no postings self-join); the per-doc gram counts
    (vocabulary-bounded) broadcast into the final containment join.
    The shared grouped-postings exchange is consumed by both the pair
    stream and the size table via ReusedExchange — no persist barrier,
    no recompute."""
    # single-space split (not \s+): byte-for-byte parity with the
    # DuckDB oracle's string_split(text, ' ') and with the other text
    # operators (dsir_importance, bigram_logprob) — \s+ silently
    # diverges on tabs/newlines/runs of spaces.
    toks = F.split(F.lower(F.col(text_col)), " ")
    # hash each token once, then hash the n token-hashes per position:
    # O(tokens) string hashing instead of O(tokens·n) slice+concat
    # string building (measured 2× on the gram stage). Gram identity is
    # hash-composition-agnostic — grams only ever join against grams
    # produced by this same expression.
    th = F.transform(toks, lambda t: F.xxhash64(t))
    # guard: sequence(1, 0) DESCENDS in Spark ([1, 0]) — a doc shorter
    # than n tokens must yield zero grams (as the oracle's
    # generate_series does), not two bogus ones
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # array_distinct BEFORE explode: a gram repeated inside one doc is
    # one posting (containment is over gram SETS on both engines — the
    # oracle's posts0 is SELECT DISTINCT), so every (doc, g) row below
    # is unique and count(*) per gram IS the document frequency.
    posts = _spread(df.select(F.col(id_col).alias("doc"), F.col(text_col))).select(
        "doc", F.explode(F.array_distinct(grams)).alias("g")
    )
    # df-cap: drop grams appearing in more than ``max_df`` documents —
    # pair expansion is Σ df(g)² below, so one Zipf-head gram whose df
    # grows with the corpus turns the whole operator quadratic
    # (measured: 45× wall at 10× corpus uncapped, ~linear capped).
    # Ultra-common grams carry no subset signal anyway; containment is
    # computed over the capped gram space on BOTH engines, so the
    # oracle stays exact.
    #
    # The cap runs BEFORE collect_set — a cheap map-side-combined count
    # per gram (wire volume = distinct grams per partition, not
    # postings) names the Zipf-head grams, and an anti-join drops their
    # postings ahead of the set aggregation. The round-5 form filtered
    # `size(ds) <= max_df` AFTER collect_set, which was one shuffle
    # cheaper at tested SFs but materialized a head gram's ENTIRE
    # df-sized doc array in a single aggregation buffer + shuffle row
    # before dropping it — an executor-OOM/skew hazard at corpus scale
    # (a gram in 1e9 docs = an 8 GB buffer on one core). AQE picks
    # broadcast vs shuffle for the anti-join by the head set's real
    # size; when it shuffles, the subsequent groupBy("g") reuses the
    # join's hash partitioning, so postings still cross the wire once.
    # Measured cost of the pre-cap at sf0.1: ~2.2s vs ~1.9s for the
    # post-agg filter (one extra scan+gram-hash pass for the count
    # branch) — deliberately paid; a lazy localCheckpoint of postings
    # recovers most of it but forfeits lineage (an executor loss kills
    # the job at cluster scale), the wrong trade for a 100 TB operator.
    #
    # Plan shape: ONE postings shuffle + one gram-count micro-shuffle.
    # collect_set(doc) per surviving gram is bounded by max_df; the
    # df² intra-gram pairs expand in whole-stage codegen via double
    # explode — no postings self-join. Both the pair stream and the
    # per-doc size table consume the SAME grouped-postings subplan, so
    # Catalyst reuses one exchange (ReusedExchange) — deliberately no
    # persist: a persist adds a materialization job barrier that costs
    # more than the shared shuffle read at any scale (the round-4
    # formulation recomputed postings 4× through distinct()+joins and
    # paid 5.9s at sf0.1; this shape runs ~2s).
    head = (
        posts.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("g")
    )
    per_gram = posts.join(head, "g", "left_anti").groupBy("g").agg(
        F.collect_set("doc").alias("ds")
    )
    sizes = (
        per_gram.select(F.explode("ds").alias("doc"))
        .groupBy("doc")
        .agg(F.count("*").alias("n_grams"))
    )
    inter = (
        per_gram.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    # sizes is vocabulary-bounded (one row per surviving doc) →
    # broadcast keeps the pair stream from reshuffling on doc_a
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("doc", "doc_a")), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("n_grams").cast("bigint").alias("n_grams_a"),
            (F.floor(F.col("inter") / F.col("n_grams") * 1e6 + 0.5) / 1e6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )
