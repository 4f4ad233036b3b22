"""Relational helpers that go beyond a 1:1 DataFrame mapping.

Most of the reference's relational surface (SURVEY §2.2-§2.7) needs no
wrapper — the queries/ registry exercises it directly on the DataFrame
API. This module holds the pieces that encode a *strategy*, not just a
call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with key salting for extreme skew.

    AQE's skew-join splitting (on in ``session.py``) handles most skew
    by splitting oversized *partitions*; salting is the remaining tool
    when a single KEY is so hot that one task would still own it.
    Mechanics: the large/skewed ``left`` spreads each row across
    ``salt`` sub-keys via a deterministic row hash; ``right`` replicates
    each row to all sub-keys (×salt blowup — keep the replicated side
    the smaller one). Result is row-identical to the plain join.

    MEASURED decision rule (SCALING.md round-11, the skewed-key
    shuffle: a synthetic power-law key, 30M facts with one key owning
    50% of rows against a 100k-row dim, quiet box — plain SMJ 5.5s;
    AQE at default thresholds 5.1s; AQE with the skew threshold
    lowered to 16m 1.75s; this salt 2.35s; broadcast dim 0.38s):

    1. If the dim side fits executor memory, BROADCAST it — skew is
       moot (14× over the plain shuffle in the probe) and the fact
       side never shuffles at all.
    2. Else check that AQE's splitter will actually FIRE: it splits a
       partition only past ``spark.sql.adaptive.skewJoin.
       skewedPartitionThresholdInBytes`` (256 MB default) — the
       probe's 240 MB hot partition sat just under it and AQE silently
       did nothing (5.1s ≈ plain's 5.5s). A 100 TB hot key dwarfs the
       default and splits fine; in the mid-scale gap, lower the
       threshold (16m → 1.75s, the fastest shuffle-path plan — beats
       the salt, no ×salt dim blowup, no wide-row fact hash).
    3. Reach for this function when the cluster confs are out of your
       hands, AQE is unavailable (pre-3.0), or the hot key sits inside
       an operator AQE cannot split (e.g. a skewed groupBy feeding a
       mandatory co-partition): 2.35s, within 35% of tuned AQE.
       ``key_skew_stats`` (below) is the measurement that picks.

    Reference context: Spark 1.6 had neither AQE nor skew handling —
    users hand-salted exactly like this (no citation; folklore the
    engine now owns).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            "salted_join preserves semantics only for inner/left joins; "
            f"got {how!r}"
        )
    left_s = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int"),
    )
    right_s = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return left_s.join(right_s, on + ["_salt"], how).drop("_salt")


def key_skew_stats(df: DataFrame, *key_cols: str) -> DataFrame:
    """One-row skew diagnostic for a prospective shuffle key — the
    measurement that decides between a plain shuffle, AQE skew
    splitting, and ``salted_join``:

        n_keys      distinct key values
        n_rows      total rows
        max_count   heaviest key's row count
        top_share   max_count / n_rows (a single task's worst-case
                    share of the shuffle under hash partitioning)
        entropy     Shannon entropy of the key distribution in nats;
                    ln(n_keys) = perfectly even, near 0 = one hot key

    Two map-side-combined aggregations (per-key counts, then the
    1-row rollup) — safe to run on the full 100 TB table. Entropy
    terms are decimal-summed so partial-aggregation order cannot
    perturb the result (the 1-row output is oracle-certifiable)."""
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("c"))
    # 1-row broadcast total, NOT a global window (whose single
    # partition would serialize a large key set)
    totals = counts.agg(F.sum("c").alias("_tot"))
    p = F.col("c") / F.col("_tot")
    return counts.crossJoin(F.broadcast(totals)).agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_count"),
        F.round((F.max("c") / F.first("_tot")).cast("double"), 6).alias(
            "top_share"
        ),
        F.round(
            (-F.sum((p * F.log(p)).cast("decimal(28,10)"))).cast("double"), 6
        ).alias("entropy"),
    )


def blocked_entity_match(
    df: DataFrame,
    name_col: str,
    block_expr: F.Column,
    max_distance: int = 4,
) -> DataFrame:
    """Entity resolution: candidate pairs of *distinct* entity names
    within a blocking key, verified by Levenshtein edit distance.

    The canonical ER recipe at scale, in three moves that each kill a
    quadratic: (1) dedupe to DISTINCT names first — pairing raw rows
    is O(rows²) while real corpora have distinct-names << rows, so
    carry the row count along instead; (2) self-join only inside the
    blocking key (never a global cross join); (3) the `name_a <
    name_b` half-matrix halves the verify work and makes output
    deterministic. The distinct-name table is small by construction,
    so Spark broadcasts one side of the block join; edit distance is
    JVM codegen (`levenshtein`), not Python.

    Output: (name_a, name_b, dist, rows_a, rows_b) sorted.
    """
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .withColumn("block", block_expr)
    )
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .filter(F.col("dist") <= max_distance)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("dist").cast("bigint").alias("dist"),
            F.col("a.n_rows").alias("rows_a"),
            F.col("b.n_rows").alias("rows_b"),
        )
        .orderBy("name_a", "name_b")
    )


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Temporal-validity join: attach to each fact row the dimension
    interval that was in effect at its timestamp (``from <= ts < to``,
    NULL ``to`` = still current) — the lookup every SCD2 dimension
    exists to serve.

    Scale shape: this is an EQUI-join on ``key`` with the range
    predicates as residual join conditions, so Spark plans a hash/SMJ
    exchange on the key — never a theta-join blowup. Per-key interval
    counts are small by construction (one per state change), so the
    residual scan inside each key group is cheap and there is no
    skew amplification beyond the key's own fact count.
    """
    i = intervals.select(
        F.col(key).alias("_k"),
        F.col(from_col).alias("_from"),
        F.col(to_col).alias("_to"),
        *[
            c
            for c in intervals.columns
            if c not in (key, from_col, to_col)
        ],
    )
    cond = (
        (facts[key] == i["_k"])
        & (facts[ts_col] >= i["_from"])
        & (i["_to"].isNull() | (facts[ts_col] < i["_to"]))
    )
    return facts.join(i, cond).drop("_k", "_from", "_to")


def equi_width_histogram(
    df: DataFrame, value_col: str, buckets: int = 20
) -> DataFrame:
    """Equi-width histogram: global [min, max] split into ``buckets``
    uniform bins; the max value folds into the last bin.

    Scale shape: the 1-row min/max aggregate broadcasts back onto the
    stream (no second scan pass materializes anything), the bucket id
    is a codegen projection, and the final count is a map-side-combined
    groupBy over ``buckets`` keys — shuffle traffic is O(buckets) per
    task regardless of input size. Bucket arithmetic is identical-order
    double math, so bucket ids are engine-deterministic."""
    v = F.col(value_col).cast("double")
    stats = df.agg(
        F.min(v).alias("_mn"), F.max(v).alias("_mx")
    )
    bucket = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("_mn")) / (F.col("_mx") - F.col("_mn")) * buckets),
            F.lit(buckets - 1),
        )
    )
    return (
        df.join(F.broadcast(stats))
        .select(bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("bucket")
    )


def zorder_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints into a
    Morton (Z-order) key — pure shift/mask expressions, whole-stage
    codegen, no UDF."""
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        xb = F.shiftleft((F.shiftright(x, b) % 2).cast("bigint"), 2 * b)
        yb = F.shiftleft((F.shiftright(y, b) % 2).cast("bigint"), 2 * b + 1)
        z = z.bitwiseOR(xb).bitwiseOR(yb)  # Column | is logical, not bitwise
    return z


def zorder_layout(
    df: DataFrame,
    col_x: str,
    col_y: str,
    n_files: int = 32,
    bits: int = 16,
) -> DataFrame:
    """Cluster rows by the Z-order curve over two numeric columns so a
    parquet write produces files whose per-file min/max stats are TIGHT
    in BOTH dimensions — the data-skipping layout (Delta/Iceberg
    OPTIMIZE ZORDER BY) that lets a two-dimensional predicate prune
    most files instead of only the files of a single sort key.

    Scale shape: one 1-row min/max aggregate broadcasts back onto the
    stream (same pattern as equi_width_histogram), the Morton key is a
    codegen projection, and ``repartitionByRange`` samples the key to
    cut ``n_files`` balanced ranges — one range shuffle total, then
    ``partitionBy``-free parquet writes give one tight file per range.
    Equal-width scaling of each dimension is documented-good for
    roughly uniform keys; swap the scale step for percentile bins on
    heavy skew (the Morton interleave is unchanged)."""
    vx = F.col(col_x).cast("double")
    vy = F.col(col_y).cast("double")
    stats = df.agg(
        F.min(vx).alias("_xmn"), F.max(vx).alias("_xmx"),
        F.min(vy).alias("_ymn"), F.max(vy).alias("_ymx"),
    )
    lim = (1 << bits) - 1

    def scaled(v: Column, mn: Column, mx: Column) -> Column:
        return F.when(mx == mn, F.lit(0)).otherwise(
            F.least(
                F.floor((v - mn) / (mx - mn) * (lim + 1)).cast("bigint"),
                F.lit(lim).cast("bigint"),
            )
        )

    zx = scaled(vx, F.col("_xmn"), F.col("_xmx"))
    zy = scaled(vy, F.col("_ymn"), F.col("_ymx"))
    return (
        df.join(F.broadcast(stats))
        .withColumn("_z", zorder_value(zx, zy, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_xmn", "_xmx", "_ymn", "_ymx")
    )


def band_join(
    df: DataFrame,
    value_col: str,
    eps: float,
    key_cols: list[str] | None = None,
    id_col: str = "event_id",
) -> DataFrame:
    """Self band-join: pairs of rows whose ``value_col`` differ by at
    most ``eps`` (within optional exact-match ``key_cols``) — the
    record-linkage / sensor-alignment primitive that is a quadratic
    BroadcastNestedLoop as a raw theta join.

    Scale shape: quantize values to eps-width buckets and emit each row
    into its own bucket and the next one (explode ×2); candidates then
    meet in an EQUI-join on (keys…, bucket) — a hash shuffle, no
    nested loop. Any qualifying pair is ≤ eps apart so it lands in the
    same or adjacent bucket: bucket-b rows meet bucket-b (both emit b)
    and bucket-b+1 rows (which also emit b). The exact |Δ| ≤ eps filter
    runs on candidates only; the canonical id_a < id_b orientation and
    a distinct kill the dual-bucket double-count. Candidate volume is
    sum over buckets of |b|·(|b|+|b+1|) — linear for spread data, and a
    skewed bucket is an AQE skew-join split, not an algorithmic wall."""
    keys = key_cols or []
    bucket = F.floor(F.col(value_col) / eps).cast("bigint")
    src = df.select(
        *keys, F.col(id_col).alias("id"), F.col(value_col).alias("v"),
        bucket.alias("b"),
    )
    emitted = src.select(
        *keys, "id", "v", F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("bkt")
    )
    right = src.select(
        *[F.col(k).alias(f"_r_{k}") for k in keys],
        F.col("id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("b").alias("bkt"),
    )
    cond = [emitted["bkt"] == right["bkt"]] + [
        emitted[k] == right[f"_r_{k}"] for k in keys
    ]
    return (
        emitted.join(right, cond)
        # canonicalize with least/greatest, NOT id < id_b: the bucket
        # emission is asymmetric (left probes up only), so a pair whose
        # larger-id member sits in the LOWER bucket matches only with
        # the larger id on the left — an id< filter would drop it
        .filter(F.col("id") != F.col("id_b"))
        .filter(F.abs(F.col("v") - F.col("v_b")) <= eps)
        .select(
            *keys,
            F.least("id", "id_b").alias("id_a"),
            F.greatest("id", "id_b").alias("id_b"),
            # raw double: |x-y| is the same IEEE subtraction on any
            # engine, so no rounding is needed (or wanted) for oracles
            F.abs(F.col("v") - F.col("v_b")).alias("delta"),
        )
        .distinct()
    )


def zip_with_index(
    df: DataFrame, order_cols: list[str], index_col: str = "idx"
) -> DataFrame:
    """Dense 0-based global index in a deterministic ``order_cols``
    order — RDD ``zipWithIndex`` (reference CORE/rdd/RDD.scala
    zipWithIndex / ZippedWithIndexRDD) re-expressed scale-correct.

    A naive ``row_number() OVER (ORDER BY ...)`` funnels the whole
    relation through ONE task (WindowExec with no partition). This uses
    zipWithIndex's own two-pass trick, kept in DataFrames: range-
    repartition on the order keys (so partition p holds a contiguous
    key range and everything in p sorts before p+1), count rows per
    partition, prefix-sum those counts driver-side (tiny — one row per
    partition), and add the broadcast offset to each partition-local
    row_number. Every corpus-sized step is partition-parallel; the only
    global object is the #partitions-row offset table."""
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    ordered = df.repartitionByRange(n_parts, *order_cols)
    with_pid = ordered.withColumn("_pid", F.spark_partition_id())
    # one row per partition — bounded by n_parts, safe to window
    # without a partition clause
    from pyspark.sql import Window

    counts = with_pid.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    offsets = counts.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_cnt").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_offset")
    local = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.withColumn("_local", F.row_number().over(local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(index_col, (F.col("_offset") + F.col("_local") - 1).cast("bigint"))
        .drop("_pid", "_local", "_offset")
    )


def table_fingerprint(df, cols=None, algo: str = "md5"):
    """Order-free content fingerprint of a table: row count + additive
    md5-derived row hash (mod 2^62 so the sum is overflow-free integer
    arithmetic on any engine). Two tables hold the same multiset of
    rows iff (n, fp) match — the cheap end-to-end integrity check for
    migrations, replications, and engine swaps (this repo's own
    oracle-vs-Spark contract, turned into an operator users can run
    on their 100 TB copy: one scan, one 1-row aggregate, no sort).

    Addition is commutative, so the result is independent of
    partitioning, ordering, and merge order; a single flipped cell
    changes the row's md5 and therefore the sum.
    """
    from pyspark.sql import functions as F

    use = cols or df.columns
    # explicit null sentinel: concat_ws SKIPS nulls, which would make
    # (a, NULL) and (a) collide
    row_str = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in use],
    )
    if algo == "xxhash64":
        # production fast path (~5x cheaper than md5, JVM-vectorized);
        # md5 is the cross-engine-oracle form — pick per comparison pair
        row_hash = F.abs(F.xxhash64(row_str)).cast("bigint")
    else:
        row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast(
            "bigint"
        )
    # DECIMAL(38,0) accumulator: 2^60-bounded terms overflow BIGINT
    # past ~10^4 billion rows; decimal addition stays exact
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("fingerprint"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed snapshot diff: one row per key whose row was ADDED,
    REMOVED, or CHANGED between two table versions — the audit
    companion to :func:`table_fingerprint` (fingerprint says WHETHER
    two snapshots differ; this says WHERE). The CDC primitive for
    migration sign-off, replication verification, and "what did
    yesterday's pipeline change" review at table scale.

    Returns (keys..., status, old_hash, new_hash); unchanged keys emit
    nothing, so output is bounded by the churn, not the table.

    Scale shape: ONE co-partitioned full-outer join on the key columns
    — both sides shuffle once on the same key, non-key payload is
    pre-collapsed to an 8-byte xxhash64 before the exchange (the wire
    carries keys + hashes, never wide rows), and the status filter is
    codegen on the joined stream. 100 TB vs 100 TB diff = two scans +
    one shuffle."""
    from pyspark.sql import functions as F

    cmp_cols = compare_cols or [c for c in old.columns if c not in keys]
    # null-sentinel'd concat (concat_ws skips nulls — (a, NULL) must
    # not collide with (a,)), same convention as table_fingerprint
    def row_hash(df: DataFrame) -> Column:
        return F.xxhash64(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in cmp_cols
                ],
            )
        )

    o = old.select(*keys, row_hash(old).alias("old_hash"))
    n = new.select(*keys, row_hash(new).alias("new_hash"))
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*keys, "status", "old_hash", "new_hash")
    )


def mergeable_agg_state(
    df: DataFrame, keys: list[str], value: Column | str
) -> DataFrame:
    """One partition's worth of MERGEABLE aggregate state (round 8):
    per-key (n, sum, min, max) over an exact integer measure — the
    partial-aggregate algebra (count/sum add, min/max lattice) that
    makes incremental materialized-view maintenance possible. The
    measure must already be integer-exact (micro-unit convention:
    cents, micro-dollars, token counts) so merging is associative to
    the last bit — double sums would drift with grouping order and
    break the refresh-equals-recompute contract an auditor checks."""
    v = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).cast("bigint").alias("sum"),
        F.min(v).cast("bigint").alias("min"),
        F.max(v).cast("bigint").alias("max"),
    )


def delta_join_increment(
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """The rows an incremental join refresh APPENDS (round 9) — the
    storage-efficient IVM shape: with ``M = A_old ⋈ B_old`` already on
    disk, the new rows are exactly

        ΔM = (ΔA ⋈ B_new) ∪ (A_old ⋈ ΔB)

    (``ΔA ⋈ B_new`` folds the ``ΔA ⋈ ΔB`` cross-delta term in, so each
    arriving row is matched exactly once). A deployment appends ΔM to
    the stored view instead of rewriting it, so the OUTPUT is
    ∝ |Δ| · match-rate; compute still pays ONE scan of each base side
    (the probe of the delta joins) but never the base-vs-base shuffle
    — SCALING.md round-9 records the separation at 100× history.
    Bag semantics throughout (UNION ALL;
    exact for multiplicities).

    With ``broadcast_deltas`` (default) the delta sides are broadcast-
    hinted — a production refresh's delta is minutes-to-hours of
    arrivals, dwarfed by the base — so NEITHER base table shuffles:
    each delta join is a broadcast probe of the big side's scan, and a
    bucketed/partitioned base prunes that scan further (DPP on the
    delta's keys). Pass ``broadcast_deltas=False`` for bulk backfills
    where the delta rivals the base and AQE should pick the join."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    b_new = b_old.unionByName(delta_b)
    return maybe_b(delta_a).join(b_new, on).unionByName(
        a_old.join(maybe_b(delta_b), on)
    )


def delta_join_retract(
    view: DataFrame,
    a_new: DataFrame,
    retract_a: DataFrame,
    b_new: DataFrame,
    retract_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a materialized INNER equi-join view
    (round 9) — the retraction half of the IVM algebra. Given the
    current ``view = A ⋈ B``, the post-delete sides ``a_new = A ∖ Δ⁻A``
    / ``b_new = B ∖ Δ⁻B`` and the deleted rows, the maintained view is

        M' = M ∖ (Δ⁻A ⋈ B) ∖ (A ∖ Δ⁻A ⋈ Δ⁻B)
           = M exceptAll (Δ⁻A ⋈ b_new) exceptAll (Δ⁻A ⋈ Δ⁻B)
             exceptAll (a_new ⋈ Δ⁻B)

    computed here as one ``exceptAll`` against the union of the three
    retraction terms — bag semantics throughout, so a row that
    appeared k times and lost j contributing pairs keeps exactly
    k − j copies (the registry row's oracle recomputes
    (A ∖ Δ⁻A) ⋈ (B ∖ Δ⁻B) from scratch; the hash match is the audit).

    Scale shape: the retraction terms are ∝ |Δ⁻| · match-rate with
    broadcast deltas (same guidance as :func:`delta_join_increment` —
    broadcast only arrival-sized deltas); ``exceptAll`` shuffles the
    view once on all columns, which is the honest cost of bag-exact
    deletion without a keyed store — a deployment that keys the view
    by a rowid deletes by anti-join on the id instead (cheaper, same
    algebra; this operator is the keyless general case)."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    gone = (
        maybe_b(retract_a)
        .join(b_new, on)
        .unionByName(maybe_b(retract_a).join(maybe_b(retract_b), on))
        .unionByName(a_new.join(maybe_b(retract_b), on))
    )
    return view.exceptAll(gone)


def delta_join_refresh(
    view: DataFrame,
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally refresh a materialized INNER equi-join view
    (round 9) — the join half of the IVM story next to
    ``mergeable_agg_state``/``merge_agg_states``. Given the
    materialized ``view = A_old ⋈ B_old`` and append-only deltas, the
    refreshed view is the exact delta algebra

        M' = M ∪ ΔM        (ΔM from :func:`delta_join_increment`)

    Bag semantics throughout — unions are UNION ALL and the algebra is
    exact for multiplicities, so refresh == full recompute row-for-row
    (the registry row's oracle recomputes the full join; the hash
    match is the auditor's check, as with the aggregate twin). This
    form RE-EMITS the whole view (view semantics, what a consumer
    reads); a deployment that stores M appends only
    :func:`delta_join_increment` — see that function's scale notes."""
    return view.unionByName(
        delta_join_increment(
            a_old, delta_a, b_old, delta_b, on, broadcast_deltas
        )
    )


def _null_extend(a_rows: DataFrame, view_cols: list[str], b_schema) -> DataFrame:
    """A-side rows padded with typed NULLs for every B-side column, in
    the view's column order — the null-extension rows of a LEFT OUTER
    join view. ``b_schema`` supplies the types so the extension is
    schema-exact (exceptAll/unionByName need positional type equality,
    and set operations use null-safe comparison, so these rows cancel
    bag-exactly against the view's own null-extended rows)."""
    b_types = {f.name: f.dataType for f in b_schema.fields}
    return a_rows.select(
        *[
            F.col(c) if c in a_rows.columns else F.lit(None).cast(b_types[c]).alias(c)
            for c in view_cols
        ]
    )


def _small_left_outer(
    small_a: DataFrame, big_b: DataFrame, on: list[str], broadcast: bool
) -> DataFrame:
    """``small_a ⟕ big_b`` without shuffling the big side. Spark cannot
    broadcast the LEFT side of a left-outer join (the hint is ignored
    with a HintErrorLogger warning and both sides shuffle), so the
    broadcast path decomposes: the matched half is an inner join with
    the small side broadcast as the build side (supported), and the
    null-extended half anti-joins the small side against its own
    MATCHED KEYS — computed by semi-probing the big side with a
    broadcast of the small side's keys, so the big side is scanned
    once with broadcast probes and never shuffled. Bag-exact: each
    small-side row lands in exactly one half."""
    if not broadcast:
        return small_a.join(big_b, on, "left")
    matched = F.broadcast(small_a).join(big_b, on)
    matched_keys = (
        big_b.join(F.broadcast(small_a.select(*on).distinct()), on, "semi")
        .select(*on)
        .distinct()
    )
    unmatched = small_a.join(F.broadcast(matched_keys), on, "anti")
    return matched.unionByName(
        _null_extend(unmatched, matched.columns, big_b.schema)
    )


def _flip_select(
    a_side: DataFrame,
    delta_keys_src: DataFrame,
    big_b: DataFrame,
    on: list[str],
    broadcast: bool,
) -> DataFrame:
    """``a_side ⋉ Δkeys ▷ big_b`` — the flip selection every outer/
    semi/anti maintenance shape shares — computed SCALE-STABLY: the
    candidates are delta-keyed, so the ``▷ big_b`` may be replaced by
    an anti against big_b's TOUCHED key set (big_b ⋉ broadcast(Δkeys),
    delta-sized at any base size, scanned with broadcast probes). The
    naive form leaves the anti's build side base-sized — AQE
    broadcast-converts it at test SF but degrades to a base-wide
    sort-merge shuffle at 100× (measured: the left increment ran at
    0.75× of recompute before this rewrite, 3.5× after —
    SCALING.md round-10). Exact under bag semantics: candidate keys
    ⊆ Δkeys, so big_b rows outside Δkeys can never match a candidate,
    and semi/anti preserve a_side multiplicities."""
    if not broadcast:
        dk = delta_keys_src.select(*on).distinct()
        return a_side.join(dk, on, "semi").join(big_b, on, "anti")
    dk = F.broadcast(delta_keys_src.select(*on).distinct())
    touched = big_b.join(dk, on, "semi").select(*on).distinct()
    return (
        a_side.join(dk, on, "semi").join(F.broadcast(touched), on, "anti")
    )


def _flip_keys(
    a_side: DataFrame,
    delta_keys_src: DataFrame,
    big_b: DataFrame,
    on: list[str],
    broadcast: bool,
) -> DataFrame:
    """The KEY set of :func:`_flip_select` — keys present in a_side,
    absent from big_b, touched by the delta. Both operands are
    delta-sized (each side is semi-probed by a broadcast of Δkeys
    before the key-level anti), so the result is always
    broadcast-safe."""
    maybe_b = F.broadcast if broadcast else (lambda d: d)
    dk = maybe_b(delta_keys_src.select(*on).distinct())
    a_touched = a_side.join(dk, on, "semi").select(*on).distinct()
    b_touched = big_b.join(dk, on, "semi").select(*on).distinct()
    return a_touched.join(maybe_b(b_touched), on, "anti")


def delta_left_join_increment(
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The (appends, retractions) pair that maintains a LEFT OUTER
    equi-join view under arrivals (round 10) — the asymmetry the
    round-9 inner-join algebra dodged (reference outer joins:
    sql/core/src/main/scala/org/apache/spark/sql/execution/joins/
    SortMergeOuterJoin.scala:34). Unlike the inner case, an arriving
    ΔB row can FLIP an existing view row: an A_old row that was
    null-extended (no match in B_old) and now matches ΔB must have its
    null row retracted and its match rows appended. With
    ``M = A_old ⟕ B_old`` materialized:

        appends     = (ΔA ⟕ B_new) ∪ (A_old ⋈ ΔB)
        retractions = null_extend(A_old ▷ B_old ⋉ ΔB)

    (▷ = anti-join, ⋉ = semi-join, both on the join keys). The anti ∘
    semi composition selects exactly the A_old rows whose null
    extension dies — anti/semi preserve left multiplicities, so an
    unmatched a-row present k times retracts exactly k null rows under
    bag semantics. ΔA rows never retract anything (they were not in
    the view) and ``ΔA ⟕ B_new`` settles their matched-or-null status
    in one pass, folding the cross-delta ΔA ⋈ ΔB term in.

    Scale shape mirrors :func:`delta_join_increment`: every term is
    delta-driven — with ``broadcast_deltas`` (arrival-sized deltas,
    the default) neither base side shuffles; the anti-semi retraction
    probes A_old with a broadcast of ΔB's keys, then anti-probes B_old.
    Pass ``broadcast_deltas=False`` for bulk backfills and let AQE
    choose. The view itself is touched only by the caller's exceptAll
    (see :func:`delta_left_join_refresh`)."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    b_new = b_old.unionByName(delta_b)
    appends = _small_left_outer(
        delta_a, b_new, on, broadcast_deltas
    ).unionByName(a_old.join(maybe_b(delta_b), on))
    view_cols = appends.columns
    flipped = _flip_select(a_old, delta_b, b_old, on, broadcast_deltas)
    retractions = _null_extend(flipped, view_cols, delta_b.schema)
    return appends, retractions


def delta_left_join_refresh(
    view: DataFrame,
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally refresh a materialized LEFT OUTER equi-join view
    (round 10): with appends from :func:`delta_left_join_increment`,

        M' = (M ▷ flip_keys) ∪ appends

    The null-row retraction needs NO exceptAll: a flipped key was
    unmatched in B_old, so EVERY view row carrying it is a null
    extension and all of them die — retraction by key, one broadcast
    anti probe of the view scan (the view is scanned once and never
    shuffled; the flip-key set is delta-sized by construction,
    :func:`_flip_keys`). Bag-exact: refresh == full LEFT JOIN
    recompute row-for-row (the registry row's oracle recomputes
    ``(A_old ∪ ΔA) ⟕ (B_old ∪ ΔB)`` from scratch; the hash match is
    the audit — a surviving stale null row, a double-appended match,
    or a matched row wrongly swept out by the key-level anti all
    break it). Requires ``view`` to be exactly the materialized
    ``A_old ⟕ B_old`` (the contract); under DELETIONS use
    :func:`delta_left_join_retract`, whose row-level terms keep the
    exceptAll."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    appends, _ = delta_left_join_increment(
        a_old, delta_a, b_old, delta_b, on, broadcast_deltas
    )
    flip_keys = _flip_keys(a_old, delta_b, b_old, on, broadcast_deltas)
    return view.join(maybe_b(flip_keys), on, "anti").unionByName(appends)


def delta_left_join_retract(
    view: DataFrame,
    a_new: DataFrame,
    retract_a: DataFrame,
    b_new: DataFrame,
    retract_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a materialized LEFT OUTER equi-join view
    (round 10) — the reverse null-flip: deleting the LAST match of a
    surviving A row doesn't remove that row from the view, it flips it
    back to null-extended. With ``M = A ⟕ B``, ``a_new = A ∖ Δ⁻A``,
    ``b_new = B ∖ Δ⁻B``:

        gone  = (Δ⁻A ⟕ B) ∪ (a_new ⋈ Δ⁻B)
        flips = null_extend(a_new ⋉ Δ⁻B ▷ b_new)
        M'    = (M exceptAll gone) ∪ flips

    ``Δ⁻A ⟕ B`` (B = b_new ∪ Δ⁻B) is every view row a deleted A row
    owned — matched or null-extended; ``a_new ⋈ Δ⁻B`` is every match a
    surviving A row lost. The flip set — survivors whose matches ALL
    died — is semi(Δ⁻B) ∘ anti(b_new): had a deleted match, has no
    surviving one; multiplicities of the a-row carry through, so k
    copies flip to k null rows. The registry row's oracle recomputes
    the post-delete LEFT JOIN from scratch; the hash match certifies
    both directions of the flip (this one and the increment's) because
    a kept-matched row, a lost survivor, or a missing re-null all
    break it. Scale notes as :func:`delta_left_join_refresh`."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    b_all = b_new.unionByName(retract_b)
    gone = _small_left_outer(
        retract_a, b_all, on, broadcast_deltas
    ).unionByName(a_new.join(maybe_b(retract_b), on))
    flips = _null_extend(
        _flip_select(a_new, retract_b, b_new, on, broadcast_deltas),
        gone.columns,
        retract_b.schema,
    )
    return view.exceptAll(gone).unionByName(flips)


def delta_full_join_increment(
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The (appends, retractions) pair that maintains a FULL OUTER
    equi-join view under arrivals (round 10) — the last outer shape of
    the IVM algebra (reference full-outer execution:
    sql/core/src/main/scala/org/apache/spark/sql/execution/joins/
    SortMergeOuterJoin.scala:34): null extensions now live on BOTH
    sides, so arrivals flip in both directions — an arriving ΔB row
    kills left-null extensions of matching A_old rows (the LEFT case),
    and an arriving ΔA row kills RIGHT-null extensions of matching
    B_old rows (the new direction). With ``M = A_old ⟗ B_old``
    materialized and ``A_new/B_new`` the post-arrival sides:

        appends     = (ΔA ⟕ B_new) ∪ (A_old ⋈ ΔB)
                      ∪ null_extend_right(ΔB ▷ A_new)
        retractions = null_extend(A_old ⋉ ΔB ▷ B_old)
                      ∪ null_extend_right(B_old ⋉ ΔA ▷ A_old)

    ``ΔA ⟕ B_new`` settles each arriving A row's matched-or-left-null
    status in one pass (folding ΔA ⋈ ΔB in); ``ΔB ▷ A_new`` is the
    arriving B rows that match NOTHING — note A_new, not A_old, so a
    cross-delta match never materializes a doomed right-null row. The
    two retraction terms are the anti∘semi flip selections, one per
    direction; anti/semi preserve multiplicities, so k copies retract
    k null rows, bag-exactly. Every term is delta-driven — with
    ``broadcast_deltas`` (arrival-sized deltas, the default) neither
    base side shuffles: base scans are probed by broadcasts of delta
    keys. ``broadcast_deltas=False`` for bulk backfills (AQE picks).
    Key columns of null-extended rows carry the surviving side's key,
    matching Spark's coalesced USING-key output for full outer."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    a_new = a_old.unionByName(delta_a)
    b_new = b_old.unionByName(delta_b)
    matched_or_left_null = _small_left_outer(
        delta_a, b_new, on, broadcast_deltas
    ).unionByName(a_old.join(maybe_b(delta_b), on))
    view_cols = matched_or_left_null.columns
    # arriving B rows with no match anywhere (incl. the fresh ΔA):
    # semi-probe A_new with a broadcast of ΔB's keys so the big side
    # is scanned once and never shuffled, then anti the keys back
    db_matched_keys = (
        a_new.join(maybe_b(delta_b.select(*on).distinct()), on, "semi")
        .select(*on)
        .distinct()
    )
    right_nulls = _null_extend(
        delta_b.join(maybe_b(db_matched_keys), on, "anti"),
        view_cols,
        a_old.schema,
    )
    appends = matched_or_left_null.unionByName(right_nulls)
    left_flips = _null_extend(
        _flip_select(a_old, delta_b, b_old, on, broadcast_deltas),
        view_cols,
        delta_b.schema,
    )
    right_flips = _null_extend(
        _flip_select(b_old, delta_a, a_old, on, broadcast_deltas),
        view_cols,
        delta_a.schema,
    )
    return appends, left_flips.unionByName(right_flips)


def delta_full_join_refresh(
    view: DataFrame,
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally refresh a materialized FULL OUTER equi-join view
    (round 10): with appends from :func:`delta_full_join_increment`,

        M' = (M ▷ (left_flip_keys ∪ right_flip_keys)) ∪ appends

    Retraction by KEY on both sides, no exceptAll: a left-flip key had
    no B_old match (all its view rows are left-null extensions) and a
    right-flip key had no A_old match (all its rows are right-null) —
    the two key sets are disjoint by construction, every view row
    carrying either dies, and the anti is one broadcast probe of the
    view scan (flip keys are delta-sized, :func:`_flip_keys`).
    Bag-exact: refresh == full FULL JOIN recompute row-for-row (the
    registry row's oracle recomputes ``A_new ⟗ B_new`` from scratch;
    the hash match is the audit — a stale null row on EITHER side, a
    missed flip in either direction, or a double-appended cross-delta
    match all break it). Requires ``view`` == the materialized
    ``A_old ⟗ B_old``; deletions go through
    :func:`delta_full_join_retract`."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    appends, _ = delta_full_join_increment(
        a_old, delta_a, b_old, delta_b, on, broadcast_deltas
    )
    flip_keys = _flip_keys(
        a_old, delta_b, b_old, on, broadcast_deltas
    ).unionByName(
        _flip_keys(b_old, delta_a, a_old, on, broadcast_deltas)
    )
    return view.join(maybe_b(flip_keys), on, "anti").unionByName(appends)


def delta_full_join_retract(
    view: DataFrame,
    a_new: DataFrame,
    retract_a: DataFrame,
    b_new: DataFrame,
    retract_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a materialized FULL OUTER equi-join view
    (round 10) — reverse null-flips on BOTH sides: deleting a
    surviving A row's last match flips it back to left-null (the LEFT
    case), and deleting a surviving B row's last match flips it back
    to RIGHT-null. With ``A = a_new ∪ Δ⁻A``, ``B = b_new ∪ Δ⁻B``:

        gone  = (Δ⁻A ⟕ B) ∪ (a_new ⋈ Δ⁻B)
                ∪ null_extend_right(Δ⁻B ▷ A)
        flips = null_extend(a_new ⋉ Δ⁻B ▷ b_new)
                ∪ null_extend_right(b_new ⋉ Δ⁻A ▷ a_new)
        M'    = (M exceptAll gone) ∪ flips

    ``Δ⁻A ⟕ B`` is every view row a deleted A row owned (matched or
    left-null); ``Δ⁻B ▷ A`` is the deleted B rows that owned a
    RIGHT-null row (no match in either part of A — the three gone
    terms are disjoint, so nothing retracts twice). The registry
    row's oracle recomputes the post-delete FULL JOIN from scratch;
    the hash match certifies all four flip directions across this
    function and the increment. Scale notes as
    :func:`delta_left_join_retract`."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    a_all = a_new.unionByName(retract_a)
    b_all = b_new.unionByName(retract_b)
    owned_by_dead_a = _small_left_outer(
        retract_a, b_all, on, broadcast_deltas
    )
    view_cols = owned_by_dead_a.columns
    rb_matched_keys = (
        a_all.join(maybe_b(retract_b.select(*on).distinct()), on, "semi")
        .select(*on)
        .distinct()
    )
    gone = owned_by_dead_a.unionByName(
        a_new.join(maybe_b(retract_b), on)
    ).unionByName(
        _null_extend(
            retract_b.join(maybe_b(rb_matched_keys), on, "anti"),
            view_cols,
            a_new.schema,
        )
    )
    left_flips = _null_extend(
        _flip_select(a_new, retract_b, b_new, on, broadcast_deltas),
        view_cols,
        retract_b.schema,
    )
    right_flips = _null_extend(
        _flip_select(b_new, retract_a, a_new, on, broadcast_deltas),
        view_cols,
        retract_a.schema,
    )
    return view.exceptAll(gone).unionByName(left_flips).unionByName(
        right_flips
    )


def delta_join_retract_keyed(
    view: DataFrame,
    retract_a_ids: DataFrame,
    retract_b_ids: DataFrame,
    a_id: str,
    b_id: str,
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a materialized INNER equi-join view KEYED by
    per-side row ids (round 10) — the cheap deployment shape the
    keyless :func:`delta_join_retract` docstring names: when the view
    carries each side's row id (``a_id``, ``b_id``), a join row dies
    iff either contributor's id was deleted, so retraction is two
    anti-joins on the ids —

        M' = view ▷_{a_id} Δ⁻A_ids ▷_{b_id} Δ⁻B_ids

    — no exceptAll, no view-sized all-column shuffle: with broadcast
    id sets (deletions are arrival-sized) the view is scanned ONCE and
    never shuffled, and a view bucketed/partitioned by either id
    prunes that scan further. Bag-exact trivially (ids are unique per
    base row, so anti-join removes exactly the dead rows). Same
    algebra as the keyless form — SCALING.md round-9 and round-10
    record the separation (the keyless exceptAll's 33.8× ratio at 100×
    history is the price this shape avoids). ``broadcast_deltas=False``
    for bulk purges where the id sets rival the view."""
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    return (
        view.join(maybe_b(retract_a_ids.select(a_id).distinct()), a_id, "anti")
        .join(maybe_b(retract_b_ids.select(b_id).distinct()), b_id, "anti")
        .select(*view.columns)
    )


def merge_agg_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two mergeable states (same schema): the REFRESH step of
    an incrementally-maintained aggregate — cost ∝ |state| + |delta
    state|, never the base corpus. n/sum add, min/max take the
    lattice meet/join; avg and friends derive downstream from (n,
    sum). Associative and commutative, so daily deltas can fold in
    any order and a compaction of many states is one union+groupBy."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum").cast("bigint").alias("sum"),
            F.min("min").cast("bigint").alias("min"),
            F.max("max").cast("bigint").alias("max"),
        )
    )


def retract_agg_state(
    state: DataFrame,
    deleted: DataFrame,
    base_remaining: DataFrame,
    keys: list[str],
    value: Column | str,
    broadcast_repair_keys: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a mergeable aggregate state (round 9) — the
    retraction half of the aggregate IVM story, with the classic
    min/max repair: ``n`` and ``sum`` are groups under subtraction, so
    they retract by arithmetic alone (state minus
    ``mergeable_agg_state(deleted)``), but ``min``/``max`` are only
    semilattices — deleting a non-extreme value leaves them intact,
    while deleting the CURRENT extreme forces a per-key recount.

    The repair is surgical: only keys whose deleted-min equals the
    state min (or deleted-max equals the state max) rescan
    ``base_remaining`` — a semi-join–pruned pass over the post-delete
    rows of just the affected keys, never the whole base (at 100 TB
    with key-partitioned or clustered storage that scan prunes to the
    affected partitions; the registry row's oracle recomputes from the
    full post-delete table, so the hash match certifies both the
    arithmetic path and the repair path). Keys whose every row was
    deleted (n reaches 0) drop out of the state, matching a
    recomputed GROUP BY. ``deleted`` must be a sub-bag of the original
    base; ``base_remaining`` is the base minus ``deleted``.

    ``broadcast_repair_keys`` (default True) broadcast-hints the
    repair key set for the semi-join prune — right for the normal
    case where only a handful of keys lost their extreme. An
    ADVERSARIAL deletion (purging a sentinel value that is the min of
    EVERY key) makes the repair set ≈ the full key cardinality, and at
    100 TB key counts a forced broadcast of that is a driver OOM —
    pass False there and let AQE pick the semi-join (the same lesson
    the join side measured: a base-sized 'delta' must not be
    broadcast; SCALING.md round-9/round-10).

    All key joins here are NULL-SAFE (round 11): GROUP BY puts NULL
    keys in one group, so the state can carry a NULL-keyed row whose
    deletions must subtract like any other — a plain column-name join
    would silently skip its retraction AND its extreme repair (the
    same defect class ADVICE r10 found in the top-k twin)."""
    d = mergeable_agg_state(deleted, keys, value)
    d_cols = d.select(
        *keys,
        F.col("n").alias("_dn"),
        F.col("sum").alias("_dsum"),
        F.col("min").alias("_dmin"),
        F.col("max").alias("_dmax"),
    )
    cond = None
    for c in keys:
        e = F.col(f"_s.{c}").eqNullSafe(F.col(f"_d.{c}"))
        cond = e if cond is None else cond & e
    j = (
        state.alias("_s")
        .join(d_cols.alias("_d"), cond, "left")
        .select(
            *[F.col(f"_s.{c}") for c in keys],
            "_s.n",
            "_s.sum",
            "_s.min",
            "_s.max",
            "_dn",
            "_dsum",
            "_dmin",
            "_dmax",
        )
    )
    adjusted = j.select(
        *keys,
        (F.col("n") - F.coalesce(F.col("_dn"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (F.col("sum") - F.coalesce(F.col("_dsum"), F.lit(0)))
        .cast("bigint")
        .alias("sum"),
        F.col("min"),
        F.col("max"),
        # repair needed iff the deleted extreme TOUCHES the state
        # extreme (a deleted value can never be outside [min, max] of
        # a consistent state/deleted pair)
        (
            F.col("_dmin").isNotNull()
            & (
                (F.col("_dmin") <= F.col("min"))
                | (F.col("_dmax") >= F.col("max"))
            )
        ).alias("_repair"),
    ).filter(F.col("n") > 0)
    clean = adjusted.filter(~F.col("_repair")).drop("_repair")
    broken_keys = adjusted.filter(F.col("_repair")).select(*keys, "n", "sum")
    # per-key recount of min/max ONLY for the touched keys, over the
    # post-delete base pruned by a null-safe semi-join on those keys
    v = F.col(value) if isinstance(value, str) else value
    recounted = (
        _nullsafe_semi_anti(
            base_remaining, broken_keys, keys, "semi", broadcast_repair_keys
        )
        .groupBy(*keys)
        .agg(
            F.min(v).cast("bigint").alias("min"),
            F.max(v).cast("bigint").alias("max"),
        )
    )
    recond = None
    for c in keys:
        e = F.col(f"_r.{c}").eqNullSafe(F.col(f"_b.{c}"))
        recond = e if recond is None else recond & e
    repaired = (
        recounted.alias("_r")
        .join(broken_keys.alias("_b"), recond)
        .select(
            *[F.col(f"_r.{c}") for c in keys],
            "_b.n",
            "_b.sum",
            "_r.min",
            "_r.max",
        )
    )
    return clean.unionByName(repaired)


def _nullsafe_semi_anti(
    left: DataFrame,
    right: DataFrame,
    cols: list[str],
    how: str,
    broadcast_right: bool = True,
) -> DataFrame:
    """``left ⋉/▷ right`` on NULL-SAFE equality of ``cols`` — the
    correctness fix for maintained views whose grouping treats NULLs
    as equal (GROUP BY / ROW_NUMBER partitioning group NULL keys
    together, but a plain semi/anti join on column names never matches
    them, so a NULL-keyed group would silently split between the
    touched and untouched paths; ADVICE round 10). ``<=>`` is still an
    equi-join key to Spark's planner, so the join stays a
    BroadcastHashJoin, never a nested loop. Output carries exactly the
    left side's columns (semi/anti contract)."""
    r = right.select(*cols)
    if broadcast_right:
        r = F.broadcast(r)
    lhs, rhs = left.alias("_l"), r.alias("_r")
    cond = None
    for c in cols:
        e = F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
        cond = e if cond is None else cond & e
    return lhs.join(rhs, cond, how).select(*[f"_l.{c}" for c in left.columns])


def topk_view_refresh(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    order_by: list[Column],
    k: int,
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally refresh a per-group TOP-K view under APPEND-ONLY
    deltas (round 10) — the rank twin of ``merge_agg_states``: a
    materialized "top k rows per group" view (reference top-k
    execution: sql/core/src/main/scala/org/apache/spark/sql/execution/
    basicOperators.scala TakeOrderedAndProject, here per-group) is a
    sub-bag of the base, and under inserts the new top-k of any group
    is contained in ``state ∪ delta`` — so the refresh never re-reads
    the base. Only groups the delta TOUCHES re-rank:

        untouched = state ▷ Δkeys        (passes through, no shuffle
                                          of the big state with
                                          broadcast Δkeys)
        touched   = rank(state ⋉ Δkeys ∪ Δ) keep ≤ k

    ``order_by`` must be a TOTAL order (include a tie-breaker column)
    — with ties at the horizon row_number picks arbitrarily and
    refresh-equals-recompute breaks; with a total order the registry
    row's oracle (full recompute via ROW_NUMBER) hash-matches
    row-for-row. Scale: state is ≤ k·|groups| rows — the per-group
    window runs on delta-sized candidate sets (|Δ| + k per touched
    group), and the untouched pass-through is an anti-join probe of
    the state scan with broadcast delta keys, so nothing base-sized
    ever shuffles. ``broadcast_deltas=False`` for backfills whose key
    set rivals the group cardinality. Key joins are NULL-SAFE (``<=>``,
    still a hash join) so a NULL-keyed group re-ranks as ONE group,
    matching the ROW_NUMBER recompute's NULL grouping — a plain
    column-name join would pass its state rows through as untouched
    while its delta rows re-ranked separately (ADVICE round 10)."""
    from pyspark.sql.window import Window

    touched_keys = delta.select(*keys).distinct()
    untouched = _nullsafe_semi_anti(
        state, touched_keys, keys, "anti", broadcast_deltas
    )
    cand = _nullsafe_semi_anti(
        state, touched_keys, keys, "semi", broadcast_deltas
    ).unionByName(delta.select(*state.columns))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    touched = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    return untouched.unionByName(touched)


def topk_view_retract(
    state: DataFrame,
    retract: DataFrame,
    base_remaining: DataFrame,
    keys: list[str],
    order_by: list[Column],
    k: int,
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a per-group TOP-K view (round 10) — the rank
    twin of ``retract_agg_state``'s surgical min/max repair: deleting
    a row BELOW a group's stored horizon leaves its top-k intact, but
    deleting a stored row opens a hole whose replacement lives below
    the horizon — outside the state — so that group must re-rank from
    the post-delete base. The repair is surgical:

        broken = keys of (Δ⁻ ⋉_value state)   — a deleted row whose
                 VALUE appears in the stored top-k can dent it; a
                 deleted row ranking strictly below the horizon never
                 can (its value would otherwise be stored)
        clean  = state ▷ broken ∖ nothing      (passes through)
        repaired = rank(base_remaining ⋉ broken) keep ≤ k

    The value-level semi-join is conservative-correct under
    duplicates: flagging a group whose identical-valued copy survived
    merely re-ranks it to the same answer. ``order_by`` must be a
    total order (tie-breaker column), same contract as
    :func:`topk_view_refresh`; the registry row's oracle recomputes
    top-k from the full post-delete table, certifying both the
    pass-through and the repair path. Scale: only broken groups
    rescan ``base_remaining``, pruned by a semi-join on their keys —
    with key-partitioned or clustered storage that prunes to the
    affected partitions. ``broadcast_deltas`` (default True) hints the
    delta-derived key sets; pass False for adversarial purges that
    touch most groups (same driver-OOM lesson as the agg twin,
    SCALING.md round-9/round-10). All joins here are NULL-SAFE (``<=>``,
    still hash joins): the broken-group detection compares VALUE
    columns, where a deleted row with a NULL in any non-key column
    must still match its stored copy (plain equality never would,
    leaving a dead row in the view), and the key-level split must
    treat a NULL-keyed group as one group, matching the recompute's
    NULL grouping (ADVICE round 10)."""
    from pyspark.sql.window import Window

    value_cols = list(state.columns)
    broken_keys = _nullsafe_semi_anti(
        retract.select(*value_cols),
        state,
        value_cols,
        "semi",
        broadcast_right=False,
    ).select(*keys).distinct()
    clean = _nullsafe_semi_anti(
        state, broken_keys, keys, "anti", broadcast_deltas
    )
    w = Window.partitionBy(*keys).orderBy(*order_by)
    repaired = (
        _nullsafe_semi_anti(
            base_remaining.select(*value_cols),
            broken_keys,
            keys,
            "semi",
            broadcast_deltas,
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    return clean.unionByName(repaired)


def distinct_view_state(df: DataFrame, cols: list[str]) -> DataFrame:
    """Count-annotated state for a maintained DISTINCT view (round 10)
    — the classic third IVM shape next to SPJ views and aggregate
    states: a DISTINCT projection is not directly maintainable under
    deletions (removing one duplicate must NOT remove the view row),
    so the state carries per-value multiplicity ``n`` and the view is
    its n > 0 projection. State size is |distinct values|, never the
    base."""
    return df.groupBy(*cols).agg(F.count("*").cast("bigint").alias("n"))


def distinct_view_apply(
    state: DataFrame,
    inserts: DataFrame,
    deletes: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Apply one batch of INSERTS and DELETES to a count-annotated
    DISTINCT view state (round 10): multiplicities are a group under
    addition, so the new state is one union + groupBy —

        n' = n + |inserts per value| − |deletes per value|,  keep n' > 0

    A value whose last copy dies leaves the view; a value deleted and
    re-inserted in the same batch survives with the net count; a brand
    new value enters with its insert count. ``deletes`` must be a
    sub-bag of state ∪ inserts (the caller's CDC contract — same as
    ``retract_agg_state``). Scale: cost ∝ |state| + |Δ| — one
    map-side-combined aggregation over the three terms, no base scan,
    no min/max-style repair needed (counts are a group, not a
    semilattice). The registry row's oracle recomputes SELECT DISTINCT
    from the post-change base; the view projection is the n > 0
    filter."""
    delta = (
        inserts.select(*cols)
        .withColumn("n", F.lit(1).cast("bigint"))
        .unionByName(
            deletes.select(*cols).withColumn(
                "n", F.lit(-1).cast("bigint")
            )
        )
    )
    return (
        state.unionByName(delta)
        .groupBy(*cols)
        .agg(F.sum("n").cast("bigint").alias("n"))
        .filter(F.col("n") > 0)
    )


def delta_semi_join_refresh(
    view: DataFrame,
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally refresh a materialized LEFT SEMI join view under
    arrivals (round 10) — with FULL OUTER done, this and the anti twin
    complete the join-TYPE IVM matrix over §2.3 (reference semi-join
    execution: sql/core/src/main/scala/org/apache/spark/sql/execution/
    joins/LeftSemiJoinHash.scala). A semi view ``M = A ⋉ B`` is
    MONOTONE under arrivals — existing rows never flip out — so the
    refresh is pure append:

        M' = M ∪ (ΔA ⋉ B_new) ∪ (A_old ▷ B_old ⋉ ΔB)

    The second term is the flip INTO the view: A_old rows that had no
    match and gained one (anti∘semi preserves left multiplicities, so
    k copies enter k times; an A_old row that ALREADY matched must not
    re-enter — the ▷ B_old guard). Every term is delta-driven; with
    ``broadcast_deltas`` neither base shuffles and the view is only
    unioned, never scanned. The registry row's oracle recomputes
    EXISTS from the post-arrival sides."""
    b_new = b_old.unionByName(delta_b)
    entered = (
        _semi_small_left(delta_a, b_new, on)
        if broadcast_deltas
        else delta_a.join(b_new.select(*on).distinct(), on, "semi")
    )
    flips = _flip_select(a_old, delta_b, b_old, on, broadcast_deltas)
    return view.unionByName(entered).unionByName(flips)


def _semi_small_left(small_a: DataFrame, big_b: DataFrame, on: list[str]) -> DataFrame:
    """``small_a ⋉ big_b`` without shuffling the big side: semi-probe
    the big side with a broadcast of the small side's keys, then
    broadcast the matched keys back — the semi twin of
    :func:`_small_left_outer`'s decomposition."""
    matched_keys = (
        big_b.join(F.broadcast(small_a.select(*on).distinct()), on, "semi")
        .select(*on)
        .distinct()
    )
    return small_a.join(F.broadcast(matched_keys), on, "semi")


def delta_semi_join_retract(
    view: DataFrame,
    a_new: DataFrame,
    retract_a: DataFrame,
    b_new: DataFrame,
    retract_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a materialized LEFT SEMI join view
    (round 10): a view row dies if its A row was deleted, or if its
    matches ALL died —

        gone = (Δ⁻A ⋉ B) ∪ (a_new ⋉ Δ⁻B ▷ b_new)
        M'   = M exceptAll gone

    (B = b_new ∪ Δ⁻B; the second term is the flip OUT — had a deleted
    match, has no surviving one; bag-exact per A-row copy). The
    exceptAll is the honest keyless cost, state-sized here since a
    semi view is at most |A|. Oracle recomputes EXISTS post-delete."""
    b_all = b_new.unionByName(retract_b)
    dead_a = (
        _semi_small_left(retract_a, b_all, on)
        if broadcast_deltas
        else retract_a.join(b_all.select(*on).distinct(), on, "semi")
    )
    flips_out = _flip_select(a_new, retract_b, b_new, on, broadcast_deltas)
    return view.exceptAll(dead_a.unionByName(flips_out))


def delta_anti_join_refresh(
    view: DataFrame,
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Incrementally refresh a materialized LEFT ANTI join view under
    arrivals (round 10) — the dual of :func:`delta_semi_join_refresh`
    (reference anti/not-exists execution: the LeftSemiJoinHash family
    with the condition negated): an anti view ``M = A ▷ B`` is
    ANTI-monotone under B arrivals — ΔB only removes rows —

        appends     = ΔA ▷ B_new
        flip_keys   = keys(A_old) ∩ ΔB-keys ∖ keys(B_old)
        M' = (M ▷ flip_keys) ∪ appends

    The flipped keys are exactly the semi view's entry keys — the two
    views partition A, and the registry rows certify both sides of
    that identity against independent EXISTS / NOT EXISTS oracles.
    Retraction is by KEY (an anti view's membership depends only on
    the key, so every row of a flipped key leaves): one broadcast anti
    probe of the view scan, no exceptAll, no view shuffle."""
    b_new = b_old.unionByName(delta_b)
    appends = (
        _anti_small_left(delta_a, b_new, on)
        if broadcast_deltas
        else delta_a.join(b_new.select(*on).distinct(), on, "anti")
    )
    flip_keys = _flip_keys(a_old, delta_b, b_old, on, broadcast_deltas)
    maybe_b = F.broadcast if broadcast_deltas else (lambda d: d)
    return view.join(maybe_b(flip_keys), on, "anti").unionByName(appends)


def _anti_small_left(small_a: DataFrame, big_b: DataFrame, on: list[str]) -> DataFrame:
    """``small_a ▷ big_b`` without shuffling the big side — anti the
    broadcast matched-key set back (see :func:`_semi_small_left`)."""
    matched_keys = (
        big_b.join(F.broadcast(small_a.select(*on).distinct()), on, "semi")
        .select(*on)
        .distinct()
    )
    return small_a.join(F.broadcast(matched_keys), on, "anti")


def delta_anti_join_retract(
    view: DataFrame,
    a_new: DataFrame,
    retract_a: DataFrame,
    b_new: DataFrame,
    retract_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Apply DELETIONS to a materialized LEFT ANTI join view
    (round 10): deleted A rows leave; surviving A rows whose matches
    ALL died flip IN —

        gone  = Δ⁻A ▷ B                       (B = b_new ∪ Δ⁻B)
        flips = a_new ⋉ Δ⁻B ▷ b_new
        M'    = (M exceptAll gone) ∪ flips

    ``flips`` is again the semi twin's flip-out term — rows crossing
    the partition boundary between the two views. Oracle recomputes
    NOT EXISTS post-delete; a row flipping in twice (once per deleted
    match) would break the hash — the semi(Δ⁻B keys)∘anti(b_new)
    composition admits each a-row copy exactly once."""
    b_all = b_new.unionByName(retract_b)
    gone = (
        _anti_small_left(retract_a, b_all, on)
        if broadcast_deltas
        else retract_a.join(b_all.select(*on).distinct(), on, "anti")
    )
    flips = _flip_select(a_new, retract_b, b_new, on, broadcast_deltas)
    return view.exceptAll(gone).unionByName(flips)


_RUNNING_FNS = ("sum", "count", "min", "max", "avg")


def running_window_view(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    measure: Column | str | None,
    out_col: str = "running_sum",
    fn: str = "sum",
) -> DataFrame:
    """The view definition for the window-IVM pair below: every input
    row annotated with its per-key RUNNING SUM of ``measure`` over
    ``order_by`` (SUM ... OVER (PARTITION BY keys ORDER BY order_by
    ROWS UNBOUNDED PRECEDING) — reference window execution:
    sql/core/src/main/scala/org/apache/spark/sql/execution/Window.scala).
    ``order_by`` must be a TOTAL order within each key (include a
    tie-breaker) and ``measure`` integer-exact, the same contracts as
    the top-k and agg views — otherwise refresh == recompute cannot be
    hash-certified."""
    from pyspark.sql.window import Window

    if fn not in _RUNNING_FNS:
        raise ValueError(f"running window fn must be one of {_RUNNING_FNS}")
    if measure is None:
        if fn != "count":
            raise ValueError(f"running {fn!r} needs a measure column")
        m = F.lit(1)  # COUNT(*)
    else:
        m = F.col(measure) if isinstance(measure, str) else measure
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # sum/count cast bigint (the integer-exact certification contract;
    # the cast applies to the WINDOWED column — casting the aggregate
    # before .over() demotes it to a non-window aggregate); min/max
    # keep the measure's type; avg is double — deterministic under the
    # touched-key rewrite (same rows, same sequential frame) but
    # certify it with rounding against cross-engine oracles
    col = {
        "sum": F.sum, "count": F.count, "min": F.min, "max": F.max,
        "avg": F.avg,
    }[fn](m).over(w)
    if fn in ("sum", "count"):
        col = col.cast("bigint")
    return df.withColumn(out_col, col)


def window_view_refresh(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    order_by: list[Column],
    measure: Column | str | None,
    out_col: str = "running_sum",
    broadcast_deltas: bool = True,
    fn: str = "sum",
) -> DataFrame:
    """Incrementally refresh a materialized RUNNING-AGG window view
    under APPEND-ONLY arrivals (round 11, VERDICT r10 stretch #8) —
    the last view shape with no IVM story: window functions. A running
    sum is not key-mergeable like (n, sum, min, max) — an arriving row
    that sorts BEFORE existing rows shifts every later row's running
    value — but it is KEY-LOCAL: rows of key g depend only on rows of
    key g. So the top-k broadcast-anti pattern generalizes:

        untouched = state ▷ Δkeys     (broadcast anti probe of the
                                       state scan; never shuffles)
        touched   = window(state ⋉ Δkeys minus the agg col ∪ Δ)
        M' = untouched ∪ touched

    The state IS the row-level view (every base row + its running
    value), so the touched re-rank needs NO base rescan — cost ∝ rows
    of touched keys + |Δ|, and only those rows shuffle (one exchange
    for the re-window). Key joins are NULL-SAFE (a NULL key is one
    window partition, :func:`_nullsafe_semi_anti`). The registry row's
    oracle recomputes SUM OVER from the full table; the hash match
    certifies both the pass-through and the re-window (an arriving
    early-dated row must shift every later running value of its key).
    ``broadcast_deltas=False`` for backfills touching most keys.

    MEASURED honesty (100× probe, SCALING.md round-11): because the
    state IS the base (unlike top-k/agg/distinct whose state is tiny),
    this re-emission form pays two base scans vs recompute's one
    scan + full shuffle + sort — and on local[32] the shuffle is
    memory-speed, so recompute wins the local clock (0.43×). What the
    maintenance saves is the SHUFFLE: 0.91 MB (delta-sized, flat)
    vs recompute's 280 MB (∝ base) of shuffle writes at 100× — the
    network bottleneck at cluster scale. Deployments therefore ship
    :func:`window_view_delta` (touched-key partition overwrite), and
    keep this form as the view-semantics oracle surface."""
    touched_keys = delta.select(*keys).distinct()
    untouched = _nullsafe_semi_anti(
        state, touched_keys, keys, "anti", broadcast_deltas
    )
    cand = (
        _nullsafe_semi_anti(state, touched_keys, keys, "semi", broadcast_deltas)
        .drop(out_col)
        .unionByName(delta.select(*[c for c in state.columns if c != out_col]))
    )
    return untouched.unionByName(
        running_window_view(cand, keys, order_by, measure, out_col, fn)
    )


def window_view_retract(
    state: DataFrame,
    deleted: DataFrame,
    keys: list[str],
    order_by: list[Column],
    measure: Column | str | None,
    out_col: str = "running_sum",
    broadcast_deltas: bool = True,
    fn: str = "sum",
) -> DataFrame:
    """Apply DELETIONS to a materialized RUNNING-AGG window view
    (round 11): deleting a row shifts every LATER row of its key, so
    touched keys re-window — and because the state carries every
    surviving base row, the post-delete rows of a touched key are just
    ``state ⋉ Δ⁻keys exceptAll Δ⁻`` — NO base rescan, unlike the agg
    twin's min/max repair (the window view pays storage ∝ base rows
    for that privilege; the agg state pays a repair scan for its
    keys-sized storage — the classic space/maintenance trade stated in
    both docstrings). ``deleted`` must be a sub-bag of the stored base
    rows (CDC contract). The exceptAll is touched-key-sized, not
    view-sized. Oracle recomputes SUM OVER from the post-delete
    table."""
    touched_keys = deleted.select(*keys).distinct()
    untouched = _nullsafe_semi_anti(
        state, touched_keys, keys, "anti", broadcast_deltas
    )
    base_cols = [c for c in state.columns if c != out_col]
    cand = (
        _nullsafe_semi_anti(state, touched_keys, keys, "semi", broadcast_deltas)
        .drop(out_col)
        .exceptAll(deleted.select(*base_cols))
    )
    return untouched.unionByName(
        running_window_view(cand, keys, order_by, measure, out_col, fn)
    )


def window_view_delta(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    order_by: list[Column],
    measure: Column | str | None,
    out_col: str = "running_sum",
    broadcast_deltas: bool = True,
    fn: str = "sum",
) -> DataFrame:
    """The rows a window-view refresh REWRITES (round 11) — the
    deployment shape of :func:`window_view_refresh`, mirroring
    ``delta_join_increment`` vs ``delta_join_refresh``: only TOUCHED
    keys' rows change, and a view stored partitioned/bucketed by key
    overwrites exactly those partitions with this delta instead of
    re-emitting the untouched mass. Returns the re-windowed rows of
    every touched key (state rows of those keys ∪ Δ, one delta-sized
    window). Cost: one semi-probed scan of the state — with
    key-bucketed storage that scan PRUNES to the touched buckets
    (SCALING.md round-11's window-view probe measures the pruned form:
    the touched-bucket filter is a driver-side list of ≤ bucket-count
    ints, not data) — versus full recompute's scan + full-table
    shuffle + sort. The 100× probe is honest about the alternative:
    on local[32] the full-table shuffle is memory-speed, so the
    RE-EMISSION form (``window_view_refresh``) loses to recompute
    locally (SCALING.md round-11) — the re-emission exists as the
    view-semantics oracle surface; deployments ship this delta."""
    touched_keys = delta.select(*keys).distinct()
    cand = (
        _nullsafe_semi_anti(state, touched_keys, keys, "semi", broadcast_deltas)
        .drop(out_col)
        .unionByName(delta.select(*[c for c in state.columns if c != out_col]))
    )
    return running_window_view(cand, keys, order_by, measure, out_col, fn)
