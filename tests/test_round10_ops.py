"""Round-10 additions: LEFT OUTER join IVM (the null-row flip pinned
by hand in BOTH delta directions), the keyed retraction variant, the
retract_agg_state broadcast escape hatch under an adversarial
mass-extreme deletion, the completed Welch A/B row (Satterthwaite df +
loud zero-arm failure), and the Avro high-precision decimal fix.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_implementation_spark.operators import relational


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _left_sides(spark):
    """Tiny hand graph for the flip pins. A rows carry a dup (a-key 4
    twice) so bag multiplicities are exercised; keys cover: matched in
    old B only (1), matched in delta B only — THE FLIP (2, 4×2),
    matched in both (3), never matched (5)."""
    a = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (3, "a3"), (4, "a4"), (4, "a4"), (5, "a5")],
        "k int, av string",
    )
    b_old = spark.createDataFrame(
        [(1, "b1"), (3, "b3old")], "k int, bv string"
    )
    delta_b = spark.createDataFrame(
        [(2, "b2"), (3, "b3new"), (4, "b4")], "k int, bv string"
    )
    return a, b_old, delta_b


@pytest.mark.parametrize("broadcast", [True, False])
def test_left_ivm_increment_flip_forward(spark, broadcast):
    """Arrival direction: an arriving ΔB match must RETRACT the
    existing null-extended row — once per a-row COPY (key 4 is
    duplicated) — and never touch rows that already had a match
    (key 3 gains a match, retracts nothing); a never-matched row
    (key 5) keeps its null row. Refresh == full recompute, bag-exact,
    on both the broadcast-decomposed and plain-left-join plans."""
    a, b_old, delta_b = _left_sides(spark)
    delta_a = spark.createDataFrame([(6, "a6"), (2, "a6b")], "k int, av string")
    a_new = a.unionByName(delta_a)
    b_new = b_old.unionByName(delta_b)

    appends, retractions = relational.delta_left_join_increment(
        a, delta_a, b_old, delta_b, on=["k"], broadcast_deltas=broadcast
    )
    # the flip set is exactly keys 2 and 4 (twice): null rows die
    assert _rows(retractions) == [
        (2, "a2", None),
        (4, "a4", None),
        (4, "a4", None),
    ]
    # key 3 already matched: its gain arrives via appends, no retract
    assert (3, "a3", None) not in _rows(retractions)
    # delta-A rows settle matched-or-null in one pass (6 unmatched)
    assert (6, "a6", None) in _rows(appends)

    refreshed = relational.delta_left_join_refresh(
        a.join(b_old, ["k"], "left"),
        a, delta_a, b_old, delta_b,
        on=["k"], broadcast_deltas=broadcast,
    )
    assert _rows(refreshed) == _rows(a_new.join(b_new, ["k"], "left"))


@pytest.mark.parametrize("broadcast", [True, False])
def test_left_ivm_retract_flip_backward(spark, broadcast):
    """Deletion direction: deleting a surviving row's LAST match must
    flip it BACK to null-extended (key 1 loses b1), deleting one of
    several matches must not (key 3 keeps b3old), and a deleted A row
    takes its rows with it (key 2's arm removed entirely). Duplicate
    a-rows (key 4) flip once per copy. Result == post-delete
    recompute, bag-exact, under both broadcast settings."""
    a = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (3, "a3"), (4, "a4"), (4, "a4"), (5, "a5")],
        "k int, av string",
    )
    b = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (3, "b3old"), (3, "b3new"), (4, "b4")],
        "k int, bv string",
    )
    retract_a = a.filter(F.col("k") == 2)
    a_new = a.filter(F.col("k") != 2)
    retract_b = b.filter(F.col("bv").isin("b1", "b3new", "b4"))
    b_new = b.exceptAll(retract_b)

    kept = relational.delta_left_join_retract(
        a.join(b, ["k"], "left"),
        a_new, retract_a, b_new, retract_b,
        on=["k"], broadcast_deltas=broadcast,
    )
    expected = _rows(a_new.join(b_new, ["k"], "left"))
    assert _rows(kept) == expected
    # the backward flips really happened: 1 and both copies of 4 are
    # null-extended again, 3 kept its surviving match
    assert (1, "a1", None) in expected
    assert expected.count((4, "a4", None)) == 2
    assert (3, "a3", "b3old") in expected


def test_keyed_retract_matches_keyless(spark):
    """delta_join_retract_keyed reaches the identical post-delete view
    as the keyless exceptAll form — two anti-joins, no view shuffle."""
    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(1, 8)], "k int, av string"
    ).withColumn("aid", F.col("k"))
    b = spark.createDataFrame(
        [(i % 7 + 1, j, f"b{i}") for i, j in ((1, 1), (2, 1), (2, 2), (9, 1))],
        "k int, ln int, bv string",
    ).withColumn("bid", F.col("k") * 10 + F.col("ln"))
    view = a.join(b, ["k"])
    del_a = a.filter(F.col("k") == 2).select("aid")
    del_b = b.filter(F.col("bv") == "b1").select("bid")
    keyed = relational.delta_join_retract_keyed(
        view, del_a, del_b, a_id="aid", b_id="bid"
    )
    a_new = a.join(del_a, "aid", "anti").select(*a.columns)
    b_new = b.join(del_b, "bid", "anti").select(*b.columns)
    assert _rows(keyed) == _rows(
        a_new.join(b_new, ["k"]).select(*view.columns)
    )


@pytest.mark.parametrize("broadcast", [True, False])
def test_retract_agg_state_adversarial_mass_extreme(spark, broadcast):
    """VERDICT r9 'What's wrong' #1: delete a sentinel value that is
    simultaneously the min of EVERY key — broken_keys becomes the full
    key cardinality, the worst case for the (previously unconditional)
    broadcast. The repair must still answer exactly with the hint OFF,
    and the escape hatch must exist as a real parameter."""
    rows = [(k, -1) for k in range(50)] + [
        (k, v) for k in range(50) for v in (k + 10, k + 20)
    ]
    base = spark.createDataFrame(rows, "k int, v int")
    deleted = base.filter(F.col("v") == -1)
    remaining = base.filter(F.col("v") != -1)
    state = relational.mergeable_agg_state(base, ["k"], "v")
    out = relational.retract_agg_state(
        state, deleted, remaining, ["k"], "v",
        broadcast_repair_keys=broadcast,
    )
    expected = _rows(relational.mergeable_agg_state(remaining, ["k"], "v"))
    assert _rows(out) == expected
    # every key took the repair path (its min was the sentinel)
    assert all(r[3] == r[0] + 10 for r in expected)  # min repaired


def test_ab_welch_df_matches_textbook_exact_fraction(spark):
    """df_q6 equals the Welch–Satterthwaite df recomputed with exact
    Fractions (scipy-free), to the q9-reduction's precision; the
    one-sided-variance limit lands exactly on df = n_hi - 1."""
    from fractions import Fraction as Fr

    from big_data_project_implementation_spark.operators import events as ev

    def hand_df(xs, ys):
        na, nb = len(xs), len(ys)
        ma = Fr(sum(xs), na)
        mb = Fr(sum(ys), nb)
        va = sum((Fr(x) - ma) ** 2 for x in xs) / (na - 1)
        vb = sum((Fr(y) - mb) ** 2 for y in ys) / (nb - 1)
        num = (va / na + vb / nb) ** 2
        den = (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
        return num / den

    xs, ys = [3, 5, 4, 6, 9], [7, 8, 6, 14]
    df = spark.createDataFrame(
        [(i, 0, x) for i, x in enumerate(xs)]
        + [(100 + i, 1, y) for i, y in enumerate(ys)],
        "u long, v int, x long",
    )
    out = ev.ab_welch_t2(
        df, variant=F.col("v"), metric=F.col("x"), unit_col="u"
    ).collect()[0]
    want = float(hand_df(xs, ys))
    # q9 u-quantization: relative error < 2e-9, plus the q6 floor
    assert abs(out.df_q6 - want) < 2e-6 + 4e-9 * want
    assert out.df_q6 is not None and out.t2_q6 is not None

    # one arm constant (zero variance): df must hit n_other - 1 exactly
    zs = [5, 5, 5, 5, 5, 5]
    df2 = spark.createDataFrame(
        [(i, 0, x) for i, x in enumerate(xs)]
        + [(100 + i, 1, z) for i, z in enumerate(zs)],
        "u long, v int, x long",
    )
    out2 = ev.ab_welch_t2(
        df2, variant=F.col("v"), metric=F.col("x"), unit_col="u"
    ).collect()[0]
    assert out2.df_q6 == len(xs) - 1


def test_ab_welch_zero_arm_fails_loudly(spark):
    """ADVICE r9: a MISSING arm used to make the crossJoin emit an
    empty DataFrame — no row, no assert, a silent non-answer at a hash
    gate. The conditional rollup always emits its one row, so the n
    guard now raises."""
    from big_data_project_implementation_spark.operators import events as ev

    one_arm = spark.createDataFrame(
        [(1, 0, 3), (2, 0, 5), (3, 0, 7)], "u long, v int, x long"
    )
    with pytest.raises(Exception, match="ab_welch_t2 undefined"):
        ev.ab_welch_t2(
            one_arm, variant=F.col("v"), metric=F.col("x"), unit_col="u"
        ).collect()
    empty = spark.createDataFrame([], "u long, v int, x long")
    with pytest.raises(Exception, match="ab_welch_t2 undefined"):
        ev.ab_welch_t2(
            empty, variant=F.col("v"), metric=F.col("x"), unit_col="u"
        ).collect()


def test_ivfpq_compact_single_writer_lock(spark, tmp_path):
    """ADVICE r9: two concurrent compactions could GC each other's
    published version. The lock file must make the second claimant
    fail loudly, and a completed compaction must release the lock."""
    import os

    from big_data_project_implementation_spark.operators import (
        similarity as sim,
    )

    path = str(tmp_path / "idx")
    os.makedirs(path)
    # a held lock blocks compaction before any data is touched
    with open(os.path.join(path, "codes.compact.lock"), "w") as fh:
        fh.write("12345")
    with pytest.raises(RuntimeError, match="ONE compactor"):
        sim.ivfpq_compact(spark, path, str(tmp_path / "delta"))
    os.unlink(os.path.join(path, "codes.compact.lock"))

    # a real compact claims and RELEASES the lock
    base = spark.createDataFrame(
        [(0, 1, bytearray(b"\x01\x02")), (1, 2, bytearray(b"\x03\x04"))],
        "cell int, neighbor_id long, codes binary",
    )
    delta = spark.createDataFrame(
        [(0, 3, bytearray(b"\x05\x06"))],
        "cell int, neighbor_id long, codes binary",
    )
    base.write.partitionBy("cell").parquet(f"{path}/codes")
    delta_path = str(tmp_path / "delta")
    delta.write.parquet(delta_path)
    sim.ivfpq_compact(spark, path, delta_path)
    assert not os.path.exists(os.path.join(path, "codes.compact.lock"))
    merged = spark.read.parquet(sim._codes_dir(path))
    assert merged.count() == 3


@pytest.mark.parametrize("broadcast", [True, False])
def test_scd2_apply_arrivals_seam(spark, broadcast):
    """The SCD2-IVM boundary seam, pinned by hand: a repeated state
    EXTENDS the open interval (no new row, no end-date churn), a
    changed state CLOSES it at the user's first arriving change, a
    brand-new user opens normally, and an untouched user's history is
    byte-identical. Result == scd2_intervals over the full log."""
    from datetime import datetime as dt

    from big_data_project_implementation_spark.operators import events as ev

    def e(eid, ts_s, u, st):
        return (eid, dt(2024, 1, 1, 0, 0, ts_s), u, st)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    old = spark.createDataFrame(
        [
            e(1, 1, 1, "A"), e(2, 2, 1, "A"), e(3, 5, 1, "B"),
            e(4, 1, 2, "A"),
            e(5, 2, 3, "C"),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            e(10, 10, 1, "B"),   # same as open state: extends, no row
            e(11, 12, 1, "C"),   # closes B at :12, opens C
            e(12, 11, 2, "A"),   # pure extension: user 2 untouched
            e(13, 10, 4, "X"), e(14, 11, 4, "Y"),  # new user
        ],
        schema,
    )
    hist = ev.scd2_intervals(old)
    out = ev.scd2_apply_arrivals(hist, new, broadcast_deltas=broadcast)
    want = ev.scd2_intervals(old.unionByName(new))
    assert _rows(out) == _rows(want)
    got = {(r.user_id, r.state, r.valid_from, r.valid_to): r.is_current
           for r in out.collect()}
    t = lambda s: dt(2024, 1, 1, 0, 0, s)  # noqa: E731
    # user 1: B closed at the CHANGE ts (:12), not the repeat (:10)
    assert got[(1, "B", t(5), t(12))] is False
    assert got[(1, "C", t(12), None)] is True
    # user 2: one open row, valid_from still the HISTORICAL :01
    assert got[(2, "A", t(1), None)] is True
    # user 3 untouched; user 4 opened fresh
    assert got[(3, "C", t(2), None)] is True
    assert got[(4, "X", t(10), t(11))] is False
    assert got[(4, "Y", t(11), None)] is True


def _rowsr(df):
    """Sorted row tuples, None-safe (repr key avoids None<str ties)."""
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("broadcast", [True, False])
def test_full_ivm_increment_flips_both_sides(spark, broadcast):
    """FULL OUTER arrivals flip in BOTH directions: an arriving ΔB
    match kills an A row's left-null extension (key 2), an arriving
    ΔA match kills a B row's RIGHT-null extension (key 10, duplicated
    — once per copy), a cross-delta pair (key 7) appends exactly once
    and never materializes a doomed right-null row (ΔB ▷ A_NEW, not
    A_old), an unmatched ΔB row appends right-null (key 11), and an
    unmatched ΔA row appends left-null (key 6). Refresh == full
    recompute of A_new ⟗ B_new, bag-exact, both broadcast settings."""
    a_old = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (3, "a3")], "k int, av string"
    )
    b_old = spark.createDataFrame(
        [(1, "b1"), (3, "b3"), (10, "b10"), (10, "b10")], "k int, bv string"
    )
    delta_a = spark.createDataFrame(
        [(6, "a6"), (7, "a7"), (10, "a10")], "k int, av string"
    )
    delta_b = spark.createDataFrame(
        [(2, "b2"), (7, "b7"), (11, "b11")], "k int, bv string"
    )
    appends, retractions = relational.delta_full_join_increment(
        a_old, delta_a, b_old, delta_b, on=["k"], broadcast_deltas=broadcast
    )
    # left flip (2) once, right flip (10) once per stored copy
    assert _rowsr(retractions) == _rowsr(
        spark.createDataFrame(
            [(2, "a2", None), (10, None, "b10"), (10, None, "b10")],
            "k int, av string, bv string",
        )
    )
    ap = _rowsr(appends)
    assert (7, "a7", "b7") in ap          # cross-delta folded in once
    assert ap.count((7, "a7", "b7")) == 1
    assert (7, None, "b7") not in ap      # no doomed right-null row
    assert (11, None, "b11") in ap        # standing right-null append
    assert (6, "a6", None) in ap          # left-null append
    refreshed = relational.delta_full_join_refresh(
        a_old.join(b_old, ["k"], "full"),
        a_old, delta_a, b_old, delta_b,
        on=["k"], broadcast_deltas=broadcast,
    )
    assert _rowsr(refreshed) == _rowsr(
        a_old.unionByName(delta_a).join(
            b_old.unionByName(delta_b), ["k"], "full"
        )
    )


@pytest.mark.parametrize("broadcast", [True, False])
def test_full_ivm_retract_flips_both_sides(spark, broadcast):
    """FULL OUTER deletions flip back in BOTH directions: deleting a
    surviving B row's only A match flips it to right-null (key 1),
    deleting a surviving A row's only B match flips it to left-null
    (key 3), a deleted left-null A row just disappears (key 5), a
    deleted right-null B row just disappears (key 9), and a key with
    two matches keeps the survivor un-flipped (key 4). Result ==
    post-delete FULL JOIN recompute, bag-exact."""
    a = spark.createDataFrame(
        [(1, "a1"), (3, "a3"), (4, "a4"), (5, "a5")], "k int, av string"
    )
    b = spark.createDataFrame(
        [(1, "b1"), (3, "b3"), (4, "b4a"), (4, "b4b"), (9, "b9")],
        "k int, bv string",
    )
    retract_a = a.filter(F.col("av").isin("a1", "a5"))
    a_new = a.exceptAll(retract_a)
    retract_b = b.filter(F.col("bv").isin("b3", "b4b", "b9"))
    b_new = b.exceptAll(retract_b)
    kept = relational.delta_full_join_retract(
        a.join(b, ["k"], "full"),
        a_new, retract_a, b_new, retract_b,
        on=["k"], broadcast_deltas=broadcast,
    )
    expected = _rowsr(a_new.join(b_new, ["k"], "full"))
    assert _rowsr(kept) == expected
    assert (1, None, "b1") in expected    # right flip happened
    assert (3, "a3", None) in expected    # left flip happened
    assert (4, "a4", "b4a") in expected   # survivor kept matched
    assert all(r[0] not in (5, 9) for r in expected)  # nulls purged


def test_topk_view_refresh_only_touched_groups_rerank(spark):
    """Append-only top-k maintenance: groups untouched by the delta
    pass through; touched groups re-rank over state ∪ delta only —
    and the result equals the full ROW_NUMBER recompute over
    base ∪ delta. k=2, total order (score desc, id asc)."""
    base = spark.createDataFrame(
        [("g1", 1, 50), ("g1", 2, 40), ("g1", 3, 30),
         ("g2", 4, 10), ("g2", 5, 20)],
        "g string, id int, score int",
    )
    delta = spark.createDataFrame(
        [("g1", 6, 45), ("g3", 7, 5)], "g string, id int, score int"
    )
    from pyspark.sql.window import Window

    order = [F.col("score").desc(), F.col("id").asc()]
    w = Window.partitionBy("g").orderBy(*order)

    def topk(df):
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 2)
            .drop("_rn")
        )

    state = topk(base)
    out = relational.topk_view_refresh(state, delta, ["g"], order, 2)
    assert _rowsr(out) == _rowsr(topk(base.unionByName(delta)))
    rows = _rowsr(out)
    assert ("g1", 6, 45) in rows and ("g1", 2, 40) not in rows  # evicted
    assert ("g2", 5, 20) in rows                                # untouched
    assert ("g3", 7, 5) in rows                                 # new group


def test_topk_view_retract_surgical_repair(spark):
    """Deletion top-k maintenance: deleting a stored row opens a hole
    filled from BELOW the horizon (g1 loses its #1; #3 must surface —
    it lives only in the base), deleting a below-horizon row leaves
    the stored group untouched (g2), and deleting a whole group's
    rows removes it. Equals full recompute over the post-delete
    base."""
    base = spark.createDataFrame(
        [("g1", 1, 50), ("g1", 2, 40), ("g1", 3, 30),
         ("g2", 4, 20), ("g2", 5, 15), ("g2", 6, 10),
         ("g3", 7, 9)],
        "g string, id int, score int",
    )
    retract = base.filter(F.col("id").isin(1, 6, 7))
    remaining = base.exceptAll(retract)
    from pyspark.sql.window import Window

    order = [F.col("score").desc(), F.col("id").asc()]
    w = Window.partitionBy("g").orderBy(*order)

    def topk(df):
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 2)
            .drop("_rn")
        )

    state = topk(base)
    out = relational.topk_view_retract(
        state, retract, remaining, ["g"], order, 2
    )
    assert _rowsr(out) == _rowsr(topk(remaining))
    rows = _rowsr(out)
    assert ("g1", 3, 30) in rows      # below-horizon replacement found
    assert ("g2", 4, 20) in rows      # untouched group passed through
    assert all(r[0] != "g3" for r in rows)  # fully-deleted group gone


def test_distinct_view_apply_multiplicity_bookkeeping(spark):
    """The count-annotated DISTINCT state handles every multiplicity
    edge in one apply: last-copy death leaves the view ('b'),
    a surviving duplicate keeps its row ('a': 2 − 1 = 1),
    same-batch delete+insert nets out ('c': 1 − 1 + 2 = 2),
    and a brand-new value enters ('d')."""
    base = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",)], "v string"
    )
    state = relational.distinct_view_state(base, ["v"])
    inserts = spark.createDataFrame([("c",), ("c",), ("d",)], "v string")
    deletes = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    out = relational.distinct_view_apply(state, inserts, deletes, ["v"])
    assert _rows(out) == [("a", 1), ("c", 2), ("d", 1)]
    # idempotent view projection == recompute
    post = base.exceptAll(deletes).unionByName(inserts)
    assert _rows(out.select("v")) == _rows(post.select("v").distinct())


@pytest.mark.parametrize("broadcast", [True, False])
def test_semi_anti_ivm_flips_and_partition_identity(spark, broadcast):
    """SEMI/ANTI view maintenance under arrivals AND deletions, on the
    same hand graph: arrivals flip key 2 INTO the semi view (and out
    of anti), key 3 already matched and must not re-enter, arriving
    key 6 settles per B_NEW (a same-cycle item covers it — it enters
    semi, not anti). Deletions flip key 1 OUT of semi (its only match
    dies) exactly once per copy. After every step the two maintained
    views PARTITION the a-side — bag-union equals A, intersection
    empty — and each equals its recompute."""
    a_old = spark.createDataFrame(
        [(1, "a1"), (1, "a1"), (2, "a2"), (3, "a3"), (5, "a5")],
        "k int, av string",
    )
    delta_a = spark.createDataFrame([(6, "a6"), (7, "a7")], "k int, av string")
    b_old = spark.createDataFrame([(1, "b1"), (3, "b3")], "k int, bv string")
    delta_b = spark.createDataFrame(
        [(2, "b2"), (3, "b3x"), (6, "b6")], "k int, bv string"
    )
    semi = relational.delta_semi_join_refresh(
        a_old.join(b_old, ["k"], "semi"),
        a_old, delta_a, b_old, delta_b, ["k"], broadcast_deltas=broadcast,
    )
    anti = relational.delta_anti_join_refresh(
        a_old.join(b_old, ["k"], "anti"),
        a_old, delta_a, b_old, delta_b, ["k"], broadcast_deltas=broadcast,
    )
    a_new = a_old.unionByName(delta_a)
    b_new = b_old.unionByName(delta_b)
    assert _rowsr(semi) == _rowsr(a_new.join(b_new, ["k"], "semi"))
    assert _rowsr(anti) == _rowsr(a_new.join(b_new, ["k"], "anti"))
    sr, ar = _rowsr(semi), _rowsr(anti)
    assert (2, "a2") in sr and (2, "a2") not in ar      # flip in
    assert sr.count((3, "a3")) == 1                     # no re-entry
    assert (6, "a6") in sr and (6, "a6") not in ar      # B_new, not B_old
    assert (7, "a7") in ar and (5, "a5") in ar
    assert sorted(sr + ar, key=repr) == _rowsr(a_new)   # partition

    # deletions: kill b1 (key 1's only match) and a copy-owner (key 3)
    retract_a = a_new.filter(F.col("k") == 3)
    a_kept = a_new.filter(F.col("k") != 3)
    retract_b = b_new.filter(F.col("bv") == "b1")
    b_kept = b_new.exceptAll(retract_b)
    semi2 = relational.delta_semi_join_retract(
        a_new.join(b_new, ["k"], "semi"),
        a_kept, retract_a, b_kept, retract_b, ["k"],
        broadcast_deltas=broadcast,
    )
    anti2 = relational.delta_anti_join_retract(
        a_new.join(b_new, ["k"], "anti"),
        a_kept, retract_a, b_kept, retract_b, ["k"],
        broadcast_deltas=broadcast,
    )
    assert _rowsr(semi2) == _rowsr(a_kept.join(b_kept, ["k"], "semi"))
    assert _rowsr(anti2) == _rowsr(a_kept.join(b_kept, ["k"], "anti"))
    s2, a2 = _rowsr(semi2), _rowsr(anti2)
    assert a2.count((1, "a1")) == 2 and (1, "a1") not in s2  # per-copy flip
    assert all(r[0] != 3 for r in s2 + a2)                   # deleted A gone
    assert sorted(s2 + a2, key=repr) == _rowsr(a_kept)       # partition


def test_ivm_outer_semi_anti_algebra_property(spark):
    """Property test over the round-10 IVM shapes: for random bags
    with heavy key collision, duplicate rows, and random sub-bag
    deletions — LEFT/FULL refresh == outer-join recompute (the
    key-level null-flip retraction is exact even when a flipped key
    carries duplicate a-rows), LEFT/FULL retract == post-delete
    recompute, and SEMI/ANTI refresh+retract partition the a-side at
    every step. Few examples (each assertion is a Spark plan) but
    adversarial by construction — keys collide in [0,3], values in
    [0,2]."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row = st.tuples(st.integers(0, 3), st.integers(0, 2))
    bags = st.tuples(
        st.lists(row, min_size=0, max_size=6),  # a_old
        st.lists(row, min_size=0, max_size=4),  # delta_a
        st.lists(row, min_size=0, max_size=6),  # b_old
        st.lists(row, min_size=0, max_size=4),  # delta_b
    )

    def bag(df):
        out: dict = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    def mk(rows, col):
        return spark.createDataFrame(
            [(k, f"{col}{v}") for k, v in rows] or [(None, None)],
            f"k long, {col}v string",
        ).filter(F.col("k").isNotNull())

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(bags)
    def check(data):
        ra, da, rb, db = data
        a_old, delta_a = mk(ra, "a"), mk(da, "a")
        b_old, delta_b = mk(rb, "b"), mk(db, "b")
        a_new, b_new = a_old.unionByName(delta_a), b_old.unionByName(delta_b)
        # refresh == recompute, left and full
        assert bag(
            relational.delta_left_join_refresh(
                a_old.join(b_old, ["k"], "left"),
                a_old, delta_a, b_old, delta_b, on=["k"],
            )
        ) == bag(a_new.join(b_new, ["k"], "left"))
        assert bag(
            relational.delta_full_join_refresh(
                a_old.join(b_old, ["k"], "full"),
                a_old, delta_a, b_old, delta_b, on=["k"],
            )
        ) == bag(a_new.join(b_new, ["k"], "full"))
        # retract (delete the deltas back out) == old view, left+full
        assert bag(
            relational.delta_left_join_retract(
                a_new.join(b_new, ["k"], "left"),
                a_old, delta_a, b_old, delta_b, on=["k"],
            )
        ) == bag(a_old.join(b_old, ["k"], "left"))
        assert bag(
            relational.delta_full_join_retract(
                a_new.join(b_new, ["k"], "full"),
                a_old, delta_a, b_old, delta_b, on=["k"],
            )
        ) == bag(a_old.join(b_old, ["k"], "full"))
        # semi/anti refresh: correct AND partition the a-side
        semi = bag(
            relational.delta_semi_join_refresh(
                a_old.join(b_old, ["k"], "semi"),
                a_old, delta_a, b_old, delta_b, on=["k"],
            )
        )
        anti = bag(
            relational.delta_anti_join_refresh(
                a_old.join(b_old, ["k"], "anti"),
                a_old, delta_a, b_old, delta_b, on=["k"],
            )
        )
        assert semi == bag(a_new.join(b_new, ["k"], "semi"))
        assert anti == bag(a_new.join(b_new, ["k"], "anti"))
        merged = dict(semi)
        for key, n in anti.items():
            merged[key] = merged.get(key, 0) + n
        assert merged == bag(a_new)

    check()
