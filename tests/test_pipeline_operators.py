"""Property tests for the approximate pipeline operators: the
approximate method must agree with its exact oracle counterpart
(recall/containment), and accuracy claims must hold.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_implementation_spark.operators import dedup, multimodal, similarity
from big_data_project_implementation_spark.operators import text as text_ops
from tests.conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_keeps_one_per_key(spark):
    d = _docs(spark).withColumn(
        "prefix", F.substring(F.lower(F.trim(F.col("text"))), 1, 30)
    )
    out = dedup.exact_dedup(d, text_col="prefix", id_col="doc_id")
    n_keys = d.select(
        F.regexp_replace(F.lower(F.trim("prefix")), r"\s+", " ").alias("k")
    ).distinct().count()
    assert out.count() == n_keys
    # survivors are min-ids: re-running dedup on the output is a no-op
    again = dedup.exact_dedup(out, text_col="prefix", id_col="doc_id")
    assert again.count() == out.count()


def test_minhash_estimates_jaccard(spark):
    """MinHash signature agreement must approximate true Jaccard: every
    pair with true J ≥ 0.9 must be found by LSH with est ≥ 0.6."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), k=1, threshold=0.9
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(
            _docs(spark), k=1, num_hashes=32, bands=8, threshold=0.6
        ).collect()
    }
    missed = [p for p in exact if p not in approx]
    assert not missed, f"LSH missed high-jaccard pairs: {missed[:5]}"
    for pair, est in approx.items():
        if pair in exact:
            assert abs(est - exact[pair]) < 0.35, (pair, est, exact[pair])


def test_simhash_near_dups_have_similar_text(spark):
    """Pairs within small Hamming distance must have decent true word
    overlap (SimHash soundness, not completeness)."""
    docs = _docs(spark).filter(F.col("doc_id") < 150)
    pairs = dedup.simhash_pairs(
        docs, k=1, max_hamming=4, bands=4
    ).collect()
    if not pairs:
        return  # nothing asserted if corpus has no close pairs at this sf
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, k=1, threshold=0.0).collect()
    }
    for r in pairs:
        j = exact.get((r.id_a, r.id_b), 0.0)
        assert j > 0.3, f"simhash pair ({r.id_a},{r.id_b}) ham={r.hamming} but J={j}"


def test_lsh_topk_recall_vs_bruteforce(spark):
    emb = _emb(spark)
    queries_df = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries_df, emb, k=5)
    approx = similarity.lsh_bucketed_topk(queries_df, emb, dim=64, k=5, n_planes=4)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"LSH recall too low: {recall}"
    # approx results must be a subset of legal neighbors (sound scores)
    for r in approx.collect():
        assert -1.0001 <= r.cos <= 1.0001


def test_embedding_near_dup_lsh_contained_in_exact(spark):
    emb = _emb(spark)
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in emb.alias("a")
        .crossJoin(emb.alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn(
            "cos", similarity.cosine(F.col("a.embedding"), F.col("b.embedding"))
        )
        .filter(F.col("cos") >= 0.9)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .collect()
    }
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.9, dim=64, n_planes=4
        ).collect()
    }
    assert lsh_pairs <= exact_pairs  # soundness: LSH never invents a pair


def test_jaccard_sparse_prefix_path_matches_dense(spark):
    """Force the AllPairs prefix-filter strategy (dense_max_sets=0) —
    the 100 TB path — and require pair-identical output vs the dense
    broadcast-NL strategy on the same corpus. Any consistent global
    token order is valid for prefix filtering; this pins that the
    (doc-frequency, hashed-shingle) order misses nothing."""
    docs = _docs(spark).limit(200)
    dense = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    sparse = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, dense_max_sets=0
        ).collect()
    }
    assert sparse == dense


def test_minhash_agg_signatures_match_expression_form(spark):
    """The codegen'd explode+min-agg signature path must be
    value-identical to the per-row HOF expression form."""
    docs = _docs(spark).limit(50)
    agg = {
        r.id: r.sig
        for r in dedup.minhash_signatures(docs, num_hashes=16).collect()
    }
    expr = {
        r.id: r.sig
        for r in docs.select(
            F.col("doc_id").alias("id"),
            dedup.minhash_signature(dedup.shingles("text", 3), 16).alias("sig"),
        ).collect()
    }
    assert agg == expr


def test_simhash_agg_signatures_match_expression_form(spark):
    docs = _docs(spark).limit(50)
    agg = {r.id: r.sh64 for r in dedup.simhash_signatures(docs).collect()}
    expr = {
        r.id: r.sh64
        for r in docs.select(
            F.col("doc_id").alias("id"), dedup.simhash("text", 3).alias("sh64")
        ).collect()
    }
    assert agg == expr


def test_lsh_vectorized_signatures_match_expression_form(spark):
    """The numpy-matmul bucket signature must agree with the
    expression-only lsh_tables form (same hyperplanes/seeds)."""
    emb = _emb(spark).limit(100)
    vec = {
        r.vec_id: list(r.buckets)
        for r in emb.select(
            "vec_id",
            similarity.lsh_signatures(64, 4, 6, 42)("embedding").alias("buckets"),
        ).collect()
    }
    expr = {
        r.vec_id: [tb.bucket for tb in sorted(r.tbs, key=lambda s: s.tbl)]
        for r in emb.select(
            "vec_id",
            similarity.lsh_tables("embedding", 64, 4, 6, 42).alias("tbs"),
        ).collect()
    }
    assert vec == expr


def test_lsh_signatures_tolerate_null_and_ragged_vectors(spark):
    """A null or wrong-length embedding must land in bucket 0 (the
    expression form's null-propagation behavior), not kill the task."""
    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None), (3, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r.vec_id: list(r.b)
        for r in df.select(
            "vec_id",
            similarity.lsh_signatures(64, 4, 2, 42)("embedding").alias("b"),
        ).collect()
    }
    assert rows[2] == [0, 0] and rows[3] == [0, 0]
    assert len(rows[1]) == 2  # real vector still hashes


def test_multimodal_feature_shapes(spark):
    docs = _docs(spark).limit(40)
    media = multimodal.attach_binary_payload(docs, "text", "doc_id")
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 40
    for r in feats:
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-6  # L1 normalized
        assert r.n_bytes > 0


def test_multimodal_frame_sampling(spark):
    docs = _docs(spark).limit(10)
    media = multimodal.attach_binary_payload(docs, "text", "doc_id")
    frames = multimodal.sample_frames(media, every_n_bytes=64).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    n_bytes = {r.media_id: r.n_bytes for r in media.collect()}
    for mid, rows in by_id.items():
        expected = max(1, -(-n_bytes[mid] // 64))  # ceil
        assert len(rows) == expected
        assert sorted(r.frame_no for r in rows) == list(range(len(rows)))


def test_multimodal_strict_decode_rejects_non_media(spark):
    """strict=True demands a recognized media container; text payloads
    (no PNG/GIF/BMP/JPEG/WAV header) must raise DecoderNotAvailable."""
    docs = _docs(spark).limit(2)
    media = multimodal.attach_binary_payload(docs, "text", "doc_id")
    import pytest as _pytest

    with _pytest.raises(Exception, match="decode"):
        multimodal.extract_features(media, strict=True).collect()


def test_media_header_parsers_match_hand_computed():
    """Pure-python header parsers vs hand-built byte layouts."""
    png = multimodal.png_bytes(640, 480)
    assert len(png) == 45  # magic 8 + IHDR 25 + IEND 12
    assert multimodal.parse_media_header(png) == {
        "kind": "png", "width": 640, "height": 480,
    }

    wav = multimodal.wav_bytes(8000, sample_rate=16000, channels=2)
    assert len(wav) == 44 + 2 * 8000 * 2  # canonical header + 16-bit PCM
    assert multimodal.parse_media_header(wav) == {
        "kind": "wav", "channels": 2, "sample_rate": 16000, "n_frames": 8000,
    }

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert multimodal.parse_media_header(gif) == {
        "kind": "gif", "width": 320, "height": 200,
    }

    bmp = (
        b"BM" + b"\x00" * 12 + (40).to_bytes(4, "little")
        + (800).to_bytes(4, "little")
        + ((-600) % (1 << 32)).to_bytes(4, "little")
    )
    # negative height = top-down DIB; dimension is the magnitude
    assert multimodal.parse_media_header(bmp) == {
        "kind": "bmp", "width": 800, "height": 600,
    }

    # JPEG: SOI + APP0 stub + SOF0 with height 1080, width 1920
    import struct as _s

    jpeg = (
        b"\xff\xd8\xff\xe0" + _s.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + _s.pack(">H", 11) + b"\x08"
        + _s.pack(">HH", 1080, 1920) + b"\x01\x00\x00\x00"
    )
    assert multimodal.parse_media_header(jpeg) == {
        "kind": "jpeg", "width": 1920, "height": 1080,
    }

    assert multimodal.parse_media_header(b"plain text") is None
    assert multimodal.parse_media_header(b"") is None

    # poison-pill safety: truncated RIFF must return None, never raise
    # (wave's chunk reader throws EOFError/struct.error, not wave.Error)
    truncated_wav = multimodal.wav_bytes(100)[:20]
    assert multimodal.parse_media_header(truncated_wav) is None

    # SOF frame abutting the end of a header-only prefix still parses
    jpeg_tail = (
        b"\xff\xd8\xff" + b"\xc0" + _s.pack(">H", 8) + b"\x08"
        + _s.pack(">HH", 480, 640)
    )
    assert multimodal.parse_media_header(jpeg_tail) == {
        "kind": "jpeg", "width": 640, "height": 480,
    }

    # OS/2 BITMAPCOREHEADER stores int16 dims at 18/20
    core_bmp = (
        b"BM" + b"\x00" * 12 + (12).to_bytes(4, "little")
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")  # planes, bpp
    )
    assert multimodal.parse_media_header(core_bmp) == {
        "kind": "bmp", "width": 320, "height": 240,
    }


def test_extract_media_metadata_roundtrip(spark):
    """synthesize_media → extract_media_metadata recovers the closed-form
    id-derived metadata (the multimodal_features oracle contract)."""
    docs = _docs(spark).limit(60)
    media = multimodal.synthesize_media(docs, id_col="doc_id")
    rows = {r.media_id: r for r in multimodal.extract_media_metadata(media).collect()}
    assert len(rows) == 60
    for mid, r in rows.items():
        if mid % 20 == 0:
            assert (r.kind, r.mime) == ("png", "image/png")
            assert r.width == 16 + mid % 97
            assert r.height == 16 + (7 * mid) % 89
            assert r.n_bytes == 45 and r.n_frames is None
        else:
            assert (r.kind, r.mime) == ("wav", "audio/wav")
            assert r.n_frames == 100 + mid % 400
            assert (r.channels, r.sample_rate) == (1, 8000)
            assert r.n_bytes == 44 + 2 * r.n_frames
            assert r.width is None


def test_ivf_topk_recall_vs_bruteforce(spark):
    emb = _emb(spark)
    queries_df = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(queries_df, emb, k=5)
    cents = similarity.ivf_centroids(emb, n_cells=8, iters=2)
    assert cents.count() == 8
    approx = similarity.ivf_topk(queries_df, emb, cents, k=5, nprobe=3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 3/8 cells should still capture most true neighbors
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    for r in approx.collect():
        assert -1.0001 <= r.cos <= 1.0001


def test_route_nearest_cell_ranks_zero_norm_centroid_lowest(spark):
    """A zero-norm centroid scores cos = NULL. Routing must rank it
    below every defined cosine even when it is the lowest cell; a
    zero query vector, whose every score is NULL, routes to the lowest
    cell."""
    cents = spark.createDataFrame(
        [(1, [0, 0]), (2, [1_000_000, 0]), (3, [0, 1_000_000])],
        "cell int, centroid array<long>",
    )
    vecs = spark.createDataFrame(
        [(0, [0.1, 0.9]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "id int, v array<float>",
    )
    got = {
        r.id: r.cell
        for r in similarity._route_nearest_cell(vecs, cents, "v").collect()
    }
    assert got == {0: 3, 1: 2, 2: 1}


def test_brute_force_topk_ranks_zero_norm_vector_last(spark):
    """A zero-norm vector scores cos = NULL against every query instead
    of failing the job under ANSI division; its queries still get
    their defined neighbours ranked first."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in similarity.brute_force_topk(emb, emb, k=2).collect()
    }
    assert got == {
        (0, 1): (1, 0.707107),
        (0, 2): (2, None),
        (1, 1): (0, 0.707107),
        (1, 2): (2, None),
        (2, 1): (0, None),
        (2, 2): (1, None),
    }


def test_pipe_transform_linewise(spark):
    """ScriptTransformation parity: rows stream through an external
    process and come back row-aligned."""
    from big_data_project_implementation_spark.operators.text import pipe_transform

    docs = _docs(spark).filter(F.col("doc_id") < 50)
    out = pipe_transform(docs, ["tr", "a-z", "A-Z"], input_col="text")
    rows = out.select("doc_id", "text", "piped").collect()
    assert len(rows) == 50
    for r in rows:
        assert r.piped == r.text.replace("\\", "\\\\").upper()


def test_soundex_and_format_number(spark):
    """§2.8 names with no DuckDB oracle: soundex, format_number."""
    df = spark.createDataFrame(
        [("Robert", 1234567.891), ("Rupert", 0.5), ("Ashcraft", -42.0)],
        "name string, x double",
    )
    rows = df.select(
        F.soundex("name").alias("sx"), F.format_number("x", 2).alias("fx")
    ).collect()
    assert [r.sx for r in rows] == ["R163", "R163", "A261"]  # classic pairs
    assert [r.fx for r in rows] == ["1,234,567.89", "0.50", "-42.00"]


def test_approx_count_distinct_tolerance(spark):
    """HLL++ (reference HyperLogLogPlusPlus.scala:51): estimate within
    3x the default rsd of the exact distinct count."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    got = li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx"),
        F.count_distinct("l_orderkey").alias("exact"),
    ).collect()[0]
    assert abs(got.approx - got.exact) / got.exact < 0.15, got


def test_salted_join_matches_plain_join(spark):
    """Skew salting must be a pure physical rewrite: identical rows."""
    from big_data_project_implementation_spark.operators.relational import salted_join

    # skewed left: one hot key owning 90% of rows
    left = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    plain = left.join(right, ["k"]).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw")
    )
    salted = salted_join(left, right, ["k"], salt=8).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_rdd_escape_hatch(spark):
    """§2.11: df.rdd remains available for per-partition imperative
    logic; result flows back into a DataFrame."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    rdd = li.rdd.mapPartitions(
        lambda it: [sum(int(r.l_quantity) for r in it)]
    )
    total = sum(rdd.collect())
    exact = li.agg(F.sum(F.floor("l_quantity"))).collect()[0][0]
    assert total == exact


def test_connected_components_topologies(spark):
    """Chain (multi-round convergence), clique, hub star, and an
    isolated 2-cycle all collapse to min-id components."""
    edges = [
        # chain 10-11-12-13-14 (worst case for naive label propagation)
        (11, 10), (12, 11), (13, 12), (14, 13),
        # clique on {20,21,22}
        (20, 21), (21, 22), (20, 22),
        # hub: 30 connected to 31..35
        (30, 31), (30, 32), (30, 33), (30, 34), (30, 35),
        # pair, reversed + duplicated input
        (41, 40), (40, 41), (40, 41),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    want = (
        {(n, 10) for n in range(10, 15)}
        | {(n, 20) for n in (20, 21, 22)}
        | {(n, 30) for n in range(30, 36)}
        | {(40, 40), (41, 40)}
    )
    assert got == want


def test_connected_components_long_chain_converges(spark):
    """A 64-node chain needs O(log n) star rounds, not O(n): it must
    finish inside the default max_iterations."""
    n = 64
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "id_a long, id_b long"
    )
    rows = dedup.connected_components(pairs).collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {0}


def test_connected_components_runs_exactly_max_iterations(spark):
    """max_iterations caps star rounds one for one: on the 64-node
    chain neither 1 nor 2 rounds converge, and the second round moves
    the labels, so the two caps give different labelings."""
    n = 64
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "id_a long, id_b long"
    )

    def labels(cap):
        return {
            (r.id, r.component)
            for r in dedup.connected_components(pairs, max_iterations=cap).collect()
        }

    one, two = labels(1), labels(2)
    assert {c for _, c in two} != {0}
    assert one != two


def test_connected_components_empty_and_self_loops(spark):
    pairs = spark.createDataFrame([(7, 7)], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_assign_dedup_clusters_labels_every_row(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    out = {
        (r["doc_id"], r["component"], r["is_survivor"])
        for r in dedup.assign_dedup_clusters(df, pairs).collect()
    }
    assert out == {
        (0, 0, True), (1, 1, True), (2, 2, True),
        (3, 0, False), (4, 4, True), (5, 0, False),
    }


def test_hash_split_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = dict(
        df.select("doc_id", text_ops.hash_split("doc_id").alias("s")).collect()
    )
    b = dict(
        df.repartition(17)
        .select("doc_id", text_ops.hash_split("doc_id").alias("s"))
        .collect()
    )
    assert a == b  # membership is a pure function of the id
    from collections import Counter

    frac = Counter(a.values())
    assert 0.70 < frac["train"] / 2000 < 0.80  # 12/16 nominal
    assert set(frac) == {"train", "val", "test"}
    # a different seed draws a genuinely different split
    c = dict(
        df.select(
            "doc_id", text_ops.hash_split("doc_id", seed="v2").alias("s")
        ).collect()
    )
    assert a != c


def test_pack_sequences_budget_and_continuity(spark):
    rows = [(i, "g", 100 + (i * 37) % 300) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, n_tokens long")
    out = text_ops.pack_sequences(
        df, order_col="doc_id", tokens_col="n_tokens", budget=1000,
        partition_col="grp",
    ).orderBy("doc_id").collect()
    # pack_offset is the running token count mod budget; pack_id is
    # nondecreasing along the stream and every doc STARTS inside its pack
    cum = 0
    for r in out:
        assert r["pack_id"] == cum // 1000
        assert r["pack_offset"] == cum % 1000
        cum += r["n_tokens"]


def test_quality_filter_first_failed_rule_wins(spark):
    df = spark.createDataFrame(
        [
            (0, "ok text with a few plain words here"),
            (1, "xx"),                      # too_short (1 token)
            (2, "!! ?? ;; :: ,, .. !! ??"), # punct... but token len 2 is in range
            (3, "a b c d e f g h"),         # mean_token_len 1 -> out of range
            (4, "dup dup dup dup dup dup"), # repetitive
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["keep"], r["drop_reason"])
        for r in text_ops.quality_filter(df).collect()
    }
    assert got[0] == (True, None)
    assert got[1] == (False, "too_short")
    assert got[2][0] is False  # fails some rule, ordered CASE decides which
    assert got[3] == (False, "token_len_out_of_range")
    assert got[4] == (False, "too_repetitive")


def test_scrub_pii_idempotent_and_typed(spark):
    df = spark.createDataFrame(
        [(0, "mail a.b+c@x-corp.io or https://a.io/p?q=1 end")],
        "doc_id long, text string",
    )
    once = df.select(text_ops.scrub_pii("text").alias("t"))
    twice = once.select(text_ops.scrub_pii("t").alias("t"))
    s1 = once.collect()[0]["t"]
    s2 = twice.collect()[0]["t"]
    assert s1 == "mail <EMAIL> or <URL> end"
    assert s1 == s2


def test_stratified_hash_sample_rates_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(4000)],
        "doc_id long, lang string",
    )
    rates = {"en": 0.5, "de": 0.125}
    kept = text_ops.stratified_hash_sample(
        df, strata_col="lang", rates=rates, id_col="doc_id"
    )
    rows = kept.collect()
    again = set(
        r["doc_id"]
        for r in text_ops.stratified_hash_sample(
            df.repartition(13), strata_col="lang", rates=rates, id_col="doc_id"
        ).collect()
    )
    assert set(r["doc_id"] for r in rows) == again  # layout-invariant
    from collections import Counter

    by_lang = Counter(r["lang"] for r in rows)
    assert abs(by_lang["en"] / 2000 - 0.5) < 0.05
    assert abs(by_lang["de"] / 2000 - 0.125) < 0.05
    # un-listed strata fall back to default_rate=0.0 (dropped)
    extra = spark.createDataFrame([(99999, "xx")], "doc_id long, lang string")
    assert (
        text_ops.stratified_hash_sample(
            extra, strata_col="lang", rates=rates, id_col="doc_id"
        ).count()
        == 0
    )


def test_unigram_logprob_ranks_common_above_rare(spark):
    docs = [(0, "the the the the"), (1, "zqx wvu jkl mno")] + [
        (i, "the and of to a") for i in range(2, 20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_logprob"] for r in text_ops.unigram_logprob(df).collect()}
    assert got[0] > got[1]  # common tokens -> higher mean logprob
    assert all(v < 0 for v in got.values())


def test_decontaminate_flags_only_overlapping_docs(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),   # eval doc
            (1, "alpha beta gamma delta epsilon other"),  # shares a 5-gram
            (2, "totally different words here now yes"),  # clean
            (3, "one two"),                               # shorter than k
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["contaminated"])
        for r in text_ops.decontaminate(df, df.filter("doc_id = 0"), k=5).collect()
    }
    assert out[0] == (2, 2, True)    # eval doc: both its 5-grams hit
    assert out[1] == (2, 1, True)    # one shared 5-gram
    assert out[2] == (2, 0, False)
    assert out[3] == (1, 0, False)   # short doc -> single truncated gram


def test_min_band_collisions_precision_knob(spark):
    """m=2 candidates are a subset of m=1; exact duplicates (colliding
    in every band) always survive."""
    docs = t_docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
            (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near dup
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    kw = dict(text_col="text", id_col="doc_id", k=1, num_hashes=32, bands=8,
              threshold=0.5)
    p1 = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, **kw).collect()
    }
    p2 = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, **kw, min_band_collisions=2
        ).collect()
    }
    assert p2 <= p1
    assert (0, 1) in p2  # exact dup collides in all bands


def test_semdedup_invariants(spark):
    """SemDeDup soundness: kept = min-id per component; no two kept
    vectors in the same cell are near-dups; every dropped vector has a
    same-cell near-dup neighbor (the edge that pulled it into its
    component); deterministic across partitionings."""
    emb = _emb(spark).select("vec_id", "embedding")
    out = similarity.semdedup(emb, threshold=0.35, n_cells=8)
    rows = out.collect()
    assert {r.vec_id for r in rows} == {
        r.vec_id for r in emb.select("vec_id").collect()
    }
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.vec_id for m in members)
        kept = [m for m in members if m.kept]
        assert len(kept) == 1 and kept[0].vec_id == comp
        # a component never spans cells (pairs are within-cell only)
        assert len({m.cell for m in members}) == 1

    # within-cell exact pairs at the same threshold
    assigned = out.select("vec_id", "cell").join(emb, "vec_id")
    a = assigned.select(
        F.col("cell"), F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    )
    b = assigned.select(
        F.col("cell"), F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
    )
    pairs = {
        (r.ia, r.ib)
        for r in a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .filter(similarity.cosine("va", "vb") >= 0.35)
        .collect()
    }
    comp_of = {r.vec_id: r.component for r in rows}
    kept_ids = {r.vec_id for r in rows if r.kept}
    # no near-dup pair survives with both sides kept
    assert not any(x in kept_ids and y in kept_ids for x, y in pairs)
    # every near-dup pair landed in one component
    assert all(comp_of[x] == comp_of[y] for x, y in pairs)
    # dropped ⇒ touched by at least one near-dup edge
    touched = {v for p in pairs for v in p}
    dropped = {r.vec_id for r in rows if not r.kept}
    assert dropped <= touched

    again = similarity.semdedup(
        emb.repartition(5, "vec_id"), threshold=0.35, n_cells=8
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_count_min_never_underestimates(spark):
    from big_data_project_implementation_spark.operators import sketch

    docs = _docs(spark)
    grams = docs.withColumn("_toks", F.split("text", " ")).select(
        F.explode(text_ops.word_ngrams("_toks", 2)).alias("gram")
    )
    truth = {
        r.gram: r.n for r in grams.groupBy("gram").agg(F.count("*").alias("n")).collect()
    }
    cm = sketch.count_min_build(grams, "gram", width=2048, depth=4)
    # sketch size is bounded by depth x width whatever the corpus
    assert cm.count() <= 4 * 2048
    items = grams.select("gram").distinct()
    est = {r.item: r.est for r in
           sketch.count_min_estimate(cm, items, "gram", width=2048, depth=4).collect()}
    assert set(est) == set(truth)
    n_total = sum(truth.values())
    for g, true_n in truth.items():
        assert est[g] >= true_n  # one-sided error, always
        # loose CM bound: overflow ≤ e*N/width w.h.p.; assert 4x slack
        assert est[g] - true_n <= max(8, 4 * n_total // 2048)


def test_count_min_merges_additively(spark):
    from big_data_project_implementation_spark.operators import sketch

    docs = _docs(spark)
    grams = docs.withColumn("_toks", F.split("text", " ")).select(
        F.explode(text_ops.word_ngrams("_toks", 2)).alias("gram")
    )
    half_a = grams.filter(F.crc32("gram") % 2 == 0)
    half_b = grams.filter(F.crc32("gram") % 2 == 1)
    merged = (
        sketch.count_min_build(half_a, "gram", width=512, depth=3)
        .unionByName(sketch.count_min_build(half_b, "gram", width=512, depth=3))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    whole = sketch.count_min_build(grams, "gram", width=512, depth=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
