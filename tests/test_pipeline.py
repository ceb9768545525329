"""Tests for the training-data pipeline operators (dedup/similarity/
text/multimodal)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from clickhouse_from_scratch_spark.pipeline import (
    brute_force_topk, exact_dedup, lsh_bucketed_topk, lsh_near_dup_pairs,
    minhash_lsh_candidates, minhash_signatures, ngram_jaccard_pairs,
    simhash_hamming_pairs, simhash_signatures,
)
from clickhouse_from_scratch_spark.pipeline.dedup import (
    minhash_md5_candidates,
)
from clickhouse_from_scratch_spark.pipeline.multimodal import (
    attach_binary_payload, decode_image_batch, frame_sample,
)


def _docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight")
    rows = [
        (0, base),
        (1, base),                                    # exact dup of 0
        (2, base.replace("tonight", "today")),        # near dup of 0
        (3, "completely different text about spark sql engines and "
            "columnar execution pipelines for analytics workloads"),
        (4, "yet another unrelated document mentioning embeddings "
            "vectors similarity search and large language models"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    groups = {r.doc_id: r.dup_count for r in out.collect()}
    assert groups[0] == 2          # docs 0,1 collapse; keeper is min id
    assert out.count() == 4


def test_minhash_signature_shape_and_determinism(spark):
    sigs1 = minhash_signatures(_docs(spark)).select("doc_id", "signature").collect()
    sigs2 = minhash_signatures(_docs(spark)).select("doc_id", "signature").collect()
    assert all(len(r.signature) == 64 for r in sigs1)
    assert sorted(map(str, sigs1)) == sorted(map(str, sigs2))  # deterministic
    by_id = {r.doc_id: r.signature for r in sigs1}
    assert by_id[0] == by_id[1]    # identical docs → identical signatures
    # near-dup shares most minima; unrelated shares almost none
    same_near = sum(a == b for a, b in zip(by_id[0], by_id[2]))
    same_far = sum(a == b for a, b in zip(by_id[0], by_id[3]))
    assert same_near > 32 > same_far


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {(r.id_a, r.id_b)
             for r in minhash_lsh_candidates(_docs(spark)).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (0, 3) not in pairs and (3, 4) not in pairs


_M = (1 << 61) - 1
_U64 = (1 << 64) - 1


def _ref_minhash(hashes, k=64):
    """Plain-Python MinHash: lane i = min over h of ((h·a + b) mod 2^64)
    mod M on the unsigned hash; no hashes -> the sentinel M."""
    from clickhouse_from_scratch_spark.pipeline.dedup import _perm_params
    if not hashes:
        return [_M] * k
    return [min((((h & _U64) * a + b) & _U64) % _M for h in hashes)
            for a, b in _perm_params(k)]


def _ref_simhash(hashes, nbits=64):
    """Plain-Python SimHash vote: bit b set iff the ±1 votes of the
    tokens' bit b sum above 0; returned as a signed 64-bit long."""
    if hashes is None:
        return None
    sig = 0
    for b in range(nbits):
        if sum(2 * ((h >> b) & 1) - 1 for h in hashes) > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def _edge_docs(spark):
    """The tiny fixture plus NULL text, empty and blank text, a
    duplicate id and a NULL id."""
    extra = spark.createDataFrame(
        [(5, None), (6, ""), (7, "   "), (0, "a second doc with id zero"),
         (None, "one two three four five")], "doc_id long, text string")
    return _docs(spark).unionByName(extra)


# rows of int64 hash lists spanning several kernel slices at small
# max_values: NULL and empty rows, a row longer than a slice, extremes
_KERNEL_ROWS = [[1, -2, 3], None, [], [(1 << 63) - 1, -(1 << 63), 0],
                [5] * 9, [7, 8], [], [-1]]


def test_minhash_kernel_matches_python_reference(spark):
    import pyarrow as pa
    from clickhouse_from_scratch_spark.pipeline.dedup import (
        _minhash_kernel, shingles)
    rows = (minhash_signatures(_edge_docs(spark))
            .select("doc_id", "signature", shingles("text").alias("sh"))
            .collect())
    assert len(rows) == 10
    for r in rows:
        assert list(r.signature) == _ref_minhash(r.sh), r.doc_id
    # the numpy kernel alone, cut into row slices of 1..2^20 values,
    # and over a sliced (offset) Arrow array
    arr = pa.array(_KERNEL_ROWS, pa.list_(pa.int64()))
    for max_values in (1, 2, 4, 1 << 20):
        kernel = _minhash_kernel(8, max_values)
        assert kernel(arr).to_pylist() == [
            _ref_minhash(r, 8) for r in _KERNEL_ROWS]
        assert kernel(arr.slice(3)).to_pylist() == [
            _ref_minhash(r, 8) for r in _KERNEL_ROWS[3:]]
    # one Arrow kernel, no row-at-a-time Python UDF; shuffles:
    # parallelism repartition (absent when the scan already has enough
    # splits) + band-bucket groupBy + pair distinct — never more (each
    # Exchange prints twice in formatted mode: tree + detail)
    df = minhash_lsh_candidates(_docs(spark))
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 6


def test_simhash_kernel_matches_python_reference(spark):
    import hashlib
    from collections import Counter

    import pyarrow as pa
    from clickhouse_from_scratch_spark.pipeline.dedup import _simhash_kernel
    docs = _edge_docs(spark)
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
    toks = docs.select("doc_id", "text",
                       F.transform(words, lambda w: F.xxhash64(w))
                       .alias("h")).collect()
    got = Counter(map(tuple, simhash_signatures(docs).collect()))
    assert got == Counter((r.doc_id, _ref_simhash(r.h)) for r in toks)
    # the md5 twin: token hash = the first 8 hex digits of md5 reversed,
    # so bit b of the 32-bit signature votes on bit b%4 of hex digit b//4

    def md5_token(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8][::-1], 16)

    got = Counter(map(tuple, simhash_signatures(docs, hash="md5").collect()))
    assert got == Counter(
        (r.doc_id, None if r.text is None else _ref_simhash(
            [md5_token(w) for w in r.text.lower().split()], 32))
        for r in toks)
    assert got[(5, None)] == 1 and got[(6, 0)] == 1
    arr = pa.array(_KERNEL_ROWS, pa.list_(pa.int64()))
    for max_values in (1, 2, 4, 1 << 20):
        for nbits in (32, 64):
            kernel = _simhash_kernel(nbits, max_values)
            assert kernel(arr).to_pylist() == [
                _ref_simhash(r, nbits) for r in _KERNEL_ROWS]
            assert kernel(arr.slice(3)).to_pylist() == [
                _ref_simhash(r, nbits) for r in _KERNEL_ROWS[3:]]


def test_bounded_buckets_caps_hot_buckets(spark):
    # the banding kernel must (a) return exactly the ids of every
    # under-cap bucket and (b) drop over-cap buckets — without ever
    # collecting an over-cap bucket's full id array (pinned by the plan
    # test below). Synthetic banded rows: one hot bucket, one pair, and
    # a bucket of exactly cap real ids plus NULL-id rows, which must not
    # take rank slots from the real ids.
    from clickhouse_from_scratch_spark.pipeline.dedup import _banded_pairs
    cap = 100
    rows = ([(0, 0, i) for i in range(150)]
            + [(0, 1, 1000), (0, 1, 1001)]
            + [(0, 2, 2000 + i) for i in range(cap)]
            + [(0, 2, None)] * 5)
    banded = spark.createDataFrame(
        rows, "band int, bucket long, doc_id long")

    def pairs(max_bucket_size):
        out = _banded_pairs(banded, ["doc_id", "band", "bucket"], "doc_id",
                            max_bucket_size)
        return sorted((r.id_a, r.id_b) for r in out.collect())

    def all_pairs(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    full_cap_bucket = all_pairs(range(2000, 2000 + cap))
    # hot bucket (150 > cap) dropped; the at-cap bucket keeps every id
    assert pairs(cap) == sorted([(1000, 1001)] + full_cap_bucket)
    # under-cap buckets untouched
    assert pairs(10000) == sorted(all_pairs(range(150)) + [(1000, 1001)]
                                  + full_cap_bucket)


# every banding caller of the shared kernel, on the tiny fixtures
_BANDING_CALLERS = {
    "minhash_arrow": lambda spark: minhash_lsh_candidates(_docs(spark)),
    "minhash_md5": lambda spark: minhash_md5_candidates(_docs(spark)),
    "simhash_hamming": lambda spark: simhash_hamming_pairs(
        simhash_signatures(_docs(spark))),
    "embedding_lsh": lambda spark: lsh_near_dup_pairs(_emb(spark), dim=8),
}


@pytest.mark.parametrize("caller", sorted(_BANDING_CALLERS))
def test_bounded_buckets_plan_has_no_unbounded_collect(spark, caller):
    # plan pin: a hot LSH bucket must never be materialized as one
    # aggregation array before the size filter. The rank cap must sit
    # below the collect (row_number window), and InferWindowGroupLimit
    # must fire with a PARTIAL group limit before the bucket exchange so
    # a hot bucket never ships more than cap+1 rows per map task. The
    # pair explode must stream (two generators), not evaluate the b²
    # flatten() array per bucket row.
    df = _BANDING_CALLERS[caller](spark)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "row_number" in plan
    # final limit, then (below it in the printed tree) the bucket
    # exchange, then the partial limit
    tree = [line.strip(" +-:") for line in plan.split("\n\n")[0].splitlines()]
    limits = [i for i, op in enumerate(tree)
              if op.startswith("WindowGroupLimit")]
    assert len(limits) == 2, tree
    between = tree[limits[0] + 1:limits[1]]
    assert any(op.startswith("Exchange") for op in between), tree
    assert "flatten(" not in plan
    # collect_set still exists but only above the rank filter
    assert "collect_set" in plan


def test_ngram_jaccard_scores(spark):
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()}
    assert out[(0, 1)] == 1.0                      # exact dup
    assert 0.5 < out[(0, 2)] < 1.0                 # near dup


def test_ngram_jaccard_lsh_subset_of_exact(spark):
    # LSH-candidate verify returns a SUBSET of the exact all-pairs form
    # (same threshold, same shingles) with identical scores
    from clickhouse_from_scratch_spark.pipeline.dedup import (
        ngram_jaccard_exact_pairs)
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_exact_pairs(
                 _docs(spark), threshold=0.1).collect()}
    lsh = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(
               _docs(spark), threshold=0.1).collect()}
    assert set(lsh) <= set(exact)
    assert all(abs(exact[p] - j) < 1e-12 for p, j in lsh.items())
    assert (0, 1) in lsh                           # exact dup recalled


def test_simhash_identical_for_dups(spark):
    sigs = {r.doc_id: r.simhash
            for r in simhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def _emb(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    vecs[1] = vecs[0] * 2.0          # same direction as 0 → cosine 1.0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(spark):
    emb = _emb(spark)
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = brute_force_topk(emb, q, k=3).collect()
    assert len(out) == 3
    assert out[0].vec_id == 1                       # scaled copy ranks first
    assert math.isclose(out[0].cos_sim, 1.0, abs_tol=1e-6)
    assert all(out[i].cos_sim >= out[i + 1].cos_sim for i in range(2))


def test_lsh_bucketed_same_bucket_for_parallel_vectors(spark):
    emb = _emb(spark)
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = lsh_bucketed_topk(emb, q, k=3, dim=8).collect()
    # vec 1 is exactly parallel to the query → identical LSH signature,
    # so it must be in the probed bucket and rank first
    assert out and out[0].vec_id == 1


def test_simhash_hamming_banding(spark):
    from clickhouse_from_scratch_spark.pipeline import simhash_hamming_pairs
    base = 0x0F0F0F0F0F0F0F0F
    rows = [
        (1, base),
        (2, base ^ 0b101),              # hamming 2 → pair with 1
        (3, base ^ ((1 << 5) | (1 << 20) | (1 << 40) | (1 << 60))),  # ham 4
        (4, -1),                        # sign bit set: far from everything
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_hamming_pairs(sigs, k=3).collect()}
    assert got == {(1, 2): 2}           # ham-4 and ham-32 pairs excluded


def test_simhash_hamming_on_docs(spark):
    from clickhouse_from_scratch_spark.pipeline import simhash_near_dups_hamming
    docs = _docs(spark)
    pairs = {(r.id_a, r.id_b) for r in
             simhash_near_dups_hamming(docs, k=10).collect()}
    assert (0, 1) in pairs              # identical docs: hamming 0
    assert all(a < b for a, b in pairs)


def test_ivf_topk_finds_parallel_vector(spark):
    from clickhouse_from_scratch_spark.pipeline import ivf_topk, train_centroids
    emb = _emb(spark)
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = ivf_topk(emb, q, k=3, n_centroids=4, nprobe=4).collect()
    # nprobe == n_centroids → exhaustive: must match brute force exactly
    brute = brute_force_topk(emb, q, k=3).collect()
    assert [r.vec_id for r in out] == [r.vec_id for r in brute]
    assert out[0].vec_id == 1


def test_ivf_centroids_deterministic_and_reusable(spark):
    from clickhouse_from_scratch_spark.pipeline import ivf_topk, train_centroids
    emb = _emb(spark)
    c1 = train_centroids(emb, n_centroids=4)
    c2 = train_centroids(emb, n_centroids=4)
    assert c1 == c2                       # fixed hash-sample + Lloyd init
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = ivf_topk(emb, q, k=3, centroids=c1, nprobe=2).collect()
    assert 0 < len(out) <= 3
    assert all(r.query_id == 0 and r.vec_id != 0 for r in out)


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "abc")],
                                 "doc_id long, text string")
    decoded = decode_image_batch(attach_binary_payload(docs))
    rows = {r.doc_id: r for r in decoded.collect()}
    assert rows[1].n_bytes == 11 and rows[1].media_type == "image/png"
    assert rows[1].width == 11 % 640 + 1
    assert rows[2].checksum != rows[1].checksum
    # deterministic frame-sampling is a pure filter
    assert frame_sample(decoded, every_n=1).count() == 2


def test_connected_components_chain_and_clusters(spark):
    """Chain of 60 nodes (forces pointer jumping — one-hop propagation
    alone would need 60 rounds), a triangle, and an isolated pair."""
    from clickhouse_from_scratch_spark.pipeline.dedup import (
        connected_components)
    chain = [(i, i + 1) for i in range(100, 160)]          # one component
    tri = [(1, 2), (2, 3), (1, 3)]
    pair = [(7, 9)]
    pairs = spark.createDataFrame(chain + tri + pair,
                                  "id_a long, id_b long")
    comps = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert {comps[i] for i in range(100, 161)} == {100}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[7] == comps[9] == 7
    # three distinct components
    assert len(set(comps.values())) == 3


def test_dedup_keep_canonical(spark):
    from clickhouse_from_scratch_spark.pipeline.dedup import (
        dedup_keep_canonical)
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string")
    # {0,1,2} cluster via chain, {5,6} cluster; 3,4,7,8,9 singletons
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)],
                                  "id_a long, id_b long")
    kept = sorted(r.doc_id for r in
                  dedup_keep_canonical(docs, pairs).collect())
    assert kept == [0, 3, 4, 5, 7, 8, 9]


def test_cosine_near_dup_exact_pairs(spark):
    from clickhouse_from_scratch_spark.pipeline import cosine_near_dup_pairs
    emb = _emb(spark)
    out = cosine_near_dup_pairs(emb, threshold=0.99)
    rows = out.collect()
    # vec 1 = 2 * vec 0 is the only cosine-1.0 pair in the fixture
    assert [(r.id_a, r.id_b) for r in rows] == [(0, 1)]
    assert math.isclose(rows[0].cos_sim, 1.0, abs_tol=1e-4)
    # ordering invariant: id_a < id_b always
    low = cosine_near_dup_pairs(emb, threshold=-1.0)
    assert low.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    assert low.count() == 20 * 19 // 2


def test_lsh_near_dup_subset_of_exact_and_verified(spark):
    from clickhouse_from_scratch_spark.pipeline import (
        cosine_near_dup_pairs, lsh_near_dup_pairs,
    )
    emb = _emb(spark)
    thr = 0.5
    exact = {(r.id_a, r.id_b) for r in
             cosine_near_dup_pairs(emb, threshold=thr).collect()}
    approx = lsh_near_dup_pairs(emb, threshold=thr, bands=16,
                                bits_per_band=2, dim=8).collect()
    got = {(r.id_a, r.id_b) for r in approx}
    # every returned pair is exact-verified >= threshold -> subset of exact
    assert got <= exact
    assert all(r.cos_sim >= thr for r in approx)
    # the parallel pair (identical signature in every band) must be found
    assert (0, 1) in got


def test_multimodal_resize_and_features(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.multimodal import (
        attach_binary_payload, extract_features_batch, resize_image_batch,
    )
    from clickhouse_from_scratch_spark.pipeline.similarity import (
        brute_force_topk,
    )
    docs = load_table(spark, sf_dir, "documents").limit(50)
    payload = attach_binary_payload(docs)
    resized = resize_image_batch(payload, width=8, height=4)
    rows = resized.collect()
    assert all(len(r.payload) == 32 and r.width == 8 and r.height == 4
               for r in rows)
    feats = extract_features_batch(payload, dim=8)
    frows = feats.collect()
    assert all(len(r.embedding) == 8 for r in frows)
    # unit-norm, deterministic
    import math
    for r in frows[:5]:
        assert abs(math.sqrt(sum(x * x for x in r.embedding)) - 1) < 1e-5
    # features feed the ANN/similarity operators end-to-end
    q = feats.limit(3).withColumnRenamed("doc_id", "query_id")
    top = brute_force_topk(feats, q, k=2, id_col="doc_id",
                           vec_col="embedding")
    assert top.count() == 6


# --- passage dedup / gopher repetition / PII scrub --------------------------

def test_unit_dedup_removes_cross_doc_passages(spark):
    from clickhouse_from_scratch_spark.pipeline.dedup import passage_dedup
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "q r s t")],
        "doc_id int, text string")
    out = {r.doc_id: r for r in
           passage_dedup(df, words_per_chunk=2).collect()}
    # "a b" occurs in two docs → removed from BOTH; unique chunks stay
    assert out[1].kept_text == "c d" and out[1].n_removed == 1
    assert out[2].kept_text == "x y" and out[2].n_removed == 1
    assert out[3].kept_text == "q r s t" and out[3].n_removed == 0


def test_unit_dedup_keeps_fully_removed_docs(spark):
    from clickhouse_from_scratch_spark.pipeline.dedup import passage_dedup
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "z z")], "doc_id int, text string")
    out = {r.doc_id: r for r in
           passage_dedup(df, words_per_chunk=2).collect()}
    # both copies removed; the docs stay present with empty text
    assert out[1].kept_text == "" and out[1].n_units == 0
    assert out[2].kept_text == ""
    assert out[3].kept_text == "z z"
    assert len(out) == 3


def test_unit_dedup_threshold(spark):
    from clickhouse_from_scratch_spark.pipeline.dedup import passage_dedup
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b")], "doc_id int, text string")
    out = passage_dedup(df, words_per_chunk=2, max_count=3).collect()
    # occurrence count == max_count → kept everywhere
    assert all(r.kept_text == "a b" for r in out)


def test_gopher_fractions(spark):
    import pyspark.sql.functions as F
    from clickhouse_from_scratch_spark.pipeline.text import (
        _tokens, dup_unit_fraction, dup_unit_char_fraction,
        top_ngram_char_fraction)
    df = spark.createDataFrame([(1, "aa bb aa bb cc")],
                               "doc_id int, text string")
    r = df.select(
        dup_unit_fraction(_tokens(F.col("text"))).alias("f"),
        dup_unit_char_fraction(_tokens(F.col("text"))).alias("cf")
    ).collect()[0]
    assert abs(r.f - 0.4) < 1e-12          # 5 words, 3 distinct
    assert abs(r.cf - 0.4) < 1e-12         # 10 chars, 6 distinct
    # "aa bb" occurs twice among 4 bigrams → 2*5 chars / 14 text chars
    t = top_ngram_char_fraction(df, "doc_id", "text", 2).collect()[0]
    assert abs(t.top2gram_char_frac - 10 / 14) < 1e-12


def test_pii_scrub_patterns(spark):
    import pyspark.sql.functions as F
    from clickhouse_from_scratch_spark.pipeline.text import (
        pii_count, pii_scrub)
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-site.org or x@y.io ip 192.168.0.1 "
             "tel +44 20-7946-0958 done")], "id int, t string")
    r = df.select(
        pii_scrub(F.col("t")).alias("s"),
        pii_count(F.col("t"), "email").alias("e"),
        pii_count(F.col("t"), "ipv4").alias("i"),
        pii_count(F.col("t"), "phone").alias("p")).collect()[0]
    assert r.e == 2 and r.i == 1 and r.p == 1
    assert "@" not in r.s and "192" not in r.s and "7946" not in r.s
    assert r.s == ("mail <EMAIL> or <EMAIL> ip <IP> tel <PHONE> done")


def test_training_recipe_minhash_variant(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.recipe import (
        prepare_training_data)
    docs = load_table(spark, sf_dir, "documents").limit(200)
    exact = prepare_training_data(docs, near_dup="exact")
    mh = prepare_training_data(docs, near_dup="minhash",
                               jaccard_threshold=0.8)
    n_exact, n_mh = exact.count(), mh.count()
    # near-dup removal can only remove more than (or as much as) exact:
    # identical docs have Jaccard 1.0 ≥ any threshold
    assert n_mh <= n_exact
    assert n_mh > 0
    # survivors carry stats
    r = mh.limit(1).collect()[0]
    assert r.n_tokens > 0 and len(r.fingerprint) == 32


def test_training_recipe_rejects_unknown_near_dup(spark, sf_dir):
    import pytest as _pytest

    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.recipe import (
        prepare_training_data)
    docs = load_table(spark, sf_dir, "documents").limit(5)
    with _pytest.raises(ValueError, match="near_dup"):
        prepare_training_data(docs, near_dup="bogus")


def test_minhash_md5_twin_catches_exact_dup_skips_distinct(spark):
    """The deterministic md5 twin (3-word string shingles, 16 hashes,
    4 bands) pairs identical docs, skips unrelated ones, and excludes
    <3-word docs instead of bucketing their NULL signatures."""
    pairs = {(r.id_a, r.id_b)
             for r in minhash_md5_candidates(_docs(spark)).collect()}
    assert (0, 1) in pairs                 # exact duplicate text
    assert (3, 4) not in pairs             # unrelated docs
    from pyspark.sql import Row
    tiny = spark.createDataFrame([Row(doc_id=10, text="one two"),
                                  Row(doc_id=11, text="one two")])
    assert minhash_md5_candidates(tiny).count() == 0


def test_minhash_md5_twin_and_oracle_drop_over_cap_buckets(spark):
    """Over-cap fixture: 10,001 identical docs fill every band bucket
    past the 10,000-doc cap; one near-duplicate pair shares two of its
    four bands. The Spark twin and its DuckDB oracle must both drop the
    hot buckets and return only that pair."""
    import duckdb

    from clickhouse_from_scratch_spark.queries import ORACLES
    hot = "the quick brown fox jumps over the lazy dog near the river bank"
    near_a = ("spark sql engines compile columnar execution pipelines for "
              "large analytics workloads across many machines every "
              "single day")
    near_b = near_a.replace("day", "night")
    docs = (spark.range(10001)
            .select(F.col("id").alias("doc_id"), F.lit(hot).alias("text"))
            .union(spark.createDataFrame(
                [(20000, near_a), (20001, near_b)],
                "doc_id long, text string")))
    got = [(r.id_a, r.id_b) for r in minhash_md5_candidates(docs).collect()]
    assert got == [(20000, 20001)]

    con = duckdb.connect()
    try:
        con.execute(f"""CREATE TABLE documents AS
            SELECT range AS doc_id, '{hot}' AS text FROM range(10001)
            UNION ALL SELECT 20000, '{near_a}'
            UNION ALL SELECT 20001, '{near_b}'""")
        assert con.execute(ORACLES["dedup_minhash_md5"]).fetchall() == \
            [(20000, 20001)]
    finally:
        con.close()


def test_stratified_split_deterministic(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.split import (
        stratified_split, take_split)
    docs = load_table(spark, sf_dir, "documents")
    a = stratified_split(docs).select("doc_id", "split").collect()
    b = stratified_split(docs).select("doc_id", "split").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by = {}
    for r in a:
        by[r.split] = by.get(r.split, 0) + 1
    n = len(a)
    # proportions near the declared fractions (md5 is uniform)
    assert abs(by.get("train", 0) / n - 0.9) < 0.05
    assert set(by) <= {"train", "val", "test"}
    # take_split is the same membership as the label column
    tr = {r.doc_id for r in take_split(docs, "train").select("doc_id")
          .collect()}
    assert tr == {r.doc_id for r in a if r.split == "train"}


def test_stratified_split_salt_and_fractions(spark, sf_dir):
    import pytest as _pytest

    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.split import \
        stratified_split
    docs = load_table(spark, sf_dir, "documents").limit(100)
    a = {r.doc_id: r.split
         for r in stratified_split(docs, salt="v1").collect()}
    b = {r.doc_id: r.split
         for r in stratified_split(docs, salt="v2").collect()}
    assert a != b                      # a new salt re-deals
    with _pytest.raises(ValueError, match="sum to 1"):
        stratified_split(docs, fractions={"train": 0.5, "test": 0.1})
    two = stratified_split(docs, fractions={"a": 0.5, "b": 0.5})
    assert {r.split for r in two.collect()} <= {"a", "b"}


def test_stratified_split_plan_is_map_only(spark, sf_dir):
    # no shuffle, no Python eval: the label is a pure JVM projection
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.split import \
        stratified_split
    docs = load_table(spark, sf_dir, "documents")
    plan = stratified_split(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_stratified_split_sql_table_function(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_all
    from clickhouse_from_scratch_spark.plans import execute_sql
    df = execute_sql(
        spark, "SELECT split, count() AS n "
        "FROM stratifiedSplit(documents) GROUP BY split ORDER BY split",
        load_all(spark, sf_dir))
    rows = {r.split: r.n for r in df.collect()}
    assert set(rows) <= {"train", "val", "test"} and sum(rows.values()) > 0


def test_contamination_finds_benchmark_overlap(spark):
    from clickhouse_from_scratch_spark.pipeline.decontaminate import (
        contamination, decontaminate)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated words appear here only"),
         (3, "quick brown fox says hello to everyone")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "a quick brown fox story")], "doc_id long, text string")
    hits = {r.doc_id: r.n_matches
            for r in contamination(docs, bench, n=3).collect()}
    # docs 1 and 3 share the 'quick brown fox' 3-gram; doc 2 does not
    assert set(hits) == {1, 3} and all(v >= 1 for v in hits.values())
    kept = {r.doc_id for r in decontaminate(docs, bench, n=3).collect()}
    assert kept == {2}


def test_contamination_min_matches_threshold(spark):
    from clickhouse_from_scratch_spark.pipeline.decontaminate import \
        contamination
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta")], "doc_id long, text string")
    # bench shares 2 distinct 3-grams with doc 1
    assert contamination(docs, bench, n=3, min_matches=2).count() == 1
    assert contamination(docs, bench, n=3, min_matches=3).count() == 0


def test_contamination_plan_broadcasts_benchmark(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.decontaminate import \
        contamination
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    plan = contamination(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan      # bench side broadcast
    assert "BatchEvalPython" not in plan    # pure JVM shingles


def test_decontaminate_sql_table_function(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_all
    from clickhouse_from_scratch_spark.plans import execute_sql
    tables = load_all(spark, sf_dir)
    n_total = tables["documents"].count()
    df = execute_sql(
        spark, "SELECT count() AS n FROM decontaminate(documents, "
        "view(SELECT * FROM documents WHERE doc_id % 97 = 0))", tables)
    n_kept = df.collect()[0].n
    assert 0 < n_kept < n_total


def test_pack_sequences_assignment(spark, sf_dir):
    """Pack ids are the floor-division of the shard-local running token
    count; straddles flags docs crossing a budget boundary."""
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.pack import pack_sequences
    docs = load_table(spark, sf_dir, "documents").limit(200)
    out = pack_sequences(docs, budget=64, n_shards=4).collect()
    assert out
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.start_tok == cum
            assert r.pack == cum // 64
            expect_straddle = int((cum + r.n_tokens - 1) // 64 > r.pack)
            assert r.straddles == expect_straddle
            cum += r.n_tokens


def test_domain_mix_rates_and_determinism(spark, sf_dir):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.pipeline.mix import domain_mix
    docs = load_table(spark, sf_dir, "documents")
    kept = domain_mix(docs, {"src0": 0.0, "src1": 1.0}, default_rate=0.5)
    agg = {r.source: r.n for r in kept.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "src0" not in agg                     # rate 0 drops all
    full = docs.where(F.col("source") == "src1").count()
    assert agg["src1"] == full                   # rate 1 keeps all
    # determinism: the same call yields identical membership
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    kept2 = domain_mix(docs, {"src0": 0.0, "src1": 1.0},
                       default_rate=0.5)
    ids2 = sorted(r.doc_id for r in kept2.select("doc_id").collect())
    assert ids1 == ids2


def test_md5_minhash_plan_tokenizes_once(spark):
    # r13: spelled as withColumn aliases, CollapseProject/filter-pushdown
    # inlined the tokenizer into every md5 lane (81 split() copies; the
    # 500-doc twin ran 17-24s). The let-bound build must keep ONE split
    # and one md5 per lane.
    from clickhouse_from_scratch_spark.pipeline.dedup import (
        minhash_md5_candidates)
    docs = _docs(spark)
    plan = (minhash_md5_candidates(docs)._jdf.queryExecution()
            .optimizedPlan().toString())
    assert plan.count("split(") <= 2
    assert plan.count("md5(") <= 16


def test_recipe_filter_plan_tokenizes_once(spark):
    # r13: filter pushdown substitutes deterministic aliases into the
    # predicate, so the quality+language filters re-tokenized per
    # reference (107 split() copies in the recipe plan). The fused
    # let-bound filter must keep the count to one per operator stage.
    from clickhouse_from_scratch_spark.pipeline.recipe import (
        prepare_training_data)
    docs = _docs(spark)
    plan = (prepare_training_data(docs)._jdf.queryExecution()
            .optimizedPlan().toString())
    assert plan.count("split(") <= 16
