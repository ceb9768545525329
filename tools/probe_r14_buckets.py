#!/usr/bin/env python
"""A/B-prove the shared banding kernel: the row_number-capped window +
two-stage pair explode must produce byte-identical pairs to the pre-r14
collect_set-then-filter + inline(flatten()) spelling (``old_buckets`` /
``old_pairs`` below), for every public banding caller, on real testdata:
MinHash, the md5 MinHash twin, SimHash hamming and hyperplane LSH over
embeddings.

Usage: python tools/probe_r14_buckets.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from clickhouse_from_scratch_spark.catalog import load_table  # noqa: E402
from clickhouse_from_scratch_spark.session import get_spark  # noqa: E402


def old_buckets(banded: DataFrame, keys: list[str], id_col: str,
                max_bucket_size: int | None) -> DataFrame:
    """The pre-r14 spelling: unbounded collect_set, then size filter."""
    out = (banded.groupBy(*keys)
           .agg(F.array_sort(F.collect_set(id_col)).alias("ids")))
    cond = F.size("ids") > 1
    if max_bucket_size is not None:
        cond = cond & (F.size("ids") <= max_bucket_size)
    return out.filter(cond)


def old_pairs(buckets: DataFrame, ids_col: str = "ids") -> DataFrame:
    """The pre-r14 spelling: one inline(flatten(transform(...)))."""
    q = f"`{ids_col}`"
    return (buckets.selectExpr(
        f"inline(flatten(transform(sequence(1, size({q})), "
        f"i -> transform(slice({q}, i + 1, size({q})), "
        f"y -> named_struct('id_a', element_at({q}, i), 'id_b', y)))))")
        .distinct())


def pairs_set(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("probe_r14_buckets")

    from clickhouse_from_scratch_spark.pipeline.dedup import (
        _ensure_parallelism, _md5_sig_sql, minhash_lsh_candidates,
        minhash_md5_candidates, minhash_signatures, simhash_hamming_pairs,
        simhash_signatures,
    )
    from clickhouse_from_scratch_spark.pipeline.similarity import (
        lsh_near_dup_pairs)

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # --- caller 1: minhash_lsh_candidates ------------------------------
    # band the kernel's signatures as the caller does, then run the
    # reference bucket + pair tail over them
    r, bands = 4, 16
    args = ", ".join(f"signature[b*{r}+{i}]" for i in range(r))
    banded = minhash_signatures(docs.select("doc_id", "text")).selectExpr(
        "`doc_id`",
        f"inline(transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bucket', xxhash64(b, {args}))))")
    ref = pairs_set(old_pairs(old_buckets(banded, ["band", "bucket"],
                                          "doc_id", 10000)))
    t0 = time.perf_counter()
    got = pairs_set(minhash_lsh_candidates(docs))
    dt = time.perf_counter() - t0
    assert got == ref, f"minhash differs: {len(ref)} vs {len(got)}"
    print(f"minhash_lsh_candidates: {len(got)} pairs identical ({dt:.2f}s)")

    # --- caller 2: md5 twin (oracle query) -------------------------------
    nh5, bands5 = 16, 4
    r5 = nh5 // bands5
    md5_banded = _ensure_parallelism(docs.select("doc_id", "text")) \
        .selectExpr(
            "`doc_id`",
            f"inline(element_at(transform("
            f"array({_md5_sig_sql('text', nh5)}), "
            f"sig -> CASE WHEN element_at(sig, 1) IS NULL "
            f"THEN CAST(array() AS ARRAY<STRUCT<band: INT, bucket: STRING>>) "
            f"ELSE transform(sequence(0, {bands5 - 1}), "
            f"b -> named_struct('band', b, "
            f"'bucket', array_join(slice(sig, b*{r5}+1, {r5}), ''))) "
            f"END), 1))")
    a = pairs_set(old_pairs(old_buckets(md5_banded, ["band", "bucket"],
                                        "doc_id", None)))
    b = pairs_set(minhash_md5_candidates(docs))
    assert a == b, f"md5 twin differs: {len(a)} vs {len(b)}"
    print(f"minhash_md5_candidates: {len(a)} pairs identical")

    # --- caller 3: simhash pigeonhole banding + hamming verify -----------
    sigs = simhash_signatures(docs, hash="md5")
    k, nbits = 3, 32
    bands_h = k + 1
    base, extra = divmod(nbits, bands_h)
    widths = [base + (1 if i < extra else 0) for i in range(bands_h)]
    starts = [sum(widths[:i]) for i in range(bands_h)]
    chunks = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned(F.col("simhash"), starts[i])
                 .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("val"))
        for i in range(bands_h)])
    sh_banded = (sigs.select("doc_id", F.explode(chunks).alias("bk"))
                 .select("doc_id", F.col("bk.band").alias("band"),
                         F.col("bk.val").alias("val")))
    cands = old_pairs(old_buckets(sh_banded, ["band", "val"],
                                  "doc_id", 10000))
    n_cands = cands.count()
    sa = sigs.select(F.col("doc_id").alias("id_a"),
                     F.col("simhash").alias("__sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"),
                     F.col("simhash").alias("__sb"))
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    a = pairs_set(cands.join(sa, "id_a").join(sb, "id_b")
                  .select("id_a", "id_b", ham.alias("hamming"))
                  .filter(F.col("hamming") <= k))
    b = pairs_set(simhash_hamming_pairs(sigs, k=k, nbits=nbits))
    assert a == b, f"simhash hamming differs: {len(a)} vs {len(b)}"
    print(f"simhash_hamming_pairs: {n_cands} reference candidates; "
          f"{len(b)} verified pairs identical")

    # --- caller 4: hyperplane LSH over embeddings -------------------------
    full_new = pairs_set(lsh_near_dup_pairs(emb, threshold=0.35, bands=16,
                                            bits_per_band=4))
    from clickhouse_from_scratch_spark.pipeline.similarity import (
        _band_values, _hyperplanes, _norm, _dot)
    planes = _hyperplanes(64, 16 * 4)
    e_banded = (emb.select(
        F.col("vec_id"),
        F.posexplode(_band_values("embedding", planes, 16, 4))
        .alias("band", "val")))
    cands = old_pairs(old_buckets(e_banded, ["band", "val"],
                                  "vec_id", 10000))
    av = emb.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("__va"),
                    _norm(F.col("embedding")).alias("__na"))
    bv = emb.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("__vb"),
                    _norm(F.col("embedding")).alias("__nb"))
    sim = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    full_old = pairs_set(cands.join(av, "id_a").join(bv, "id_b")
                         .filter(sim >= 0.35)
                         .select("id_a", "id_b",
                                 F.round(sim, 4).alias("cos_sim")))
    assert full_old == full_new, (
        f"embedding LSH differs: {len(full_old)} vs {len(full_new)}")
    print(f"lsh_near_dup_pairs: {len(full_new)} verified pairs identical")

    # --- fullband config (single all-ids bucket, verify-only query) ------
    fb_new = pairs_set(lsh_near_dup_pairs(emb, threshold=0.35, bands=1,
                                          bits_per_band=0,
                                          max_bucket_size=10 ** 7))
    print(f"fullband config: {len(fb_new)} pairs (subset check next)")
    e1_banded = (emb.select(
        F.col("vec_id"),
        F.posexplode(_band_values("embedding", _hyperplanes(64, 0), 1, 0))
        .alias("band", "val")))
    cands1 = old_pairs(old_buckets(e1_banded, ["band", "val"],
                                   "vec_id", 10 ** 7))
    fb_old = pairs_set(cands1.join(av, "id_a").join(bv, "id_b")
                       .filter(sim >= 0.35)
                       .select("id_a", "id_b",
                               F.round(sim, 4).alias("cos_sim")))
    assert fb_old == fb_new, "fullband differs"
    print("fullband: identical")

    print("ALL BANDING CALLERS A/B-IDENTICAL")
    spark.stop()


if __name__ == "__main__":
    main()
