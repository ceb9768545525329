"""Embedding similarity search over an ``array<float>`` column.

- ``brute_force_topk``: exact cosine top-k. The query set is broadcast
  (small side); the corpus streams through one pass — at 100 TB this is
  a single scan + a per-query-key top-k window, no corpus self-shuffle.
- ``lsh_bucketed_topk``: random-hyperplane LSH (sign of projection onto
  fixed seeded hyperplanes) buckets the corpus; each query probes only
  its bucket. Trades recall for a candidate set ~corpus/2^bits.
- ``ivf_topk``: IVF coarse quantizer — k-means centroids trained on a
  deterministic hash-sample of the corpus (driver-side Lloyd on numpy),
  corpus partitioned by nearest-centroid cell, queries probe their
  ``nprobe`` nearest cells. At 100 TB the cell assignment is one scan
  (write the corpus bucketed by ``__cell`` for reuse) and each query
  touches ~nprobe/n_centroids of the data.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _banded_pairs_sql, _q


def _dot(a: Column | str, b: Column | str) -> Column:
    """Double dot product. String args (column names) build ONE F.expr —
    the Python-HOF composition costs ~30 py4j round trips per call vs 1
    (guide §1.2; plan build is inside the bench's timed region). Same
    Catalyst tree either way (results bitwise identical, probe-verified)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({_q(a)}, {_q(b)}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)")
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column | str) -> Column:
    """Double L2 norm; string args take the one-call F.expr path (see
    :func:`_dot`)."""
    if isinstance(a, str):
        return F.expr(
            f"sqrt(aggregate({_q(a)}, 0.0D, "
            "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (JVM-side HOFs)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     round_digits: int | None = None) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must have (query_id_col, vec_col). Self-matches (same id)
    are excluded when query ids live in the corpus id space.
    ``round_digits`` rounds the similarity *before* ranking so the top-k
    cut is stable under float noise (oracle comparability).
    """
    from .dedup import _ensure_parallelism
    corpus = _ensure_parallelism(corpus)
    # Norms factored out of the per-pair expression (guide §1.2): the
    # corpus-side norm is computed once per row *below* the join instead
    # of once per (row × query) pair, and the query norm once per query.
    # sim = dot / (corpus_norm * query_norm) is the same IEEE op DAG as
    # the inline cosine — bitwise-identical results (probe-verified).
    corpus = corpus.withColumn("__cnorm", _norm(vec_col))
    q = queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("__qvec"),
                       _norm(vec_col).alias("__qnorm"))
    sim = (_dot(vec_col, "__qvec")
           / (F.col("__cnorm") * F.col("__qnorm")))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (corpus.join(F.broadcast(q),
                          F.col(id_col) != F.col(query_id_col), "inner")
              .select(query_id_col, id_col, sim.alias("cos_sim")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).astype(float).tolist()


def _flit(v: float) -> str:
    """Exact double literal: repr round-trips the IEEE value and the D
    suffix makes the SQL parser read it as DOUBLE (not DECIMAL)."""
    return repr(float(v)) + "D"


def _arr_sql(vals: list[float]) -> str:
    return "array(" + ", ".join(_flit(v) for v in vals) + ")"


def _plane_dot_sql(vec_name: str, plane: list[float]) -> str:
    """SQL-string dot of a vector column against a literal plane — the
    F.lit-per-element spelling paid dim+1 py4j round trips PER PLANE
    (an LSH build with 64 planes × dim 64 measured 2.7 s of pure driver
    time); one string parses JVM-side in a single call. Same IEEE op
    DAG as :func:`_dot` (fold left, cast-then-multiply)."""
    return (f"aggregate(zip_with({_q(vec_name)}, {_arr_sql(plane)}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)")


def _sign_bits_sql(vec_name: str, planes: list[list[float]]) -> str:
    """Packed sign-bit signature over ``planes`` as one SQL string
    (bit i = 1 iff dot(vec, planes[i]) > 0, exactly as before)."""
    bits = [f"shiftleft(IF({_plane_dot_sql(vec_name, p)} > 0.0D, 1L, 0L), "
            f"{i})" for i, p in enumerate(planes)]
    return "(" + " | ".join(bits) + ")" if bits else "0L"


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane (sign of dot).

    Pass the column NAME (str) for the one-call SQL-string build; a
    ``Column`` argument keeps the composition for arbitrary expressions.
    """
    if isinstance(vec, str):
        return F.expr(_sign_bits_sql(vec, planes))
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec, lit_plane) > 0, F.lit(1).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                                  * (x.cast("double") - y.cast("double"))),
                       F.lit(0.0), lambda acc, v: acc + v)


def train_centroids(corpus: DataFrame, n_centroids: int = 16,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    sample_n: int = 2048, iters: int = 8) -> list[list[float]]:
    """Deterministic k-means: hash-sample up to ``sample_n`` vectors
    (unbiased, scan-only — works the same at 100 TB), then Lloyd
    iterations driver-side in numpy. Centroid training is always done on
    a bounded sample, so collect() here is the scale-correct design, not
    a shortcut."""
    total = corpus.count()
    mod = max(1, total // sample_n)
    sample = (corpus.filter(F.pmod(F.abs(F.hash(F.col(id_col))), mod) == 0)
              .select(id_col, vec_col).orderBy(id_col)
              .limit(sample_n).collect())
    X = np.array([r[1] for r in sample], dtype=np.float64)
    n_centroids = min(n_centroids, len(X))
    C = X[:n_centroids].copy()                 # deterministic init
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C.tolist()


def _nearest_cells(vec: Column | str, centroids: list[list[float]],
                   n: int) -> Column:
    """Array of the ``n`` nearest centroid indices (JVM-side: one struct
    per centroid, array_sort by distance, slice).

    String (column-name) argument builds ONE SQL string — the
    F.lit-per-element centroid arrays paid ~1.7 s of py4j round trips
    per IVF plan build at 16 centroids × dim 64; same values."""
    if isinstance(vec, str):
        entries = ", ".join(
            f"named_struct('d', aggregate(zip_with({_q(vec)}, {_arr_sql(c)}, "
            "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
            "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"0.0D, (acc, v) -> acc + v), 'i', {i})"
            for i, c in enumerate(centroids))
        return F.expr(f"transform(slice(array_sort(array({entries})), "
                      f"1, {n}), s -> s.i)")
    entries = [F.struct(_l2sq(vec, F.array(*[F.lit(v) for v in c])).alias("d"),
                        F.lit(i).alias("i"))
               for i, c in enumerate(centroids)]
    ranked = F.array_sort(F.array(*entries))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["i"])


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_centroids: int = 16,
             nprobe: int = 4, centroids: list[list[float]] | None = None,
             round_digits: int | None = None) -> DataFrame:
    """IVF approximate top-k: assign corpus rows to their nearest-centroid
    cell, probe each query's ``nprobe`` nearest cells only.

    Pass precomputed ``centroids`` to skip training (e.g. a persisted
    index). Candidate set is ~nprobe/n_centroids of the corpus; at scale
    pick n_centroids ≈ sqrt(corpus) and persist the cell assignment
    bucketed by cell so repeated query batches skip the assignment scan.
    """
    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col, id_col)
    c = (corpus.withColumn(
        "__cell", F.element_at(_nearest_cells(vec_col, centroids, 1), 1))
        .withColumn("__cnorm", _norm(vec_col)))
    q = (queries.select(query_id_col, F.col(vec_col).alias("__qvec"),
                        _norm(vec_col).alias("__qnorm"))
         .withColumn("__cell", F.explode(
             _nearest_cells("__qvec", centroids, nprobe))))
    # factored per-row norms (see brute_force_topk; bitwise-identical)
    sim = (_dot(vec_col, "__qvec")
           / (F.col("__cnorm") * F.col("__qnorm")))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (c.join(F.broadcast(q), "__cell")
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(query_id_col, id_col, sim.alias("cos_sim")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.9,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          round_digits: int = 4) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs:
    all (id_a < id_b) with cosine(a, b) >= threshold.

    This is the O(n²) verify/oracle path (the similarity is computed
    JVM-side in double; one side of the pair join is broadcast, so the
    corpus streams through once per broadcast block). The 100 TB path is
    ``lsh_near_dup_pairs``, which bands the corpus with random-hyperplane
    signatures and runs this exact cosine only on in-bucket candidates.
    """
    # per-row norms below the join (once per row, not per pair; bitwise-
    # identical op DAG — see brute_force_topk)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                  _norm(vec_col).alias("__na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                  _norm(vec_col).alias("__nb"))
    sim = _dot("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    return (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .filter(sim >= threshold)
            .select("id_a", "id_b",
                    F.round(sim, round_digits).alias("cos_sim")))


def _band_values(vec: Column | str, planes: list[list[float]],
                 bands: int, bits_per_band: int) -> Column:
    """Array of ``bands`` band keys; band j = the sign bits of the
    projections onto planes[j*bpb:(j+1)*bpb], packed into a long.

    String (column-name) argument builds ONE SQL string (see
    :func:`_plane_dot_sql` — the literal-composed form paid ~2.7 s of
    py4j round trips per plan build at 16×4 bands × dim 64)."""
    if isinstance(vec, str):
        band_exprs = [
            _sign_bits_sql(vec,
                           planes[j * bits_per_band:(j + 1) * bits_per_band])
            for j in range(bands)]
        return F.expr("array(" + ", ".join(band_exprs) + ")")
    vals = []
    for j in range(bands):
        sig = F.lit(0).cast("long")
        for i in range(bits_per_band):
            plane = planes[j * bits_per_band + i]
            lit_plane = F.array(*[F.lit(v) for v in plane])
            bit = F.when(_dot(vec, lit_plane) > 0,
                         F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            sig = sig.bitwiseOR(F.shiftleft(bit, i))
        vals.append(sig)
    return F.array(*vals)


def lsh_near_dup_pairs(df: DataFrame, threshold: float = 0.9,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       bands: int = 8, bits_per_band: int = 8,
                       dim: int = 64, max_bucket_size: int = 10000,
                       round_digits: int = 4) -> DataFrame:
    """Embedding-cosine near-dup via banded random-hyperplane LSH.

    Each row gets ``bands`` band keys (``bits_per_band`` hyperplane sign
    bits each); rows sharing any band key are candidates; candidates are
    verified with the exact JVM-side cosine >= threshold. Recall per true
    pair at angle θ is 1-(1-(1-θ/π)^bpb)^bands — tune bands up / bpb down
    for lower thresholds.

    Shape at scale: ONE signature pass (per-row, no shuffle), ONE
    (band, key) shuffle with in-bucket pair generation (the shared
    banding kernel, ``dedup._banded_pairs_sql``), then a candidate-only
    verify join — the same all-pairs-avoiding banding as MinHash-LSH;
    survives 100 TB where ``cosine_near_dup_pairs`` cannot.
    """
    planes = _hyperplanes(dim, bands * bits_per_band)
    # The exact-cosine verify join EXTENDS the kernel's SQL text, so
    # banding -> buckets -> pairs -> verify is ONE spark.sql (guide
    # §1.2): the chained DataFrame spelling re-ran the analyzer over the
    # multi-KB hyperplane-literal banding tree at every placement (~10
    # of them, 443 ms of driver time per build). The IEEE sim DAG is
    # unrounded in the WHERE and rounded in the projection.
    band_exprs = ", ".join(
        _sign_bits_sql(vec_col,
                       planes[j * bits_per_band:(j + 1) * bits_per_band])
        for j in range(bands))
    qid, qv = _q(id_col), _q(vec_col)
    norm = ("sqrt(aggregate({v}, 0.0D, "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    sim = ("aggregate(zip_with(a.__v, b.__v, "
           "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
           "0.0D, (acc, v) -> acc + v) / (a.__n * b.__n)")
    banded_select = [qid, f"posexplode(array({band_exprs})) AS (band, bucket)"]
    sql = _banded_pairs_sql(banded_select, id_col, max_bucket_size) + f""",
    __sides AS (
      SELECT {qid} AS __sid, {qv} AS __v,
             {norm.format(v=qv)} AS __n
      FROM {{__docs}})
    SELECT c.id_a, c.id_b, round({sim}, {round_digits}) AS cos_sim
    FROM __pairs c
    JOIN __sides a ON c.id_a = a.__sid
    JOIN __sides b ON c.id_b = b.__sid
    WHERE {sim} >= {_flit(threshold)}
    """
    return df.sparkSession.sql(sql, __docs=df)


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id", bits: int = 8,
                      dim: int = 64) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket.

    At scale the corpus is hashed once (could be written bucketed-by
    ``bucket`` for reuse); each query joins its bucket — shuffle is
    corpus-size once, then bucket-local.
    """
    planes = _hyperplanes(dim, bits)
    c = (corpus.withColumn("__bucket", lsh_bucket(vec_col, planes))
               .withColumn("__cnorm", _norm(vec_col)))
    q = (queries.select(query_id_col, F.col(vec_col).alias("__qvec"),
                        _norm(vec_col).alias("__qnorm"))
                .withColumn("__bucket", lsh_bucket("__qvec", planes)))
    # factored per-row norms (see brute_force_topk; bitwise-identical)
    sim = (_dot(F.col(vec_col), F.col("__qvec"))
           / (F.col("__cnorm") * F.col("__qnorm")))
    scored = (c.join(F.broadcast(q), "__bucket")
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(query_id_col, id_col, sim.alias("cos_sim")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k).drop("__rn"))


# --- int8 scalar quantization ------------------------------------------
#
# Standard ANN memory optimization (FAISS SQ8 analogue): store each
# embedding as int8 codes + one float scale. 4x smaller vectors at
# 100 TB; the quantized dot product runs on tinyint arrays JVM-side.
# Quantization is per-vector symmetric: scale = max(|v|)/127,
# q_i = round(v_i / scale) in [-127, 127] (0-vector -> all-zero codes,
# scale 1.0 to avoid division by zero).


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        code_col: str = "codes",
                        scale_col: str = "scale") -> DataFrame:
    """Append int8 codes + per-vector scale for ``vec_col``.

    The scale is projected FIRST and the code lambda reads the bound
    column: inlining the scale expression (which contains the array_max
    pass) inside the per-element lambda re-evaluated it for every
    element — O(dim²) per row (guide §1.2). Same values."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, amax / 127.0).otherwise(F.lit(1.0))
    codes = F.transform(
        v, lambda x: F.round(x.cast("double") / F.col(scale_col), 0)
        .cast("tinyint"))
    return df.withColumn(scale_col, scale).withColumn(code_col, codes)


def dequantize(codes: Column, scale: Column) -> Column:
    """int8 codes + scale -> approximate float vector."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def quantized_cosine(codes_a: Column, scale_a: Column,
                     codes_b: Column, scale_b: Column) -> Column:
    """Cosine over quantized vectors: scales cancel in the cosine, so
    this is the int dot product over the code norms (exactly the
    cosine of the DEQUANTIZED vectors)."""
    dot = F.aggregate(
        F.zip_with(codes_a, codes_b,
                   lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(codes_a, F.lit(0.0),
                            lambda a, c: a + c.cast("double") ** 2))
    nb = F.sqrt(F.aggregate(codes_b, F.lit(0.0),
                            lambda a, c: a + c.cast("double") ** 2))
    return dot.cast("double") / (na * nb)


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   round_digits: int = 4) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — the memory-lean
    exact-scan path (codes are 4x smaller than float32; the scan cost
    class matches brute_force_topk). Round-before-rank for oracle
    comparability; ties break by corpus id."""
    from .dedup import _ensure_parallelism

    def code_norm(codes_name: str) -> Column:
        # one F.expr per call (vs ~15 py4j round trips for the HOF
        # form, guide §1.2); POWER(x, 2) matches the previous ``** 2``
        return F.expr(
            f"sqrt(aggregate({_q(codes_name)}, 0.0D, "
            "(a, c) -> a + power(CAST(c AS DOUBLE), 2)))")

    # factored per-row code norms (same device as brute_force_topk: the
    # norm halves of quantized_cosine move below the join — once per row
    # instead of per pair; identical IEEE op DAG)
    cq = (quantize_embeddings(_ensure_parallelism(corpus), vec_col)
          .withColumn("__cn", code_norm("codes")))
    qq = (quantize_embeddings(queries, vec_col)
          .select(F.col(query_id_col), F.col("codes").alias("__qc"),
                  code_norm("codes").alias("__qn")))
    dot = F.expr(
        "aggregate(zip_with(`codes`, `__qc`, "
        "(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    sim = F.round(dot.cast("double") / (F.col("__cn") * F.col("__qn")),
                  round_digits)
    scored = (cq.join(F.broadcast(qq),
                      F.col(id_col) != F.col(query_id_col), "inner")
              .select(query_id_col, id_col, sim.alias("cos_sim")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))
