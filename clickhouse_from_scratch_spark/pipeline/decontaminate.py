"""Benchmark decontamination — flag training documents that overlap an
evaluation set (the published n-gram decontamination recipe: a document
is contaminated when it shares at least ``min_matches`` distinct word
n-grams with any benchmark document).

Scale shape: the BENCHMARK side is small (eval sets are thousands of
rows) — its distinct gram set broadcasts; the corpus side explodes
shingle hashes and inner-joins against the broadcast, so the only
shuffle is the per-document match count (map-side combined). Never
all-pairs, never a driver collect; at 100 TB the cost is one pass over
the corpus grams.

``contamination`` keys grams by the JVM xxhash64 shingle hashes shared
with the dedup operators; ``hash="md5"`` keys them by md5'd gram
STRINGS instead, which the DuckDB oracle recomputes verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingles


def _gram_strings(text: Column, n: int) -> Column:
    """Distinct word n-gram STRINGS (oracle-matchable form; the hash
    path in ``shingles`` is the fast production form).

    Words are let-bound (1-element ``transform``) so the tokenizer runs
    ONCE per row — referenced inside the per-gram slice lambda it would
    re-run per n-gram (lambda copies defeat Catalyst CSE; guide §1.2)."""
    words_expr = F.filter(F.split(F.lower(text), r"\s+"),
                          lambda w: w != "")

    def from_words(words: Column) -> Column:
        m = F.greatest(F.size(words) - (n - 1), F.lit(0))
        idx = F.when(m >= 1, F.sequence(F.lit(1), m)) \
            .otherwise(F.array().cast("array<int>"))
        return F.array_distinct(F.transform(
            idx, lambda i: F.array_join(F.slice(words, i, n), " ")))

    return F.element_at(F.transform(F.array(words_expr), from_words), 1)


def contamination(docs: DataFrame, bench: DataFrame, n: int = 3,
                  min_matches: int = 1, text_col: str = "text",
                  id_col: str = "doc_id",
                  hash: str = "xxhash64") -> DataFrame:
    """(doc_id, n_matches) for every document sharing >= min_matches
    distinct n-grams with the benchmark corpus. Gram key: the xxhash64
    shingle hash, or md5 of the gram string (``hash="md5"``, the
    oracle-recomputable twin)."""
    if hash == "xxhash64":
        grams, key = shingles(text_col, n), F.col
    elif hash == "md5":
        grams, key = _gram_strings(F.col(text_col), n), F.md5
    else:
        raise ValueError(f"contamination: unknown hash {hash!r}")
    g_docs = (docs.select(F.col(id_col), F.explode(grams).alias("__g"))
              .select(id_col, key("__g").alias("__g")))
    g_bench = (bench.select(F.explode(grams).alias("__g"))
               .select(key("__g").alias("__g")).distinct())
    hits = (g_docs.join(F.broadcast(g_bench), "__g")
            .groupBy(id_col)
            .agg(F.count_distinct("__g").alias("n_matches")))
    return hits.where(F.col("n_matches") >= min_matches)


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 3,
                  min_matches: int = 1, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """The keep-side: documents with FEWER than min_matches benchmark
    n-gram overlaps (left-anti join on the contaminated id set)."""
    bad = contamination(docs, bench, n, min_matches, text_col, id_col) \
        .select(id_col)
    return docs.join(bad, on=id_col, how="left_anti")
