"""End-to-end training-data preparation recipe.

Composes the pipeline operators into the standard corpus-prep sequence
used by public LLM data pipelines (C4 / CCNet / Gopher / RefinedWeb):

  1. quality filter        — per-row JVM expression, pushdown-friendly
  2. language filter       — per-row argmax over marker-word hits
  3. PII scrubbing         — per-row regexp placeholders
  4. cross-doc passage dedup — bounded shuffles on uniform hash keys
  5. near-dup removal      — exact (normalized-fingerprint groupBy,
                             deterministic, oracle-able) or MinHash+LSH
                             (sketch path for true near-dups)
  6. stats                 — token count + content fingerprint

Steps 1-3 are zero-shuffle maps; step 4 is two hash-keyed shuffles;
step 5-exact is one groupBy + one join; step 5-minhash is the LSH
pipeline (one signature pass + one band shuffle). Nothing collects to
the driver — the same plan runs on 500 documents or 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_keep_canonical, ngram_jaccard_pairs, passage_dedup
from .text import (
    doc_fingerprint,
    language_id,
    pii_scrub,
    quality_score,
    token_count,
)


def prepare_training_data(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          min_quality: float = 0.5,
                          langs: tuple = ("en",),
                          scrub: bool = True,
                          passage_words: int = 8,
                          passage_max_count: int = 1,
                          near_dup: str | None = "exact",
                          jaccard_threshold: float = 0.8) -> DataFrame:
    """Run the full corpus-prep recipe; returns (id_col, text, n_tokens,
    fingerprint) for the surviving documents.

    ``near_dup``: "exact" keeps the min-id document per normalized
    fingerprint (deterministic — the DuckDB-oracle path); "minhash"
    additionally removes near-duplicates via MinHash+LSH candidates
    verified by n-gram Jaccard (sketch path); None skips the step.
    """
    df = docs
    if min_quality is not None or langs:
        # ONE filter over a LET-BOUND token array (1-element transform):
        # a `withColumn("__toks")` + filter spelling does NOT tokenize
        # once — filter pushdown substitutes deterministic aliases into
        # the predicate unconditionally, so the regex split was inlined
        # per reference (quality 2× + one per marker language; the
        # recipe's optimized plan held 107 split() copies, r13). The
        # bound lambda variable is evaluated once per row; surviving
        # rows are identical (same conjunction of the same predicates).
        from .text import _tokens

        def _keep(toks):
            conds = []
            if min_quality is not None:
                conds.append(quality_score(F.col(text_col), tokens=toks)
                             >= min_quality)
            if langs:
                conds.append(language_id(F.col(text_col), tokens=toks)
                             .isin(list(langs)))
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out

        df = df.filter(F.element_at(
            F.transform(F.array(_tokens(text_col)), _keep), 1))
    if scrub:
        df = df.withColumn(text_col, pii_scrub(F.col(text_col)))
    if passage_words:
        deduped = passage_dedup(df, text_col=text_col, id_col=id_col,
                                words_per_chunk=passage_words,
                                max_count=passage_max_count)
        df = (df.drop(text_col)
              .join(deduped.filter(F.col("kept_text") != "")
                    .select(id_col, F.col("kept_text").alias(text_col)),
                    id_col))
    if near_dup == "exact":
        # one deterministic representative (min id) per normalized
        # fingerprint: groupBy + equi-join, both keyed on the md5 —
        # no window over the whole corpus
        fp = df.select(F.col(id_col),
                       doc_fingerprint(F.col(text_col)).alias("__fp"))
        canon = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
        df = df.join(canon.select(id_col), id_col)
    elif near_dup == "minhash":
        # LSH candidates + exact-Jaccard verify
        pairs = ngram_jaccard_pairs(df, text_col=text_col, id_col=id_col,
                                    threshold=jaccard_threshold)
        df = dedup_keep_canonical(df, pairs, id_col=id_col)
    elif near_dup is not None:
        raise ValueError(f"near_dup={near_dup!r}: use 'exact', "
                         f"'minhash', or None")
    return df.select(
        F.col(id_col), F.col(text_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        doc_fingerprint(F.col(text_col)).alias("fingerprint"))
