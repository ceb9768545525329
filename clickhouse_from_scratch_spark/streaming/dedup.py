"""Streaming deduplication for ingest pipelines.

The batch dedup operators (pipeline/dedup.py) assume a bounded corpus;
an ingest pipeline wants duplicates dropped AS data arrives:

- ``streaming_exact_dedup`` — exact content dedup on a stream. The
  content hash (xxhash64, same key as the batch path) is the dedup key;
  with an event-time watermark the state store evicts keys once they
  age out (``dropDuplicatesWithinWatermark``), which is the only shape
  whose state stays bounded on an infinite stream. Without a watermark
  it falls back to ``dropDuplicates`` (state grows with distinct keys —
  fine for bounded backfills, documented misuse otherwise).
- ``streaming_minhash_signatures`` — per-row MinHash signatures on a
  stream (stateless: shingle + K-perm-min are pure projections, so the
  batch kernel applies unchanged). Banded LSH *candidate
  pairs* need a corpus-wide shuffle and belong to the batch layer: the
  standard 100 TB ingest shape is signatures-on-ingest (here), then a
  periodic batch ``minhash_lsh_candidates`` over the signed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(stream: DataFrame, text_col: str = "text",
                          ts_col: str | None = None,
                          watermark: str = "10 minutes") -> DataFrame:
    """Drop exact-duplicate documents from a stream.

    With ``ts_col``, duplicates arriving within ``watermark`` of each
    other are dropped and the dedup state is evicted as event time
    advances — bounded state, the scale-correct form. Without it, all
    seen hashes are kept (bounded inputs only).
    """
    hashed = stream.withColumn("__content_hash",
                               F.xxhash64(F.col(text_col)))
    if ts_col is not None:
        return (hashed.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["__content_hash"])
                .drop("__content_hash"))
    return hashed.dropDuplicates(["__content_hash"]).drop("__content_hash")


def streaming_minhash_signatures(stream: DataFrame,
                                 text_col: str = "text",
                                 num_hashes: int = 64,
                                 shingle_n: int = 3) -> DataFrame:
    """Append MinHash signatures to a stream (stateless projection; it
    IS the batch kernel, so downstream batch LSH can band them
    directly)."""
    from ..pipeline.dedup import minhash_signatures
    return minhash_signatures(stream, text_col, num_hashes, shingle_n)
