"""BM25 scoring — tantivy-parity math (SURVEY.md §1.4).

score(term, doc) = idf_weight(df) * tf / (tf + k1 * (1 - b + b * len/avgdl))
  idf_weight(df) = ln(1 + (N - df + 0.5)/(df + 0.5)) * (k1 + 1)
  k1 = 1.2, b = 0.75
  len   = tantivy-QUANTIZED fieldnorm of the doc (fieldnorm.py)
  avgdl = total_tokens / num_docs, computed from EXACT token counts
          (tantivy tracks total_num_tokens exactly in segment stats and
          quantizes only the per-doc norm)
  N, df = GLOBAL corpus statistics (single-index semantics; the reference
          scores per-split, our engine builds one merged global index, and
          the golden scorer uses the same global stats — SURVEY.md §7)

Boolean composition: SHOULD sums matching-clause scores; boost multiplies
(query/Query.java:180); const_score replaces (:264); dismax = max +
tie_breaker * sum(rest) (:159-170).  Ties broken by ascending doc_id.

All math in float64, identically in the Spark pipeline, the DuckDB oracle
SQL, and the golden scorer — self-consistent and deterministic.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75


def idf_weight(df: int, num_docs: int) -> float:
    """ln(1 + (N - df + .5)/(df + .5)) * (k1 + 1) — tantivy Bm25Weight."""
    idf = math.log(1.0 + (num_docs - df + 0.5) / (df + 0.5))
    return idf * (K1 + 1.0)


def tf_norm(tf: float, doc_len: float, avgdl: float) -> float:
    return tf / (tf + K1 * (1.0 - B + B * doc_len / avgdl))


def bm25(tf: float, df: int, doc_len: float, num_docs: int, avgdl: float) -> float:
    return idf_weight(df, num_docs) * tf_norm(tf, doc_len, avgdl)


def block_max_score(weight, max_tf, min_len, avgdl):
    """WAND bound of a postings block for one query term: no doc in the
    block scores above it.  A doc's score grows with tf and shrinks with
    its length, so the block's (max_tf, min_len) bound every (tf, len) in
    it.  ``weight`` is the query's weight for the term (idf_weight times
    the clause count).  The expression has the per-doc score's shape, so
    the doc holding both extremes scores exactly the bound.  Takes floats,
    numpy arrays (the driver) or Spark Columns (the cluster) alike."""
    return weight * max_tf / (max_tf + K1 * ((1.0 - B) + B * min_len / avgdl))
