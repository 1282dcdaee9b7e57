"""The engine's ranking function, BM25 (Robertson/Sparck Jones idf with
the +1 floor, k1/b length normalization), defined once for every scoring
path: Python/NumPy forms for the driver and Arrow kernels, Spark-column
forms for JVM-side plans. Replaces the reference's single TF-IDF blend
(idf ref: src/cis5550/jobs/Indexer.java:238-242, blend ref:
src/cis5550/jobs/RankScore.java:171-178).

The operation order of :func:`term_scores` and :func:`term_score_col` is
part of the contract: every top-k path, including the block upper bounds
of the WAND kernel, evaluates ``w * tf * (k1 + 1) / (tf + k1 * (1 - b +
b * dl / avgdl))`` with ``w = weight * idf`` computed once, so scores are
bit-equal across paths. ``google_spark.oracle`` keeps its own copy of the
formula on purpose: it is the independent reference the tests compare
against.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from google_spark import BM25_B, BM25_K1


def idf(n: int, df: int) -> float:
    """BM25 idf of a term in ``df`` of ``n`` documents."""
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def idf_col(n: int, df: Column) -> Column:
    """Spark-column twin of :func:`idf` over a document-frequency column."""
    return F.log((F.lit(float(n)) - df + 0.5) / (df + 0.5) + 1.0)


def term_scores(w, tf, dl, avgdl: float):
    """BM25 term score of postings with term frequency ``tf`` in documents
    of length ``dl``, scaled by ``w`` (query weight times idf). Scalars or
    NumPy arrays; at (max_tf, min_dl) it is the block upper bound, since the
    score rises with tf and falls with dl."""
    return w * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))


def term_score_col(w: Column, tf: Column, dl: Column, avgdl: float) -> Column:
    """Spark-column twin of :func:`term_scores` (same operation order)."""
    tf = tf.cast("double")
    return (
        w
        * tf
        * F.lit(BM25_K1 + 1.0)
        / (
            tf
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / F.lit(avgdl))
        )
    )
