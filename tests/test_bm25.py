"""The shared ranking function (functions/bm25.py) against the oracle's
independent copy of the formula: bit-equal in Python/NumPy, within 1e-12
through Spark columns."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from google_spark.functions import bm25
from google_spark.oracle import OracleIndex

NS = (1, 3, 100, 10_000, 10**9)
DFS = (1, 2, 50, 1000)
TFS = (1, 3, 40)
DLS = (1, 17, 500)
AVGDLS = (0.5, 9.75, 123.456)


def _oracle(n: int, df: int, tf: int, dl: int, avgdl: float) -> OracleIndex:
    """An oracle whose term "t" has document frequency ``df`` among ``n``
    docs and occurs ``tf`` times in doc 0 of length ``dl``."""
    o = OracleIndex([])
    o.n_docs, o.avgdl = n, avgdl
    o.postings = {"t": {d: [0] * (tf if d == 0 else 1) for d in range(df)}}
    o.dl = {0: dl}
    return o


def test_bm25_helpers_match_oracle(spark):
    for n, df, avgdl in itertools.product(NS, DFS, AVGDLS):
        if df > n:
            continue
        idf = bm25.idf(n, df)
        tf_arr = np.array([tf for tf in TFS for _ in DLS], dtype=np.float64)
        dl_arr = np.array([dl for _ in TFS for dl in DLS], dtype=np.float64)
        got = bm25.term_scores(idf, tf_arr, dl_arr, avgdl).tolist()
        for i, (tf, dl) in enumerate(itertools.product(TFS, DLS)):
            o = _oracle(n, df, tf, dl, avgdl)
            assert idf == o.idf("t")
            assert got[i] == o.bm25("t", 0), (n, df, tf, dl, avgdl)

    n, avgdl = 10_000, 9.75
    rows = list(itertools.product(DFS, TFS, DLS))
    idf_col = bm25.idf_col(n, F.col("df"))
    out = (
        spark.createDataFrame(rows, "df long, tf int, dl int")
        .select(
            "df",
            "tf",
            "dl",
            idf_col.alias("idf"),
            bm25.term_score_col(idf_col, F.col("tf"), F.col("dl"), avgdl).alias(
                "s"
            ),
        )
        .collect()
    )
    assert len(out) == len(rows)
    for r in out:
        o = _oracle(n, r["df"], r["tf"], r["dl"], avgdl)
        assert r["idf"] == pytest.approx(o.idf("t"), abs=1e-12)
        assert r["s"] == pytest.approx(o.bm25("t", 0), abs=1e-12)
