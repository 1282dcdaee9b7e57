"""Query-time top-k: BM25 scoring over the sharded compressed index
(SURVEY.md §2.3 D18-D23, §3.3).

Two engines, required to be rank-identical (tested):

- ``exhaustive_topk``: decode matching posting lists -> score every posting
  with JVM-side expressions -> groupBy(doc).sum -> TakeOrderedAndProject.
  The declarative baseline (the analog of the reference's singleSearch full
  scan, ref: src/cis5550/jobs/RankScore.java:147-185, minus its per-word KVS
  RPCs).
- ``wand_topk``: per-shard exact top-k in a NumPy ``applyInPandas`` kernel
  (vectorized scoring, or a block-max segment sweep that skips blocks whose
  BM25 upper bound cannot reach the top-k — see :func:`_kernel_decoded`),
  then a global top-k merge. Because shards partition the doc_id universe,
  the per-shard top-k is exact and embarrassingly parallel — the scale
  path.

Every path scores with ``functions.bm25`` and decodes postings with
merge-on-read deletes masked through ``codec.decode_live``/
``decode_live_full``.

Ties break (score desc, doc_id asc) everywhere, including the oracle.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from google_spark.functions import bm25
from google_spark.functions.codec import decode_live, decode_live_full, not_deleted_mask

# not called here: the traced benchmark (perfbench/spans.py) wraps this
# module attribute by name
from google_spark.functions.codec import decode_postings_arrays  # noqa: F401
from google_spark.functions.tokenizer import tokenize
from google_spark.operators.index_build import IndexTables


def query_terms(query: str, mode: str = "simple", stem: bool = False) -> list[str]:
    """Tokenize a query with the same kernel as documents (multiplicity kept
    — repeated terms weight like the reference's queryFreq,
    ref: src/cis5550/jobs/RankScore.java:176)."""
    return [t for t, _ in tokenize(query, mode=mode, stem=stem)]


DECODED_SCHEMA = "term string, doc_id long, tf int, dl int"

# Candidate-set size (postings) up to which the shard kernel scores
# everything vectorized; above it, it runs the block-max segment sweep
# (module-level so tests can force either). The vectorized accumulation is
# O(total postings) with ~16 bytes/posting transient memory (5M postings
# ≈ 80 MB). Neither path wins everywhere: measured with _kernel_decoded
# called directly and each path forced (4-vCPU VM, NumPy 1.26.4), the sweep
# was 1.3-1.6x SLOWER than the vectorized path on 2-3-term queries of
# 6-25M postings, and 1.9-2.4x faster on a single 12M-posting term; both
# returned identical results.
WAND_FASTPATH_MAX = 5_000_000


def _decode_matching(matching: DataFrame, deletes=None) -> DataFrame:
    """Decode the matching postings blobs into (term, doc_id, tf, dl) rows
    of live documents (merge-on-read ``deletes`` masked in the kernel).
    ``matching`` is a posting-row relation such as IndexTables.matching():
    term filter pushed to the parquet scan plus bucket partition pruning
    on disk-backed indexes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out, d_out, tf_out, dl_out = [], [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls = decode_live(bytes(blob), deletes)
                t_out.extend([term] * len(doc_ids))
                d_out.append(doc_ids)
                tf_out.append(tfs)
                dl_out.append(dls)
            if d_out:
                yield pd.DataFrame(
                    {
                        "term": pd.Series(t_out, dtype="object"),
                        "doc_id": pd.Series(np.concatenate(d_out), dtype="int64"),
                        "tf": pd.Series(np.concatenate(tf_out), dtype="int32"),
                        "dl": pd.Series(np.concatenate(dl_out), dtype="int32"),
                    }
                )

    return matching.select("term", "postings").mapInPandas(
        gen, schema=DECODED_SCHEMA
    )


def exhaustive_topk(
    index: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "simple",
    stem: bool = False,
    scoring: str = "bm25",
) -> DataFrame:
    """DataFrame[doc_id, score] — top-k by exhaustive scoring.

    ``scoring="bm25"`` (default) is the engine's ranking function.
    ``scoring="ref_tfidf"`` reproduces the REFERENCE's formula exactly for
    fidelity testing: per-term score = queryFreq * (count/doclen) *
    ln(N/df) * 10 — normalized tf from Indexer.java:181-187
    (``wordCountInverse``), idf = ln(pageCount/df) from
    Indexer.java:238-242, and the queryFreq * tf * idf * 10 blend from
    RankScore.java:171-178 (singleSearch)."""

    terms = query_terms(query, mode=mode, stem=stem)
    return weighted_topk(
        index, dict(Counter(terms)), k=k, scoring=scoring
    )


def weighted_topk(
    index: IndexTables,
    weights: dict[str, float],
    k: int = 10,
    scoring: str = "bm25",
) -> DataFrame:
    """Top-k over an explicit {term: weight} map — the shared scoring core
    behind :func:`exhaustive_topk` (multiplicity weights), :func:`prefix_topk`
    (dictionary-expanded terms) and the synonym path (decayed weights).

    The per-term weight and idf are tiny query-side constants, so they ride
    into the decode kernel as closures (idf needs global df, fetched with
    one scan of the pruned per-shard df column) — the decode emits scored
    rows directly and the plan is scan -> kernel -> partial/final sum ->
    TakeOrderedAndProject, with no joins."""

    spark = index.postings.sparkSession
    qf = {t: float(w) for t, w in weights.items() if w}
    if not qf:
        return spark.createDataFrame([], "doc_id long, score double")
    matching = index.matching(list(qf))
    df_rows = matching.groupBy("term").agg(F.sum("df").alias("df")).collect()
    import math

    n = index.n_docs
    if scoring == "ref_tfidf":
        widf = {
            r["term"]: float(qf[r["term"]])
            * math.log(n / int(r["df"]))
            * 10.0
            for r in df_rows
        }
    else:
        widf = {
            r["term"]: float(qf[r["term"]]) * bm25.idf(n, int(r["df"]))
            for r in df_rows
        }
    avgdl = index.avgdl
    deletes = index.deletes

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            d_out, s_out = [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls = decode_live(bytes(blob), deletes)
                w = widf[term]
                if scoring == "ref_tfidf":
                    scores = w * tfs / dls
                else:
                    scores = bm25.term_scores(w, tfs, dls, avgdl)
                d_out.append(doc_ids)
                s_out.append(scores)
            if d_out:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(np.concatenate(d_out), dtype="int64"),
                        "score": pd.Series(np.concatenate(s_out), dtype="float64"),
                    }
                )

    scored = matching.select("term", "postings").mapInPandas(
        gen, schema="doc_id long, score double"
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def parse_boolean_query(
    query: str, mode: str = "simple", stem: bool = False
) -> tuple[list[str], list[str], list[str]]:
    """Split ``"+hash join -merge"`` into (must, should, must_not) term
    lists, each run through the document tokenizer for parity. ``+`` marks a
    required term, ``-`` an excluded one, bare words are optional scorers —
    the Lucene BooleanQuery MUST/SHOULD/MUST_NOT surface the reference's
    AND-ish singleSearch (ref: src/cis5550/jobs/RankScore.java:147-185)
    never grew."""
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    for raw in query.split():
        bucket = should
        if raw.startswith("+"):
            bucket, raw = must, raw[1:]
        elif raw.startswith("-"):
            bucket, raw = must_not, raw[1:]
        bucket.extend(query_terms(raw, mode=mode, stem=stem))
    return must, should, must_not


def boolean_topk(
    index: IndexTables,
    query: str | None = None,
    k: int = 10,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    mode: str = "simple",
    stem: bool = False,
) -> DataFrame:
    """Boolean-filtered BM25 top-k: candidates must contain EVERY ``must``
    term and NO ``must_not`` term; the score sums BM25 over must+should
    terms present (multiplicity = weight, like plain queries).

    Scale shape: ONE pruned index scan decodes must+should postings and
    scores them in the kernel (idf/weight ride in as closures), emitting
    (doc_id, score, is_must) rows; a hash aggregate per doc_id counts
    distinct must terms (each (term, doc) posting appears exactly once
    across shards, so ``sum(is_must) == |must|`` is the AND test). The
    must_not exclusion is a second pruned scan reduced to a distinct doc_id
    relation and applied as a left-anti join — cost proportional to the
    excluded terms' posting lists, never the corpus. No collects."""
    spark = index.postings.sparkSession
    if query is not None:
        must, should, must_not = parse_boolean_query(query, mode=mode, stem=stem)
    must = list(must or [])
    should = list(should or [])
    must_not = list(must_not or [])
    pos_terms = must + should
    if not pos_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    qf = Counter(pos_terms)
    must_set = set(must)
    matching = index.matching(list(qf))
    df_rows = matching.groupBy("term").agg(F.sum("df").alias("df")).collect()
    n = index.n_docs
    widf = {
        r["term"]: float(qf[r["term"]]) * bm25.idf(n, int(r["df"]))
        for r in df_rows
    }
    avgdl = index.avgdl
    deletes = index.deletes

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            d_out, s_out, m_out = [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls = decode_live(bytes(blob), deletes)
                scores = bm25.term_scores(widf[term], tfs, dls, avgdl)
                d_out.append(doc_ids)
                s_out.append(scores)
                m_out.append(
                    np.full(len(doc_ids), 1 if term in must_set else 0, dtype=np.int32)
                )
            if d_out:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(np.concatenate(d_out), dtype="int64"),
                        "score": pd.Series(np.concatenate(s_out), dtype="float64"),
                        "is_must": pd.Series(np.concatenate(m_out), dtype="int32"),
                    }
                )

    scored = matching.select("term", "postings").mapInPandas(
        gen, schema="doc_id long, score double, is_must int"
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("score").alias("score"), F.sum("is_must").alias("n_must")
    )
    cand = agg.filter(F.col("n_must") == len(must_set)) if must_set else agg
    if must_not:
        excl = _decode_matching(index.matching(sorted(set(must_not)))).select(
            "doc_id"
        ).distinct()
        cand = cand.join(excl, "doc_id", "left_anti")
    return (
        cand.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def prefix_topk(
    index: IndexTables,
    prefix: str,
    k: int = 10,
    max_expand: int = 32,
) -> DataFrame:
    """Wildcard query ``prefix*``: expand against the term dictionary,
    keeping the ``max_expand`` highest-df matches (ties by term asc) — the
    Lucene MultiTermQuery rewrite-cap analog, so a one-letter prefix over a
    10^9-term dictionary stays bounded — then score the expansion as an OR
    query (weight 1.0 per term) through :func:`weighted_topk`.

    The dictionary probe is a scan of the (term, df) relation with the
    prefix pushed down as a StartsWith filter; the collect is capped at
    ``max_expand`` rows."""
    spark = index.postings.sparkSession
    rows = (
        index.terms.filter(F.col("term").startswith(prefix))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expand)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: 1.0 for r in rows}, k=k)


def wildcard_regex(pattern: str) -> str:
    """Anchored regex for a wildcard term pattern: ``*`` matches any run
    (including empty), ``?`` exactly one character, everything else is a
    literal (regex metacharacters escaped). Shared by the engine probe
    and exposed so oracles can reproduce the exact expansion."""
    import re

    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
    return "^" + "".join(parts) + "$"


def wildcard_topk(
    index: IndexTables,
    pattern: str,
    k: int = 10,
    max_expand: int = 32,
) -> DataFrame:
    """General wildcard term query (the Lucene WildcardQuery analog,
    generalizing :func:`prefix_topk`): ``*`` matches any run of
    characters, ``?`` exactly one. Matching terms from the dictionary —
    capped at the ``max_expand`` highest-df (ties term asc), the
    MultiTermQuery rewrite cap — score as an OR query through
    :func:`weighted_topk`.

    Scale shape: the longest literal prefix before the first wildcard is
    pushed into the (term, df) dictionary scan as a StartsWith parquet
    filter, then the anchored regex verifies the survivors — so
    ``spar?`` touches one dictionary range while the corpus is never
    scanned at all. A LEADING-wildcard pattern (``*ing``) degrades to a
    full dictionary scan: O(vocab), still corpus-independent (Lucene's
    reversed-term field is the escape hatch when the dictionary itself
    is huge; unnecessary here — a 100 TB corpus has a vocabulary orders
    of magnitude smaller than its postings)."""
    spark = index.postings.sparkSession
    rx = wildcard_regex(pattern)
    terms = index.terms
    lit_prefix = pattern.split("*", 1)[0].split("?", 1)[0]
    if lit_prefix:
        terms = terms.filter(F.col("term").startswith(lit_prefix))
    rows = (
        terms.filter(F.col("term").rlike(rx))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expand)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: 1.0 for r in rows}, k=k)


def regexp_term_topk(
    index: IndexTables,
    regex: str,
    k: int = 10,
    max_expand: int = 32,
) -> DataFrame:
    """Regex TERM query (the Lucene RegexpQuery analog, completing the
    MultiTermQuery family with :func:`prefix_topk`/:func:`wildcard_topk`):
    dictionary terms fully matching ``regex`` (it is anchored both ends,
    Lucene-style — pass ``.*`` explicitly for contains semantics), capped
    at the ``max_expand`` highest-df (ties term asc), OR-scored through
    :func:`weighted_topk`. This matches against the VOCABULARY — for
    regex over document CONTENT use the trigram-index regex_search.

    The dictionary probe is one (term, df) scan with the anchored rlike
    in the scan's Filter — O(vocab), corpus-independent (regex literals
    are not extracted into a StartsWith here; anchor-aware prefix
    extraction is what :func:`wildcard_topk` does for its grammar)."""
    spark = index.postings.sparkSession
    # wrap in a non-capturing group so the anchors bind the WHOLE pattern:
    # naive "^" + regex + "$" breaks on top-level alternation ("foo|bar"
    # would become "^foo|bar$", full-matching neither side under rlike's
    # find() semantics — "food" and "rebar" would both expand)
    anchored = f"^(?:{regex})$"
    rows = (
        index.terms.filter(F.col("term").rlike(anchored))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expand)
        .collect()
    )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    return weighted_topk(index, {r["term"]: 1.0 for r in rows}, k=k)


def explain_topk(
    index: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "simple",
) -> DataFrame:
    """Score explanation for the query's top-k docs (the Lucene
    ``explain()`` analog, the relevance-debugging surface): one row per
    (doc, matched term) with every ingredient of the BM25 contribution —
    (doc_id, term, weight, tf, dl, idf, contribution, score) — where
    ``weight`` is the term's query multiplicity, ``contribution`` the
    term's additive share, and ``score`` the doc total (= the exact score
    exhaustive_topk/wand_topk assign). Ordered (score desc, doc_id asc,
    term asc).

    Scale shape: ONE pruned posting scan feeds both the top-k selection
    and the breakdown — the decoded (term, doc_id, tf, dl) relation gets
    the contribution as a JVM column (idf/weight ride in as a small
    CASE map over the query's terms), the doc total is a window sum over
    the doc grain, and the top-k cut is a semi-join against the k winning
    ids. Cost follows the query terms' posting lists, never the corpus."""
    from pyspark.sql import Window

    spark = index.postings.sparkSession
    out_schema = (
        "doc_id long, term string, weight double, tf int, dl int, "
        "idf double, contribution double, score double"
    )
    qf = Counter(query_terms(query, mode=mode))
    if not qf:
        return spark.createDataFrame([], out_schema)
    matching = index.matching(sorted(qf))
    df_rows = matching.groupBy("term").agg(F.sum("df").alias("df")).collect()
    n = index.n_docs
    idf = {r["term"]: bm25.idf(n, int(r["df"])) for r in df_rows}
    if not idf:
        return spark.createDataFrame([], out_schema)
    decoded = _decode_matching(matching, index.deletes)
    idf_col = F.lit(None).cast("double")
    w_col = F.lit(None).cast("double")
    for t in sorted(idf):
        idf_col = F.when(F.col("term") == t, F.lit(idf[t])).otherwise(idf_col)
        w_col = F.when(F.col("term") == t, F.lit(float(qf[t]))).otherwise(w_col)
    rows = decoded.select(
        "doc_id",
        "term",
        w_col.alias("weight"),
        "tf",
        "dl",
        idf_col.alias("idf"),
        bm25.term_score_col(
            w_col * idf_col, F.col("tf"), F.col("dl"), index.avgdl
        ).alias("contribution"),
    ).withColumn(
        "score", F.sum("contribution").over(Window.partitionBy("doc_id"))
    )
    top = (
        rows.select("doc_id", "score")
        .distinct()
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id")
    )
    return rows.join(F.broadcast(top), "doc_id").orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("term")
    )


def positional_postings(index: IndexTables, terms: list[str]) -> DataFrame:
    """(term, doc_id, tf, dl, positions) decoded from the pruned posting
    scan — the positional twin of the scoring decode: the term filter is
    pushed to the parquet scan (+ bucket partition pruning on disk), the
    Arrow kernel emits one row per (term, doc) with the full position
    list, and merge-on-read deletes are masked inside the kernel. Doc
    shards partition the doc_id universe, so each (term, doc_id) appears
    exactly once. Cost follows the queried terms' posting lists, never
    the corpus."""
    deletes = index.deletes

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out, d_out, tf_out, dl_out, p_out = [], [], [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                doc_ids, tfs, dls, pos = decode_live_full(bytes(blob), deletes)
                t_out.extend([term] * len(doc_ids))
                d_out.extend(doc_ids)
                tf_out.extend(tfs)
                dl_out.extend(dls)
                p_out.extend(list(p) for p in pos)
            yield pd.DataFrame(
                {
                    "term": pd.Series(t_out, dtype="object"),
                    "doc_id": pd.Series(d_out, dtype="int64"),
                    "tf": pd.Series(tf_out, dtype="int32"),
                    "dl": pd.Series(dl_out, dtype="int32"),
                    "positions": pd.Series(p_out, dtype="object"),
                }
            )

    return index.matching(terms).select("term", "postings").mapInPandas(
        gen, schema="term string, doc_id long, tf int, dl int, positions array<int>"
    )


def near_topk(
    index: IndexTables,
    term_a: str,
    term_b: str,
    max_gap: int,
    k: int = 10,
    ordered: bool = False,
) -> DataFrame:
    """Proximity query ``term_a NEAR/max_gap term_b`` (the Lucene
    SpanNearQuery analog): top-k (doc_id, min_gap, score) over docs where
    the two DISTINCT terms occur within ``max_gap`` token positions —
    ``ordered=True`` additionally requires ``term_a`` BEFORE ``term_b``
    (min_gap is then the minimal forward distance). Survivors rank by
    BM25 over the two terms (score desc, doc_id asc).

    Scale shape: positions come from :func:`positional_postings` — a scan
    of the TWO terms' posting lists only (term filter + bucket pruning
    pushed down), never the corpus; the doc-grain equi-join is between
    those two decoded lists; the pairwise min-gap is a nested JVM
    higher-order function over the position arrays (cost tf_a * tf_b per
    co-occurring doc, no explode); scoring needs no second scan — tf/dl
    ride along the decode, idf is a 2-row query-side constant."""
    if term_a == term_b:
        raise ValueError("near_topk needs two distinct terms")
    if max_gap < 1:
        raise ValueError("max_gap must be >= 1")
    spark = index.postings.sparkSession
    out_schema = "doc_id long, min_gap int, score double"
    rel = positional_postings(index, sorted({term_a, term_b}))
    df_rows = (
        index.matching([term_a, term_b])
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    dfm = {r["term"]: int(r["df"]) for r in df_rows}
    if term_a not in dfm or term_b not in dfm:
        return spark.createDataFrame([], out_schema)
    idf = {t: bm25.idf(index.n_docs, d) for t, d in dfm.items()}

    def score(tf_col: str, term: str) -> F.Column:
        return bm25.term_score_col(
            F.lit(idf[term]), F.col(tf_col), F.col("dl"), index.avgdl
        )

    a = rel.filter(F.col("term") == term_a).select(
        "doc_id",
        F.col("tf").alias("tf_a"),
        "dl",
        F.col("positions").alias("pa"),
    )
    b = rel.filter(F.col("term") == term_b).select(
        "doc_id",
        F.col("tf").alias("tf_b"),
        F.col("positions").alias("pb"),
    )
    if ordered:
        # minimal forward distance y - x over pairs with y AFTER x;
        # array_min ignores the nulls the when() leaves for y <= x
        gap = F.array_min(
            F.flatten(
                F.transform(
                    "pa",
                    lambda x: F.transform(
                        "pb", lambda y: F.when(y > x, y - x)
                    ),
                )
            )
        )
    else:
        gap = F.array_min(
            F.flatten(
                F.transform(
                    "pa",
                    lambda x: F.transform("pb", lambda y: F.abs(y - x)),
                )
            )
        )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            gap.alias("min_gap"),
            (score("tf_a", term_a) + score("tf_b", term_b)).alias("score"),
        )
        .filter(F.col("min_gap").isNotNull() & (F.col("min_gap") <= max_gap))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def facet_counts(
    index: IndexTables,
    meta: DataFrame,
    query: str,
    facet_cols: list[str] | None = None,
    mode: str = "simple",
    stem: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """(facet, value, n_docs) — facet counts over the documents matching
    ANY query term (the search-results sidebar: "lang: en (37) · de (4)"),
    one row per (facet column, distinct value). Output ordered
    (facet asc, value asc) for determinism. NULL facet values count under
    value NULL, like SQL GROUP BY.

    Scale shape: candidates come from ONE pruned index scan (term filter
    pushed to the parquet scan + bucket partition pruning) reduced to a
    distinct doc_id relation — cost proportional to the query terms'
    posting lists, never the corpus; merge-on-read deletes are masked in
    the decode kernel. The metadata join is doc_id-keyed, and each facet
    is a hash aggregate over the candidate rows; the per-facet frames
    union AFTER aggregation, so the union carries |distinct values| rows,
    not candidates."""
    spark = index.postings.sparkSession
    if facet_cols is None:
        facet_cols = ["lang", "source"]
    out_schema = "facet string, value string, n_docs long"
    terms = sorted(set(query_terms(query, mode=mode, stem=stem)))
    if not terms:
        return spark.createDataFrame([], out_schema)
    cand = (
        _decode_matching(index.matching(terms), index.deletes)
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    matched = meta.join(cand, id_col)
    parts = [
        matched.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count("*").alias("n_docs")
        ).select(F.lit(c).alias("facet"), "value", "n_docs")
        for c in facet_cols
    ]
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    return allf.orderBy(F.asc("facet"), F.asc_nulls_first("value"))


def _topk_from_arrays(
    d_parts: list[np.ndarray], s_parts: list[np.ndarray], k: int
) -> pd.DataFrame:
    """Exact top-k (score desc, doc_id asc) from per-term (docs, scores)
    arrays: one unique + bincount accumulation, boundary ties kept."""
    if not d_parts or k < 1:
        return pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            }
        )
    all_docs = np.concatenate(d_parts)
    all_scores = np.concatenate(s_parts)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    sums = np.bincount(inv, weights=all_scores)
    if k < len(uniq):
        kth = np.partition(sums, len(sums) - k)[len(sums) - k]
        cand = np.flatnonzero(sums >= kth)  # keep ALL boundary ties
    else:
        cand = np.arange(len(uniq))
    order = cand[np.lexsort((uniq[cand], -sums[cand]))][:k]
    return pd.DataFrame(
        {
            "doc_id": pd.Series(uniq[order], dtype="int64"),
            "score": pd.Series(sums[order], dtype="float64"),
        }
    )


_FETCH_COLS = [
    "term", "df", "postings",
    "block_last_doc", "block_max_tf", "block_min_dl",
]


def _fetch_posting_rows(index: IndexTables, terms: list[str]) -> list:
    """Posting rows for the given query terms.

    Disk-backed indexes (read_index) are read DIRECTLY with pyarrow: the
    Python XXH64 twin (functions/xxh.py) computes the same term buckets the
    build wrote, pyarrow prunes to those ``tb=`` directories and pushes the
    term predicate into the parquet scan — a point lookup with NO Spark
    job on the query path. This is the faithful analog of the reference's
    serve-time KVS ``get`` (ref: src/cis5550/jobs/RankScore.java:112,152
    does per-word KVS point reads, not a scan job); scheduling a
    distributed job per interactive query would pay ~100-200ms of fixed
    overhead to read a few KB. In-memory (just-built) indexes fall back to
    the pruned Spark collect. The pyarrow dataset handle is memoized on
    the index so repeated queries skip file discovery."""
    if index.disk_path:
        import pyarrow.dataset as ds

        from google_spark.functions.xxh import term_bucket

        dset = getattr(index, "_pa_dataset", None)
        if dset is None:
            paths = (
                index.disk_path
                if isinstance(index.disk_path, list)
                else [index.disk_path]
            )
            children = [
                ds.dataset(
                    f"{p}/postings.parquet", format="parquet", partitioning="hive"
                )
                for p in paths
            ]
            # multi-segment snapshots (catalog append) serve from a
            # UnionDataset: the tb/term filters push into every child
            dset = children[0] if len(children) == 1 else ds.dataset(children)
            index._pa_dataset = dset
        expr = ds.field("term").isin(terms)
        if index.n_buckets:
            tbs = sorted({term_bucket(t, index.n_buckets) for t in terms})
            expr = ds.field("tb").isin(tbs) & expr
        return dset.to_table(filter=expr, columns=_FETCH_COLS).to_pylist()
    return index.matching(terms).select(*_FETCH_COLS).collect()


def _decode_posting_row(row, deletes=None) -> dict:
    """Decode one posting row into reusable NumPy arrays. The serving row
    cache stores THESE (not raw rows), so a hot term's blob is decoded once
    per process, not once per query.

    ``deletes`` (sorted int64 array from the snapshot catalog's merge-on-
    read delete files) masks deleted docs out of the scoring arrays here —
    one central hook covers the driver serving path, the distributed WAND
    kernel, and the row cache. ``df`` and the block metadata stay at their
    stored (pre-delete) values: df keeps idf consistent across every query
    path until compaction, and block maxima remain valid UPPER bounds when
    docs are removed, so WAND pruning stays exact."""
    docs, tfs, dls = decode_live(bytes(row["postings"]), deletes)
    return {
        "term": row["term"],
        "df": int(row["df"]),
        "docs": docs,
        "tf": tfs.astype(np.float64),
        "dl": dls.astype(np.float64),
        "bl": np.asarray(row["block_last_doc"], dtype=np.int64),
        "bmax": np.asarray(row["block_max_tf"], dtype=np.float64),
        "bmin": np.asarray(row["block_min_dl"], dtype=np.float64),
    }


def _wand_shard_kernel(
    pdf: pd.DataFrame,
    weights: dict[str, float],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    deletes=None,
) -> pd.DataFrame:
    """Exact top-k within one shard (see :func:`_kernel_decoded`)."""
    return _kernel_decoded(
        [_decode_posting_row(row, deletes) for _, row in pdf.iterrows()],
        weights,
        idf,
        avgdl,
        k,
    )


def _kernel_decoded(
    entries: list[dict],
    weights: dict[str, float],
    idf: dict[str, float],
    avgdl: float,
    k: int,
) -> pd.DataFrame:
    """Exact top-k over decoded posting entries.

    Small candidate sets (<= WAND_FASTPATH_MAX postings) score everything
    with one vectorized accumulation. Above that, block-max segment pruning
    (the WAND bound at block granularity, fully NumPy — no per-document
    Python loop):

    1. seed a threshold θ: the k-th best EXACT total score over the union
       of each term's top-k postings (θ is a lower bound on the true k-th
       score, so pruning against it is safe);
    2. sweep the union of the per-term block boundaries: within one segment
       every term stays inside one block, so the segment's upper bound is
       the sum of per-term block UBs ub_{t,j} = w·idf·(k1+1)·max_tf_j /
       (max_tf_j + k1·(1-b+b·min_dl_j/avgdl)) (score is monotone in tf,
       antitone in dl). Segments with UB < θ cannot contain a top-k doc;
    3. fully score only postings in surviving segments.

    Exactness: any true top-k doc d has UB(d) >= score(d) >= kth >= θ, so
    its segment survives (>= comparison keeps boundary ties); summation
    order per doc matches the fast path, so scores are bit-identical."""
    # (docs, score_arr, per-block UBs, block last_doc boundaries)
    cols: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []
    for e in entries:
        w = weights[e["term"]] * idf[e["term"]]
        scores = bm25.term_scores(w, e["tf"], e["dl"], avgdl)
        ub_blocks = bm25.term_scores(w, e["bmax"], e["bmin"], avgdl)
        cols.append((e["docs"], scores, ub_blocks, e["bl"]))
    cols = [c for c in cols if len(c[0])]
    if not cols:
        return _topk_from_arrays([], [], k)

    # Fast path: below this many postings, scoring everything beats any
    # pruning bookkeeping. The block-max path takes over for long lists.
    total = sum(len(c[0]) for c in cols)
    if total <= WAND_FASTPATH_MAX:
        return _topk_from_arrays([c[0] for c in cols], [c[1] for c in cols], k)

    # 1) seed threshold from each term's top-k postings, exact-scored
    seed = np.unique(
        np.concatenate(
            [
                c[0][np.argpartition(c[1], len(c[1]) - min(k, len(c[1])))[
                    len(c[1]) - min(k, len(c[1])):
                ]]
                for c in cols
            ]
        )
    )
    seed_tot = np.zeros(len(seed))
    for docs, scores, _ub, _bl in cols:
        idx = np.minimum(np.searchsorted(docs, seed), len(docs) - 1)
        seed_tot += np.where(docs[idx] == seed, scores[idx], 0.0)
    theta = (
        np.partition(seed_tot, len(seed_tot) - k)[len(seed_tot) - k]
        if len(seed_tot) >= k
        else -np.inf
    )

    # 2) segment sweep: union of block boundaries; per-segment UB sum
    bounds = np.unique(np.concatenate([bl for *_, bl in cols]))
    ub_tot = np.zeros(len(bounds))
    for _docs, _scores, ub_blocks, bl in cols:
        j = np.searchsorted(bl, bounds, side="left")
        ub_tot += np.where(
            j < len(bl), ub_blocks[np.minimum(j, len(bl) - 1)], 0.0
        )
    alive = ub_tot >= theta

    # 3) score only surviving segments
    d_parts, s_parts = [], []
    for docs, scores, _ub, _bl in cols:
        m = alive[np.searchsorted(bounds, docs, side="left")]
        d_parts.append(docs[m])
        s_parts.append(scores[m])
    return _topk_from_arrays(d_parts, s_parts, k)


def wand_topk(
    index: IndexTables, query: str, k: int = 10, mode: str = "simple", stem: bool = False
) -> DataFrame:
    """DataFrame[doc_id, score] — top-k via per-shard block-max WAND."""
    spark = index.postings.sparkSession
    terms = query_terms(query, mode=mode, stem=stem)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    qf = Counter(terms)
    weights = {t: float(c) for t, c in qf.items()}
    idf = index.idf_map(list(qf))
    avgdl = index.avgdl
    # merge-on-read deletes ride into the kernel closure. Delete files are
    # bounded by the compaction cadence (compact when |deletes| grows past
    # ~1% of the corpus); on a real cluster wrap in sc.broadcast for reuse
    # across the shard tasks instead of per-task pickling.
    deletes = index.deletes

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _wand_shard_kernel(pdf, weights, idf, avgdl, k, deletes)

    matching = index.matching(list(qf))
    per_shard = matching.groupBy("shard").applyInPandas(
        kernel, schema="doc_id long, score double"
    )
    return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def batch_topk(
    index: IndexTables,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_col: str = "query",
    mode: str = "simple",
    stem: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """DataFrame[query_id, doc_id, score] — top-k for EVERY query in a
    query table, in one distributed plan.

    The reference engine answers one query per HTTP request (ref:
    src/cis5550/jobs/SearchApi.java:248-320); the Spark-native superpower
    is throughput: score a million-query eval batch against the index with
    two shuffles instead of a million driver round-trips. This is the
    offline-retrieval / relevance-eval path (query-log replay, judgment
    scoring, distillation-corpus mining).

    Plan shape (and why it scales):

    1. tokenize queries with the SAME kernel as documents -> per-query term
       multiplicity weights (query_id, term, w);
    2. left-semi join postings against the distinct query vocabulary
       (broadcast by default — a 1M-query batch has a vocabulary far
       smaller than the index), so only matching posting rows are ever
       DECODED;
    3. decode matched rows once (mapInPandas, merge-on-read deletes
       masked), join decoded (term, doc_id, tf, dl) with the per-query
       weighted terms — the join key is ``term``, the broadcast side is
       query-sized, the big side streams;
    4. BM25 per (query, doc) with JVM-side expressions, partial-agg'd
       map-side by groupBy(query_id, doc_id);
    5. per-query exact top-k via a rank window partitioned by query_id
       (ties: score desc, doc_id asc — the engine-wide contract).

    ``broadcast_queries=False`` drops the broadcast hints for batches too
    large to broadcast (> ~10M query-term rows): both joins become
    shuffle joins on ``term`` and AQE re-plans from runtime sizes.

    Queries that tokenize to nothing (or match no indexed term) simply
    produce no output rows — same contract as ``wand_topk`` returning an
    empty frame."""
    # query ids keep their source type (eval-set logs often use string ids
    # like 'q_0017'); integral types all ride as long, strings as object
    qid_spark_type = queries.schema[query_id_col].dataType.simpleString()
    if qid_spark_type in ("tinyint", "smallint", "int", "bigint"):
        qid_out_type, qid_pd_dtype = "long", "int64"
    elif qid_spark_type == "string":
        qid_out_type, qid_pd_dtype = "string", "object"
    else:
        raise TypeError(
            f"unsupported {query_id_col} type {qid_spark_type!r}: "
            "use an integral or string query id"
        )

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            q_out, t_out, w_out = [], [], []
            for qid, text in zip(pdf[query_id_col].values, pdf[query_col].values):
                for term, cnt in Counter(
                    query_terms(text or "", mode=mode, stem=stem)
                ).items():
                    q_out.append(qid)
                    t_out.append(term)
                    w_out.append(float(cnt))
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(q_out, dtype=qid_pd_dtype),
                    "term": pd.Series(t_out, dtype="object"),
                    "w": pd.Series(w_out, dtype="float64"),
                }
            )

    qt = queries.select(query_id_col, query_col).mapInPandas(
        tok, schema=f"query_id {qid_out_type}, term string, w double"
    )
    hint = F.broadcast if broadcast_queries else (lambda df: df)

    matched = index.postings.join(
        hint(qt.select("term").distinct()), "term", "left_semi"
    )
    # global df per matched term (sum over shards of the stored column) ->
    # idf; a metadata-sized aggregate, no posting blobs touched
    idf = matched.groupBy("term").agg(
        bm25.idf_col(index.n_docs, F.sum("df")).alias("idf")
    )
    qtw = qt.join(idf, "term").withColumn("weight", F.col("w") * F.col("idf"))
    decoded = _decode_matching(matched, index.deletes)
    term_score = bm25.term_score_col(
        F.col("weight"), F.col("tf"), F.col("dl"), index.avgdl
    )
    scored = (
        decoded.join(hint(qtw.select("term", "query_id", "weight")), "term")
        .select("query_id", "doc_id", term_score.alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
    )


def positions_for(
    index: IndexTables, terms: list[str], doc_ids: set[int]
) -> dict[str, dict[int, list[int]]]:
    """term -> {doc_id -> positions} for a small candidate set (the
    proximity re-rank path). The candidate filter runs EXECUTOR-side inside
    the decode kernel (the candidate set rides in as a closure — it is <=
    one result page), so the driver receives only |candidates| x |terms|
    position lists — never a hot term's full posting row, which at web
    scale is the difference between KBs and GBs per query.

    On a disk-backed index the rows come through the same pyarrow point
    read the scoring path uses and are decoded in the driver — no Spark
    job. That is safe under the same assumption wand_topk_local already
    makes (the query terms' posting rows fit one machine); a serving
    deployment that can't assume it should use the distributed
    wand_topk/positions path."""
    from google_spark.functions.codec import decode_postings_full_np

    out: dict[str, dict[int, list[int]]] = {t: {} for t in terms}
    if not terms or not doc_ids:
        return out
    cand = np.array(sorted(doc_ids), dtype=np.int64)
    if index.deletes is not None and len(index.deletes):
        # candidates normally come from a (already delete-masked) top-k,
        # but a caller-supplied id set must not resurrect deleted docs
        cand = cand[not_deleted_mask(cand, index.deletes)]
        if not len(cand):
            return out

    if index.disk_path:
        for r in _fetch_posting_rows(index, terms):
            docs, _tfs, _dls, pos = decode_postings_full_np(bytes(r["postings"]))
            idx = np.minimum(np.searchsorted(cand, docs), len(cand) - 1)
            for i in np.flatnonzero(cand[idx] == docs):
                out[r["term"]][int(docs[i])] = pos[i].tolist()
        return out

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out, d_out, p_out = [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                docs, _tfs, _dls, pos = decode_postings_full_np(bytes(blob))
                idx = np.minimum(np.searchsorted(cand, docs), len(cand) - 1)
                hit = np.flatnonzero(cand[idx] == docs)
                for i in hit:
                    t_out.append(term)
                    d_out.append(int(docs[i]))
                    p_out.append(pos[i].tolist())
            yield pd.DataFrame(
                {
                    "term": pd.Series(t_out, dtype="object"),
                    "doc_id": pd.Series(d_out, dtype="int64"),
                    "positions": pd.Series(p_out, dtype="object"),
                }
            )

    rows = (
        index.matching(terms)
        .select("term", "postings")
        .mapInPandas(gen, schema="term string, doc_id long, positions array<int>")
        .collect()
    )
    for r in rows:
        out[r["term"]][r["doc_id"]] = list(r["positions"])
    return out


def wand_topk_local(
    index: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "simple",
    stem: bool = False,
    row_cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Low-latency serving path: collect ONLY the query terms' compressed
    posting rows (partition-pruned, predicate-pushed scan — a few KB per
    term) and run the WAND kernel in the driver. This is the Spark analog
    of the reference's serve-time KVS point lookups (ref:
    src/cis5550/jobs/RankScore.java:112,152) without per-word RPCs: one
    pruned scan, then pure NumPy. Returns [(doc_id, score)] sorted
    (score desc, doc_id asc).

    Use for interactive queries; use :func:`wand_topk` when k or the
    candidate set is too large for one machine."""

    terms = query_terms(query, mode=mode, stem=stem)
    if not terms:
        return []
    weights = {t: float(c) for t, c in Counter(terms).items()}
    return local_topk_core(index, weights, k, row_cache=row_cache)


def _entries_for(
    index: IndexTables, terms: list[str], row_cache: dict | None = None
) -> list[dict]:
    """Decoded posting entries for the given terms via the serving point-
    read path, optionally through the hot-term RAM cache (the analog of the
    reference's serve-time preloads, ref:
    src/cis5550/jobs/SearchApi.java:135-145): fetch only terms not yet
    cached, in one pruned scan, and cache the DECODED arrays — a hot term's
    blob is decoded once per process, not once per query. Absent terms
    cache an empty list so they never re-scan."""
    if row_cache is None:
        return [
            _decode_posting_row(r, index.deletes)
            for r in _fetch_posting_rows(index, terms)
        ]
    missing = [t for t in terms if t not in row_cache]
    if missing:
        fetched = _fetch_posting_rows(index, missing)
        by_term: dict[str, list] = {t: [] for t in missing}
        for r in fetched:
            by_term[r["term"]].append(_decode_posting_row(r, index.deletes))
        # single __setitem__ per term — lets byte-accounting cache dicts
        # observe every insertion without rescanning entries per query
        for t, es in by_term.items():
            row_cache[t] = es
    return [e for t in terms for e in row_cache.get(t, [])]


def docs_containing(
    index: IndexTables, terms: list[str], row_cache: dict | None = None
) -> np.ndarray:
    """Sorted unique doc_ids containing ANY of ``terms`` (the ``-term``
    exclusion set in the query language). Same point-read/cache path and
    the same one-machine assumption as the rest of the serving tier: the
    excluded terms' posting rows fit the driver."""
    if not terms:
        return np.empty(0, dtype=np.int64)
    entries = _entries_for(index, terms, row_cache)
    if not entries:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate([e["docs"] for e in entries]))


def idf_from_entries(entries: list[dict], n_docs: int) -> dict[str, float]:
    """term -> BM25 idf for decoded posting entries (:func:`_entries_for`).
    Global df is recovered by summing the per-shard df of the rows fetched
    — no separate terms-table lookup job."""
    df_total: dict[str, int] = {}
    for e in entries:
        df_total[e["term"]] = df_total.get(e["term"], 0) + e["df"]
    return {t: bm25.idf(n_docs, d) for t, d in df_total.items()}


def local_topk_core(
    index: IndexTables,
    weights: dict[str, float],
    k: int,
    row_cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Shared serving core for any per-term weight map (plain queries use
    query multiplicity; synonym expansion uses decayed weights): fetch the
    pruned posting rows, reconstruct idf from their per-shard df, run the
    shard kernel. ONE Spark action per call (zero when fully cached)."""
    terms = [t for t, w in weights.items() if w > 0]
    if not terms:
        return []
    entries = _entries_for(index, terms, row_cache)
    if not entries:
        return []
    idf = idf_from_entries(entries, index.n_docs)
    out = _kernel_decoded(entries, weights, idf, index.avgdl, k)
    return list(zip(out["doc_id"].tolist(), out["score"].tolist()))


def more_like_this(
    index: IndexTables,
    docs: DataFrame,
    doc_id: int,
    k: int = 10,
    n_query_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
) -> DataFrame:
    """DataFrame[doc_id, score] — the k documents most similar to
    ``doc_id`` (the "related pages" feature): the source document's
    ``n_query_terms`` most salient terms (tf * idf, ties by term) become
    a BM25 query against the index, the source itself excluded.

    ``mode``/``stem`` MUST match how the index was built (as with every
    query entry point) — on a stem-built index an unstemmed tokenization
    would miss the whole vocabulary, degrade the salience ranking to an
    arbitrary pick, and return empty results.

    Driver work is bounded by ONE document: a point lookup of its text
    (partition-pruned under the disk/docstore layout), its own term
    counts, and an idf fetch for its distinct terms (the same
    vocabulary-sized pruned scan every query makes). Scoring then runs
    the ordinary distributed WAND path — no corpus scan, no O(corpus)
    state."""
    from collections import Counter as _Counter

    from google_spark.functions.tokenizer import tokenize

    spark = index.postings.sparkSession
    row = docs.filter(F.col(id_col) == doc_id).select(text_col).take(1)
    if not row or row[0][0] is None:
        return spark.createDataFrame([], f"{id_col} long, score double")
    tf = _Counter(t for t, _ in tokenize(row[0][0], mode=mode, stem=stem))
    idf = index.idf_map(list(tf))
    salient = sorted(
        tf,
        key=lambda t: (-tf[t] * idf.get(t, 0.0), t),
    )[:n_query_terms]
    if not salient:
        return spark.createDataFrame([], f"{id_col} long, score double")
    # salient terms are already in index vocabulary form; stem=False here
    # would double-stem nothing (terms are post-stem), so pass them raw
    hits = wand_topk(index, " ".join(salient), k=k + 1, mode=mode)
    # wand_topk's output column is always doc_id; rename so both return
    # paths of this function use the caller's id_col
    return (
        hits.filter(F.col("doc_id") != doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumnRenamed("doc_id", id_col)
    )


def round6_half_up(x: float) -> float:
    """HALF-UP decimal rounding at 6 dp, exactly what Spark's F.round does
    (BigDecimal.valueOf(double).setScale(6, HALF_UP); repr() is the
    shortest-round-trip string, Double.toString's analog) — Python's
    built-in round() is banker's and would diverge from F.round/DuckDB on
    5e-7 midpoints. Shared by the distributed PRF operator and the
    serving facade so their mined weights cannot drift."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def prf_topk(
    index: IndexTables,
    docs: DataFrame,
    query: str,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
) -> DataFrame:
    """DataFrame[doc_id, score] — RM3-style pseudo-relevance feedback
    (Abdul-Jaleel et al., TREC 2004 — public): retrieve top ``fb_docs``
    for the seed query, mine ``fb_terms`` expansion terms from them
    weighted by relevance mass ``w(t) = Σ_d score(d) · tf(t,d)/dl(d)``,
    then re-query with the seed terms at their multiplicity weights plus
    the expansion terms at ``alpha · w(t)/max w`` (the original query is
    kept at unit weight; ``alpha`` is the feedback interpolation knob).

    The reference engine stops at synonym expansion from a static
    embedding table (ref: src/cis5550/jobs/SearchApi.java:147-169); PRF is
    the retrieval-driven counterpart — expansion comes from the corpus
    itself, so it adapts to the indexed vocabulary with no side model.

    Determinism across engines: first-pass scores and the mined weights
    are rounded to 6 dp BEFORE use (sum order differs between engines at
    the ulp level; the 1e-6 grid absorbs it — same trick as the keyword
    ranking), expansion ties break (weight desc, term asc), and seed
    terms are excluded from expansion.

    Scale shape: pass 1 is the ordinary pruned weighted scoring path; the
    feedback mining touches ONLY the ``fb_docs`` documents via an
    ``isin`` point filter (partition-prunable under a docstore layout)
    and one tokenize pass over those few rows; the driver collects just
    ``fb_docs`` (doc_id, score) rows and ``fb_terms`` (term, weight)
    rows — both O(constants), never O(corpus). Pass 2 is again the
    pruned scoring path with a slightly wider term set.
    """
    from google_spark.operators.index_build import tokenize_docs

    spark = index.postings.sparkSession
    seed = dict(Counter(query_terms(query, mode=mode, stem=stem)))
    if not seed:
        return spark.createDataFrame([], "doc_id long, score double")
    fb = weighted_topk(index, seed, k=fb_docs).collect()
    if not fb:
        return spark.createDataFrame([], "doc_id long, score double")
    _round6 = round6_half_up
    fb_scores = spark.createDataFrame(
        [(int(r["doc_id"]), _round6(float(r["score"]))) for r in fb],
        "doc_id long, fb_score double",
    )
    fb_ids = [int(r["doc_id"]) for r in fb]
    fbtf = tokenize_docs(
        docs.filter(F.col(id_col).isin(fb_ids)),
        id_col=id_col,
        text_col=text_col,
        mode=mode,
        stem=stem,
    ).withColumnRenamed(id_col, "doc_id")
    mined = (
        fbtf.join(F.broadcast(fb_scores), "doc_id")
        .filter(~F.col("term").isin(list(seed)))
        .groupBy("term")
        .agg(
            F.round(
                F.sum(F.col("fb_score") * F.col("tf") / F.col("dl")), 6
            ).alias("w")
        )
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(fb_terms)
        .collect()
    )
    weights = {t: float(w) for t, w in seed.items()}
    # max_w == 0.0 (every mined weight rounded to zero) degrades to the
    # seed-only query instead of dividing by zero; the oracle applies the
    # same w > 0 guard. weighted_topk drops zero weights either way, so
    # sub-grid expansion terms contribute nothing in both engines.
    if mined and float(mined[0]["w"]) > 0.0:
        max_w = float(mined[0]["w"])
        for r in mined:
            weights[r["term"]] = _round6(alpha * float(r["w"]) / max_w)
    return weighted_topk(index, weights, k=k)
