"""Fielded postings: per-field inverted indexes + index-served BM25F.

``ranking.bm25f_topk`` is the batch/offline BM25F scorer — two full corpus
scans per query. That is the wrong cost model for interactive field-weighted
search at 10^12 files, so this module builds PER-FIELD posting lists with
the same codec, sharding, and bucket layout as the main index
(operators/index_build.py) and answers BM25F queries on the PRUNED index
path: per query term, decode that term's postings from each field's index
(tb-bucket partition pruning applies per field exactly as for plain BM25),
combine the per-field weighted tf contributions BEFORE the k1 saturation
(Robertson/Zaragoza BM25F — the principled generalization of the
reference's flat additive title boost, ref:
src/cis5550/jobs/RankScore.java:51-60), and top-k.

Plan shape of :func:`bm25f_index_topk`:

    per field: pruned postings scan -> mapInPandas decode
        -> (term, doc_id, weighted per-field tf component)   [no shuffle]
    union -> groupBy(doc_id, term) sum -> tfw                [1 exchange,
                                       rows bounded by candidate postings]
    -> per-term (qf * idf) literal map -> groupBy(doc_id) sum
    -> TakeOrderedAndProject

Cost is proportional to the query terms' posting lists — the same scale
contract as wand/exhaustive — instead of the corpus. Parity with the scan
path is pytest-pinned (test_ranking) and oracle-checked (bm25f_index_topk
gate row reuses the bm25f_topk DuckDB oracle verbatim).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from google_spark.operators.index_build import (
    IndexTables,
    build_index,
    read_index,
    write_index,
)

def _merge_extra_weights(wb: dict, weights: dict | None) -> None:
    """Fold EXTRA-field weights into the built-in map. title/body have
    dedicated keyword arguments on every query entry point; accepting
    them here too would let two call sites disagree silently."""
    for name, pair in (weights or {}).items():
        if name in ("title", "body"):
            raise ValueError(
                f"pass {name!r} weights via w_{name}/b_{name}, not weights="
            )
        wb[name] = pair


BM25F_W_TITLE = 2.0
BM25F_W_BODY = 1.0
BM25F_K1 = 1.2
BM25F_B = 0.75


@dataclass
class FieldedIndex:
    """Per-field IndexTables over one document universe. ``n_docs`` is the
    shared corpus size (every field index was finalized against it, so a
    doc with an empty field still counts toward that field's avgdl
    denominator — matching ranking.bm25f_topk's corpus-wide averages)."""

    fields: dict[str, IndexTables]
    n_docs: int


def build_fielded_index(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    stem: bool = False,
    n_shards: int = 8,
    extra_fields: dict[str, DataFrame] | None = None,
) -> FieldedIndex:
    """Build (title, body) field indexes in two build passes. The title is
    the docstore first-non-empty-line heuristic (D1); the body is the full
    text (the title line is part of the document, exactly as in
    ranking.bm25f_topk). The title pass tokenizes ~one line per doc, so
    its cost is a small fraction of the body pass. Pass the SAME
    ``mode``/``stem`` to the query functions (bm25f_index_topk /
    bm25f_local_topk) — a code-mode index queried with simple-mode
    tokenization silently misses the vocabulary.

    ``extra_fields`` maps a field name to a DataFrame of
    ``(id_col, <text>)`` — the second column is the field text, whatever
    its name (e.g. ``anchor_texts(...)`` joined onto doc ids). Each extra
    field is indexed against the SHARED corpus size (docs absent from the
    field DataFrame simply have an empty field), so its avgdl denominator
    matches the scan-path convention, and is scored by
    :func:`bm25f_index_topk` with weight (1.0, 0.75) unless overridden
    via its ``weights`` argument."""
    from google_spark.operators.docstore import title_col

    total = docs.count()
    body = build_index(
        spark, docs, id_col=id_col, text_col=text_col, mode=mode, stem=stem,
        n_shards=n_shards, total_docs=total,
    )
    title_docs = docs.select(
        F.col(id_col), title_col(text_col).alias("_title_text")
    )
    title = build_index(
        spark, title_docs, id_col=id_col, text_col="_title_text", mode=mode,
        stem=stem, n_shards=n_shards, total_docs=total,
    )
    fields = {"title": title, "body": body}
    for name, fdocs in (extra_fields or {}).items():
        if name in fields:
            raise ValueError(f"extra field {name!r} shadows a built-in field")
        fcol = [c for c in fdocs.columns if c != id_col]
        if len(fcol) != 1:
            raise ValueError(
                f"extra field {name!r} needs exactly ({id_col}, text) "
                f"columns, got {fdocs.columns}"
            )
        fields[name] = build_index(
            spark, fdocs, id_col=id_col, text_col=fcol[0], mode=mode,
            stem=stem, n_shards=n_shards, total_docs=total,
        )
    return FieldedIndex(fields=fields, n_docs=total)


def write_fielded_index(findex: FieldedIndex, out_dir: str) -> None:
    """Persist every field under ``{out_dir}/field={name}`` with the same
    bucket-partitioned layout as write_index, so per-field point reads and
    tb pruning work unchanged."""
    for name, idx in findex.fields.items():
        write_index(idx, f"{out_dir}/field={name}")


def read_fielded_index(spark: SparkSession, out_dir: str) -> FieldedIndex:
    import os

    fields = {}
    for entry in sorted(os.scandir(out_dir), key=lambda e: e.name):
        if entry.is_dir() and entry.name.startswith("field="):
            fields[entry.name.split("=", 1)[1]] = read_index(spark, entry.path)
    if not fields:
        raise FileNotFoundError(f"no field=* index dirs under {out_dir}")
    n_docs = next(iter(fields.values())).n_docs
    return FieldedIndex(fields=fields, n_docs=n_docs)


def apply_deletes(findex: FieldedIndex, doc_ids) -> FieldedIndex:
    """Functional merge-on-read tombstone attach: returns a FieldedIndex
    whose every field carries the sorted union of its existing deletes and
    ``doc_ids`` (idempotent). The per-field decode kernels
    (:func:`_field_component_rows`, index_query._entries_for) already mask
    IndexTables.deletes, so a doc deleted AFTER the fielded index was
    built vanishes from bm25f_index_topk / bm25f_local_topk immediately;
    per-field df/idf/avgdl stay pre-delete until a rebuild, exactly like
    the word index."""
    import dataclasses

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    fields = {}
    for name, idx in findex.fields.items():
        cur = idx.deletes
        merged = (
            np.union1d(np.asarray(cur, dtype=np.int64), ids)
            if cur is not None and len(cur)
            else ids
        )
        fields[name] = dataclasses.replace(
            idx, deletes=merged if len(merged) else None
        )
    return FieldedIndex(fields=fields, n_docs=findex.n_docs)


def delete_from_fielded_index(out_dir: str, doc_ids) -> int:
    """Merge-on-read delete against a PUBLISHED fielded bundle: tombstone
    ``doc_ids`` in every ``field=*`` sub-index (O(|ids|) pyarrow metadata
    writes, no Spark job); subsequent :func:`read_fielded_index` calls
    restore them per field and the decode kernels mask. Returns the
    newly-tombstoned count of the first field (all fields share one doc
    universe, so the counts agree)."""
    import os

    from google_spark.operators.index_build import delete_from_index

    counts = []
    for entry in sorted(os.scandir(out_dir), key=lambda e: e.name):
        if entry.is_dir() and entry.name.startswith("field="):
            counts.append(delete_from_index(entry.path, doc_ids))
    if not counts:
        raise FileNotFoundError(f"no field=* index dirs under {out_dir}")
    return counts[0]


def _field_component_rows(
    idx: IndexTables, terms: list[str], w_f: float, b_f: float
) -> DataFrame:
    """(term, doc_id, comp) rows for one field: comp is the field's
    weighted, length-normalized tf contribution
    ``w_f * tf / ((1-b_f) + b_f * dl / avgdl_f)`` — decoded straight off
    the pruned postings scan, no shuffle (float op order mirrors
    ranking.bm25f_topk / the DuckDB oracle exactly)."""
    from google_spark.functions.codec import decode_live

    avgdl = idx.avgdl
    deletes = idx.deletes
    matching = idx.matching(terms).select("term", "postings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_out, d_out, c_out = [], [], []
            for term, blob in zip(pdf["term"].values, pdf["postings"].values):
                docs, tfs, dls = decode_live(bytes(blob), deletes)
                if not len(docs):
                    continue
                comp = (
                    w_f
                    * tfs.astype(np.float64)
                    / ((1.0 - b_f) + b_f * dls.astype(np.float64) / avgdl)
                )
                t_out.append(np.full(len(docs), term, dtype=object))
                d_out.append(docs)
                c_out.append(comp)
            if d_out:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(t_out),
                        "doc_id": pd.Series(
                            np.concatenate(d_out), dtype="int64"
                        ),
                        "comp": pd.Series(
                            np.concatenate(c_out), dtype="float64"
                        ),
                    }
                )

    return matching.mapInPandas(gen, schema="term string, doc_id long, comp double")


def bm25f_local_topk(
    findex: FieldedIndex,
    query: str,
    k: int = 10,
    w_title: float = BM25F_W_TITLE,
    w_body: float = BM25F_W_BODY,
    k1: float = BM25F_K1,
    b_title: float = BM25F_B,
    b_body: float = BM25F_B,
    mode: str = "simple",
    stem: bool = False,
    row_caches: dict[str, dict] | None = None,
    weights: dict[str, tuple[float, float]] | None = None,
) -> list[tuple[int, float]]:
    """Interactive BM25F serving path: fetch ONLY the query terms' posting
    rows from each field's index through the point-read tier
    (bucket-pruned pyarrow reads on a published fielded bundle — zero
    Spark jobs; pruned collect on an in-memory index), then score in pure
    NumPy in the driver — the fielded twin of wand_topk_local. Returns
    [(doc_id, score)] with scores rounded to 4 decimals, rank- and
    score-identical to bm25f_topk / bm25f_index_topk. ``row_caches`` maps
    field name -> a decoded-row cache dict (e.g. search.PostingsCache) for
    hot-term reuse across queries. ``weights`` maps EXTRA-field names to
    (w_f, b_f) — title/body only through their dedicated kwargs."""
    from collections import Counter

    from google_spark.functions import bm25
    from google_spark.operators.index_query import _entries_for
    from google_spark.operators.ranking import normalize_query

    # mode/stem must match build_fielded_index's — same contract as every
    # other query entry point (wand_topk, exhaustive_topk, boolean_topk)
    terms = normalize_query(query, mode=mode, stem=stem)
    if not terms:
        return []
    qf = Counter(terms)
    uniq = sorted(qf)
    wb = {"title": (w_title, b_title), "body": (w_body, b_body)}
    _merge_extra_weights(wb, weights)

    # per term: (docs, comp) arrays from every field, same float op order
    # as the distributed kernels
    per_term: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {
        t: [] for t in uniq
    }
    for name, idx in findex.fields.items():
        if idx.avgdl <= 0:
            continue
        w_f, b_f = wb.get(name, (1.0, 0.75))
        cache = row_caches.get(name) if row_caches is not None else None
        if row_caches is not None and cache is None:
            cache = row_caches.setdefault(name, {})
        for e in _entries_for(idx, uniq, cache):
            comp = w_f * e["tf"] / ((1.0 - b_f) + b_f * e["dl"] / idx.avgdl)
            per_term[e["term"]].append((e["docs"], comp))

    n = findex.n_docs
    d_parts: list[np.ndarray] = []
    s_parts: list[np.ndarray] = []
    for t in uniq:  # sorted order keeps float accumulation deterministic
        parts = per_term[t]
        if not parts:
            continue
        docs = np.concatenate([d for d, _ in parts])
        comps = np.concatenate([c for _, c in parts])
        u, inv = np.unique(docs, return_inverse=True)
        tfw = np.bincount(inv, weights=comps)  # field combination pre-k1
        df = len(u)
        widf = float(qf[t]) * bm25.idf(n, df)
        d_parts.append(u)
        s_parts.append(widf * tfw / (k1 + tfw))
    if not d_parts:
        return []
    all_docs = np.concatenate(d_parts)
    all_scores = np.concatenate(s_parts)
    u, inv = np.unique(all_docs, return_inverse=True)
    sums = np.round(np.bincount(inv, weights=all_scores), 4)
    keep = sums > 0
    u, sums = u[keep], sums[keep]
    order = np.lexsort((u, -sums))[:k]
    return [(int(u[i]), float(sums[i])) for i in order]


def bm25f_index_topk(
    findex: FieldedIndex,
    query: str,
    k: int = 10,
    w_title: float = BM25F_W_TITLE,
    w_body: float = BM25F_W_BODY,
    k1: float = BM25F_K1,
    b_title: float = BM25F_B,
    b_body: float = BM25F_B,
    mode: str = "simple",
    stem: bool = False,
    weights: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """DataFrame[doc_id, score] — BM25F top-k from the FIELDED INDEX,
    rank- and score-identical to ranking.bm25f_topk over the same corpus
    (same field weights, same float op order; per-term idf uses the exact
    document frequency of "term appears in ANY field", computed from the
    decoded candidate relation). ``weights`` maps extra-field names to
    their ``(w_f, b_f)`` pair (anchors, etc.); unlisted extra fields
    default to ``(1.0, 0.75)``, and title/body keep their dedicated
    keyword arguments."""
    from collections import Counter

    from google_spark.functions import bm25
    from google_spark.operators.ranking import normalize_query

    some_idx = next(iter(findex.fields.values()))
    spark = some_idx.postings.sparkSession
    # mode/stem must match build_fielded_index's (see bm25f_local_topk)
    terms = normalize_query(query, mode=mode, stem=stem)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    qf = Counter(terms)
    uniq = sorted(qf)

    wb = {"title": (w_title, b_title), "body": (w_body, b_body)}
    _merge_extra_weights(wb, weights)
    parts = []
    for name, idx in findex.fields.items():
        w_f, b_f = wb.get(name, (1.0, 0.75))
        if idx.avgdl <= 0:
            continue  # all-empty field contributes 0 (matches the scan path)
        parts.append(_field_component_rows(idx, uniq, w_f, b_f))
    if not parts:
        return spark.createDataFrame([], "doc_id long, score double")
    decoded = parts[0]
    for p in parts[1:]:
        decoded = decoded.unionByName(p)

    # pre-saturation field combination: one exchange keyed (doc_id, term),
    # rows bounded by the query terms' candidate postings
    tfw_rel = decoded.groupBy("doc_id", "term").agg(F.sum("comp").alias("tfw"))
    # exact fielded df (docs where the term appears in ANY field) from one
    # driver-side aggregate over the same pruned decode — a second decode
    # pass over |query terms| posting rows, cheaper than persisting the
    # candidate relation across the query (and the returned plan stays
    # fully lazy/distributed)
    df_rows = (
        tfw_rel.groupBy("term").agg(F.count("*").alias("df")).collect()
    )
    n = findex.n_docs
    widf = {
        r["term"]: float(qf[r["term"]]) * bm25.idf(n, int(r["df"]))
        for r in df_rows
    }
    if not widf:
        # no query term matched any field's vocabulary — an empty
        # F.create_map() would be void-typed and fail analysis
        return spark.createDataFrame([], "doc_id long, score double")
    wmap = F.create_map(
        *[x for t in sorted(widf) for x in (F.lit(t), F.lit(widf[t]))]
    )
    scored = tfw_rel.select(
        "doc_id",
        (wmap[F.col("term")] * F.col("tfw") / (F.lit(k1) + F.col("tfw"))).alias(
            "s"
        ),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
