"""Correctness gate, run untimed after each measurement. Every function
returns a list of failure messages (empty when the check passes)."""

from __future__ import annotations

import hashlib
import json

K = 10
SCORE_TOL = 1e-6
TIE_TOL = 1e-9


def check_topk(got: list[tuple[int, float]], oracle_scores: dict[int, float],
               n_match: int, oracle_kth: float, k: int, label: str) -> list[str]:
    """``got`` is an exact top-k under (score desc, doc_id asc): every doc's
    score equals the oracle's within 1e-6, the list is ordered by that rule
    (an exact score tie orders by doc_id), it has min(k, #matches) entries and
    its last score is not below the oracle's k-th best."""
    errs = []
    want_n = min(k, n_match)
    if len(got) != want_n:
        return [f"{label}: {len(got)} results, oracle has {want_n}"]
    for d, s in got:
        o = oracle_scores.get(d)
        if o is None or abs(o - s) > SCORE_TOL:
            errs.append(f"{label}: doc {d} score {s} vs oracle {o}")
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        if s2 > s1 + TIE_TOL or (s1 == s2 and d2 < d1):
            errs.append(f"{label}: order broken at {d1},{d2}")
    if got and got[-1][1] < oracle_kth - SCORE_TOL:
        errs.append(f"{label}: k-th score {got[-1][1]} below oracle {oracle_kth}")
    return errs[:3]


def oracle_expectations(oracle, queries: list[str], k: int = K) -> list[dict]:
    """Per query: the number of matching docs, the k-th best oracle score
    and the oracle score of every doc scoring at least that."""
    out = []
    for q in queries:
        ranked = oracle.topk(q, k=10**9)
        kth = ranked[k - 1][1] if len(ranked) >= k else (ranked[-1][1] if ranked else 0.0)
        top = {str(d): s for d, s in ranked if s >= kth - SCORE_TOL}
        out.append({"query": q, "n_match": len(ranked), "scores": top, "kth": kth})
    return out


def check_against(expect: list[dict], results: dict[str, list[tuple[int, float]]],
                  label: str) -> list[str]:
    errs = []
    for e in expect:
        got = results.get(e["query"])
        if got is None:
            errs.append(f"{label}: no result for {e['query']!r}")
            continue
        scores = {int(d): s for d, s in e["scores"].items()}
        errs += check_topk(got, scores, e["n_match"], e["kth"], K, f"{label} {e['query']!r}")
    return errs


def check_docstore(docstore_dir: str, expected_sha: dict[int, str]) -> list[str]:
    """sha256(content) read back from the published docstore equals the
    generated content's (ingestion fidelity)."""
    import pyarrow.dataset as ds

    ids = sorted(expected_sha)
    t = ds.dataset(docstore_dir, format="parquet").to_table(
        filter=ds.field("doc_id").isin(ids), columns=["doc_id", "content"]
    )
    got = dict(zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist()))
    errs = []
    for d in ids:
        c = got.get(d)
        if c is None:
            errs.append(f"docstore: doc {d} missing")
        elif hashlib.sha256(c.encode("utf-8")).hexdigest() != expected_sha[d]:
            errs.append(f"docstore: doc {d} content sha256 differs")
    return errs[:3]


def check_response(status: int, body: bytes, page_size: int) -> str | None:
    """One /search response: 200, JSON, <= page_size results, priorities
    non-increasing. Returns a failure message or None."""
    if status != 200:
        return f"status {status}"
    try:
        obj = json.loads(body)
    except ValueError:
        return "body is not JSON"
    res = obj.get("results")
    if not isinstance(res, list):
        return "no results list"
    if len(res) > page_size:
        return f"{len(res)} results > page size {page_size}"
    pr = [r.get("priority") for r in res]
    if any(not isinstance(p, (int, float)) for p in pr):
        return "result without numeric priority"
    if any(b > a + 1e-9 for a, b in zip(pr, pr[1:])):
        return "results not sorted by priority"
    return None
