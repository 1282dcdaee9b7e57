"""``offline`` workload: one closed job in a fresh Spark application —
doc identity -> SearchEngine.build (index + PageRank + meta) -> save ->
read_index -> batch_topk over the query log, then a replay of the whole
log through SearchEngine.search on the freshly loaded bundle (first queries
after publish). Also holds :func:`build_and_publish`, which the serving
bundle builder shares."""

from __future__ import annotations

import hashlib
import os
import time
from pathlib import Path

import checks
import gen
from common import CACHE, CORES, RssSampler, Timer, dir_bytes, quantile, tail_percentile, wait_idle
from spans import Recorder, spark_layer_metrics

N_FILES = 1000
N_QUERIES = 1000
# the replay is the whole log (every query is distinct): its 25 zero-hit
# typos put the tail percentile (99th: ten samples beyond) inside that class
N_REPLAY = N_QUERIES
GATE_EVERY = 25  # every 25th log query (40 of 1,000) goes through the gate
DOCSTORE_SAMPLE = 40


def start_spark(app: str):
    from google_spark.session import get_spark

    return get_spark(app=app, cores=CORES, driver_memory="1g")


def install_build_spans(rec: Recorder, sc) -> None:
    """Spans + Spark job groups around the build-side layer calls that
    SearchEngine.build / save make."""
    from google_spark import search as S
    from google_spark.operators import index_build as IB

    rec.wrap(S, "build_index", "index_build", group="index_build", sc=sc)
    rec.wrap(S, "extract_import_edges", "pagerank.edges", group="pagerank", sc=sc)
    pagerank = S.pagerank

    def materialized_pagerank(*args, **kwargs):
        # SearchEngine.build persists and counts the returned ranks; doing
        # the same here, inside the span, attributes that job to PageRank
        # (the caller's persist + count then hit the cache)
        ranks = pagerank(*args, **kwargs).persist()
        ranks.count()
        return ranks

    S.pagerank = materialized_pagerank
    rec.wrap(S, "pagerank", "pagerank", group="pagerank", sc=sc)
    rec.wrap(IB, "write_index", "publish.write_index", group="publish", sc=sc)


def build_and_publish(spark, src_dir: Path, out_dir: Path, rec: Recorder) -> dict:
    """Identity -> build -> save. Returns the row count, the build + save
    wall time and the identity table's (doc_id, content sha256) pairs."""
    from google_spark.search import SearchEngine
    from google_spark.sources.tables import with_doc_identity

    sc = spark.sparkContext
    with rec.span("sources.doc_identity", group="doc_identity", sc=sc):
        src = with_doc_identity(spark.read.parquet(str(src_dir))).persist()
        n = src.count()
    with Timer() as t_build:
        with rec.span("search.build"):
            eng = SearchEngine.build(spark, src)
        with rec.span("publish", group="publish", sc=sc):
            eng.save(str(out_dir))
    ids = src.select("doc_id", "content_sha256").toPandas()
    spark.catalog.clearCache()
    return {
        "n_files": n,
        "build_s": t_build.s,
        "sha": dict(zip(ids["doc_id"].tolist(), ids["content_sha256"].tolist())),
    }


def disk_index(bundle: Path):
    """IndexTables over a published bundle for the driver-side point-read
    path, without a Spark session (stats read with pyarrow)."""
    import pyarrow.parquet as pq

    from google_spark.operators.index_build import IndexTables

    st = pq.read_table(bundle / "stats.parquet").to_pylist()[0]
    return IndexTables(
        postings=None, terms=None, n_docs=int(st["n_docs"]),
        avgdl=float(st["avgdl"]), n_buckets=int(st.get("n_buckets") or 0) or None,
        disk_path=str(bundle),
    )


def bundle_results(bundle: Path, queries: list[str]) -> dict[str, list]:
    from google_spark.operators.index_query import wand_topk_local

    idx = disk_index(bundle)
    return {q: wand_topk_local(idx, q, k=checks.K) for q in queries}


def oracle_for(corpus: dict):
    from google_spark.ids import doc_id_of
    from google_spark.oracle import OracleIndex

    docs = [
        (doc_id_of(r, p, c), t)
        for r, p, c, t in zip(corpus["repo"], corpus["path"], corpus["commit"], corpus["content"])
    ]
    return OracleIndex(docs), dict(docs)


def run(seed: int, trace: bool, run_dir: Path):
    """Returns (end-to-end metrics, per-layer metrics, extra printed
    metrics, attempted operations, gate failures)."""
    corpus, src_dir = gen.cached_corpus(CACHE / "inputs", seed, N_FILES)
    log = gen.query_log(corpus, seed, N_QUERIES)
    src_bytes = sum(len(c.encode("utf-8")) for c in corpus["content"])
    bundle = run_dir / "bundle"
    rec = Recorder(enabled=trace)
    fails: list[str] = []

    with RssSampler(os.getpid()) as rss:
        with Timer() as t_setup, rec.span("session.start"):
            spark = start_spark("perfbench-offline")
        sc = spark.sparkContext
        if trace:
            install_build_spans(rec, sc)
        built = build_and_publish(spark, src_dir, bundle, rec)

        from google_spark.operators.index_build import read_index
        from google_spark.operators.index_query import batch_topk

        qdf = spark.createDataFrame(list(enumerate(log)), "query_id long, query string")
        with Timer() as t_batch, rec.span("batch", group="batch", sc=sc):
            idx = read_index(spark, str(bundle))
            rows = batch_topk(idx, qdf, k=checks.K).collect()

        replay, load_s, jobs = _replay(spark, bundle, log, rec, trace, fails)
        spark.stop()

    # -- correctness gate (untimed) ---------------------------------------
    sample = log[::GATE_EVERY]
    oracle, content = oracle_for(corpus)
    expect = checks.oracle_expectations(oracle, sample)
    fails += checks.check_against(expect, bundle_results(bundle, sample), "bundle wand_topk_local")
    by_q: dict[str, list] = {q: [] for q in sample}
    wanted = {i: log[i] for i in range(0, len(log), GATE_EVERY)}
    for r in rows:
        q = wanted.get(r["query_id"])
        if q is not None:
            by_q[q].append((r["doc_id"], r["score"]))
    for q in by_q:
        by_q[q].sort(key=lambda x: (-x[1], x[0]))
    fails += checks.check_against(expect, by_q, "batch_topk")
    if built["n_files"] != N_FILES:
        fails.append(f"identity table has {built['n_files']} rows, want {N_FILES}")
    ids = sorted(built["sha"])[:: max(1, len(built["sha"]) // DOCSTORE_SAMPLE)]
    want_sha = {d: hashlib.sha256(content[d].encode("utf-8")).hexdigest() for d in ids}
    if any(built["sha"][d] != want_sha[d] for d in ids):
        fails.append("content_sha256 column differs from generated content")
    fails += checks.check_docstore(str(bundle / "docstore.parquet"), want_sha)

    lat = sorted(replay)
    p_tail = tail_percentile(len(lat))
    bundle_bytes = dir_bytes(bundle)
    e2e = {
        "setup_s": t_setup.s,
        "rss_mb": rss.peaks["root+jvm"],
        "throughput_per_s": N_FILES / built["build_s"],
        "p50_ms": 1e3 * quantile(lat, 0.5),
        "p99_ms": 1e3 * quantile(lat, p_tail),
    }
    extra = {
        "rss_mb.python": (rss.peaks["root"], "MB"),
        "rss_mb.jvm": (rss.peaks["jvm"], "MB"),
        "rss_mb.workers": (rss.peaks["other"], "MB"),
        "rss_mb.tree": (rss.peaks["total"], "MB"),
        "build_docs_per_s": (e2e["throughput_per_s"], "docs/s"),
        "batch_qps": (N_QUERIES / t_batch.s, "queries/s"),
        "bundle_bytes_per_src_byte": (bundle_bytes / src_bytes, "ratio"),
        "replay_samples": (len(lat), "count"),
        "replay_tail_percentile": (100 * p_tail, "%"),
    }
    layers = {}
    if trace:
        layers = _layers(rec, run_dir, built["build_s"], t_batch.s, load_s, jobs, bundle_bytes)
        rec.dump(run_dir / "spans.jsonl")
    attempted = N_FILES + N_QUERIES + len(lat)
    return e2e, layers, extra, attempted, fails


def _replay(spark, bundle, log, rec, trace, fails):
    """Each of N_REPLAY distinct log queries once through the facade of a
    freshly loaded bundle, in one caller, as the HTTP route calls it
    (snippets on, did-you-mean on zero hits)."""
    from google_spark.search import SearchEngine

    with Timer() as t_load:
        eng = SearchEngine.load(spark, str(bundle))
    eng.search("zz", k=checks.K, snippets=True)
    eng.suggest("zqzqzq")  # first suggest collects the capped vocabulary
    if trace:
        from spans import install_serving

        install_serving(rec)
    queries = list(dict.fromkeys(log))[:N_REPLAY]
    wait_idle(os.getpid())  # JVM clean-up and GC after the batch job
    tracker = spark.sparkContext.statusTracker()
    jobs0 = len(tracker.getJobIdsForGroup())
    lat = []
    for q in queries:
        t0 = time.perf_counter()
        res = eng.search(q, k=checks.K, page=1, page_size=checks.K, snippets=True)
        if not res:
            eng.suggest(q)
        lat.append(time.perf_counter() - t0)
        pr = [r.priority for r in res]
        if len(res) > checks.K or any(b > a + 1e-9 for a, b in zip(pr, pr[1:])):
            fails.append(f"replay {q!r}: bad result page")
    jobs = len(tracker.getJobIdsForGroup()) - jobs0
    return lat, t_load.s, jobs


def _layers(rec, run_dir, build_s, batch_s, load_s, jobs, bundle_bytes) -> dict[str, float]:
    from spans import serving_metrics

    s = rec.summary()
    spark = spark_layer_metrics(run_dir / "events")

    def wall(name):
        return s.get(name, {}).get("total_s", 0.0)

    def sp(group, key):
        return spark.get(group, {}).get(key, 0.0)

    ib_wall = wall("index_build")
    pr_wall = wall("pagerank") + wall("pagerank.edges")
    out = {
        "session.start_s": wall("session.start"),
        "search.load_s": load_s,
        "sources.doc_identity_s": wall("sources.doc_identity"),
        "index_build.wall_s": ib_wall,
        "index_build.jobs": sp("index_build", "jobs"),
        "index_build.stages": sp("index_build", "stages"),
        "index_build.task_busy_s": sp("index_build", "task_busy_s"),
        "index_build.shuffle_write_bytes": sp("index_build", "shuffle_write_bytes"),
        "index_build.gc_s": sp("index_build", "gc_s"),
        "index_build.utilization": sp("index_build", "task_busy_s") / (ib_wall * CORES) if ib_wall else 0.0,
        "pagerank.wall_s": pr_wall,
        "pagerank.jobs": sp("pagerank", "jobs"),
        "pagerank.stages": sp("pagerank", "stages"),
        "pagerank.task_busy_s": sp("pagerank", "task_busy_s"),
        "pagerank.utilization": sp("pagerank", "task_busy_s") / (pr_wall * CORES) if pr_wall else 0.0,
        "publish.wall_s": wall("publish"),
        "publish.bytes_written": float(bundle_bytes),
        "batch.wall_s": batch_s,
        "batch.jobs": sp("batch", "jobs"),
        "batch.task_busy_s": sp("batch", "task_busy_s"),
        "batch.shuffle_bytes": sp("batch", "shuffle_write_bytes"),
    }
    out.update(serving_metrics(rec, jobs))
    named = ib_wall + wall("pagerank") + wall("publish")
    out["trace.build_coverage"] = named / build_s
    out["trace.overhead_us"] = rec.overhead_us()
    return out
