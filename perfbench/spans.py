"""Span recorder for traced runs. Spans are recorded from the benchmark's
own files only: call sites in the workloads, and wrappers installed around
module functions of the engine before the engine runs. A span keeps
(name, start, end, parent, request id); self time is the span's duration
minus the time its direct children cover. Spark work done inside a span is
tagged with a job group named after the span, so the Spark event log can be
split per layer (:func:`spark_layer_metrics`)."""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

JOB_GROUP = "spark.jobGroup.id"


class Recorder:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, req, child_s]
        self.counters: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._req = itertools.count(1)
        self._lock = threading.Lock()

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.counters = defaultdict(float)

    def count(self, name: str, n: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    @contextmanager
    def span(self, name: str, group: str | None = None, sc=None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else None
        req = parent[4] if parent is not None else next(self._req)
        rec = [name, time.perf_counter(), None, parent, req, 0.0]
        stack.append(rec)
        prev = None
        if group is not None and sc is not None:
            prev = sc.getLocalProperty(JOB_GROUP)
            sc.setLocalProperty(JOB_GROUP, group)
        try:
            yield
        finally:
            if group is not None and sc is not None:
                sc.setLocalProperty(JOB_GROUP, prev)
            rec[2] = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent[5] += rec[2] - rec[1]
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, before=None, group=None, sc=None):
        """Replace ``owner.attr`` with a wrapper recording span ``name``;
        ``before(args, kwargs)`` runs first (counter hooks)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with self.span(name, group=group, sc=sc):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def summary(self) -> dict[str, dict[str, float]]:
        """name -> {calls, total_s, self_s}."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        with self._lock:
            spans = list(self.spans)
        for name, t0, t1, _parent, _req, child in spans:
            s = out[name]
            s["calls"] += 1
            s["total_s"] += t1 - t0
            s["self_s"] += (t1 - t0) - child
        return dict(out)

    def dump(self, path: Path) -> None:
        """Write every span as one JSON line (parent as its start time)."""
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for name, t0, t1, parent, req, child in spans:
                f.write(
                    json.dumps(
                        {
                            "name": name,
                            "start": t0,
                            "end": t1,
                            "parent": None if parent is None else [parent[0], parent[1]],
                            "req": req,
                            "self_s": t1 - t0 - child,
                        }
                    )
                    + "\n"
                )

    def overhead_us(self, n: int = 20000) -> float:
        """Cost of one recorded span around a no-op call, in microseconds."""
        saved, self.spans = self.spans, []
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("overhead.probe"):
                pass
        us = (time.perf_counter() - t0) / n * 1e6
        self.spans = saved
        return us


def install_serving(rec: Recorder) -> None:
    """Wrap the serving-path layers: search facade, index_query point reads
    and kernel, codec decode. Must run before an engine serves."""
    from google_spark import search as S
    from google_spark.functions import codec
    from google_spark.operators import index_query as IQ

    def count_lookups(args, kwargs):
        terms = args[1]
        cache = args[2] if len(args) > 2 else kwargs.get("row_cache")
        rec.count("postings.lookups", len(terms))
        if cache is not None:
            rec.count("postings.hits", sum(1 for t in terms if t in cache))

    def count_postings(args, kwargs):
        rec.count("kernel.postings_in", sum(len(e["docs"]) for e in args[0]))

    def count_bytes(args, kwargs):
        rec.count("codec.bytes", len(args[0]))

    E = S.SearchEngine
    rec.wrap(E, "search", "search")
    rec.wrap(E, "_search_uncached", "search.uncached")
    rec.wrap(E, "_meta_for", "search.meta_read")
    rec.wrap(E, "_attach_snippets", "search.snippet")
    rec.wrap(E, "suggest", "search.suggest")
    rec.wrap(IQ, "_entries_for", "index_query.entries", before=count_lookups)
    orig_fetch = IQ._fetch_posting_rows

    def fetch(index, terms):
        with rec.span("index_query.fetch"):
            rows = orig_fetch(index, terms)
        rec.count("fetch.rows", len(rows))
        return rows

    IQ._fetch_posting_rows = fetch
    rec.wrap(IQ, "_kernel_decoded", "index_query.kernel", before=count_postings)
    rec.wrap(IQ, "positions_for", "index_query.positions")
    rec.wrap(IQ, "decode_postings_arrays", "codec.decode", before=count_bytes)
    rec.wrap(codec, "decode_postings_full_np", "codec.decode", before=count_bytes)


def serving_metrics(rec: Recorder, spark_jobs: int) -> dict[str, float]:
    """Per-layer serving metrics. ``*_ms`` and per-call counts are means per
    search call (per suggest call for ``search.suggest_ms``)."""
    s = rec.summary()
    c = rec.counters

    def g(name, key="total_s"):
        return s.get(name, {}).get(key, 0.0)

    n_search = g("search", "calls")
    n_req = g("server.handler", "calls")
    per = 1.0 / n_search if n_search else 0.0
    engine = g("search") + g("search.suggest")
    return {
        "server.queue_ms": 1e3 * g("server.queue") / n_req if n_req else 0.0,
        "server.handler_self_ms": 1e3 * g("server.handler", "self_s") / n_req if n_req else 0.0,
        "search.calls": n_search,
        "search.result_cache_hit_ratio": 1.0 - g("search.uncached", "calls") * per if n_search else 0.0,
        "search.self_ms": 1e3 * (g("search", "self_s") + g("search.uncached", "self_s")) * per,
        "search.meta_read_ms": 1e3 * g("search.meta_read") * per,
        "search.snippet_ms": 1e3 * g("search.snippet") * per,
        "search.suggest_ms": 1e3 * g("search.suggest") / max(1, g("search.suggest", "calls")),
        "search.suggest_calls": g("search.suggest", "calls"),
        "search.postings_cache_hit_ratio": (
            c["postings.hits"] / c["postings.lookups"] if c["postings.lookups"] else 0.0
        ),
        "search.spark_jobs": float(spark_jobs),
        "index_query.fetch_ms": 1e3 * g("index_query.fetch") * per,
        "index_query.fetch_calls": g("index_query.fetch", "calls") * per,
        "index_query.fetch_rows": c["fetch.rows"] * per,
        "index_query.kernel_ms": 1e3 * g("index_query.kernel") * per,
        "index_query.postings_in": c["kernel.postings_in"] * per,
        "index_query.positions_ms": 1e3 * g("index_query.positions") * per,
        "index_query.positions_calls": g("index_query.positions", "calls") * per,
        "codec.decode_ms": 1e3 * g("codec.decode") * per,
        "codec.decode_calls": g("codec.decode", "calls") * per,
        "codec.decoded_bytes": c["codec.bytes"] * per,
        # share of engine time (search + suggest calls) inside a named layer
        # span below the outer search call
        "trace.engine_coverage": (engine - g("search", "self_s")) / engine if engine else 0.0,
    }


def spark_layer_metrics(event_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, executed stages, task busy seconds (launch to
    finish), GC seconds and shuffle bytes written — from the Spark event
    log(s) in ``event_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages_seen: dict[str, set] = defaultdict(set)
    for path in sorted(p for p in Path(event_dir).rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP) or "other"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid, "other")
                    stages_seen[group].add(sid)
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    o = out[group]
                    o["task_busy_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for group, sids in stages_seen.items():
        out[group]["stages"] = float(len(sids))
    return {g: dict(v) for g, v in out.items()}
