"""``serve_head`` / ``serve_tail`` workloads: a serving process on the
published bundle of the fixed serving corpus, driven over HTTP ``/search``
(snippets on) from this process with at most four connections.

Per run: one server start-up (set-up time), warm-up, generator
calibration against ``/health``, then the timed window — an open-loop step
at the low rate, one at the high rate (requests sent on a fixed schedule,
latency timed from when each was due), and a closed-loop step with four
connections whose completion rate is the capacity (printed, not gated:
it swings up to 2x between runs on a shared machine). The bundle is built
once per engine source hash (see bundle_main.py) and its build time is
never part of a run.
"""

from __future__ import annotations

import http.client
import json
import shutil
import socket
import subprocess
import sys
import threading
import time
from pathlib import Path
from urllib.parse import urlencode

import checks
import gen
from bundle_main import N_FILES, SERVE_CORPUS_SEED
from common import (
    BENCH, CACHE, SLO_MS, RssSampler, median, program_hash, quantile,
    spark_env, tail_percentile, tree_cpu_s, wait_idle,
)

CONNS = 4
PAGE = 10
# Fixed request rates (req/s), frozen from the capacity measured on the
# commit that introduced this benchmark (serve_head 800-2,700, serve_tail
# 40-80 req/s, depending on the shared machine's speed at the time). Kept
# at or under 1/2 of the low end: near saturation, queueing turns the
# machine's speed swings into latency swings several times larger, and the
# figures stop repeating.
RATES = {"serve_head": (150.0, 300.0), "serve_tail": (10.0, 20.0)}
HEAD_POOL = 400
TAIL_WARM = 100  # distinct tail queries served before the timed window
WINDOW_SAMPLES = 300  # latency windows (see step_stats)
RATE_WINDOW_N = 100  # capacity windows (see closed_loop)
READY_TIMEOUT_S = 150


def ensure_bundle() -> Path:
    """Cache dir holding ``bundle/`` and ``expected.json`` for this engine
    source, building it in a fresh Spark application when absent."""
    key = f"bundle-{program_hash()}-{N_FILES}-{SERVE_CORPUS_SEED}-{gen.GEN_HASH}"
    root = CACHE / key
    if (root / "expected.json").exists():
        return root
    tmp = CACHE / (key + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    with open(tmp / "build.log", "w") as log:
        subprocess.run(
            [sys.executable, str(BENCH / "bundle_main.py"), "--out", str(tmp)],
            env=spark_env(False, tmp / "run"), stdout=log, stderr=log,
            check=True, timeout=600,
        )
    shutil.rmtree(tmp / "run", ignore_errors=True)
    tmp.rename(root)
    return root


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _get(port: int, path: str, timeout: float = 10.0) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path)
        r = conn.getresponse()
        return r.status, r.read()
    except (OSError, http.client.HTTPException):
        return -1, b""
    finally:
        conn.close()


def search_path(q: str) -> str:
    return "/search?" + urlencode({"query": q, "pageSize": PAGE, "snippets": "true"})


class Server:
    """One serving process; ``setup_s`` = spawn to first 200 on /health."""

    def __init__(self, bundle: Path, trace: bool, run_dir: Path, tag: str):
        self.port = _free_port()
        cmd = [sys.executable, str(BENCH / "server_main.py"),
               "--bundle", str(bundle), "--port", str(self.port)]
        if trace:
            cmd.append("--trace")
        self._log = open(run_dir / f"server-{tag}.log", "w")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            env=spark_env(trace, run_dir / f"server-{tag}"), text=True,
        )
        watchdog = threading.Timer(READY_TIMEOUT_S, self.proc.kill)
        watchdog.start()
        try:
            self.ready = json.loads(self.proc.stdout.readline() or "{}")
            while self.proc.poll() is None and _get(self.port, "/health", 2.0)[0] != 200:
                time.sleep(0.005)
        finally:
            watchdog.cancel()
        self.setup_s = time.perf_counter() - t0
        if not self.ready.get("ready") or self.proc.poll() is not None:
            self.stop()
            raise RuntimeError(f"server did not start (see {self._log.name})")

    def command(self, line: str) -> dict:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
            self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        self._log.close()


# -- load generation -----------------------------------------------------


class Source:
    """Thread-safe cursor over the request stream."""

    def __init__(self, queries: list[str]):
        self.queries, self.i, self.lock = queries, 0, threading.Lock()

    def take(self) -> str | None:
        with self.lock:
            if self.i >= len(self.queries):
                return None
            self.i += 1
            return self.queries[self.i - 1]


def open_loop(port: int, src: Source, rate: float, seconds: float) -> list[tuple]:
    """Request i is due at t0 + i/rate; each of CONNS senders takes the next
    due request, waits for its due time, sends it and waits for the reply.
    Rows: (due, sent, done, status, body, query)."""
    n = int(rate * seconds)
    t0 = time.perf_counter() + 0.02
    rows: list[tuple] = []
    nxt = [0]
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            q = src.take() if i < n else None
            if q is None:
                return
            due = t0 + i / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            status, body = _get(port, search_path(q))
            rows.append((due, sent, time.perf_counter(), status, body, q))

    _run_threads(worker)
    return rows


def closed_loop(port: int, src: Source, seconds: float, path_of=search_path) -> tuple[list[tuple], float]:
    """CONNS callers, each sending its next request when the previous reply
    arrives, for ``seconds``. Returns (rows, completions per second: the
    median over equal-time windows of the step)."""
    rows: list[tuple] = []
    t0 = time.perf_counter()
    t_end = t0 + seconds

    def worker():
        while time.perf_counter() < t_end:
            q = src.take()
            if q is None:
                return
            sent = time.perf_counter()
            status, body = _get(port, path_of(q))
            rows.append((sent, sent, time.perf_counter(), status, body, q))

    _run_threads(worker)
    # equal-time windows of ~RATE_WINDOW_N completions each (at most 8)
    n_win = max(1, min(8, len(rows) // RATE_WINDOW_N))
    width = seconds / n_win
    counts = [0] * n_win
    for r in rows:
        w = int((r[2] - t0) / width)
        if w < n_win:
            counts[w] += 1
    return rows, median(counts) / width


def _run_threads(fn) -> None:
    ts = [threading.Thread(target=fn, daemon=True) for _ in range(CONNS)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


def step_stats(rows: list[tuple]) -> dict:
    """Latency (from due time) of one step. The step is cut into windows of
    ~WINDOW_SAMPLES requests in due order; p50 and the tail percentile are
    medians over the windows, so one stall of the machine moves one window,
    not the figure."""
    by_due = sorted(rows, key=lambda r: r[0])
    n_win = max(1, len(by_due) // WINDOW_SAMPLES)
    size = len(by_due) / n_win
    p50s, tails = [], []
    for w in range(n_win):
        chunk = by_due[int(w * size) : int((w + 1) * size)]
        lat = sorted(1e3 * (r[2] - r[0]) for r in chunk)
        p50s.append(quantile(lat, 0.5))
        tails.append(quantile(lat, tail_percentile(len(lat))))
    late = sorted(1e3 * (r[1] - r[0]) for r in rows)
    fifth = max(1, len(by_due) // 5)
    first = median([1e3 * (r[1] - r[0]) for r in by_due[:fifth]])
    last = median([1e3 * (r[1] - r[0]) for r in by_due[-fifth:]])
    return {
        "n": len(rows),
        "windows": n_win,
        "pct": 100 * tail_percentile(int(size)),
        "p50_ms": median(p50s),
        "tail_ms": median(tails),
        "late_p99_ms": quantile(late, tail_percentile(len(late))),
        # a backlog that grows over the step shows as lateness rising from
        # the first fifth of the requests to the last
        "backlog_ms": last - first,
    }


# -- the workload ----------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: Path):
    root = ensure_bundle()
    bundle = root / "bundle"
    expected = json.loads((root / "expected.json").read_text())
    corpus, _ = gen.cached_corpus(CACHE / "inputs", SERVE_CORPUS_SEED, N_FILES)
    if workload == "serve_head":
        pool = gen.head_pool(corpus, seed, HEAD_POOL)
        warm = pool
        stream = gen.head_stream(pool, seed, 200_000)
    else:
        qs = gen.tail_queries(corpus, seed, 4000)
        warm, stream = qs[:TAIL_WARM], qs[TAIL_WARM:]
    low, high = RATES[workload]
    t_low, t_high = 0.1 * seconds, 0.7 * seconds
    t_sat = seconds - t_low - t_high
    fails: list[str] = []

    srv = Server(bundle, trace, run_dir, "main")
    try:
        with RssSampler(srv.proc.pid) as rss:
            closed_loop(srv.port, Source(warm), 60.0)
            _get(srv.port, search_path("zqzqzqzq"))  # did-you-mean vocabulary
            _, ceiling = closed_loop(srv.port, Source(["h"] * 100_000), 0.5,
                                     path_of=lambda q: "/health")
            wait_idle(srv.proc.pid)
            srv.command("reset")
            src = Source(stream)
            cpu0 = tree_cpu_s(srv.proc.pid)
            r_low = open_loop(srv.port, src, low, t_low)
            r_high = open_loop(srv.port, src, high, t_high)
            cpu_s = tree_cpu_s(srv.proc.pid) - cpu0
            r_sat, max_qps = closed_loop(srv.port, src, t_sat)
            dump = srv.command(f"dump {run_dir / 'spans.jsonl'}")
    finally:
        srv.stop()

    # -- correctness gate (untimed) ---------------------------------------
    steps = {"low": r_low, "high": r_high, "sat": r_sat}
    attempted = 0
    for name, rows in steps.items():
        attempted += len(rows)
        for r in rows:
            err = checks.check_response(r[3], r[4], PAGE)
            if err:
                fails.append(f"{name} {r[5]!r}: {err}")
    if dump.get("spark_jobs", dump.get("search.spark_jobs", 0)):
        fails.append("Spark jobs ran inside the timed window")
    for name, rate, rows in (("low", low, r_low), ("high", high, r_high)):
        if rate > 0.8 * ceiling:
            fails.append(f"{name} rate {rate}/s is close to the generator ceiling {ceiling:.0f}/s")
        if len(rows) < int(rate * (t_low if name == "low" else t_high)):
            fails.append(f"{name} step ran out of queries")
    from offline import bundle_results

    gate = [e["query"] for e in expected["topk"]]
    fails += checks.check_against(expected["topk"], bundle_results(bundle, gate), "bundle wand_topk_local")
    fails += checks.check_docstore(
        str(bundle / "docstore.parquet"), {int(d): s for d, s in expected["sha"].items()}
    )
    attempted += len(gate)

    st = {k: step_stats(v) for k, v in steps.items()}
    e2e = {
        "setup_s": srv.setup_s,
        "rss_mb": rss.peaks["root+jvm"],
        # requests served per CPU-second of the serving process tree over
        # the fixed-rate steps: the capacity the per-request cost implies
        # (the engine lock and the interpreter lock serialize requests)
        "throughput_per_s": (len(r_low) + len(r_high)) / cpu_s,
        "p50_ms": st["high"]["p50_ms"],
        "p99_ms": st["high"]["tail_ms"],
    }
    extra = {
        "rss_mb.python": (rss.peaks["root"], "MB"),
        "rss_mb.jvm": (rss.peaks["jvm"], "MB"),
        "rss_mb.workers": (rss.peaks["other"], "MB"),
        "rss_mb.tree": (rss.peaks["total"], "MB"),
        "p50_ms.low": (st["low"]["p50_ms"], "ms"),
        "p99_ms.low": (st["low"]["tail_ms"], "ms"),
        "p50_ms.high": (st["high"]["p50_ms"], "ms"),
        "p99_ms.high": (st["high"]["tail_ms"], "ms"),
        "max_qps": (max_qps, "req/s"),
        "max_qps.p99_ms": (st["sat"]["tail_ms"], "ms"),
        "max_qps.meets_slo": (float(st["sat"]["tail_ms"] <= SLO_MS), "bool"),
        "rate.low": (low, "req/s"),
        "rate.high": (high, "req/s"),
        "generator_ceiling": (ceiling, "req/s"),
    }
    for k in ("low", "high"):
        extra[f"samples.{k}"] = (st[k]["n"], "count")
        extra[f"tail_percentile.{k}"] = (st[k]["pct"], "%")
        extra[f"windows.{k}"] = (st[k]["windows"], "count")
        extra[f"lateness_p99_ms.{k}"] = (st[k]["late_p99_ms"], "ms")
        extra[f"backlog_growth_ms.{k}"] = (st[k]["backlog_ms"], "ms")
    extra["max_qps/generator_ceiling"] = (max_qps / ceiling, "ratio")
    extra["server_cpu_s"] = (cpu_s, "s")
    layers = {}
    if trace:
        layers = dict.fromkeys(LAYER_ZERO, 0.0)
        layers.update(dump)
        layers["session.start_s"] = srv.ready["session_s"]
        layers["search.load_s"] = srv.ready["load_s"]
    return e2e, layers, extra, attempted, fails


LAYER_ZERO = (
    "sources.doc_identity_s index_build.wall_s index_build.jobs index_build.stages "
    "index_build.task_busy_s index_build.shuffle_write_bytes index_build.gc_s "
    "index_build.utilization pagerank.wall_s pagerank.jobs pagerank.stages "
    "pagerank.task_busy_s pagerank.utilization publish.wall_s publish.bytes_written "
    "batch.wall_s batch.jobs batch.task_busy_s batch.shuffle_bytes trace.build_coverage"
).split()
