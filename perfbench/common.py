"""Paths, environment, statistics and process helpers shared by the
benchmark's workloads. Everything the benchmark writes goes under
``perfbench/.work`` (per-run scratch) and ``perfbench/.cache`` (inputs and
serving bundles reused across runs of one commit)."""

from __future__ import annotations

import hashlib
import math
import os
import shlex
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CACHE = BENCH / ".cache"
CORES = 4  # local[4]: the sizes below are chosen for four cores
SLO_MS = 200.0


def program_present() -> bool:
    return (ROOT / "google_spark" / "__init__.py").is_file()


def program_hash() -> str:
    """Hash of every source file of the engine package: the key under which
    a serving bundle may be reused (same commit only)."""
    h = hashlib.sha256()
    pkg = ROOT / "google_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def spark_env(trace: bool, run_dir: Path) -> dict[str, str]:
    """Environment for a process that starts a Spark driver: every
    temporary, local and event-log directory inside ``run_dir``."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    args = [
        "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        ev = run_dir / "events"
        ev.mkdir(parents=True, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{ev}",
        ]
    env = dict(os.environ)
    env.update(
        TMPDIR=str(tmp),
        # every JVM, the spark-submit launcher's too: temp files inside the
        # run, no hsperfdata in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=str(local),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in args + ["pyspark-shell"]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def apply_env(env: dict[str, str]) -> None:
    """Adopt ``env`` in this process before pyspark or tempfile is used."""
    import tempfile

    os.environ.clear()
    os.environ.update(env)
    tempfile.tempdir = None


# -- statistics ----------------------------------------------------------


def quantile(sorted_vals: list[float], q: float) -> float:
    if not sorted_vals:
        return float("nan")
    i = min(len(sorted_vals) - 1, max(0, math.ceil(q * len(sorted_vals)) - 1))
    return sorted_vals[i]


def tail_percentile(n: int) -> float:
    """The highest percentile (capped at 99) with at least ten samples
    beyond it."""
    if n <= 10:
        return 0.5
    return min(0.99, 1.0 - 10.0 / n)


def median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if not n:
        return float("nan")
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


# -- process lifetime ----------------------------------------------------


def become_subreaper() -> None:
    """Make every process this one starts, and every process those start,
    re-parent to this process when its own parent exits (a JVM outliving
    the Python process that launched it, Spark's Python workers outliving
    their JVM), so :func:`reap_descendants` can find and wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(pid: int) -> list[int]:
    out, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def reap_descendants(grace_s: float = 20.0) -> None:
    """Stop every descendant of this process and wait until each has
    ended: SIGTERM (a JVM runs its shutdown hooks), SIGKILL whatever is
    left after ``grace_s``. Returns once this process has no child left."""
    import signal

    def signal_all(sig: int) -> None:
        for p in descendants(os.getpid()):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass

    signal_all(signal.SIGTERM)
    t_kill = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > t_kill:
            signal_all(signal.SIGKILL)
            killed = True
        time.sleep(0.02)


# -- process tree memory -------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds used so far by a process tree."""
    total, stack, seen = 0, [pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
        stack.extend(_children(p))
    return total / os.sysconf("SC_CLK_TCK")


def wait_idle(pid: int, limit_s: float = 5.0) -> None:
    """Wait (at most ``limit_s``) until the process tree uses under a tenth
    of a core over a quarter second: work left over from start-up and
    warm-up (JIT, GC, the vocabulary job) must not land in the timed
    window."""
    t_end = time.perf_counter() + limit_s
    prev = tree_cpu_s(pid)
    while time.perf_counter() < t_end:
        time.sleep(0.25)
        cur = tree_cpu_s(pid)
        if cur - prev < 0.025:
            return
        prev = cur


def tree_rss_mb(pid: int) -> dict[str, float]:
    """RSS of a process tree in MB: by kind (the root process, JVMs, other
    descendants such as Spark's Python workers), the root with its JVMs,
    and the total."""
    out = {"total": 0.0, "root": 0.0, "jvm": 0.0, "other": 0.0, "root+jvm": 0.0}
    page = os.sysconf("SC_PAGE_SIZE") / 1e6
    stack, seen = [pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/statm") as f:
                mb = int(f.read().split()[1]) * page
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "root" if p == pid else ("jvm" if comm == "java" else "other")
        out[kind] += mb
        out["total"] += mb
        if kind != "other":
            out["root+jvm"] += mb
        stack.extend(_children(p))
    return out


class RssSampler:
    """Peak RSS of a process tree (see :func:`tree_rss_mb`), sampled every
    ``interval`` seconds on a daemon thread while in use."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval = pid, interval
        self.peaks = dict.fromkeys(("total", "root", "jvm", "other", "root+jvm"), 0.0)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for k, v in tree_rss_mb(self.pid).items():
            self.peaks[k] = max(self.peaks[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self._sample()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Timer:
    def __enter__(self) -> "Timer":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0
