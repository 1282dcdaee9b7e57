"""Search-engine benchmark entry point.

    python3 perfbench/run.py --workload {offline,serve_head,serve_tail} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints human-readable lines (every metric
with its unit, the correctness-gate result) and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"} — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import sys

from common import ROOT, WORK, apply_env, become_subreaper, program_present, reap_descendants, spark_env


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["offline", "serve_head", "serve_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not program_present():
        print(f"error: no google_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    apply_env(spark_env(bool(args.trace), run_dir))

    # every process the run starts (serving process, JVMs, Spark's Python
    # workers) is stopped and waited for before the run ends, on every path
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        e2e, layers, extra, attempted, fails = measure(args, run_dir)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        reap_descendants()
    if args.trace:
        keep = WORK / "traces"
        keep.mkdir(parents=True, exist_ok=True)
        shutil.copy(run_dir / "spans.jsonl", keep / f"{args.workload}-{args.seed}-spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, v in e2e.items():
        print(f"  {name:<28} {v:14.4f} {e2e_units.get(name, '?')}")
    for name, (v, unit) in extra.items():
        print(f"  {name:<28} {v:14.4f} {unit}")
    for name, v in layers.items():
        print(f"  {name:<36} {v:16.4f} {layer_units.get(name, '?')}")
    print(f"  {'error_rate':<28} {len(fails) / max(1, attempted):14.6f} failed/attempted")
    print(f"correctness gate: {'PASS' if not fails else 'FAIL'} ({len(fails)} failures)")
    for f in fails[:20]:
        print(f"  FAIL {f}")

    metrics, units = (layers, layer_units) if args.trace else (e2e, e2e_units)
    if set(metrics) != set(units):
        print(f"error: metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}",
              file=sys.stderr)
        return 3
    print(
        json.dumps(
            {
                "correct": not fails,
                "attempted": int(attempted),
                "failed": len(fails),
                "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
            }
        )
    )
    return 0


def measure(args, run_dir):
    import serving

    # the serving bundle of this commit is built by whichever run comes
    # first (outside any measurement), so no serve run pays for it; the
    # bundle builder's JVM is waited for before anything is timed
    serving.ensure_bundle()
    reap_descendants()
    if args.workload == "offline":
        import offline

        return offline.run(args.seed, bool(args.trace), run_dir)
    return serving.run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)


if __name__ == "__main__":
    sys.exit(main())
