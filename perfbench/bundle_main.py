"""Build the serving bundle the serve workloads load: the fixed serving
corpus through the same build-and-publish path as the offline workload, in
a fresh Spark application, plus the correctness gate's oracle answers for
the fixed gate queries.

    python3 perfbench/bundle_main.py --out DIR

Writes DIR/bundle (SearchEngine.save output) and DIR/expected.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(1, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402
import offline  # noqa: E402
from common import CACHE  # noqa: E402
from spans import Recorder  # noqa: E402

SERVE_CORPUS_SEED = 7
N_FILES = 5000
GATE_QUERIES = 30
DOCSTORE_SAMPLE = 40


def gate_queries(corpus: dict) -> list[str]:
    return gen.tail_queries(corpus, 0, GATE_QUERIES // 2) + gen.head_pool(
        corpus, 0, GATE_QUERIES - GATE_QUERIES // 2
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    out = Path(ap.parse_args().out)
    corpus, src_dir = gen.cached_corpus(CACHE / "inputs", SERVE_CORPUS_SEED, N_FILES)
    spark = offline.start_spark("perfbench-bundle")
    offline.build_and_publish(spark, src_dir, out / "bundle", Recorder(enabled=False))
    spark.stop()
    oracle, content = offline.oracle_for(corpus)
    ids = sorted(content)[:: max(1, len(content) // DOCSTORE_SAMPLE)]
    expected = {
        "topk": checks.oracle_expectations(oracle, gate_queries(corpus)),
        "sha": {str(d): hashlib.sha256(content[d].encode("utf-8")).hexdigest() for d in ids},
    }
    (out / "expected.json").write_text(json.dumps(expected))


if __name__ == "__main__":
    main()
