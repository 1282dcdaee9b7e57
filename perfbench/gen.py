"""Seeded inputs for the benchmark: a source-code corpus in the north-rule
shape ``(repo, path, commit, lang, content)`` and the query streams that
drive it. Owned by the benchmark (nothing here imports ``google_spark``), so
a change to the engine cannot change the workload.

Corpus properties, each there because a layer's cost depends on it:

- Zipf repo sizes (a few repos own most files: shuffle skew);
- a hot term (``data``) in ~60% of files (a long posting list on every
  query that names it);
- ``import <module>`` lines naming other repos, Zipf-weighted toward
  popular repos (the PageRank link graph, with hubs and cycles; see
  MIN_REPO_FILES). The graph -- which repo owns each file and what each
  file imports -- depends on the corpus size only, not on the seed;
- planted multi-word phrases (quoted-phrase queries read positions);
- a long-tail identifier vocabulary, a few identifiers per file, larger
  than the serving tier's postings-cache cap.

Generation is pure Python/NumPy (~1 s per 5k files); results are cached on
disk keyed by (seed, size, hash of this file).
"""

from __future__ import annotations

import hashlib
import os
import pickle
from pathlib import Path

import numpy as np

ENGLISH = (
    "system query index search engine result token document cluster "
    "partition shuffle merge sort filter scan join aggregate stream batch "
    "vector matrix graph node edge rank score weight cache buffer memory "
    "disk network socket thread process worker master client server table "
    "column value record field schema parser lexer compiler runtime stack "
    "heap queue list array string number integer float double boolean flag "
    "option config setting param input output error warning message logger "
    "handler router request response session cookie header body status code "
    "test assert mock fixture suite runner report metric gauge counter timer "
    "relational connection retrieval ranking positional frequency inverse "
    "the of and to in is for with on by this that from as be are"
).split()
HOT_TERM = "data"
PLANTED = (
    "quick brown fox jumps",
    "lazy river stone bridge",
    "silver kettle morning light",
    "paper lantern harbor wind",
)
LANGS = ("py", "java", "js", "go", "md")
IDENT_PARTS = (
    "get set load save parse build make run exec fetch send recv open close "
    "read write push pull sync async init free alloc map fold scan emit"
).split()
_SYL = (
    "ka ve lo mi su ra ne to pi gu ba de fo ri zu qua xen tor mel vin dak "
    "pol sar gim hul jex wen yor bri cal dom fen gar hex"
).split()

# With at least 4 files per repo and 1-4 imports per file the link graph is
# well mixed: PageRank converges in 5-9 rounds. (With single-file repos and
# import-free files the round count swings between 7 and 35 by seed.) Even
# 5 against 6 rounds moves build time by ~15%, so the graph is drawn from a
# generator keyed by the corpus size alone (GRAPH_KEY): every seed of one
# size builds the same graph and pays for the same number of rounds.
MIN_REPO_FILES = 4
GRAPH_KEY = 19
N_PARTS = 16

GEN_HASH = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def tail_term(i: int) -> str:
    """The i-th long-tail identifier: a syllable string unique per i, never
    an English word and never shorter than 5 letters."""
    n = len(_SYL)
    parts = [_SYL[i % n], _SYL[(i // n) % n], _SYL[(i // (n * n)) % n]]
    return "".join(parts) + "x" + format(i, "x")


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def generate_corpus(seed: int, n_files: int) -> dict:
    """Columns as lists plus the tail vocabulary actually present."""
    rng = np.random.default_rng([seed, n_files, 17])
    graph = np.random.default_rng([n_files, GRAPH_KEY])
    n_repos = max(8, n_files // 40)
    repos = [f"org{i % 7}/repo{i}" for i in range(n_repos)]
    modules = [r.replace("/", "_") for r in repos]
    # every repo owns at least MIN_REPO_FILES files, the rest go Zipf
    repo_of = np.concatenate([
        np.repeat(np.arange(n_repos), MIN_REPO_FILES),
        graph.choice(n_repos, size=n_files - MIN_REPO_FILES * n_repos,
                     p=_zipf_weights(n_repos, 1.2)),
    ])
    repo_of = repo_of[graph.permutation(n_files)]
    # import targets favour popular repos (hubs), in a shuffled order so
    # the most-imported repo is not always the largest one
    pop = graph.permutation(n_repos)
    import_p = _zipf_weights(n_repos, 1.0)[np.argsort(pop)]
    imports = [graph.choice(n_repos, size=int(graph.integers(1, 5)), p=import_p)
               for _ in range(n_files)]
    n_tail = max(16_000, 3 * n_files)
    eng_p = _zipf_weights(len(ENGLISH), 1.1)

    cols = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    tail_present: set[int] = set()
    seen = {}
    hexd = np.array(list("0123456789abcdef"))
    commits = rng.choice(hexd, size=(n_files, 40))
    langs = rng.integers(0, len(LANGS), size=n_files)
    for i in range(n_files):
        ri = int(repo_of[i])
        k = seen.get(ri, 0)
        seen[ri] = k + 1
        lang = LANGS[int(langs[i])]
        lines = []
        for tgt in imports[i]:
            if int(tgt) != ri:
                lines.append(f"import {modules[int(tgt)]}")
        tails = rng.integers(0, n_tail, size=int(rng.integers(2, 6)))
        tail_present.update(int(t) for t in tails)
        for _ in range(int(rng.integers(1, 4))):
            a, b = rng.choice(IDENT_PARTS, size=2)
            t = tail_term(int(tails[int(rng.integers(0, len(tails)))]))
            lines.append(f"def {a}_{b}_{t}(value):")
            lines.append(f"    result = {a.capitalize()}{b.capitalize()}Handler(value)")
            lines.append("    return result")
        words = rng.choice(ENGLISH, size=int(rng.integers(8, 40)), p=eng_p).tolist()
        if rng.random() < 0.6:
            words.insert(int(rng.integers(0, len(words) + 1)), HOT_TERM)
        words.extend(tail_term(int(t)) for t in tails)
        lines.append("# " + " ".join(words))
        if rng.random() < 0.06:
            lines.append(f"# note: {PLANTED[int(rng.integers(0, len(PLANTED)))]} today")
        cols["repo"].append(repos[ri])
        cols["path"].append(f"src/pkg{k % 5}/file{k}.{lang}")
        cols["commit"].append("".join(commits[i]))
        cols["lang"].append(lang)
        cols["content"].append("\n".join(lines))
    cols["tail_vocab"] = sorted(tail_present)
    return cols


def _typo(word: str, rng: np.random.Generator) -> str:
    i = int(rng.integers(1, len(word) - 1))
    return word[:i] + "q" + word[i + 1 :]


def _blocks(rng: np.random.Generator, n: int, pattern: list) -> list:
    """``n`` items laid out in blocks of ``len(pattern)``, each block a
    permutation of ``pattern``: every block has the exact mix, so the mix
    of a run's requests does not vary with the seed."""
    out: list = []
    while len(out) < n:
        out.extend(pattern[int(i)] for i in rng.permutation(len(pattern)))
    return out[:n]


TAIL_KINDS = ["phrase"] * 2 + ["exclude"] + ["lang"] * 2 + ["typo"] + ["plain"] * 14


def tail_queries(corpus: dict, seed: int, n: int) -> list[str]:
    """Long-tail stream: every query distinct, 1-4 terms Zipf(0.8) over the
    present tail vocabulary (shuffled by seed), 30% plus one common word;
    per 20 queries exactly 2 quoted phrases (10%), 1
    ``-exclusion`` (5%), 2 ``lang:`` filters (10%) and 1 zero-hit typo
    (5%, the did-you-mean path)."""
    rng = np.random.default_rng([seed, 23])
    vocab = np.array([tail_term(t) for t in corpus["tail_vocab"]])
    vocab = vocab[rng.permutation(len(vocab))]
    p = _zipf_weights(len(vocab), 0.8)
    known = set(vocab.tolist())
    kinds = _blocks(rng, n, TAIL_KINDS)
    sizes = _blocks(rng, n, [1, 2, 3, 4] * 5)
    common = _blocks(rng, n, [True] * 6 + [False] * 14)
    out, seen = [], set()
    for kind, size, with_common in zip(kinds, sizes, common):
        while True:
            terms = rng.choice(vocab, size=size, p=p).tolist()
            if kind == "typo":
                q = _typo(terms[0], rng)
                if q in known:
                    continue
            else:
                if with_common:
                    terms.insert(int(rng.integers(0, size + 1)), str(rng.choice(ENGLISH[:60])))
                q = " ".join(terms)
                if kind == "phrase":
                    q = f'"{PLANTED[int(rng.integers(0, len(PLANTED)))]}" {q}'
                elif kind == "exclude":
                    q = f"{q} {HOT_TERM} -{rng.choice(ENGLISH[:30])}"
                elif kind == "lang":
                    q = f"{q} lang:{LANGS[int(rng.integers(0, len(LANGS)))]}"
            if q not in seen:
                break
        seen.add(q)
        out.append(q)
    return out


def head_pool(corpus: dict, seed: int, n: int) -> list[str]:
    """``n`` distinct popular queries (1-3 common words, sometimes a
    tail identifier), listed in popularity order."""
    rng = np.random.default_rng([seed, 29])
    vocab = np.array([tail_term(t) for t in corpus["tail_vocab"][:2000]])
    p = _zipf_weights(60, 1.0)
    out, seen = [], set()
    while len(out) < n:
        words = rng.choice(ENGLISH[:60], size=int(rng.integers(1, 4)), p=p).tolist()
        if rng.random() < 0.3:
            words.append(str(rng.choice(vocab)))
        if rng.random() < 0.3:
            words.insert(0, HOT_TERM)
        q = " ".join(words)
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def head_stream(pool: list[str], seed: int, n: int) -> list[str]:
    """``n`` requests drawn Zipf(1) over the pool's popularity order."""
    rng = np.random.default_rng([seed, 31])
    idx = rng.choice(len(pool), size=n, p=_zipf_weights(len(pool), 1.0))
    return [pool[int(i)] for i in idx]


def query_log(corpus: dict, seed: int, n: int) -> list[str]:
    """Batch query log: half popular, half long-tail queries."""
    pool = head_pool(corpus, seed, n // 2)
    tail = tail_queries(corpus, seed, n - len(pool))
    rng = np.random.default_rng([seed, 37])
    log = pool + tail
    return [log[int(i)] for i in rng.permutation(len(log))]


def cached_corpus(cache_dir: Path, seed: int, n_files: int) -> tuple[dict, Path]:
    """The corpus and a directory of N_PARTS parquet files holding it (so
    the scan runs in parallel without a repartition), generated once per
    (seed, size, generator hash)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = f"corpus-{seed}-{n_files}-{GEN_HASH}"
    root = cache_dir / key
    pkl = root / "corpus.pkl"
    if pkl.exists():
        with open(pkl, "rb") as f:
            return pickle.load(f), root / "parquet"
    corpus = generate_corpus(seed, n_files)
    tmp = cache_dir / (key + f".tmp{os.getpid()}")
    (tmp / "parquet").mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, n_files, N_PARTS + 1).astype(int)
    names = ("repo", "path", "commit", "lang", "content")
    for j in range(N_PARTS):
        lo, hi = bounds[j], bounds[j + 1]
        pq.write_table(
            pa.table({c: corpus[c][lo:hi] for c in names}),
            tmp / "parquet" / f"part-{j:05d}.parquet",
        )
    with open(tmp / "corpus.pkl", "wb") as f:
        pickle.dump(corpus, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, root)
    return corpus, root / "parquet"
