"""Seeded benchmark inputs and their oracle answers, cached per seed and size.

Generation runs once per (seed, docs) in a checkout, before Spark
starts, so it stays out of every timed region and out of ``setup_s`` and
does not warm the JVM that the run then measures:

- the corpus holds the rows of ``corpus.synth_corpus(spark, docs, seed)``,
  generated by the same per-row function in ``nproc`` child processes, each
  writing one Parquet file of a contiguous range of rows;
- the pool of ``QUERIES`` queries comes from ``corpus.reference_queries``
  (1-6 terms drawn from hot, mid and absent vocabularies);
- the expected answers come from ``oracle.py``: corpus stats, every term's
  document frequency, and the top-k of every pool query.

The digest covers the doc ids, a hash of every document and the query
strings, so two runs with equal digests searched identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os
import shutil
import subprocess
import sys
from concurrent.futures import ProcessPoolExecutor

import pandas as pd

K = 10
QUERIES = 100


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.endswith(".crc"):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def doc_id(repo: str, path: str, commit: str) -> int:
    """The engine's doc id, ``xxhash64(repo, path, commit)``: Spark chains
    the hash through the columns, each result seeding the next."""
    from goldenretriever_spark.xxh64 import xxh64

    h = 42
    for col in (repo, path, commit):
        h = xxh64(col.encode("utf-8"), h)
    return h - (1 << 64) if h >= 1 << 63 else h


def _write_part(seed: int, start: int, count: int, path: str) -> None:
    """Child process: write rows [start, start+count) of the corpus."""
    from goldenretriever_spark import corpus

    corpus.synth_corpus_pandas_range(start, count, seed).to_parquet(path, index=False)


_ORACLE = None


def _oracle_top_k(text: str) -> list[tuple[int, float]]:
    from goldenretriever_spark import oracle

    return oracle.top_k(_ORACLE, text, k=K)


def prepare(cache_root: str, seed: int, n_docs: int, workers: int) -> dict:
    """Return the cached inputs for ``seed``, generating them if missing.

    Keys: corpus_path, corpus_bytes, digest, queries [(qid, text)],
    answers {qid: [(doc_id, score)]}, n_docs, avgdl, df {term: df}.
    """
    root = os.path.join(cache_root, f"seed{seed}-docs{n_docs}")
    meta_path = os.path.join(root, "expected.json")
    if not os.path.exists(meta_path):
        _generate(root, seed, n_docs, workers)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["corpus_path"] = os.path.join(root, "corpus.parquet")
    meta["queries"] = [tuple(q) for q in meta["queries"]]
    meta["answers"] = {int(q): [tuple(a) for a in v] for q, v in meta["answers"].items()}
    return meta


def _generate(root: str, seed: int, n_docs: int, workers: int) -> None:
    from goldenretriever_spark import corpus, oracle

    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus_path = os.path.join(tmp, "corpus.parquet")
    os.makedirs(corpus_path)
    bounds = [n_docs * w // workers for w in range(workers + 1)]
    files = [os.path.join(corpus_path, f"part-{w:05d}.parquet") for w in range(workers)]
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__), str(seed),
                               str(bounds[w]), str(bounds[w + 1] - bounds[w]), files[w]])
             for w in range(workers)]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"corpus generation failed: exit codes {codes}")
    docs = sorted(
        (doc_id(r.repo, r.path, r.commit), r.content)
        for f in files for r in pd.read_parquet(f).itertuples()
    )
    if len({d for d, _ in docs}) != len(docs):
        raise RuntimeError(f"doc_id collision in seed {seed} corpus")
    global _ORACLE
    _ORACLE = oidx = oracle.build_oracle_index(docs)

    qdf = corpus.reference_queries(QUERIES, seed=seed)
    queries = [(int(r.query_id), r.query_str) for r in qdf.itertuples()]
    # forked workers inherit the oracle index instead of pickling it
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as pool:
        answers = dict(zip((q for q, _ in queries),
                           pool.map(_oracle_top_k, (t for _, t in queries))))
    _ORACLE = None

    h = hashlib.sha256()
    for did, content in docs:
        h.update(f"{did}:{hashlib.sha256(content.encode()).hexdigest()}\n".encode())
    for qid, text in queries:
        h.update(f"q{qid}:{text}\n".encode())

    meta = {
        "seed": seed,
        "n_docs": oidx.n_docs,
        "avgdl": oidx.avgdl,
        "corpus_bytes": dir_bytes(corpus_path),
        "digest": h.hexdigest()[:16],
        "queries": queries,
        "answers": {str(q): a for q, a in answers.items()},
        "df": {t: len(p) for t, p in oidx.postings.items()},
    }
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    # flush the new files now, so their write-back does not overlap the
    # measured build that follows
    os.sync()


def answer_errors(rows, expected: dict[int, list[tuple[int, float]]], qids) -> list[str]:
    """Differences between served rows and the oracle top-k for ``qids``:
    doc ids must be identical in rank order, scores within 1e-9."""
    got: dict[int, list[tuple[int, int, float]]] = {q: [] for q in qids}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    errors = []
    for qid in qids:
        served = [(d, s) for _, d, s in sorted(got[qid])]
        want = expected[qid]
        if [d for d, _ in served] != [d for d, _ in want]:
            errors.append(f"q{qid}: doc ids {served} != oracle {want}")
            continue
        for (d, s), (_, o) in zip(served, want):
            if not math.isclose(s, o, rel_tol=1e-9, abs_tol=1e-9):
                errors.append(f"q{qid} doc {d}: score {s!r} != oracle {o!r}")
    extra = set(got) - set(qids)
    if extra:
        errors.append(f"rows for queries not asked: {sorted(extra)}")
    return errors


if __name__ == "__main__":
    _write_part(int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
