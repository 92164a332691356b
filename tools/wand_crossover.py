"""Measure the WAND crossover: corpus size where block-max pruning beats the
unpruned decode of the same stored index (VERDICT r1 next-step #3).

Both contenders answer the SAME 50-query batch from the SAME persisted
compressed index (posting_blocks parquet, term-bucket partitioned):

- brute_top_k_stored: decode EVERY block of every query term, score, rank
- wand_top_k:         θ-seeded block pruning, decode survivors only

Identical storage + decode path, so the measured delta is exactly the
pruning machinery. Rank-identity is asserted on every run. Per corpus size,
best of --runs timings (host noise). Prints one JSON line per size plus a
summary; paste into BENCH/BASELINE.md.

Usage: python tools/wand_crossover.py [sizes_csv] [--runs R] [--k K]
Corpora/indexes are cached in /tmp across invocations.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BUCKETS = 64


def ensure_index(spark, n_docs: int) -> str:
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import write_index

    cache = f"/tmp/gr_bench_corpus_{n_docs}.parquet"
    idx_path = f"/tmp/gr_idx_{n_docs}"
    if not os.path.exists(cache):
        corpus.synth_corpus(spark, n_docs, seed=42, partitions=256).write.mode(
            "overwrite"
        ).parquet(cache)
    if not os.path.exists(os.path.join(idx_path, "corpus_stats")):
        docs = spark.read.parquet(cache)
        idx = build_index(docs, tokenizer="simple")
        blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000,
                             n_term_buckets=N_BUCKETS)
        write_index(idx, idx_path, blocks=blocks, n_term_buckets=N_BUCKETS)
    return idx_path


def _time_best(fn, runs: int):
    best = None
    rows = None
    for _ in range(runs):
        t0 = time.time()
        out = fn()
        r = out.collect()
        dt = time.time() - t0
        if best is None or dt < best:
            best, rows = dt, r
    return best, rows


def _rank_key(rows):
    return sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)


def sweep(n_docs: int, runs: int, ks: list[int], qlens: list[int]) -> None:
    """k x query-length crossover sweep at one corpus size (VERDICT r2 #8):
    WAND's advantage shrinks with large k (θ sits lower) and long queries
    (more terms -> higher sum-of-ub bounds -> fewer pruned blocks); one
    measured table makes the dispatch threshold trustworthy. Writes
    BENCH/WAND_SWEEP.json; rank-identity asserted in every cell."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark

    spark = get_spark("gr-wand-sweep", cores=32, shuffle_partitions=32)
    idx_path = ensure_index(spark, n_docs)
    stored = StoredIndex(spark, idx_path)
    nb = stored.n_term_buckets
    blocks, cstats = stored.posting_blocks, stored.corpus_stats

    cells = []
    for qlen in qlens:
        qset = corpus.fixed_length_queries(50, n_terms=qlen, seed=42)
        qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
        for k in ks:
            t_brute, r_brute = _time_best(
                lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=k,
                                           n_term_buckets=nb), runs)
            t_wand, r_wand = _time_best(
                lambda: wand_top_k(spark, blocks, cstats, qlist, k=k,
                                   n_term_buckets=nb), runs)
            cell = {
                "n_docs": n_docs, "k": k, "query_len": qlen,
                "brute_stored_sec": round(t_brute, 2),
                "wand_sec": round(t_wand, 2),
                "speedup": round(t_brute / t_wand, 2),
                "rank_identical": _rank_key(r_brute) == _rank_key(r_wand),
            }
            if k == 10:
                # the volume-aware dispatcher on this same batch: the
                # decision it ACTUALLY took (its plan) + its wall time —
                # the proof cell that 1-term batches route brute while
                # 5-term batches route WAND at the same corpus size
                plan_box = {}

                def run_auto():
                    out, plan = dispatch_top_k(
                        spark, blocks, cstats, qlist, k=10, n_term_buckets=nb
                    )
                    plan_box.update(plan)
                    return out

                t_auto_c, r_auto = _time_best(run_auto, runs)
                assert _rank_key(r_auto) == _rank_key(r_brute)
                cell["auto_sec"] = round(t_auto_c, 2)
                cell["auto_dispatch"] = plan_box
            cells.append(cell)
            print(json.dumps(cell), flush=True)

    # the dispatcher itself, on the standard 50-query reference batch: must
    # land within noise of the winning raw path at this corpus size
    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
    plan_box = {}

    def run_auto_ref():
        out, plan = dispatch_top_k(
            spark, blocks, cstats, qlist, k=10, n_term_buckets=nb
        )
        plan_box.update(plan)
        return out

    t_auto, _ = _time_best(run_auto_ref, runs)
    auto = {
        "auto_sec": round(t_auto, 2),
        "auto_path": plan_box.get("path"),
        "auto_dispatch": dict(plan_box),
    }
    print(json.dumps(auto), flush=True)

    os.makedirs(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH"), exist_ok=True)
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "WAND_SWEEP.json")
    with open(out_path, "w") as f:
        json.dump({"n_docs": n_docs, "runs": runs, "cells": cells, **auto}, f, indent=2)
    print(json.dumps({"sweep_cells": len(cells), "out": out_path}))


def mixed(n_docs: int, runs: int, k: int = 10) -> None:
    """VERDICT r4 #5 measurement cell: a 50/50 batch of 1-term and 5-term
    queries at a corpus size where the two halves sit on OPPOSITE sides of
    the decode-volume crossover. Times three routes on the same stored
    index: forced brute-stored, forced WAND and the dispatcher (whole batch
    routed by heavy-volume share, one single path). A per-query split
    route measured 0.62-0.67x of both forced single paths at 3.84 M docs
    and was removed; BENCH/WAND_MIXED.json keeps that measurement, so this
    cell writes BENCH/WAND_MIXED_DISPATCH.json. Rank-identity asserted
    across all routes."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark

    spark = get_spark("gr-wand-mixed", cores=32, shuffle_partitions=32)
    idx_path = ensure_index(spark, n_docs)
    stored = StoredIndex(spark, idx_path)
    nb = stored.n_term_buckets
    blocks, cstats = stored.posting_blocks, stored.corpus_stats

    q1 = corpus.fixed_length_queries(25, n_terms=1, seed=42)
    q5 = corpus.fixed_length_queries(25, n_terms=5, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in q1.itertuples()] + [
        (100 + int(r.query_id), r.query_str) for r in q5.itertuples()
    ]

    t_brute, r_brute = _time_best(
        lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=k,
                                   n_term_buckets=nb), runs)
    t_wand, r_wand = _time_best(
        lambda: wand_top_k(spark, blocks, cstats, qlist, k=k,
                           n_term_buckets=nb), runs)
    auto_box = {}

    def run_auto():
        out, plan = dispatch_top_k(
            spark, blocks, cstats, qlist, k=k, n_term_buckets=nb
        )
        auto_box.clear()
        auto_box.update(plan)
        return out

    t_auto, r_auto = _time_best(run_auto, runs)
    assert _rank_key(r_brute) == _rank_key(r_wand) == _rank_key(r_auto)
    cell = {
        "n_docs": n_docs, "k": k, "runs": runs,
        "batch": "25x1-term + 25x5-term",
        "forced_brute_stored_sec": round(t_brute, 2),
        "forced_wand_sec": round(t_wand, 2),
        "auto_default_sec": round(t_auto, 2),
        "auto_dispatch": dict(auto_box),
        "auto_within_noise_of_best_single": t_auto <= min(t_brute, t_wand) * 1.15,
        "rank_identical": True,
    }
    print(json.dumps(cell), flush=True)
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "WAND_MIXED_DISPATCH.json")
    with open(out_path, "w") as f:
        json.dump(cell, f, indent=2)


def main() -> None:
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import brute_top_k_stored, wand_top_k
    from goldenretriever_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sizes = [int(x) for x in (args[0].split(",") if args else ["240000", "960000", "1920000"])]
    runs, k = 2, 10
    ks, qlens = [10, 100], [1, 5]
    for i, a in enumerate(sys.argv):
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1] if "=" in a else sys.argv[i + 1])
        if a.startswith("--ks"):
            ks = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--k"):
            k = int(a.split("=", 1)[1] if "=" in a else sys.argv[i + 1])
        if a.startswith("--qlens"):
            qlens = [int(x) for x in a.split("=", 1)[1].split(",")]
    if "--sweep" in sys.argv:
        sweep(sizes[0], runs, ks, qlens)
        return
    if "--mixed" in sys.argv:
        mixed(sizes[0], runs, k)
        return

    spark = get_spark("gr-wand-crossover", cores=32, shuffle_partitions=32)
    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]

    results = []
    for n in sizes:
        idx_path = ensure_index(spark, n)
        stored = StoredIndex(spark, idx_path)
        nb = stored.n_term_buckets
        blocks, cstats = stored.posting_blocks, stored.corpus_stats

        def time_best(fn):
            best = None
            for _ in range(runs):
                t0 = time.time()
                out = fn()
                rows = out.collect()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            return best, rows

        t_brute, r_brute = time_best(
            lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=k,
                                       n_term_buckets=nb)
        )
        t_wand, r_wand = time_best(
            lambda: wand_top_k(spark, blocks, cstats, qlist, k=k, n_term_buckets=nb)
        )
        key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)  # noqa: E731
        identical = key(r_brute) == key(r_wand)
        row = {
            "n_docs": n,
            "brute_stored_sec": round(t_brute, 2),
            "wand_sec": round(t_wand, 2),
            "speedup": round(t_brute / t_wand, 2),
            "rank_identical": identical,
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    wins = [r for r in results if r["speedup"] > 1.0 and r["rank_identical"]]
    print(json.dumps({
        "crossover_n_docs": wins[0]["n_docs"] if wins else None,
        "results": results,
    }))


if __name__ == "__main__":
    main()
