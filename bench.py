"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys (consumed by tools/scaling_bench.py -> BENCH/BASELINE.md):
    build_docs, build_files_per_sec — index-build throughput on the seeded
    synthetic source-code corpus (BASELINE.json's files/sec metric).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_DOCS (synthetic corpus size, default 20000).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
CORPUS_CACHE = f"/tmp/gr_bench_corpus_{BENCH_DOCS}.parquet"


def main() -> None:
    from pyspark.sql import functions as F

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark

    spark = get_spark("gr-bench", cores=CPUS, shuffle_partitions=max(CPUS, 8))
    timings: dict[str, float] = {}

    # -- corpus: generate once per size, cache as parquet so the build bench
    #    measures indexing, not generation
    if not os.path.exists(CORPUS_CACHE):
        corpus.synth_corpus(spark, BENCH_DOCS, seed=42).write.mode("overwrite").parquet(
            CORPUS_CACHE
        )
    docs = spark.read.parquet(CORPUS_CACHE)

    # Warmup + best-of-2 discipline (VERDICT r4 #3): the driver records a
    # SINGLE cold sample on a host with a measured ±25% ambient band; a cold
    # JVM pays JIT/codegen compilation and Python-worker spin-up on whichever
    # query runs first, which manufactured phantom cross-round regressions.
    # Every headline query below therefore runs ONE untimed warmup pass and
    # records the BEST of two timed passes — the same steady-state rationale
    # as the scaling protocol in BENCH/BASELINE.md; min-of-2 clips the
    # one-sided ambient tail the warmup alone cannot.
    def timed_best(fn, reps: int = 2) -> float:
        fn()  # untimed warmup
        best = None
        for _ in range(reps):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return best

    built: dict = {}

    def bench_build():
        idx = build_index(docs, tokenizer="simple")
        blocks = pack_blocks(idx, block_size=128, target_docs_per_group=250_000)
        built["idx"], built["blocks"], built["n"] = idx, blocks, blocks.count()

    # -- q1: full index build (postings + stats + compressed blocks) ---------
    timings["ir_index_build"] = timed_best(bench_build)
    idx, blocks, n_blocks = built["idx"], built["blocks"], built["n"]
    build_files_per_sec = BENCH_DOCS / timings["ir_index_build"]

    # cache stats for the query benches (a production index is prebuilt)
    for df in (idx.postings, idx.doc_stats, idx.corpus_stats, idx.term_stats):
        df.cache().count()
    blocks = blocks.cache()
    blocks.count()

    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]

    # -- q2: brute-force BM25, 50-query batch --------------------------------
    def bench_brute():
        terms = bm25.query_terms_df(spark, qlist)
        bm25.top_k(idx, terms, k=10).count()

    timings["bm25_brute_batch50"] = timed_best(bench_brute)

    # -- q3: stored-index top-k with measured brute/WAND dispatch ------------
    # dispatch_top_k routes the WHOLE batch by the share of estimated decode
    # volume (Σdf per query vs the measured crossover) sitting in heavy
    # queries (one path per batch: a per-query split measured slower,
    # BENCH/WAND_MIXED.json). Both raw paths are timed below as diagnostics.
    # The recorded auto_path/dispatch is the decision the dispatcher ACTUALLY
    # took, not a re-derivation.
    plan_box: dict = {}

    def bench_auto():
        out, plan = dispatch_top_k(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        )
        out.count()
        plan_box.clear()
        plan_box.update(plan)

    timings["bm25_stored_auto_batch50"] = timed_best(bench_auto)

    diagnostics: dict[str, object] = {
        "auto_path": plan_box["path"],
        "dispatch": dict(plan_box),
        "new_rows_r6": ["ir_positional_build", "ir_phrase_stored_batch4"],
    }

    def bench_wand():
        wand_top_k(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        ).count()

    def bench_brute_stored():
        brute_top_k_stored(
            spark, blocks, idx.corpus_stats, qlist, k=10, n_term_buckets=None
        ).count()

    diagnostics["raw_wand_batch50_sec"] = round(timed_best(bench_wand), 3)
    diagnostics["raw_brute_stored_batch50_sec"] = round(
        timed_best(bench_brute_stored), 3
    )

    # -- q3b (r6): positional pack + stored phrase serving -------------------
    # NOTE new rows in r6 (the round's headliner capability): the headline
    # total is therefore NOT comparable to BENCH_r05 totals; per-row
    # comparisons remain valid. Pack timing executes the full positional
    # plan; the serve row reads from partitioned parquet so term_bucket
    # partition pruning is exercised exactly as in production.
    from goldenretriever_spark.index.positions import pack_positional_blocks
    from goldenretriever_spark.query.phrase import phrase_match_stored_batch

    POS_CACHE = f"/tmp/gr_bench_posblocks_{BENCH_DOCS}"

    def bench_pos_pack():
        pack_positional_blocks(docs, postings=idx.postings).count()

    timings["ir_positional_build"] = timed_best(bench_pos_pack)
    if not os.path.exists(os.path.join(POS_CACHE, "_SUCCESS")):
        pack_positional_blocks(docs, postings=idx.postings).write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(POS_CACHE)
    pos_blocks = spark.read.parquet(POS_CACHE)
    phrase_batch = [
        (0, ["def", "return"]),
        (1, ["#", "todo"]),
        (2, ["import", "os"]),
        (3, ["def", "return", "import"]),
    ]

    def bench_phrase_stored():
        phrase_match_stored_batch(pos_blocks, phrase_batch, n_term_buckets=64).count()

    timings["ir_phrase_stored_batch4"] = timed_best(bench_phrase_stored)

    # -- q4: TPC-H-ish pricing summary (agg) over sf lineitem ----------------
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    def bench_pricing():
        (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )

    timings["tpch_q1_pricing"] = timed_best(bench_pricing)

    # -- q5: join + top-k over orders/customer -------------------------------
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")

    def bench_join_topk():
        (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "revenue"
                )
            )
            .orderBy(F.desc("revenue"))
            .limit(5)
            .collect()
        )

    timings["tpch_q3_join_topk"] = timed_best(bench_join_topk)

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "gr_spark_headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "sf": SF_DIR,
                "cpus": CPUS,
                "build_docs": BENCH_DOCS,
                "build_files_per_sec": round(build_files_per_sec, 1),
                "n_posting_blocks": n_blocks,
                "diagnostics": diagnostics,
            }
        )
    )


if __name__ == "__main__":
    main()
