"""Second bench scale point (VERDICT r3 #8): the headline bench runs at
sf0.1 (20 k docs), where the stored-index story is trivial — this tool
produces the BENCH-adjacent artifact at a WAND-relevant corpus size so the
bench record itself shows the dispatcher winning above the crossover.

Times, on the persisted compressed index (cached under /tmp, built if
missing) with the standard 50-query reference batch:
    brute_top_k_stored  (unpruned decode)
    wand_top_k          (block-max pruning)
    dispatch_top_k      (volume-aware dispatch + its actual decision)
Writes BENCH/SCALE_POINT.json. Rank-identity asserted across all three.

Usage: python tools/scale_point.py [n_docs] [--runs R]   (default 3840000, 1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark
    from tools.wand_crossover import _rank_key, _time_best, ensure_index

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 3_840_000
    runs = 1
    for i, a in enumerate(sys.argv):
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1] if "=" in a else sys.argv[i + 1])

    spark = get_spark("gr-scale-point", cores=32, shuffle_partitions=32)
    idx_path = ensure_index(spark, n_docs)
    stored = StoredIndex(spark, idx_path)
    nb = stored.n_term_buckets
    blocks, cstats = stored.posting_blocks, stored.corpus_stats

    qset = corpus.reference_queries(50, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]

    plan_box: dict = {}

    def run_auto():
        out, plan = dispatch_top_k(
            spark, blocks, cstats, qlist, k=10, n_term_buckets=nb
        )
        plan_box.update(plan)
        return out

    t_brute, r_brute = _time_best(
        lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=10, n_term_buckets=nb),
        runs,
    )
    t_wand, r_wand = _time_best(
        lambda: wand_top_k(spark, blocks, cstats, qlist, k=10, n_term_buckets=nb), runs
    )
    t_auto, r_auto = _time_best(run_auto, runs)
    assert _rank_key(r_brute) == _rank_key(r_wand) == _rank_key(r_auto)

    out = {
        "metric": "gr_spark_scale_point",
        "unit": "sec",
        "n_docs": n_docs,
        "runs": runs,
        "batch": "reference_queries(50, seed=42), k=10",
        "brute_stored_sec": round(t_brute, 2),
        "wand_sec": round(t_wand, 2),
        "auto_sec": round(t_auto, 2),
        "auto_vs_brute_stored_speedup": round(t_brute / t_auto, 2),
        "auto_dispatch": dict(plan_box),
        "rank_identical": True,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SCALE_POINT.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
