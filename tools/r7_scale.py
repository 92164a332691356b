"""Round-7 optimization scale check at the r6 scale point (3.84M docs).

Re-measures the r7-optimized stored paths against the ROUND-6 artifact
numbers recorded on the same host class (BENCH/PHRASE_SCALE.json,
BENCH/WAND_SWEEP.json), and adds the filtered-retrieval cell VERDICT r6 #3
asked for: a selective boolean filter (<1% of docs) must materially beat
the unfiltered query AND the r6-shaped semi-join plan (pushdown=False).

Loadavg is recorded per cell — the sandbox shares a host with noisy
neighbors (see the r6 drift note) and cross-ROUND deltas carry that caveat;
the pushdown-vs-semi-join and filtered-vs-unfiltered comparisons are
same-session, interleaved, and trustworthy.

Usage: python tools/r7_scale.py [n_docs] (default 3840000)
Writes BENCH/R7_SCALE.json progressively.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "BENCH", "R7_SCALE.json")

PHRASES = [["def", "return"], ["#", "todo"], ["def", "return", "import"]]
PROX_TERMS = ["def", "return", "todo"]
PROX_WINDOW = 8

R6 = {  # round-6 artifact numbers at 3.84M docs (same host class)
    "positional_build_sec": 369.4,
    "phrase_stored_sec": {"def return": 132.97, "# todo": 76.22, "def return import": 86.07},
    "proximity_stored_sec": 79.15,
    "brute_qlen1_k10_sec": 41.73,
    "auto_qlen1_k10_sec": 34.8,
    "wand_qlen5_k10_sec": 61.22,
    "auto_qlen5_k10_sec": 64.3,
}


def loadavg() -> float:
    return float(open("/proc/loadavg").read().split()[0])


def best(fn, runs=2):
    t_best, rows = None, None
    for _ in range(runs):
        t0 = time.time()
        r = fn().collect()
        dt = time.time() - t0
        if t_best is None or dt < t_best:
            t_best, rows = dt, r
    return t_best, rows


def main() -> None:
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.storage import StoredIndex
    from goldenretriever_spark.query.boolean import filtered_top_k
    from goldenretriever_spark.query.phrase import (
        phrase_match_stored,
        proximity_match_stored,
    )
    from goldenretriever_spark.query.wand import (
        brute_top_k_stored,
        dispatch_top_k,
        wand_top_k,
    )
    from goldenretriever_spark.session import get_spark
    from pyspark.sql import functions as F
    from tools.phrase_scale import ensure_positional
    from tools.wand_crossover import N_BUCKETS, ensure_index

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 3_840_000
    out: dict = {"metric": "gr_spark_r7_scale", "unit": "sec", "n_docs": n_docs,
                 "r6_reference": R6, "loadavg_start": loadavg()}
    # resume: keep completed cells from a previous (partial) run
    if os.path.exists(OUT):
        try:
            prev = json.load(open(OUT))
            if prev.get("n_docs") == n_docs:
                out.update({k: v for k, v in prev.items() if k not in out})
        except Exception:
            pass

    def flush():
        with open(OUT, "w") as f:
            json.dump(out, f, indent=1)

    spark = get_spark("gr-r7-scale", cores=32, shuffle_partitions=32)
    sc = spark.sparkContext

    t0 = time.time()
    idx_path = ensure_index(spark, n_docs)
    out["index_build_or_open_sec"] = round(time.time() - t0, 1)
    out["loadavg_after_build"] = loadavg()
    flush()

    t_pos = ensure_positional(spark, idx_path, n_docs, N_BUCKETS)
    out["positional_build_sec"] = round(t_pos, 1)
    out["loadavg_after_pos"] = loadavg()
    flush()

    stored = StoredIndex(spark, idx_path)
    nb = stored.n_term_buckets
    pos_blocks = stored.positional_blocks
    blocks, cstats = stored.posting_blocks, stored.corpus_stats

    # ---- stored phrase / proximity (vs r6 stored numbers) ----
    cells = out.get("phrase_cells", [])
    done_phrases = {c["phrase"] for c in cells}
    for ph in [p for p in PHRASES if " ".join(p) not in done_phrases]:
        sc.setJobDescription(f"r7_scale phrase {' '.join(ph)}")
        t, rows = best(lambda p=ph: phrase_match_stored(pos_blocks, p, n_term_buckets=nb))
        cells.append({"phrase": " ".join(ph), "n_match": len(rows),
                      "stored_sec": round(t, 2),
                      "r6_stored_sec": R6["phrase_stored_sec"][" ".join(ph)],
                      "loadavg": loadavg()})
        out["phrase_cells"] = cells
        flush()
        print(json.dumps(cells[-1]), flush=True)

    if "proximity_cell" not in out:
        sc.setJobDescription("r7_scale proximity")
        t, rows = best(lambda: proximity_match_stored(pos_blocks, PROX_TERMS, PROX_WINDOW, n_term_buckets=nb))
        out["proximity_cell"] = {"terms": " ".join(PROX_TERMS), "window": PROX_WINDOW,
                                 "n_match": len(rows), "stored_sec": round(t, 2),
                                 "r6_stored_sec": R6["proximity_stored_sec"],
                                 "loadavg": loadavg()}
        flush()
        print(json.dumps(out["proximity_cell"]), flush=True)

    # ---- BM25 stored cells (vs r6 WAND_SWEEP) ----
    def rank_key(rows):
        return sorted((r["query_id"], r["rank"], r["doc_id"]) for r in rows)

    bm25_cells = out.get("bm25_cells", [])
    done_qlens = {c["query_len"] for c in bm25_cells}
    for qlen, which in [(1, ("brute", "auto")), (5, ("wand", "auto"))]:
        if qlen in done_qlens:
            continue
        qset = corpus.fixed_length_queries(50, n_terms=qlen, seed=42)
        qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]
        cell = {"query_len": qlen, "k": 10, "batch": 50}
        if "brute" in which:
            sc.setJobDescription(f"r7_scale brute qlen{qlen}")
            t, r_b = best(lambda: brute_top_k_stored(spark, blocks, cstats, qlist, k=10, n_term_buckets=nb))
            cell["brute_stored_sec"] = round(t, 2)
            cell["r6_brute_stored_sec"] = R6[f"brute_qlen{qlen}_k10_sec"]
        if "wand" in which:
            sc.setJobDescription(f"r7_scale wand qlen{qlen}")
            t, r_w = best(lambda: wand_top_k(spark, blocks, cstats, qlist, k=10, n_term_buckets=nb))
            cell["wand_sec"] = round(t, 2)
            cell["r6_wand_sec"] = R6[f"wand_qlen{qlen}_k10_sec"]
        sc.setJobDescription(f"r7_scale auto qlen{qlen}")
        t, r_a = best(lambda: dispatch_top_k(spark, blocks, cstats, qlist, k=10, n_term_buckets=nb)[0])
        cell["auto_sec"] = round(t, 2)
        cell["r6_auto_sec"] = R6[f"auto_qlen{qlen}_k10_sec"]
        cell["loadavg"] = loadavg()
        bm25_cells.append(cell)
        out["bm25_cells"] = bm25_cells
        flush()
        print(json.dumps(cell), flush=True)

    # ---- filtered retrieval (VERDICT r6 #3 'Done' cell) ----
    # pick a selective must-term: df closest to ~0.5% of the corpus
    target_df = max(1, n_docs // 200)
    sel = (
        stored.term_stats.select("term", "df")
        .withColumn("d", F.abs(F.col("df") - F.lit(target_df)))
        .orderBy("d")
        .limit(1)
        .collect()[0]
    )
    sel_term, sel_df = sel["term"], int(sel["df"])
    out["filter_term"] = {"term": sel_term, "df": sel_df,
                          "selectivity": round(sel_df / n_docs, 5)}
    flush()

    qset = corpus.fixed_length_queries(50, n_terms=5, seed=42)
    qlist = [(int(r.query_id), r.query_str) for r in qset.itertuples()]

    sc.setJobDescription("r7_scale filtered pushdown")
    t_push, r_push = best(lambda: filtered_top_k(
        spark, blocks, cstats, qlist, k=10, must=[sel_term],
        n_term_buckets=nb, pushdown=True))
    sc.setJobDescription("r7_scale filtered semi-join (r6 shape)")
    t_semi, r_semi = best(lambda: filtered_top_k(
        spark, blocks, cstats, qlist, k=10, must=[sel_term],
        n_term_buckets=nb, pushdown=False))
    sc.setJobDescription("r7_scale unfiltered auto")
    t_unf, _ = best(lambda: dispatch_top_k(spark, blocks, cstats, qlist, k=10, n_term_buckets=nb)[0])
    out["filtered_cell"] = {
        "batch": 50, "query_len": 5, "k": 10,
        "pushdown_sec": round(t_push, 2),
        "semi_join_sec_r6_shape": round(t_semi, 2),
        "unfiltered_auto_sec": round(t_unf, 2),
        "pushdown_vs_semi_speedup": round(t_semi / t_push, 2),
        "pushdown_vs_unfiltered_speedup": round(t_unf / t_push, 2),
        "identical_rows": rank_key(r_push) == rank_key(r_semi),
        "loadavg": loadavg(),
    }
    flush()
    print(json.dumps(out["filtered_cell"]), flush=True)
    print("wrote", OUT)


if __name__ == "__main__":
    main()
