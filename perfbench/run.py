"""Retrieval benchmark for goldenretriever_spark.

    python3 perfbench/run.py --workload serve_interactive --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

One run starts Spark as local[nproc], prepares (or reuses) the seeded inputs
and their oracle answers, builds the index with ``build_resumable`` into a
fresh directory, opens it with ``StoredIndex`` and drives ``search(...)
.collect()`` as a closed loop with one client for ``--seconds``. Every answer
and every build is checked against ``oracle.py``.

It prints one ``metric`` line per metric, a ``context`` line with the host,
versions and input digest, and as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics, taken from Spark's
status store around each call; spans go to ``.perfbench/trace-*.jsonl``.

``--workload all`` runs every workload untraced and then traced, prints
every metric of both and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("serve_interactive", "serve_batch")


def _import_paths() -> None:
    """Let this process and Spark's Python workers import the engine from
    any working directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def run_one(args) -> int:
    from workloads import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.docs, WORK_DIR)
    result = run.execute()
    print("context " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "calls": result["calls"], **result["context"],
    }))
    for err in run.errors:
        print(f"error {err}")
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value} {unit}")
    if not args.trace:
        print(f"metric failed_share = {run.failed / run.attempted} ratio")
        t = result["search_tail"]
        print("metric search_tail_ms = "
              + (f"{t[1]} ms (p{t[0]:.1f} of {result['calls']} calls)" if t else
                 f"n/a ms (needs 11 calls, got {result['calls']})"))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload untraced, then traced, as child processes."""
    ok = True
    for workload in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            if args.docs:
                cmd += ["--docs", str(args.docs)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} trace={trace} exited {proc.returncode}")
                return 1
            for line in lines[:-1]:
                print(f"[{workload} trace={trace}] {line}")
            results[trace] = json.loads(lines[-1])
            ok = ok and results[trace]["correct"]
        untraced = results[0]["metrics"]["search_p50_ms"]["value"]
        traced = results[1]["metrics"]["trace.search_p50_ms"]["value"]
        print(f"[{workload}] metric trace.overhead_ms = {traced - untraced} ms "
              f"(traced search_p50_ms {traced} - untraced {untraced})")
    print(json.dumps({"correct": ok}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="corpus size (default: the workload's own)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "goldenretriever_spark", "__init__.py")):
        print(f"goldenretriever_spark not found next to {HERE}", file=sys.stderr)
        return 2
    _import_paths()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
