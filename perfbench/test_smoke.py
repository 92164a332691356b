"""The benchmark's own tests: a tiny-size run of every workload prints every
metric, and a tree without the engine fails without printing a result.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke run starts four Spark sessions (each workload untraced and traced)
and takes a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")

sys.path.insert(0, HERE)

# printed with the end-to-end metrics; not in BENCHMARK.json because they are
# 0 or undefined on a healthy run (see README.md)
EXTRA_E2E = ("failed_share", "search_tail_ms")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tail_needs_ten_samples_beyond():
    from workloads import tail

    assert tail(list(range(10))) is None
    assert tail([float(v) for v in range(11)]) == (100.0 / 11, 0.0)
    pct, value = tail([float(v) for v in range(100)])
    assert (pct, value) == (90.0, 89.0)


def test_answer_errors_flags_rank_and_score_differences():
    from inputs import answer_errors

    want = {1: [(10, 2.0), (11, 1.0)]}
    row = lambda q, d, s, r: {"query_id": q, "doc_id": d, "score": s, "rank": r}  # noqa: E731
    assert answer_errors([row(1, 10, 2.0, 1), row(1, 11, 1.0, 2)], want, [1]) == []
    assert answer_errors([row(1, 11, 1.0, 1), row(1, 10, 2.0, 2)], want, [1])
    assert answer_errors([row(1, 10, 2.0 + 1e-6, 1), row(1, 11, 1.0, 2)], want, [1])
    assert answer_errors([row(1, 10, 2.0, 1)], want, [1])


def test_every_metric_is_printed_at_tiny_size():
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "all", "--seed", "1", "--seconds", "1",
         "--docs", "300"],
        stdout=subprocess.PIPE, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stdout[-3000:]
    out = proc.stdout
    assert json.loads(out.strip().splitlines()[-1]) == {"correct": True}
    for w in spec["workloads"]:
        name = w["name"]
        for m in [*(m["name"] for m in spec["end_to_end"]), *EXTRA_E2E]:
            assert f"[{name} trace=0] metric {m} = " in out, (name, m)
        for m in spec["per_layer"]:
            assert f"[{name} trace=1] metric {m['name']} = " in out, (name, m["name"])
        assert f"[{name}] metric trace.overhead_ms = " in out
        assert f"[{name} trace=0] context " in out


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
