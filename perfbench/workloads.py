"""The benchmark's workloads: a clean resumable build, then a closed loop of
``StoredIndex.search(...).collect()`` calls with one client.

``serve_interactive`` sends one query per call on a 2000-doc corpus, so
per-call fixed costs (dispatch, job launch, the Python-worker hand-off)
dominate. ``serve_batch`` sends the same query mix 50 queries per call on a
10 000-doc corpus, where decode, score and shuffle volume make up about 30%
of a call. Both build their index in set-up with
``checkpoint.build_resumable`` into a fresh directory, so the build layers
are measured on every run as well.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import time
import uuid
from datetime import timezone

import inputs
from probe import RssSampler, Tracer, stop_spark, total

QUERIES_PER_CALL = {"serve_interactive": 1, "serve_batch": 50}
# corpus docs; each new seed costs about 1.5 s of input generation per 1000
CORPUS_DOCS = {"serve_interactive": 2000, "serve_batch": 10_000}
WARMUP_CALLS = {"serve_interactive": 2, "serve_batch": 1}
# A cold build is dominated by per-job and per-file fixed costs; 16 buckets
# and one pack group (default 64 and 4) keep a whole run near 60 s while
# still running the staging checkpoint and the per-group pack path.
N_TERM_BUCKETS = 16
N_GROUPS = 1
DRIVER_MEMORY = "2g"
# index.<name>_bytes metric -> directory under the index
INDEX_PARTS = {"posting_blocks": "posting_blocks", "staging": "_staging_enriched",
               "doc_stats": "doc_stats", "term_stats": "term_stats"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def _index_bytes(path: str) -> dict[str, int]:
    out = {name: inputs.dir_bytes(os.path.join(path, d)) for name, d in INDEX_PARTS.items()}
    out["other"] = inputs.dir_bytes(path) - sum(out.values())
    return out


def _check_build(index_path: str, expected: dict) -> list[str]:
    """Corpus stats and every term's df of a built index against the oracle.
    Read with pandas, so the check adds no Spark job to the measured session."""
    import math

    import pandas as pd

    errors = []
    stats = pd.read_parquet(os.path.join(index_path, "corpus_stats")).iloc[0]
    if int(stats["n_docs"]) != expected["n_docs"] or not math.isclose(
        float(stats["avgdl"]), expected["avgdl"], rel_tol=1e-12
    ):
        errors.append(f"corpus_stats {dict(stats)} != oracle "
                      f"({expected['n_docs']}, {expected['avgdl']})")
    terms = pd.read_parquet(os.path.join(index_path, "term_stats"), columns=["term", "df"])
    got = dict(zip(terms["term"], terms["df"].astype(int)))
    if len(got) != len(terms) or got != expected["df"]:
        diff = sorted(set(got.items()) ^ set(expected["df"].items()))[:5]
        errors.append(f"term df differs from oracle, e.g. {diff}")
    return errors


def _lineage_spans(tracer: Tracer, build, index_path: str) -> dict[str, float]:
    """Child spans of the build from its ``_lineage`` rows; each job of the
    build is attributed to the row whose time window holds its submission."""
    import pandas as pd

    rows = pd.read_parquet(os.path.join(index_path, "_lineage"))
    rows = rows[rows["stage"] != "build_total"].sort_values("ts")
    windows = []
    for r in rows.itertuples():
        end_ms = r.ts.to_pydatetime().replace(tzinfo=timezone.utc).timestamp() * 1000
        windows.append((r.stage, end_ms - r.wall_ms, end_ms, float(r.wall_ms)))
    claimed: set[int] = set()
    for stage, lo, hi, wall_ms in windows:
        jobs = [j for j in build.jobs if lo <= j["submit_ms"] <= hi]
        claimed.update(j["job_id"] for j in jobs)
        tracer.spans.append({
            "name": f"build.{stage}", "parent": build.id, "start_s": lo / 1000,
            "wall_ms": wall_ms, **total(jobs),
        })
    rest = [j for j in build.jobs if j["job_id"] not in claimed]
    stage_ms = sum(w for s, _, _, w in windows if s == "stage_enriched")
    pack_ms = sum(w for s, _, _, w in windows if s.startswith("pack_group_"))
    other_ms = build.wall_s * 1000 - stage_ms - pack_ms
    tracer.spans.append({
        "name": "build.other", "parent": build.id, "wall_ms": other_ms, **total(rest),
    })
    return {"build.stage_ms": stage_ms, "build.pack_ms": pack_ms, "build.other_ms": other_ms}


class Run:
    """One run of one workload: set-up, timed closed loop, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 n_docs: int | None, work_dir: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.n_docs, self.work_dir = n_docs or CORPUS_DOCS[workload], work_dir
        self.per_call = QUERIES_PER_CALL[workload]
        self.attempted = 0
        self.errors: list[str] = []
        self.failed = 0

    def _record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors[:3])

    def execute(self) -> dict:
        from goldenretriever_spark.session import get_spark

        data = inputs.prepare(os.path.join(self.work_dir, "inputs"), self.seed,
                              self.n_docs, nproc())
        run_dir = os.path.join(self.work_dir, "runs", uuid.uuid4().hex[:12])
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # the JVM and the Python workers inherit these: scratch files stay
        # inside the run directory, which is removed at the end
        os.environ["TMPDIR"] = tmp
        # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>/<pid>
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # the benchmark's index needs far less than get_spark's 8g default; the
        # smaller heap bounds peak RSS, which otherwise follows GC timing
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        context = {"loadavg_before": os.getloadavg(), "nproc": nproc(),
                   "input_digest": data["digest"]}
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", cores=nproc(),
            extra_conf={"spark.local.dir": tmp},
        )
        session_s = time.perf_counter() - t0
        try:
            return self._run(spark, data, run_dir, session_s, context)
        finally:
            stop_spark(spark)
            shutil.rmtree(run_dir, ignore_errors=True)

    def _run(self, spark, data: dict, run_dir: str, session_s: float, context: dict) -> dict:
        from goldenretriever_spark.index.checkpoint import build_resumable
        from goldenretriever_spark.index.storage import StoredIndex

        context.update({
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark": spark.version,
            "python": platform.python_version(),
        })
        tracer = Tracer(spark, self.trace)
        queries, answers = data["queries"], data["answers"]

        # -- set-up: clean build, handle open, warm-up ---------------------
        index_path = os.path.join(run_dir, "index")
        docs = spark.read.parquet(data["corpus_path"])
        with tracer.span("build") as build:
            build_resumable(spark, docs, index_path, n_term_buckets=N_TERM_BUCKETS,
                            n_groups=N_GROUPS)
        self._record(_check_build(index_path, data))
        with tracer.span("handle_open") as opened:
            index = StoredIndex(spark, index_path)
            index.n_term_buckets, index.stats, index.posting_blocks  # noqa: B018
        stream = self._calls(queries)
        t0 = time.perf_counter()
        for _ in range(WARMUP_CALLS[self.workload]):
            self._call(tracer, index, next(stream), answers, calls=None)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + build.wall_s + opened.wall_s + warmup_s

        # -- timed closed loop, one client ---------------------------------
        calls: list[dict] = []
        probe_before = tracer.probe_s
        with RssSampler() as rss:
            start = time.perf_counter()
            deadline = start + self.seconds
            sent = 0
            while sent == 0 or time.perf_counter() < deadline:
                self._call(tracer, index, next(stream), answers, calls)
                sent += 1
            elapsed = time.perf_counter() - start
        context["loadavg_after"] = os.getloadavg()
        if not calls:
            raise RuntimeError(f"every timed call failed: {self.errors[:3]}")

        latencies = [c["wall_s"] * 1000 for c in calls]
        context["latencies_ms"] = [round(v, 1) for v in latencies]
        index_bytes = _index_bytes(index_path)
        result = {
            "context": context,
            "calls": len(calls),
            "end_to_end": {
                "setup_s": (setup_s, "s"),
                "build_docs_per_s": (data["n_docs"] / build.wall_s, "1/s"),
                "index_bytes_per_corpus_byte": (
                    sum(index_bytes.values()) / data["corpus_bytes"], "ratio"),
                "search_p50_ms": (statistics.median(latencies), "ms"),
                "queries_per_s": (len(calls) * self.per_call / elapsed, "1/s"),
                "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
            },
            "search_tail": tail(latencies),
        }
        if self.trace:
            result["per_layer"] = self._layers(
                tracer, build, opened, session_s, calls, index_path,
                index_bytes, (tracer.probe_s - probe_before) / len(calls),
            )
            tracer.write(
                os.path.join(self.work_dir, f"trace-{self.workload}-seed{self.seed}.jsonl"),
                {"workload": self.workload, "seed": self.seed, "context": context},
            )
        return result

    def _calls(self, queries):
        """Endless seeded stream of query batches: consecutive windows of the
        pool, wrapping around."""
        i = 0
        while True:
            yield [queries[(i + j) % len(queries)] for j in range(self.per_call)]
            i += self.per_call

    def _call(self, tracer: Tracer, index, batch, answers, calls: list | None) -> None:
        with tracer.span("request", probe=False, queries=len(batch)) as req:
            try:
                with tracer.span("dispatch", parent=req.id) as disp:
                    frame, plan = index.search(batch, k=inputs.K, with_plan=True)
                with tracer.span("execute", parent=req.id) as exe:
                    rows = frame.collect()
            except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
                self._record([f"{type(e).__name__}: {e}"])
                return
        self._record(inputs.answer_errors(rows, answers, [q for q, _ in batch]))
        if calls is not None:
            calls.append({"wall_s": req.wall_s, "plan": plan,
                          "dispatch": disp, "execute": exe})

    def _layers(self, tracer, build, opened, session_s, calls, index_path,
                index_bytes, probe_s_per_call) -> dict:
        import pyarrow.parquet as pq

        layers = {"session.start_ms": (session_s * 1000, "ms")}
        for key, value in _lineage_spans(tracer, build, index_path).items():
            layers[key] = (value, "ms")
        b = build.record
        layers.update({
            "build.jobs": (b["jobs"], "count"),
            "build.tasks": (b["tasks"], "count"),
            "build.executor_run_ms": (b["executor_run_ms"], "ms"),
            "build.executor_cpu_ms": (b["executor_cpu_ns"] / 1e6, "ms"),
            "build.gc_ms": (b["gc_ms"], "ms"),
            "build.shuffle_write_bytes": (b["shuffle_write_bytes"], "bytes"),
            "build.shuffle_write_records": (b["shuffle_write_records"], "count"),
            "build.spill_bytes": (b["spill_disk_bytes"], "bytes"),
            "build.output_bytes": (b["output_bytes"], "bytes"),
            "build.posting_blocks": (
                pq.ParquetDataset(os.path.join(index_path, "posting_blocks")).read(
                    columns=["n"]).num_rows, "count"),
        })
        for name, n in index_bytes.items():
            layers[f"index.{name}_bytes"] = (n, "bytes")

        def per_call(key):
            return statistics.fmean(c["dispatch"].record[key] + c["execute"].record[key]
                                    for c in calls)

        layers.update({
            "serve.handle_open_ms": (opened.wall_s * 1000, "ms"),
            "serve.dispatch_ms": (
                statistics.median(c["dispatch"].wall_s * 1000 for c in calls), "ms"),
            "serve.execute_ms": (
                statistics.median(c["execute"].wall_s * 1000 for c in calls), "ms"),
            "serve.jobs_per_call": (per_call("jobs"), "count"),
            "serve.stages_per_call": (per_call("stages"), "count"),
            "serve.tasks_per_call": (per_call("tasks"), "count"),
            "serve.executor_run_ms": (per_call("executor_run_ms"), "ms"),
            "serve.executor_cpu_ms": (per_call("executor_cpu_ns") / 1e6, "ms"),
            "serve.input_bytes": (per_call("input_bytes"), "bytes"),
            "serve.shuffle_write_bytes": (per_call("shuffle_write_bytes"), "bytes"),
            "serve.gc_ms": (per_call("gc_ms"), "ms"),
            "dispatch.brute_stored": (
                sum(c["plan"].get("path") == "brute_stored" for c in calls), "count"),
            "dispatch.wand": (sum(c["plan"].get("path") == "wand" for c in calls), "count"),
            "dispatch.probed": (sum(bool(c["plan"].get("probed")) for c in calls), "count"),
            "trace.search_p50_ms": (
                statistics.median(c["wall_s"] * 1000 for c in calls), "ms"),
            "trace.probe_ms_per_call": (probe_s_per_call * 1000, "ms"),
        })
        return layers
