"""Round-3 additions: doc_id collision rehash, brute/WAND auto-dispatch
support pieces, S7 csv export roundtrip, S8 jdbc option plumbing."""

from pyspark.sql import functions as F

from goldenretriever_spark.index.build import (
    build_index,
    check_doc_id_collisions,
    resolve_doc_id_collisions,
    with_doc_ids,
)


def _docs(spark, n=6):
    return spark.createDataFrame(
        [(f"repo{i}", f"src/f{i}.py", f"c{i}", "py", f"def fn{i}(): return {i}")
         for i in range(n)],
        "repo string, path string, commit string, lang string, content string",
    )


def test_collision_rehash_separates_forced_collisions(spark):
    """Two+ distinct (repo,path,commit) keys engineered onto one doc_id via a
    mock hash must end up distinct, and postings/doc_stats keep all docs."""
    docs = _docs(spark, 6)
    # mock round-0 assignment: 6 keys crushed into 2 ids
    collided = docs.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2))
    )
    assert collided.select("doc_id").distinct().count() == 2

    fixed = resolve_doc_id_collisions(collided)
    assert fixed.select("doc_id").distinct().count() == 6
    assert (
        fixed.groupBy("doc_id")
        .agg(F.countDistinct("repo", "path", "commit").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )
    # deterministic: same input -> same ids
    again = resolve_doc_id_collisions(collided)
    key = lambda df: sorted(  # noqa: E731
        (r["repo"], r["doc_id"]) for r in df.select("repo", "doc_id").collect()
    )
    assert key(fixed) == key(again)

    # the index keeps every doc distinct (no silently merged postings)
    idx = build_index(fixed, tokenizer="simple", persist=False)
    assert idx.doc_stats.select("doc_id").distinct().count() == 6
    assert idx.postings.select("doc_id").distinct().count() == 6


def test_collision_rehash_multi_round_fixpoint(spark):
    """A mock hash that still collides at round 1 forces a second round."""
    docs = _docs(spark, 6).withColumn("doc_id", F.lit(7))

    def mock_hash(r):
        if r == 1:  # still crushes into 3 buckets -> some collisions remain
            return F.pmod(F.xxhash64("repo", "path", "commit", F.lit(r)), F.lit(3))
        return F.xxhash64("repo", "path", "commit", F.lit(r))

    fixed = resolve_doc_id_collisions(docs, _hash=mock_hash)
    assert fixed.select("doc_id").distinct().count() == 6


def test_collision_rehash_fails_loudly_when_unresolvable(spark):
    import pytest

    docs = _docs(spark, 3).withColumn("doc_id", F.lit(1))
    with pytest.raises(RuntimeError, match="collisions persist"):
        resolve_doc_id_collisions(docs, max_rounds=2, _hash=lambda r: F.lit(1))


def test_with_doc_ids_resolve_flag(spark):
    """resolve_collisions=True on the public entry is a no-op on a clean
    corpus and keeps ids identical to the unresolved assignment."""
    docs = _docs(spark, 8)
    plain = with_doc_ids(docs).select("repo", "doc_id").collect()
    resolved = with_doc_ids(docs, resolve_collisions=True).select("repo", "doc_id").collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, resolved))
    assert check_doc_id_collisions(docs) == 0


def test_embedding_neardup_finds_cross_label_pair(spark):
    """r2 blocked on `label` and silently missed cross-label near-dups; the
    LSH-bucket blocking must find a near-identical pair with different
    labels (label no longer participates at all)."""
    import numpy as np

    from goldenretriever_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    near = base + 0.01 * rng.standard_normal(64)
    far = rng.standard_normal(64)
    rows = [
        (1, [float(x) for x in base], "labA"),
        (2, [float(x) for x in near], "labB"),
        (3, [float(x) for x in far], "labA"),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(e, threshold=0.9).collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_export_csv_roundtrip(spark, tmp_path):
    """S7: table -> csv -> table keeps rows and columns (header on)."""
    from goldenretriever_spark.sources.sinks import export_csv

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, "gamma, quoted", 0.0)],
        "id long, name string, score double",
    )
    out = str(tmp_path / "export")
    export_csv(df, out, single_file=True)
    back = spark.read.csv(out, header=True, inferSchema=True)
    assert sorted(back.columns) == sorted(df.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_jdbc_option_plumbing():
    """S8: partitionColumn/bounds/numPartitions land in the reader options;
    bounds are mandatory with a partition column (no silent single-task
    scan). No driver jar ships in the sandbox, so load() is not exercised."""
    import pytest

    from goldenretriever_spark.sources.jdbc import jdbc_options

    opts = jdbc_options(
        "jdbc:postgresql://db/gr", "querylog", user="u", password="p",
        partition_column="id", lower_bound=0, upper_bound=10_000,
        num_partitions=16, fetchsize=5000,
    )
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "10000"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "5000"
    assert opts["url"].startswith("jdbc:postgresql")
    with pytest.raises(ValueError, match="bound"):
        jdbc_options("jdbc:x", "t", partition_column="id")


def test_stored_index_search_dispatch(spark, tmp_path):
    """StoredIndex.search = write_index -> dispatch_top_k with the persisted
    bucket count; must equal the in-memory brute ranking and the oracle's
    top-k, also for edge-case inputs."""
    import math

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import StoredIndex, write_index
    from goldenretriever_spark.query import bm25

    docs = spark.createDataFrame(corpus.synth_corpus_pandas(200, seed=13))
    idx = build_index(docs, tokenizer="simple")
    blocks = pack_blocks(idx, block_size=16, target_docs_per_group=60, n_term_buckets=8)
    path = str(tmp_path / "idx")
    write_index(idx, path, blocks=blocks, n_term_buckets=8)

    qlist = [(0, "def return"), (1, "cache buffer fast")]
    stored = StoredIndex(spark, path)
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in stored.search(qlist, k=5).collect()
    )
    terms = bm25.query_terms_df(spark, qlist)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in bm25.top_k(idx, terms, k=5).collect()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[3], w[3], rel_tol=1e-9)

    # edge-case inputs against the oracle: an empty query, a query of
    # absent terms, k above every query's match count (200 docs), and one
    # batch mixing them with normal queries
    from goldenretriever_spark.index.build import with_doc_ids
    from goldenretriever_spark.oracle import build_oracle_index
    from goldenretriever_spark.oracle import top_k as oracle_top_k

    oidx = build_oracle_index(
        [(r["doc_id"], r["content"]) for r in with_doc_ids(docs).collect()]
    )
    empty, absent = (2, ""), (3, "zzqxv qqjwk")
    assert not any(t in oidx.postings for t in absent[1].split())
    for batch, k in (
        ([empty], 5),
        ([absent], 5),
        (qlist, 500),
        ([qlist[0], empty, absent, qlist[1]], 500),
    ):
        rows = stored.search(batch, k=k).collect()
        for qid, qstr in batch:
            got = sorted(
                (r["rank"], r["doc_id"], r["score"]) for r in rows
                if r["query_id"] == qid
            )
            want = oracle_top_k(oidx, qstr, k=k)
            assert [d for _, d, _ in got] == [d for d, _ in want], (qid, k)
            assert [r for r, _, _ in got] == list(range(1, len(want) + 1))
            for (_, _, sg), (_, sw) in zip(got, want):
                assert math.isclose(sg, sw, rel_tol=1e-9)
        assert {r["query_id"] for r in rows} <= {qid for qid, _ in batch}


def test_probe_masks_radius():
    from goldenretriever_spark.operators.ann import probe_masks

    assert probe_masks(4, 0) == [0]
    assert sorted(probe_masks(4, 1)) == [0, 1, 2, 4, 8]
    m2 = probe_masks(4, 2)
    assert len(m2) == 1 + 4 + 6 and all(bin(m).count("1") <= 2 for m in m2)
    # radius clamped to n_planes: all 2^n masks at radius >= n
    assert sorted(probe_masks(3, 9)) == list(range(8))


def test_multiprobe_radius2_recall_superset(spark):
    """radius-2 probing must return candidates at least as good as radius-1
    (per query, every radius-1 hit is also a radius-2 candidate)."""
    from goldenretriever_spark.operators import ann

    sf = "/root/testdata/sf0.001"
    r1 = {(r["query_id"], r["vec_id"]) for r in ann.q_ann_lsh_multiprobe(spark, sf, k=20, radius=1).collect()}
    r2 = ann.q_ann_lsh_multiprobe(spark, sf, k=20, radius=2)
    assert r2.count() >= len(r1)


def test_streaming_stateful_dedupe_across_batches(spark, tmp_path):
    """applyInPandasWithState dedupe: each distinct content digest is emitted
    exactly once across micro-batches AND query restarts (state survives via
    the checkpoint); first occurrence wins deterministically."""
    from goldenretriever_spark.streaming.stateful import (
        deduped_view,
        streaming_dedupe,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [
            ("r1", "a.py", "c1", "py", "same content"),
            ("r1", "b.py", "c2", "py", "same content"),
            ("r2", "c.py", "c3", "py", "other content"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    b1.write.mode("append").parquet(in_dir)
    streaming_dedupe(spark, in_dir, out_dir)
    out1 = deduped_view(spark, out_dir).collect()
    assert len(out1) == 2
    assert {(r["content"], r["path"]) for r in out1} == {
        ("same content", "a.py"),  # min (repo,path,commit) wins
        ("other content", "c.py"),
    }

    b2 = spark.createDataFrame(
        [
            ("r9", "z.py", "c9", "py", "same content"),   # dup from batch 1
            ("r3", "d.py", "c4", "py", "third content"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    b2.write.mode("append").parquet(in_dir)
    streaming_dedupe(spark, in_dir, out_dir)  # restart, same checkpoint
    out2 = deduped_view(spark, out_dir).collect()
    assert len(out2) == 3
    assert sorted(r["content"] for r in out2) == [
        "other content", "same content", "third content"
    ]


def test_streaming_windowed_counts_watermark(spark, tmp_path):
    """Windowed append-mode counts: a window emits once the watermark passes
    its end; an event later than the watermark for a closed window is
    dropped; the still-open tail window is not emitted."""
    from datetime import datetime

    from goldenretriever_spark.streaming.windowed import (
        streaming_windowed_counts,
        window_counts_view,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev = lambda i, h, m, typ="click": (  # noqa: E731
        i, datetime(2024, 1, 1, h, m), 1, typ, 1.0, "{}"
    )

    # drain 1: three events in [0:00,1:00) + one at 3:00. The no-data flush
    # batch advances the watermark to 2:50 within the drain, closing [0,1)
    # (count 3); [3,4) stays open.
    spark.createDataFrame(
        [ev(1, 0, 5), ev(2, 0, 10), ev(3, 0, 20), ev(4, 3, 0)], schema
    ).write.mode("append").parquet(in_dir)
    streaming_windowed_counts(spark, in_dir, out_dir)
    rows = {
        (r["window_start"].hour, r["n_events"])
        for r in window_counts_view(spark, out_dir).collect()
    }
    assert rows == {(0, 3)}

    # drain 2: event at 6:00 -> watermark 5:50 closes [3,4) (count 1)
    spark.createDataFrame([ev(5, 6, 0)], schema).write.mode("append").parquet(in_dir)
    streaming_windowed_counts(spark, in_dir, out_dir)
    rows = {
        (r["window_start"].hour, r["n_events"])
        for r in window_counts_view(spark, out_dir).collect()
    }
    assert rows == {(0, 3), (3, 1)}

    # drain 3: a LATE event at 0:30 (watermark 5:50) must be DROPPED — the
    # closed hour-0 window is not re-emitted and its count stays 3; the
    # open [6,7) window emits nothing
    spark.createDataFrame([ev(6, 0, 30)], schema).write.mode("append").parquet(in_dir)
    streaming_windowed_counts(spark, in_dir, out_dir)
    rows = {
        (r["window_start"].hour, r["n_events"])
        for r in window_counts_view(spark, out_dir).collect()
    }
    assert rows == {(0, 3), (3, 1)}


def test_streamed_then_compacted_index_serves_identically(spark, tmp_path):
    """Ingest->serve loop: stream two doc batches, compact the appended
    postings into the block index, and StoredIndex.search must equal
    brute-force BM25 over a clean batch build of the union."""
    import math

    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.query import bm25
    from goldenretriever_spark.streaming.incremental import (
        compact_streamed_index,
        incremental_postings_build,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    all_docs = corpus.synth_corpus_pandas(120, seed=21)
    spark.createDataFrame(all_docs.iloc[:70]).write.mode("append").parquet(in_dir)
    incremental_postings_build(spark, in_dir, out_dir)
    spark.createDataFrame(all_docs.iloc[70:]).write.mode("append").parquet(in_dir)
    incremental_postings_build(spark, in_dir, out_dir)

    stored = compact_streamed_index(
        spark, out_dir, str(tmp_path / "idx"), n_term_buckets=8
    )
    qlist = [(0, "def return"), (1, "cache buffer fast"), (2, "zzzmissing")]
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in stored.search(qlist, k=5).collect()
    )
    idx = build_index(spark.createDataFrame(all_docs), tokenizer="simple")
    terms = bm25.query_terms_df(spark, qlist)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in bm25.top_k(idx, terms, k=5).collect()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[3], w[3], rel_tol=1e-9)


def test_as_of_join_semantics(spark):
    """Point-in-time: latest right row with ts <= left ts per key; equal ts
    is inclusive (right wins); no prior right row -> nulls; equal-ts right
    rows resolve to max id."""
    from datetime import datetime

    from goldenretriever_spark.operators.temporal import as_of_join

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u1", t(10)), (2, "u1", t(30)), (3, "u2", t(5)), (4, "u1", t(20))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", t(10), 100, 1.0), ("u1", t(25), 101, 2.0),
         ("u1", t(25), 102, 3.0), ("u2", t(50), 103, 4.0)],
        "user_id string, ts timestamp, rid long, val double",
    )
    out = {
        r["event_id"]: (r["r_rid"], r["r_val"])
        for r in as_of_join(left, right, on=["user_id"]).collect()
    }
    assert out[1] == (100, 1.0)       # equal ts -> inclusive
    assert out[4] == (100, 1.0)       # between right rows
    assert out[2] == (102, 3.0)       # equal-ts rights -> max rid wins
    assert out[3] == (None, None)     # u2 has no prior right row


def test_range_join_binned_equals_theta(spark):
    """Binned range join must equal the naive theta join exactly (window
    boundaries inclusive both ends), at bin widths above and below the
    window."""
    from datetime import datetime, timedelta

    from goldenretriever_spark.operators.temporal import range_join_binned

    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, f"u{i % 3}", base + timedelta(minutes=17 * i)) for i in range(40)],
        "lid long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100 + i, f"u{i % 3}", base + timedelta(minutes=11 * i)) for i in range(40)],
        "rid long, user_id string, ts timestamp",
    )
    W = 3600
    naive = left.alias("l").join(
        right.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts").cast("long") >= F.col("l.ts").cast("long") - W),
    ).select(F.col("l.lid"), F.col("r.rid"))
    want = sorted(map(tuple, naive.collect()))
    for bin_s in (W, W // 3):
        got = sorted(
            (r["lid"], r["r_rid"])
            for r in range_join_binned(
                left, right, on=["user_id"], window_seconds=W, bin_seconds=bin_s
            ).collect()
        )
        assert got == want, f"bin={bin_s}"


def test_multimodal_features_and_resize(spark):
    """Byte-histogram features are a real deterministic computation (sum to
    1, stable); resize rewrites header dims and composes with decode while
    leaving the body intact (payload_bytes unchanged)."""
    from goldenretriever_spark.operators.multimodal import (
        decode_media,
        extract_features,
        resize_media,
        synth_media,
    )

    media = synth_media(spark, "/root/testdata/sf0.001").limit(20).cache()
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-9

    before = {r["doc_id"]: r for r in decode_media(media).collect()}
    after = {r["doc_id"]: r for r in decode_media(resize_media(media, 64, 48)).collect()}
    for d, r in after.items():
        assert (r["width"], r["height"]) == (64, 48)
        assert r["n_frames"] == before[d]["n_frames"]
        assert r["payload_bytes"] == before[d]["payload_bytes"]


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Same-bucketing postings + term_stats must join with ZERO Exchange
    nodes (co-located layout); the plain-parquet join of the same frames
    shuffles both sides."""
    from goldenretriever_spark import corpus
    from goldenretriever_spark.index.build import build_index
    from goldenretriever_spark.index.storage import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/wh'")
    try:
        docs = spark.createDataFrame(corpus.synth_corpus_pandas(150, seed=9))
        idx = build_index(docs, persist=False)
        write_bucketed(idx.postings, "bktdb.postings", ["term"], n_buckets=4,
                       sort_cols=["term"])
        write_bucketed(idx.term_stats, "bktdb.term_stats", ["term"], n_buckets=4,
                       sort_cols=["term"])
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bktdb.postings").join(
                spark.table("bktdb.term_stats"), "term"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # sanity: same join un-bucketed DOES exchange
            j2 = idx.postings.join(idx.term_stats, "term")
            plan2 = j2._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in plan2
            assert j.count() == j2.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktdb CASCADE")


def test_as_of_join_randomized_vs_pandas(spark):
    """Randomized cross-check: union+window as-of join equals a per-row
    pandas argmax reference on seeded random data (3 seeds)."""
    import numpy as np
    import pandas as pd

    from goldenretriever_spark.operators.temporal import as_of_join

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        left = pd.DataFrame({
            "lid": np.arange(60),
            "k": rng.integers(0, 5, 60),
            "ts": rng.integers(0, 1000, 60).astype("datetime64[s]"),
        })
        right = pd.DataFrame({
            "rid": np.arange(100, 140),
            "k": rng.integers(0, 5, 40),
            "ts": rng.integers(0, 1000, 40).astype("datetime64[s]"),
        })
        got = {
            r["lid"]: r["r_rid"]
            for r in as_of_join(
                spark.createDataFrame(left), spark.createDataFrame(right), on=["k"]
            ).collect()
        }
        for _, lrow in left.iterrows():
            cand = right[(right["k"] == lrow["k"]) & (right["ts"] <= lrow["ts"])]
            want = (
                None
                if cand.empty
                else int(cand.sort_values(["ts", "rid"]).iloc[-1]["rid"])
            )
            assert got[lrow["lid"]] == want, f"seed={seed} lid={lrow['lid']}"
