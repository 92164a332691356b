"""Incremental index maintenance via Structured Streaming (SURVEY §2.9
stretch: the reference is batch-only; its closest analogs are the append-only
querylog and late feedback updates).

``incremental_postings_build`` watches a directory of document parquet files
with readStream + Trigger.AvailableNow and folds each micro-batch into the
postings store inside foreachBatch:

    new docs -> tokenize -> (term, doc_id, tf, doc_len) -> append partition

Streaming checkpointing is exactly-once per input FILE, not per document, so
the same doc (repo, path, commit) can arrive in two different files. Each
micro-batch therefore dedupes: within the batch (dropDuplicates on doc_id)
and against the store (left-anti join on the existing doc_stats doc_ids).
Postings then append WITHOUT a merge re-aggregation — (term, doc_id) pairs
are unique by construction; term_stats/corpus_stats are cheap view-time
aggregates over the appended postings. The end state after draining equals
the batch build over the union of inputs — asserted in
tests/test_sources_and_streaming.py.

At scale the same structure runs continuously (Trigger.ProcessingTime) with
checkpointLocation giving exactly-once file processing; the posting-block
compaction job (index/blocks.py) runs periodically over the appended deltas.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import build_index

DOCS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def incremental_postings_build(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    tokenizer: str = "simple",
    schema: str | None = None,
    positional: bool = False,
    n_term_buckets: int = 64,
) -> None:
    """Drain all currently-available files into the postings store.

    Exactly-once per input file via the streaming checkpoint; safe to call
    repeatedly as new files land (the resume story for the ingest side,
    complementing the per-bucket build checkpoints). ``schema`` may carry an
    explicit doc_id column (kept by build_index); default corpora derive it
    from (repo, path, commit).

    ``positional=True`` additionally packs each micro-batch's positional
    postings (index/positions.py) and appends them as per-batch SEGMENTS to
    ``out_dir/positional_blocks`` — the Lucene segment model: each batch's
    blocks are complete and immediately servable (phrase_match_stored never
    keys on block_id, it decodes every pruned block row independently, and
    batches hold disjoint doc_ids by the dedupe above), while periodic
    compaction (:func:`compact_streamed_index`) republishes globally-packed
    blocks with collection-frequency-sized salts. Per-batch salts use the
    batch's own cf — locally right-sized; only compaction sees the global cf."""
    stream = spark.readStream.schema(schema or DOCS_SCHEMA).parquet(input_dir)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        from goldenretriever_spark.index.build import with_doc_ids

        if not batch_df.take(1):
            return
        # exactly-once is per FILE: the same doc can appear in two input
        # files (and twice within one batch) — dedupe on doc_id within the
        # batch and against the store, or tf/df/n_docs double-count silently.
        # doc_stats is doc_id-partitioned on a real warehouse, so the
        # anti-join is co-partitioned there.
        docs = with_doc_ids(batch_df).dropDuplicates(["doc_id"])
        stats_path = os.path.join(out_dir, "doc_stats")
        try:
            seen = spark.read.parquet(stats_path).select("doc_id")
            docs = docs.join(seen, "doc_id", "left_anti")
        except Exception:
            pass  # first batch: no store yet
        if not docs.take(1):
            return
        if positional:
            # Three consumers tokenize this batch (postings, doc_stats,
            # positional pack) — materialize the deduped batch ONCE.
            # localCheckpoint, NOT cache(): the docs plan anti-joins the
            # doc_stats store this fold appends to, and a parquet append
            # recaches-by-path every cached plan reading that path — the
            # recache re-lists the files, sees the batch's own freshly
            # appended doc_stats rows, and silently recaches `docs` as
            # EMPTY (measured: batch 2's positional segment had 0 rows).
            # localCheckpoint truncates lineage to the materialized RDD, so
            # no parquet read remains in the plan and later consumers are
            # immune to the invalidation.
            docs = docs.localCheckpoint(eager=True)
        idx = build_index(docs, tokenizer=tokenizer, persist=False)
        idx.postings.write.mode("append").parquet(os.path.join(out_dir, "postings"))
        idx.doc_stats.write.mode("append").parquet(stats_path)
        if positional:
            from goldenretriever_spark.index.positions import pack_positional_blocks

            (
                pack_positional_blocks(
                    docs,
                    tokenizer=tokenizer,
                    postings=idx.postings,
                    n_term_buckets=n_term_buckets,
                )
                .write.mode("append")
                .partitionBy("term_bucket")
                .parquet(os.path.join(out_dir, "positional_blocks"))
            )

    (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def streamed_index_views(spark: SparkSession, out_dir: str):
    """Assemble the logical index over the streamed postings store:
    corpus/term stats recomputed as aggregates (cheap relative to postings)."""
    from goldenretriever_spark.index.build import InvertedIndex

    postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    doc_stats = spark.read.parquet(os.path.join(out_dir, "doc_stats"))
    corpus_stats = doc_stats.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
    )
    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return InvertedIndex(
        postings=postings, doc_stats=doc_stats, corpus_stats=corpus_stats, term_stats=term_stats
    )


def compact_streamed_index(
    spark: SparkSession,
    out_dir: str,
    idx_path: str,
    n_term_buckets: int = 64,
    block_size: int = 128,
    target_docs_per_group: int = 250_000,
    positional: bool = False,
):
    """Periodic compaction: fold the appended streaming postings store into
    the compressed, term-bucketed stored index (the serving format), closing
    the ingest->serve loop: readStream appends postings continuously;
    this job runs on a schedule and republishes the block index that
    StoredIndex.search / dispatch_top_k answer from. The appended postings are
    already (term, doc_id)-unique (batch dedupe above), so compaction is
    exactly the batch pack — no merge pass.

    ``positional=True``: the per-batch positional segments appended by
    :func:`incremental_postings_build` are decoded back to (term, doc_id,
    pos) rows and globally repacked — salts sized by the store-wide Σtf, not
    each batch's — so the republished ``positional_blocks`` serve
    phrase/proximity results identical to a clean batch build over the union
    of inputs (tests/test_round6.py asserts it). This is the segment-merge
    half of the Lucene model; decode+repack touches only the positional
    store, never the raw corpus."""
    from goldenretriever_spark.index.blocks import pack_blocks
    from goldenretriever_spark.index.storage import StoredIndex, write_index

    idx = streamed_index_views(spark, out_dir)
    blocks = pack_blocks(
        idx,
        block_size=block_size,
        target_docs_per_group=target_docs_per_group,
        n_term_buckets=n_term_buckets,
    )
    pos_blocks = None
    if positional:
        from goldenretriever_spark.index.positions import (
            decode_positions,
            pack_positions,
        )

        segs = spark.read.parquet(os.path.join(out_dir, "positional_blocks"))
        rows = decode_positions(segs)
        cf = idx.postings.groupBy("term").agg(
            F.sum("tf").cast("long").alias("cf")
        )
        pos_blocks = pack_positions(rows, cf, n_term_buckets=n_term_buckets)
    write_index(
        idx,
        idx_path,
        blocks=blocks,
        n_term_buckets=n_term_buckets,
        positional=pos_blocks,
    )
    return StoredIndex(spark, idx_path)
