"""Brute-force BM25 top-k over the logical index — pure column arithmetic.

Replaces the reference's cosine-similarity ranking path
(/root/reference/src/models.py:114-149: encode query -> cosine vs all docs ->
np.flip(argsort) -> slice top_k) with BM25 over postings. The whole scoring
expression is Catalyst Column math (log/mul/div on joined integer stats), so
it stays inside whole-stage codegen — no UDF in the scoring hot path.

Plan shape (batch of queries):
    query_terms (tiny)  ──broadcast──┐
    postings  ──join(term)───────────┴─► matched(query_id, term, doc_id, tf)
    matched ──join(term_stats bcast)──► + df
    matched ──join(doc_stats)────────► + doc_len          (big-big, on doc_id)
    ──► per-row contribution = idf(df) * tfnorm(tf, dl)    [single expression]
    ──groupBy(query_id, doc_id).sum(contribution)──► scores
    ──Window(query_id, desc(score), asc(doc_id)) row_number ≤ k──► top-k
    ──join back to documents for materialization (reference models.py:137-144)

Rank-identity discipline: the float contribution is computed once per
(query,term,doc) row from integers, then summed. Summation order across terms
can differ from the oracle; scores match to ~1e-12 and ranks match exactly
because per-term contributions are identical doubles (tests assert both).
Tie-break: asc(doc_id) everywhere (SURVEY §2.5 W1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from goldenretriever_spark.index.build import B, K1, InvertedIndex
from goldenretriever_spark.session import local_frame
from goldenretriever_spark.tokenizer import tokens_column

def tokenize_batch(queries, tokenizer: str = "simple") -> dict[int, list[str]]:
    """list[(query_id, query_str)] -> {query_id: unique terms in first-seen
    order}, tokenized ON THE DRIVER with the oracle twin of the engine
    tokenizer (equality-tested per input class, tests/test_round2). BM25
    dedups query terms, so each term appears once per query. A repeated
    query_id raises ``ValueError``: its queries' terms would otherwise be
    scored as one merged query."""
    from goldenretriever_spark.oracle import tokenize

    out: dict[int, list[str]] = {}
    for qid, qstr in queries:
        qid = int(qid)
        if qid in out:
            raise ValueError(f"query_id {qid} appears more than once in the batch")
        out[qid] = list(dict.fromkeys(tokenize(qstr, tokenizer)))
    return out


def terms_frame(spark: SparkSession, terms: dict[int, list[str]]) -> DataFrame:
    """(query_id, term) rows of a :func:`tokenize_batch` result, as a JVM
    LocalRelation (:func:`session.local_frame`): broadcasting it needs no
    Python worker, so the decode worker stays a search call's one Python
    crossing."""
    out = local_frame(
        spark,
        [(qid, t) for qid, ts in terms.items() for t in ts],
        "query_id long, term string",
    )
    # batch-width hint for downstream plan selection (top_k's shared
    # agg/window exchange) — driver-known for list batches, absent otherwise
    out._gr_n_queries = len(terms)
    return out


def query_terms_df(spark: SparkSession, queries, tokenizer: str = "simple") -> DataFrame:
    """queries: DataFrame(query_id, query_str) or list[(id, str)] ->
    (query_id, term) with unique terms per query (BM25 dedups query terms).

    List-typed batches tokenize ON THE DRIVER (:func:`tokenize_batch`) — a
    query batch is tiny, and the createDataFrame -> explode ->
    dropDuplicates plan it replaces paid a full shuffle + two stages inside
    EVERY query call (r7, guide §2.4: remove shuffles outright) — and come
    back as a JVM LocalRelation (:func:`terms_frame`). DataFrame inputs
    (unknown size) keep the distributed plan."""
    if isinstance(queries, DataFrame):
        return (
            queries.select(
                "query_id",
                F.explode(tokens_column(F.col("query_str"), tokenizer)).alias("term"),
            )
            .dropDuplicates(["query_id", "term"])
        )
    return terms_frame(spark, tokenize_batch(queries, tokenizer))


def idf_col(n_docs: Column, df: Column) -> Column:
    return F.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tfnorm_col(tf: Column, doc_len: Column, avgdl: Column) -> Column:
    return tf / (tf + K1 * (1.0 - B + B * doc_len / avgdl))


def explain_contributions(index: InvertedIndex, terms: DataFrame) -> DataFrame:
    """Per-term BM25 score attribution (word importance, SURVEY F13).

    The reference explains a prediction by erasing each word and re-scoring
    (app/streamlit/importance.py:78-139 — one model call per word). BM25 is
    additive over query terms, so the per-term contribution IS the erasure
    delta and falls out of the scoring join for free:
    (query_id, doc_id, term, contribution) with
    score(q,d) = Σ_term contribution.

    Plan shape (r7, guide §3.1/§2.3): all the small-side work — term_stats
    lookup, corpus_stats cross, idf — happens on the TINY (query_id, term)
    frame BEFORE it is broadcast, so the 10^6..10^12-row postings scan
    passes through exactly ONE BroadcastHashJoin instead of three join
    operators (two BHJ probes + a BroadcastNestedLoopJoin per posting row
    in the r6 plan). idf is the same Catalyst expression over the same
    doubles, just evaluated on the broadcast side — contributions are
    bit-identical (rank-identity suite + oracle hash unchanged).
    """
    stats = index.term_stats.join(F.broadcast(terms.select("term").distinct()), "term")
    enriched = (
        terms.join(F.broadcast(stats), "term")
        .crossJoin(F.broadcast(index.corpus_stats))
        .select(
            "query_id",
            "term",
            idf_col(F.col("n_docs").cast("double"), F.col("df").cast("double")).alias(
                "idf"
            ),
            "avgdl",
        )
    )
    matched = index.postings.join(F.broadcast(enriched), "term")
    contribution = F.col("idf") * tfnorm_col(
        F.col("tf").cast("double"), F.col("doc_len").cast("double"), F.col("avgdl")
    )
    return matched.select(
        "query_id", "doc_id", "term", contribution.alias("contribution")
    )


def score_candidates(index: InvertedIndex, terms: DataFrame) -> DataFrame:
    """(query_id, term) x index -> (query_id, doc_id, score).

    The query-terms side is tiny -> broadcast; term_stats for the matched
    terms is tiny -> broadcast; postings carry doc_len, so no join against
    doc_stats is ever needed — the only wide table in the plan is the
    postings scan itself (term-bucket-pruned when reading a stored index).
    """
    return (
        explain_contributions(index, terms)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contribution").alias("score"))
    )


def top_k(index: InvertedIndex, terms: DataFrame, k: int = 10) -> DataFrame:
    """Distributed top-k per query: Window rank + filter.

    For a single query this collapses to TakeOrderedAndProject via
    orderBy().limit(k); the window form handles query batches in one pass.

    Wide batches (r7, guide §2.4): when the batch is at least as wide as
    the shuffle-partition count (driver-known via query_terms_df's hint),
    an explicit ``repartition(query_id)`` BEFORE the aggregation lets the
    (query_id, doc_id) hash-agg AND the per-query window share ONE
    exchange — hash-partitioning on query_id satisfies both clusterings —
    instead of agg-exchange + window-exchange. Narrow batches keep the
    two-exchange plan: clustering a 1-query batch on query_id would
    serialize its whole aggregation onto one task (the interactive-serve
    case). Identical results either way — a pure plan change.

    Scale note: this in-memory path is the modest-corpus oracle/eval
    surface; the at-scale serving twin (wand.stored_score_candidates)
    additionally bounds the per-query decode volume before choosing the
    single-exchange plan (wand.WIDE_BATCH_MAX_ROWS_PER_QUERY), because
    clustering huge per-query volumes on query_id measured slower at the
    3.84M-doc scale point.
    """
    spark = terms.sparkSession
    n_queries = getattr(terms, "_gr_n_queries", None)
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_queries is not None and n_queries >= P:
        scores = (
            explain_contributions(index, terms)
            .repartition("query_id")
            .groupBy("query_id", "doc_id")
            .agg(F.sum("contribution").alias("score"))
        )
    else:
        scores = score_candidates(index, terms)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def search(
    spark: SparkSession,
    index: InvertedIndex,
    queries,
    k: int = 10,
    tokenizer: str = "simple",
    documents: DataFrame | None = None,
) -> DataFrame:
    """End-to-end: queries -> ranked top-k; optionally materialize content by
    joining back to documents (reference models.py:137-144 .iloc analog)."""
    terms = query_terms_df(spark, queries, tokenizer)
    ranked = top_k(index, terms, k)
    if documents is not None:
        ranked = ranked.join(documents, "doc_id", "left")
    return ranked
