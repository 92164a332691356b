"""Phrase search over a positional index — exact n-gram occurrence matching.

A full-text engine needs more than bag-of-words BM25: "phrase queries" must
match documents where the query terms appear CONSECUTIVELY, in order.  The
reference engine has no phrase operator (its `make_query` is embedding /
bag-of-words only, /root/reference/src/models.py:114-149); this is a
beyond-parity capability standard in every production full-text index
(Lucene positional postings).

Two independent implementations with identical semantics (cross-checked in
tests/test_phrase.py):

1. **Index path** (`phrase_match`) — positional postings `(term, doc_id,
   pos)` come from one ``posexplode`` over the tokenized text. At scale they
   are BUILT ONCE and persisted term-bucketed next to the blocked BM25
   postings (index/positions.py — positions delta-varint packed with the
   same ``index/codec.py`` grouped codec), and `phrase_match_stored` /
   `proximity_match_stored` serve from those blocks: the term-bucket
   partition pruning + term filter replace the corpus scan entirely.
   A phrase of n terms becomes a tiny broadcast frame ``(term, offset)``;
   joining it to the postings turns every candidate token into a candidate
   phrase-start ``pos - offset``.  A start that collects all n distinct
   offsets is a real occurrence:

       postings ⋈ broadcast(phrase)           -- touches ONLY the phrase
       → (doc_id, start = pos - offset, offset)   terms' postings, never
       → groupBy(doc_id, start): n_distinct(offset) == n   the full corpus
       → groupBy(doc_id): count(*) = occurrences

   Cost: one broadcast join + two shuffles, the second map-side combinable;
   all JVM codegen, no Python.  Skew: a phrase containing a scorching-hot
   term ("def") only explodes that ONE term's postings — the per-(doc,start)
   grouping key is high-cardinality, so no reducer hot-spots.  Duplicate
   phrase terms ("a b a") are handled by counting DISTINCT offsets.

2. **Scan path** (`phrase_match_scan`) — brute-force twin over the raw
   text, a single Catalyst array expression (``filter(sequence(..), s ->
   slice(tokens, s, n) == phrase)``).  Used as the cross-check and for
   one-off queries where no index exists.

Both count OVERLAPPING occurrences (token-level: "a a a a" contains "a a"
three times), matching the DuckDB oracle's exact sliding-window count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from goldenretriever_spark.tokenizer import simple_tokens


def positional_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(term, doc_id, pos)`` positional postings, one row per token.

    ``posexplode`` emits the 0-based position for free — no window, no
    shuffle; positions are exact token indices of the simple tokenizer.
    """
    toks = simple_tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term")
    )


def phrase_match_postings(pp: DataFrame, phrase: list[str]) -> DataFrame:
    """Start-vote phrase match over ANY ``(term, doc_id, pos)`` postings
    frame (rows unique per (term, doc_id, pos)) — the shared core of the
    scan path and the stored-index path."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    n = len(phrase)
    spark = pp.sparkSession
    qp = spark.createDataFrame(
        [(t, i) for i, t in enumerate(phrase)], "term string, offset int"
    )
    starts = pp.join(F.broadcast(qp), "term").select(
        "doc_id", (F.col("pos") - F.col("offset")).alias("start"), "offset"
    )
    # (doc_id, start, offset) rows are UNIQUE — (start, offset) determines
    # pos, and each (term, doc, pos) posting exists once — so count(*) equals
    # count_distinct(offset) and saves the distinct-aggregate's extra
    # expand/exchange phase (plan: 2 shuffles, both map-side combinable).
    return (
        starts.groupBy("doc_id", "start")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == n)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("occurrences"))
    )


def phrase_match_stored_batch(
    positional_blocks: DataFrame,
    phrases: list[tuple[int, list[str]]],
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Batched :func:`phrase_match_stored`: one bucket-prune over the UNION
    of the batch's terms, one fused decode+vote, one exchange — P phrases,
    one scan.

    r7 plan (guide §2.4/§4.2): the worker emits start-votes directly
    (positions.decode_phrase_votes — no term strings back to the JVM, no
    broadcast join), then ONE ``repartition(query_id, doc_id)`` feeds BOTH
    vote aggregations exchange-free: hash-partitioning on (query_id,
    doc_id) satisfies the clustered distribution of the (query_id, doc_id,
    start) grouping AND of the final (query_id, doc_id) rollup, so the r6
    plan's two agg exchanges collapse into one. The n_need check is a
    literal map lookup instead of a broadcast join. Row multiset into the
    first agg is identical to the join-based plan (identity pytest)."""
    from goldenretriever_spark.index.positions import (
        decode_phrase_votes,
        prune_blocks_for_terms,
    )

    if not phrases:
        raise ValueError("phrases must be non-empty")
    if any(not ph for _, ph in phrases):
        raise ValueError("phrase must be non-empty")
    all_terms = sorted({t for _, ph in phrases for t in ph})
    pruned = prune_blocks_for_terms(positional_blocks, all_terms, n_term_buckets)
    votes = decode_phrase_votes(pruned, phrases)
    need_map = F.create_map(
        *[lit for qid, ph in phrases for lit in (F.lit(qid), F.lit(len(ph)))]
    )
    return (
        votes.repartition("query_id", "doc_id")
        .groupBy("query_id", "doc_id", "start")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == need_map[F.col("query_id")])
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("occurrences"))
    )


def phrase_match(
    docs: DataFrame, phrase: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokenize-path phrase match: ``(doc_id, occurrences)`` for docs
    containing the exact consecutive token sequence ``phrase`` (occurrences
    > 0 only). For a PERSISTED index use :func:`phrase_match_stored` — this
    path re-tokenizes the corpus and exists for index-less one-off queries
    and as the stored path's cross-check twin."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    # Pre-filter: a doc lacking ANY phrase term cannot match — an
    # arrays-contain conjunction the optimizer applies before the explode.
    # (With a PERSISTED positional index this pruning is the term equi-join
    # itself: only the phrase terms' posting buckets are ever read.)
    toks = simple_tokens(F.col(text_col))
    pruned = docs
    for t in sorted(set(phrase)):
        pruned = pruned.filter(F.array_contains(toks, t))
    pp = positional_postings(pruned, text_col=text_col, id_col=id_col)
    return phrase_match_postings(pp, phrase)


def phrase_match_stored(
    positional_blocks: DataFrame,
    phrase: list[str],
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Phrase match served from PERSISTED positional blocks
    (index/positions.py) — the 100 TB path: the term-bucket partition
    pruning + term filter touch only the phrase terms' posting blocks; the
    corpus is never scanned or re-tokenized. Same ``(doc_id, occurrences)``
    contract as :func:`phrase_match` (identity-tested in
    tests/test_positions.py). Thin wrapper over the batched fused
    decode+vote path (see :func:`phrase_match_stored_batch`)."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    return phrase_match_stored_batch(
        positional_blocks, [(0, phrase)], n_term_buckets=n_term_buckets
    ).select("doc_id", "occurrences")


def _occurrences_expr(tk: Column, phrase: list[str]) -> Column:
    """Occurrence count of ``phrase`` in token array ``tk`` as a single
    Catalyst expression (overlapping, exact)."""
    n = len(phrase)
    ph = F.array(*[F.lit(t) for t in phrase])
    # sequence(1, m) DESCENDS when m < 1 — guard short docs explicitly.
    starts = F.when(
        F.size(tk) >= n,
        F.filter(
            F.sequence(F.lit(1), F.size(tk) - n + 1),
            lambda s: F.slice(tk, s, n) == ph,
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.size(starts).cast("long")


def phrase_match_scan(
    docs: DataFrame, phrase: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scan-path twin: same ``(doc_id, occurrences)`` contract, computed as
    one array expression over the raw text (no index)."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    tk = simple_tokens(F.col(text_col))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            _occurrences_expr(tk, phrase).alias("occurrences"),
        )
        .filter(F.col("occurrences") > 0)
    )


def proximity_match(
    docs: DataFrame,
    terms: list[str],
    window: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unordered proximity search: ``(doc_id, n_windows)`` for docs where ALL
    distinct ``terms`` co-occur within some ``window`` consecutive tokens
    (Lucene sloppy-phrase style, order-free). ``n_windows`` counts the
    distinct window START positions that satisfy the conjunction — a
    density signal usable as a ranking boost.

    Index path, same start-vote shape as :func:`phrase_match`: each
    positional posting of a query term votes for the ``window`` starts whose
    span covers it (one ``explode(sequence(...))`` — cost is W × the
    QUERY terms' postings only, never the corpus); a start collecting all
    n distinct terms is a hit.  Window spans truncate at the document end
    (a start near the end checks the remaining suffix), matching the scan
    twin and the DuckDB oracle exactly.
    """
    tset = sorted(set(terms))
    if not tset:
        raise ValueError("terms must be non-empty")
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = simple_tokens(F.col(text_col))
    pruned = docs
    for t in tset:
        pruned = pruned.filter(F.array_contains(toks, t))
    pp = positional_postings(pruned, text_col=text_col, id_col=id_col)
    return proximity_match_postings(pp, tset, window)


def proximity_match_postings(
    pp: DataFrame, terms: list[str], window: int
) -> DataFrame:
    """Window start-vote proximity match over ANY ``(term, doc_id, pos)``
    postings frame — the shared core of the scan and stored paths."""
    tset = sorted(set(terms))
    if not tset:
        raise ValueError("terms must be non-empty")
    if window < 1:
        raise ValueError("window must be >= 1")
    n = len(tset)
    spark = pp.sparkSession
    qp = spark.createDataFrame([(t,) for t in tset], "term string")
    hits = pp.join(F.broadcast(qp), "term")
    if n > 1:
        # Intersection-first pruning: the window explode multiplies every
        # posting by W, so feeding it a scorching-hot term's full posting
        # list is the scale bottleneck (measured: stored path 6x SLOWER than
        # the scan twin at 100k docs on {def,hash,user} before this join).
        # A doc lacking ANY query term cannot produce a window — shrink
        # `hits` to docs containing ALL n terms first. One extra map-side-
        # combinable shuffle over the query terms' postings, in exchange for
        # exploding only the (typically tiny) conjunction's docs.
        cand = (
            hits.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("_nt"))
            .filter(F.col("_nt") == n)
            .select("doc_id")
        )
        hits = hits.join(cand, "doc_id", "left_semi")
    starts = hits.select(
        "doc_id",
        "term",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (window - 1), F.lit(0)), F.col("pos")
            )
        ).alias("start"),
    )
    return (
        starts.groupBy("doc_id", "start")
        .agg(F.count_distinct("term").alias("n_hit"))
        .filter(F.col("n_hit") == n)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
    )


def proximity_match_stored(
    positional_blocks: DataFrame,
    terms: list[str],
    window: int,
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Proximity match served from PERSISTED positional blocks — same
    bucket-pruned no-corpus-scan shape as :func:`phrase_match_stored`, same
    ``(doc_id, n_windows)`` contract as :func:`proximity_match` (identity
    with the scan twin pytest-locked).

    r7 (guide §4.2): the decode emits int term CODES instead of strings
    (positions.decode_position_codes), and the redundant broadcast term
    join is gone — the pruned scan already contains only the query terms.
    The exchange shape deliberately stays the r6 one (map-side-combinable
    agg exchanges): a single up-front repartition(doc_id) feeding the
    post-explode votes was tried and REVERTED — the W× window explode then
    lands AFTER the only exchange, so each of the P tasks must aggregate
    |positions|×W/P keys with no prior map-side reduction, which OOM'd at
    the 3.84M-doc scale point on hot terms (Java heap, 32 tasks × ~25M
    (doc, start) keys). Partial aggregation BEFORE each exchange is what
    bounds per-task memory here (guide §2.3 'aggregate before you
    shuffle')."""
    from goldenretriever_spark.index.positions import (
        decode_position_codes,
        prune_blocks_for_terms,
    )

    tset = sorted(set(terms))
    if not tset:
        raise ValueError("terms must be non-empty")
    if window < 1:
        raise ValueError("window must be >= 1")
    n = len(tset)
    pruned = prune_blocks_for_terms(positional_blocks, tset, n_term_buckets)
    hits = decode_position_codes(pruned, tset)
    if n > 1:
        # intersection-first pruning (see proximity_match_postings): shrink
        # to docs containing ALL n terms before the W× window explode
        cand = (
            hits.groupBy("doc_id")
            .agg(F.count_distinct("code").alias("_nt"))
            .filter(F.col("_nt") == n)
            .select("doc_id")
        )
        hits = hits.join(cand, "doc_id", "left_semi")
    starts = hits.select(
        "doc_id",
        "code",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (window - 1), F.lit(0)), F.col("pos")
            )
        ).alias("start"),
    )
    return (
        starts.groupBy("doc_id", "start")
        .agg(F.count_distinct("code").alias("n_hit"))
        .filter(F.col("n_hit") == n)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
    )


def proximity_match_scan(
    docs: DataFrame,
    terms: list[str],
    window: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scan-path twin of :func:`proximity_match`: one array expression, no
    index — every start ``s`` (1-based) whose (end-truncated) ``window``-token
    slice contains all distinct terms."""
    tset = sorted(set(terms))
    if not tset:
        raise ValueError("terms must be non-empty")
    if window < 1:
        raise ValueError("window must be >= 1")
    tk = simple_tokens(F.col(text_col))
    q = F.array(*[F.lit(t) for t in tset])
    n_win = F.size(
        F.when(
            F.size(tk) > 0,
            F.filter(
                F.sequence(F.lit(1), F.size(tk)),
                lambda s: F.forall(
                    q, lambda t: F.array_contains(F.slice(tk, s, window), t)
                ),
            ),
        ).otherwise(F.array().cast("array<int>"))
    ).cast("long")
    return (
        docs.select(F.col(id_col).alias("doc_id"), n_win.alias("n_windows"))
        .filter(F.col("n_windows") > 0)
    )


def phrase_ranked_topk(
    index,
    positional_blocks: DataFrame,
    phrases: list[tuple[int, list[str]]],
    k: int = 10,
    boost: float = 1.0,
    n_term_buckets: int | None = None,
) -> DataFrame:
    """Phrase-aware ranked retrieval — the positional index's retrieval
    consumer (Lucene sloppy-phrase scoring shape, not just a boolean match).

    Per query: BM25 bag-of-words score over the phrase's terms, plus a
    saturating exact-phrase boost ``boost * ln(1 + occurrences)`` for docs
    where the consecutive phrase occurs, served from the PERSISTED
    positional blocks (:func:`phrase_match_stored` — bucket-pruned, no
    corpus scan). The reference ranks by embedding similarity only
    (/root/reference/src/models.py:114-149); phrase-boosted lexical ranking
    is the classic positional-index upgrade over bag-of-words.

    Plan shape: the BM25 leg is the stock score_candidates plan (broadcast
    query terms, one map-side-combinable shuffle); the phrase leg is ONE
    batched vote over the union of the batch's positional buckets
    (:func:`phrase_match_stored_batch` — P phrases never pay P scans); the
    two meet in a LEFT join keyed (query_id, doc_id) — every
    phrase-matching doc contains the phrase's terms, so the left side
    (scored) already covers all matches and no candidate is lost.

    Returns ``(query_id, doc_id, score_q, rank)`` top-k per query, score
    quantized x10000 with the engine-wide (score desc, doc_id asc) tie
    discipline.
    """
    from goldenretriever_spark.query import bm25

    if not phrases:
        raise ValueError("phrases must be non-empty")
    spark = positional_blocks.sparkSession
    terms = bm25.query_terms_df(
        spark, [(qid, " ".join(ph)) for qid, ph in phrases], tokenizer="simple"
    )
    scored = bm25.score_candidates(index, terms)
    occ = phrase_match_stored_batch(
        positional_blocks, phrases, n_term_buckets=n_term_buckets
    )
    return _phrase_boost_rank(scored, occ, k, boost)


def _phrase_boost_rank(
    scored: DataFrame, occ: DataFrame, k: int, boost: float
) -> DataFrame:
    """Shared tail of the phrase-ranked paths: LEFT-join the occurrence
    counts onto the full candidate scores, fold the saturating boost, rank.
    The join is keyed (query_id, doc_id) over candidate-sized frames only."""
    boosted = scored.join(occ, ["query_id", "doc_id"], "left").withColumn(
        "score_q",
        F.round(
            (
                F.col("score")
                + F.lit(float(boost))
                * F.log(F.lit(1) + F.coalesce(F.col("occurrences"), F.lit(0)))
            )
            * 10000
        ).cast("long"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        boosted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_q", "rank")
    )


def phrase_ranked_topk_stored(
    spark: SparkSession,
    posting_blocks: DataFrame,
    corpus_stats: DataFrame,
    positional_blocks: DataFrame,
    phrases: list[tuple[int, list[str]]],
    k: int = 10,
    boost: float = 1.0,
    n_term_buckets: int | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Phrase-boosted ranked retrieval ENTIRELY from a persisted index —
    BM25 candidate scores decoded from the compressed posting blocks
    (query/wand.stored_score_candidates: bucket-pruned, no raw postings
    table anywhere) fused with the batched stored-phrase occurrence vote.
    Same contract and scores as :func:`phrase_ranked_topk` on the
    equivalent in-memory index (identity-tested in tests/test_round6.py);
    this is the variant a serving deployment runs (StoredIndex.phrase_ranked)."""
    from goldenretriever_spark.query.wand import stored_score_candidates

    if not phrases:
        raise ValueError("phrases must be non-empty")
    scored = stored_score_candidates(
        spark,
        posting_blocks,
        corpus_stats,
        [(qid, " ".join(ph)) for qid, ph in phrases],
        tokenizer="simple",
        n_term_buckets=n_term_buckets,
        stats=stats,
    )
    occ = phrase_match_stored_batch(
        positional_blocks, phrases, n_term_buckets=n_term_buckets
    )
    return _phrase_boost_rank(scored, occ, k, boost)
