"""Keyword search over the corpus: inverted postings + BM25 ranking.

The curation loop constantly asks "show me the documents about X" —
at 100 TB that is not a regex scan, it is an INVERTED INDEX: one
tokenize-explode-groupBy pass builds (term, doc_id, tf) postings keyed by
term (the classic one-shuffle index build), and a query is a broadcast
join of its handful of terms against the postings — the corpus is never
rescanned per query. Ranking is BM25 (Robertson/Spärck Jones; the k1/b
form every search engine ships), computed entirely in codegen arithmetic,
and top-k is TakeOrderedAndProject — no global sort, no single-reducer
window.

Like the LSH/IVF indexes (operators/similarity.py), the postings table
is a plain DataFrame keyed on (term, doc_id): persisting it through the
VersionedTable and MERGEing per ingest batch is the same
state-not-recompute pattern proven there — queries over a persisted index
recompute nothing but their own scores.

Determinism: tf/df/dl are integers; the only floats are the BM25 idf/tf
terms, computed with the same IEEE ln/division in any engine and rounded
to 6 decimals, the float contract the whole oracle suite uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.tables import local_frame

_TOKENIZE = "filter(split(lower({col}), '[^a-z0-9]+'), x -> length(x) >= 2)"


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ONE corpus tokenize scan -> the inverted index (term, doc_id, tf),
    shuffled once on its natural key. Everything else BM25 needs derives
    from the postings themselves: dl = SUM(tf) per doc (the tokenizer and
    the index share the same filter by construction), so no second
    tokenize pass ever runs."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(_TOKENIZE.format(col=text_col))).alias("term"),
    )
    return toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))


def doc_lengths(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) from the index — docs whose every token was filtered
    out carry no postings and therefore no dl row; they cannot match any
    query term, and the corpus-level doc count is taken from the source
    table, so their absence only removes zero terms from sum_dl."""
    return postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))


def bm25_search(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Top-``topk`` documents for a bag-of-terms query, BM25-ranked:
    (doc_id, score, rank). Ties break on doc_id so the ranking is total.

    Pass ``postings`` (from ``build_postings``, e.g. read back from a
    VersionedTable) to query a PERSISTED index — then no corpus tokenize
    runs at all. Without it, the one-shot path builds the index and pins
    it with an eager localCheckpoint so the dl/df/score branches all read
    ONE materialization instead of re-tokenizing the corpus per branch.
    """
    if not terms:
        raise ValueError("bm25_search needs at least one query term")
    spark = docs.sparkSession
    if postings is None:
        postings = build_postings(docs, text_col, id_col).localCheckpoint(eager=True)
    doc_stats = doc_lengths(postings)
    # n_docs from the source table (a countable narrow scan, no tokenize);
    # sum_dl from the index — zero-token docs contribute 0 either way
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    corpus = doc_stats.agg(F.sum("dl").alias("sum_dl")).crossJoin(
        F.broadcast(n_docs_df)
    )
    qdf = local_frame(spark, [(t.lower(),) for t in terms], "term string").distinct()
    # df per query term only — the broadcast join prunes the postings
    # aggregation to the query's terms before any wide work
    q_postings = postings.join(F.broadcast(qdf), "term")
    df_counts = q_postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # (term, doc_id, tf, df) joined to per-doc lengths: an equi-join on
    # doc_id between the query-pruned postings and doc_stats — both sides
    # scale with the corpus, so this is a proper shuffle join (AQE
    # broadcasts the pruned side when it is small); df_counts and the
    # 1-row corpus stats ARE bounded and broadcast explicitly
    scored = (
        q_postings.join(F.broadcast(df_counts), "term")
        .join(doc_stats, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1
                * (1 - b + b * F.col("dl") / (F.col("sum_dl") / F.col("n_docs")))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    from pyspark.sql import Window as W

    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(topk)
    # rank over <= topk rows: the window runs on a bounded input, not the
    # corpus (the limit collapses to TakeOrderedAndProject first)
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "score", "rank"
    )


def refresh_postings(
    index,
    changes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_changed_docs: int = 100_000,
) -> None:
    """Incrementally maintain a persisted postings index against its
    corpus's change feed (``VersionedTable.change_feed``): postings of
    deleted/updated docs are GC'd, postings of inserted/updated docs are
    (re)built from ONLY those docs and MERGEd in. Without this, a DV
    delete or MERGE delete on the corpus leaves stale postings behind and
    search silently diverges from a fresh rebuild.

    The changed-doc id set is collected driver-side to drive the
    tombstone delete — bounded by the BATCH of changes being applied, not
    the corpus. Past ``max_changed_docs`` this refuses loudly: at that
    churn a from-scratch ``build_postings`` rebuild is cheaper than a
    giant literal predicate, and refusing beats quietly planning one.
    """
    stale = (
        changes.where(F.col("change_type").isin("delete", "update_preimage"))
        .select(F.col(id_col))
        .distinct()
    )
    ids = [r[0] for r in stale.limit(max_changed_docs + 1).collect()]
    if len(ids) > max_changed_docs:
        raise ValueError(
            f"more than {max_changed_docs} changed docs in one refresh; "
            "rebuild the postings index from scratch instead"
        )
    if ids:
        index.delete_where(F.col("doc_id").isin(ids))
    fresh = changes.where(
        F.col("change_type").isin("insert", "update_postimage")
    ).select(id_col, text_col)
    if fresh.take(1):
        # the stale rows are already gone, so the MERGE is a pure insert
        index.merge(build_postings(fresh, text_col, id_col), keys=["term", "doc_id"])


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    q_col: str = "q_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N per-query rankings (the standard
    hybrid-retrieval combiner: lexical BM25/Jaccard + semantic ANN lists
    into one ranking): score(q, d) = sum over systems of 1/(c + rank),
    missing entries contribute 0.

    Determinism: ranks are integers, so 1/(c+rank) is the same double in
    every engine; the fused score is a fixed-arity sum (one term per
    system, NULL-coalesced) rounded to 6 decimals, and ties break on
    doc id. Scale shape: each ranking is per-query top-n (tiny — n*k
    rows per query), so the full-outer merge joins bounded frames; no
    corpus-sized input ever reaches the fusion.

    Returns (q_col, doc_col, rrf_score, rank) with rank 1..k per query.
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse wants at least two rankings to fuse")
    from functools import reduce

    scored = [
        r.select(
            F.col(q_col), F.col(doc_col),
            (F.lit(1.0) / (F.lit(c) + F.col(rank_col))).alias(f"__s{i}"),
        )
        for i, r in enumerate(rankings)
    ]
    # SHUFFLE_HASH on the incoming ranking: full-outer cannot broadcast,
    # and each side is a per-query top-n list — hashing the new ranking
    # beats sort-merge's sorts at any scale (guide §3.1).
    merged = reduce(
        lambda a, b: a.join(b.hint("shuffle_hash"), [q_col, doc_col], "full_outer"),
        scored,
    )
    total = None
    for i in range(len(rankings)):
        term = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        total = term if total is None else total + term
    out = merged.select(q_col, doc_col, F.round(total, 6).alias("rrf_score"))
    w = W.partitionBy(q_col).orderBy(F.desc("rrf_score"), F.asc(doc_col))
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
