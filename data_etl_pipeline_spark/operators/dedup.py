"""Deduplication operators for large-scale text corpora.

The reference dedups scraped page blocks with SHA-256 body hashes and
first-occurrence-wins ordering (scraper_app/src/scraper_app/utils/
dedup_util.py:51-64, 273-307 — SURVEY W4). At 100 TB we additionally need
near-duplicate detection; this module provides the standard ladder:

  exact_dedup          - hash-groupBy, first occurrence wins
  shingles             - word n-gram set per document (UDTF-shaped explode)
  ngram_jaccard_pairs  - posting self-join on the shingle, exact Jaccard
  minhash_signatures   - k-permutation MinHash over the shingle set
  lsh_candidate_pairs  - posting self-join on the LSH band key

All hash arithmetic uses the md5-derived portable hash
(functions/hashing.py) so the DuckDB oracle reproduces results bit-for-bit.

Scale design: every step is an explode + hash-partitioned groupBy/join —
no driver-side state, no cross join. Pairs are mined by ``pairs_sharing``,
one shuffled equi self-join of a posting list on its key, so only
key-sharing pairs are ever formed, which is what makes MinHash viable at
100 TB where the exact pairwise join is O(n^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.functions.hashing import (
    MERSENNE_31,
    MINHASH_A,
    MINHASH_B,
    NUM_MINHASH,
    h32,
)
from data_etl_pipeline_spark.tables import spread


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First-occurrence-wins exact dedup (SURVEY W4).

    Returns one row per distinct content hash with the surviving id and the
    number of copies folded away. Window over the content hash mirrors
    dedup_util.py:273-307 (first block keeps body, later duplicates dropped).
    """
    w = W.partitionBy("content_hash").orderBy(id_col)
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(W.partitionBy("content_hash")))
        .where(F.col("rn") == 1)
        .select(F.col("content_hash"), F.col(id_col).alias("keep_id"), F.col("n_copies"))
    )


def _docs_with_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, sh) with sh = distinct word n-gram array. The text is split
    exactly once (projected to a column before the size filter) so the plan
    carries one split per row instead of recomputing it in every predicate.

    The shingle expression is TOTAL (empty array below n words), not
    merely filtered: InferFiltersFromGenerate copies a downstream
    explode's expression into the Filter as inferred ``size(...) > 0`` /
    ``isnotnull`` conjuncts, and common-subexpression elimination then
    evaluates it EAGERLY for every row — the size predicate's
    short-circuit never happens, and an unguarded
    ``sequence(0, size(w) - n)`` on a sub-n-word doc descends into
    ``slice(w, 0, n)``, which throws. (Round-7 fix; found the moment a
    corpus contained a two-word document.) Totality comes from clamping
    the sequence bound — ``sequence(0, greatest(size(w) - n, 0))`` — NOT
    from a CASE guard: a conditional branch would BLOCK subexpression
    elimination, forcing the shingling to run twice per row (measured
    +65% on the jaccard/minhash headliners). A sub-n-word row evaluates
    to one bogus short shingle that the real size predicate then drops;
    rows that survive the filter are untouched by the clamp.

    The inferred filter also crosses ``spread()``'s exchange: predicate
    pushdown substitutes ``sh`` and moves the whole shingle expression
    below the round-robin repartition, so every document is shingled
    twice, first on the scan's one task. Callers therefore explode ``sh``
    through ``_postings`` (``explode_outer``), which infers nothing.
    """
    # spread() first: shingling (split + transform + array_distinct) is the
    # most compute-heavy narrow stage in the engine, and on a single-split
    # scan it would otherwise run on one core (guide §2.5; round-12 profile:
    # the jaccard/minhash scan stage was 1 task and ~60% of query wall).
    return (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select("doc_id", F.split(F.col(text_col), " ").alias("w"))
        .where(F.size("w") >= n)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, greatest(size(w) - {n}, 0)), "
                    f"i -> concat_ws(' ', slice(w, i + 1, {n})))"
                )
            ).alias("sh"),
        )
    )


def _postings(docs: DataFrame, *cols) -> DataFrame:
    """(doc_id, *cols, shingle) rows, one per shingle of each document of
    ``_docs_with_shingles``. Its ``size(w) >= n`` filter leaves every
    ``sh`` non-empty, so ``explode_outer`` emits the same rows as
    ``explode`` (never a NULL shingle), and unlike ``explode`` it lets
    the optimizer infer no ``size(sh) > 0`` filter to push below
    ``spread()``."""
    return docs.select("doc_id", *cols, F.explode_outer("sh").alias("shingle"))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.

    UDTF-shaped one-row-to-many explode (SURVEY U3). Stays entirely in
    whole-stage codegen: split / transform / explode are JVM built-ins.
    """
    return _postings(_docs_with_shingles(df, text_col, id_col, n))


def pairs_sharing(postings: DataFrame, keys: list[str], *payload: str) -> DataFrame:
    """(doc_a, doc_b, <payload>_a, <payload>_b) with doc_a < doc_b: one row
    per pair of ``postings`` rows (``doc_id``, ``keys``, ``payload``) with
    equal ``keys``, so a pair sharing k keys comes back k times.

    One equi self-join, planned as a shuffled hash join: both sides are
    the same posting plan, so they share one exchange (ReusedExchange)
    and the postings are built once, and the small-data plan has the
    shape of the 100 TB one. Left to the size estimate, the planner would
    broadcast the postings and build them a second time for the build
    side. A key shared by k rows still yields k*(k-1)/2 pairs: boilerplate
    keys are the skew risk at scale, which AQE's skew-join split bounds.
    """
    p = postings.select("doc_id", *keys, *payload)
    return (
        p.alias("a")
        .join(
            p.alias("b").hint("shuffle_hash"),
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            + [F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in payload for s in "ab"],
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_postings: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via an inverted index — ONE corpus scan.

    Shape: doc -> (shingle, doc_size) postings -> self-join on the
    shingle (``pairs_sharing``) -> count per pair, as the oracle SQL
    does. The two join sides share one exchange, so the text is scanned
    and shingled once; the shuffles carry only (shingle, id, size)
    postings and (pair) counts.

    Scale note: a shingle shared by k docs yields k*(k-1)/2 pairs — boiler-
    plate shingles are the skew risk at 100 TB. Standard mitigation (as in
    large-corpus dedup pipelines) is dropping ultra-frequent shingles:
    pass ``max_postings`` to drop shingles with more postings than that
    before pairing (pairs then undercount n_common on boilerplate — the
    deliberate trade; the capped variant is declared as its own
    oracle-checked query so the approximation is visible, not silent).
    """
    postings = _postings(_docs_with_shingles(df, text_col, id_col, n), F.size("sh").alias("n_sh"))
    if max_postings is not None:
        over_cap = postings.groupBy("shingle").count().where(F.col("count") > max_postings)
        postings = postings.join(over_cap, "shingle", "left_anti")
    jacc = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        pairs_sharing(postings, ["shingle"], "n_sh")
        .groupBy("doc_a", "doc_b", F.col("n_sh_a").alias("size_a"), F.col("n_sh_b").alias("size_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("jaccard", F.round(jacc, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document MinHash signature as an ordered array<bigint>.

    One shuffle: shingle rows aggregate with NUM_MINHASH independent min()
    columns (one per permutation) instead of exploding rows x 16. Partial
    (map-side) min means the shuffle carries one row of 16 longs per
    document regardless of corpus size.
    """
    sh = shingles(df, text_col, id_col, n)
    h = F.expr(h32("shingle"))
    rows = sh.select("doc_id", h.alias("h"))
    aggs = [
        F.min(F.expr(f"({MINHASH_A[i]}L * h + {MINHASH_B[i]}L) % {MERSENNE_31}")).alias(f"m{i}")
        for i in range(NUM_MINHASH)
    ]
    return (
        rows.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.array(*[F.col(f"m{i}") for i in range(NUM_MINHASH)]).alias("signature"))
    )


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, signature, band, band_key) — one row per document per band:
    the PERSISTABLE LSH band index. Batch pair-mining
    (lsh_candidate_pairs) groups it by (band, band_key); ingest-time
    incremental dedup (incremental_minhash_dedup) equi-joins a new
    batch's bands against a persisted copy (e.g. through
    sources/versioned.py keyed on (doc_id, band))."""
    if NUM_MINHASH % bands != 0:
        raise ValueError(
            f"bands={bands} must divide NUM_MINHASH={NUM_MINHASH}: trailing "
            "signature positions would silently drop from every band key, "
            "lowering recall below the b/r LSH bound"
        )
    rows_per_band = NUM_MINHASH // bands
    sig = minhash_signatures(df, text_col, id_col, n)
    return sig.select(
        "doc_id",
        "signature",
        F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("band"),
    ).withColumn(
        "band_key",
        F.md5(
            F.concat_ws(
                ",",
                F.expr(f"transform(slice(signature, band * {rows_per_band} + 1, {rows_per_band}), x -> cast(x as string))"),
            )
        ),
    )


_EST_SIM = (
    "round(cast(size(filter(zip_with({a}, {b}, (x, y) -> x = y), z -> z)) as double)"
    f" / cast({{n}} as double), 6)"
)


def incremental_minhash_dedup(
    index_df: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    min_est: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Ingest-time near-dup gate: dedup a NEW document batch against a
    persisted band index without touching the already-ingested corpus.

    A new document is dropped iff
      (a) one of its bands collides with an INDEXED document and the
          signature similarity estimate >= ``min_est``
          (status ``dup_of_index``), else
      (b) it collides at >= ``min_est`` with a SMALLER-ID document of its
          own batch (status ``dup_in_batch`` — W4 first-wins, evaluated
          against the whole batch, deliberately non-transitive: the
          oracle-checkable greedy a 100 TB ingest actually runs).

    Returns ``(status_df, index_delta)``: per-new-doc (doc_id, status),
    and the kept documents' band rows to MERGE into the index so the next
    batch dedups against them too. Scale shape: the index join is an
    equi-join on (band, band_key) — the corpus is never rescanned, never
    re-shingled; per batch the only work is the new docs' signatures plus
    posting-list joins.
    """
    nb = minhash_band_index(new_docs, text_col, id_col, n, bands)
    est_idx = F.expr(_EST_SIM.format(a="signature", b="idx_sig", n=NUM_MINHASH))
    vs_index = (
        nb.join(
            index_df.select(
                F.col("band"), F.col("band_key"), F.col("signature").alias("idx_sig")
            ),
            on=["band", "band_key"],
        )
        .where(est_idx >= min_est)
        .select("doc_id")
        .distinct()
        .withColumn("dup_of_index", F.lit(True))
    )
    est_ab = F.expr(_EST_SIM.format(a="sig_a", b="sig_b", n=NUM_MINHASH))
    intra = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .where(est_ab >= min_est)
        .select("doc_id")
        .distinct()
        .withColumn("dup_in_batch", F.lit(True))
    )
    status = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(vs_index, on="doc_id", how="left")
        .join(intra, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(F.col("dup_of_index"), F.lit("dup_of_index"))
            .when(F.col("dup_in_batch"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )
    kept_ids = status.where(F.col("status") == "kept").select("doc_id")
    index_delta = nb.join(kept_ids, on="doc_id", how="left_semi")
    return status, index_delta


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    min_est: float = 0.5,
) -> DataFrame:
    """Banded-LSH near-dup candidates + estimated similarity.

    Signatures are cut into ``bands`` bands; documents sharing any band
    become candidates (``pairs_sharing`` on (band, band hash) — a plain
    shuffle join on a high-cardinality key, the scalable core of MinHash
    dedup). Estimated similarity = fraction of equal signature positions.
    """
    banded = minhash_band_index(df, text_col, id_col, n, bands)
    cand = pairs_sharing(banded, ["band", "band_key"], "signature")
    # est_similarity is ROUND(CAST(matches AS DOUBLE)/N, 6) in BOTH engines:
    # Spark's int / decimal-literal division would yield DECIMAL while DuckDB's
    # len()/16.0 path differs — the driver's value hash is type-sensitive.
    #
    # Estimate BEFORE the pair dedup, filter, then dedup on the narrow
    # (doc_a, doc_b, est) rows: a pair colliding in several bands carries
    # identical signatures, so est is a per-pair constant and min(est) over
    # the duplicates equals the single value the old dropDuplicates kept.
    # This replaces a first(array)-based dedup — two SortAggregate passes
    # around an Exchange shuffling both full signatures per candidate —
    # with a partial-aggregating HashAggregate over three scalar columns
    # (guide §2.3 "project before the exchange" / §2.4: the sort
    # disappears, the exchange narrows from 2x16 longs to one double).
    est = F.expr(_EST_SIM.format(a="signature_a", b="signature_b", n=NUM_MINHASH))
    return (
        cand.withColumn("est_similarity", est)
        .where(F.col("est_similarity") >= min_est)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("est_similarity").alias("est_similarity"))
        .select("doc_a", "doc_b", "est_similarity")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """60-bit SimHash over the distinct word set of each document.

    Implemented as pure higher-order expressions (no UDF): for bit j the
    vote is sum over word hashes of +-1 on bit j; the bit is set when the
    vote is positive. 60 bits keeps the value positive in a signed int64.

    At production scale the equivalent vectorized pandas_udf computing all
    bits in one numpy pass is the faster path; this expression form is the
    oracle-checkable single-pass one (one row in, one row out, no shuffle).

    NULL text has no words, so no bit's vote is positive: its simhash is
    0, never NULL (the oracle SQL's value), and the row keeps its place
    in ``simhash_pairs``.
    """
    # FULL 60-bit word hashes: reducing mod 2^31-1 (as the MinHash
    # permutation math must) would zero bits 31-59, collapsing the upper
    # bands of simhash_pairs into corpus-wide buckets — the O(n^2)
    # self-join banding exists to avoid that.
    #
    # Loop order: fold over WORD HASHES once, accumulating all 60 bit
    # votes in an array, then turn votes into bits. The per-bit-outer
    # form (`aggregate(bits, ..., aggregate(__wh, ...))`) re-evaluates
    # its word-hash child on every bit — 60x the md5 work per row — and
    # no projection can pin it: a single-use `__wh` column is inlined
    # back into the fold by CollapseProject (the round-12 "materialize
    # once" comment was a no-op — the committed plan snapshot showed the
    # md5 transform still inside the per-bit lambda; r12 ADVICE.md).
    # With the word-outer fold every subexpression is the argument of
    # exactly one enclosing aggregate/transform, so md5 runs once per
    # distinct word no matter how the optimizer collapses projections.
    # Votes are integer sums (commutative), so the per-bit totals — and
    # every emitted bit — are identical to the per-bit-outer form.
    words_hashes = (
        f"transform(array_distinct(split({text_col}, ' ')), "
        f"x -> cast(conv(substr(md5(x), 1, 15), 16, 10) as bigint))"
    )
    votes = (
        f"aggregate({words_hashes}, array_repeat(cast(0 as bigint), {bits}), "
        "(acc, h) -> zip_with(acc, sequence(0, size(acc) - 1), "
        "(v, j) -> v + IF((shiftright(h, j) & 1) = 1, 1, -1)))"
    )
    sim = (
        f"coalesce(aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        "(v, j) -> IF(v > 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint))), "
        "cast(0 as bigint), (acc, b) -> acc + b), cast(0 as bigint))"
    )
    # spread(): the 60-bit interpreted vote fold is pure narrow compute —
    # on a single-split scan it would run on one core (guide §2.5)
    return (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select("doc_id", F.expr(sim).alias("simhash"))
    )


def benchmark_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, how many of
    its distinct word ``n``-grams also appear in the evaluation set — the
    decontamination step a training pipeline runs before a corpus ships.

    Scale shape: the eval set is tiny next to the corpus, so its distinct
    n-gram set is broadcast; the corpus is shingled in codegen and hits are
    a broadcast semi-style join + per-doc count — ONE corpus scan, no
    shuffle of corpus text. Documents shorter than ``n`` words carry no
    n-grams and are excluded (mirrored in the oracle).
    """
    ev = _postings(_docs_with_shingles(eval_df, text_col, id_col, n)).select("shingle").distinct()
    docs = _docs_with_shingles(corpus, text_col, id_col, n)
    hits = (
        _postings(docs)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs from SimHash banding — the step that turns E4's
    signatures into an actual dedup path (reference dedups exact bodies,
    scraper_app/src/scraper_app/utils/dedup_util.py:51-64; SimHash banding
    is the standard fuzzy extension at corpus scale).

    Shape mirrors MinHash-LSH: the 60-bit signature splits into ``bands``
    15-bit band keys; documents sharing any band key become candidates
    (``pairs_sharing`` on (band, key)), then candidates are kept when the
    full-signature hamming distance <= ``max_hamming``.

    A pair within hamming distance d differs in at most d bit positions, so
    with bands > d at least one band matches exactly — banding with
    bands = 4 is EXACT (lossless) for the default max_hamming = 3 and a
    high-recall candidate filter above that. One corpus scan; the shuffles
    carry (band_key, doc_id, simhash) postings and the candidate pairs.
    """
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sig = simhash(df, text_col, id_col, bits)
    # one literal struct per band, no lambda: a higher-order function
    # would keep the Generate out of whole-stage codegen
    band_keys = F.array(
        *[
            F.expr(f"named_struct('band', {b}, 'key', shiftright(simhash, {b * band_bits}) & {mask})")
            for b in range(bands)
        ]
    )
    postings = sig.select("doc_id", "simhash", F.explode(band_keys).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cand = pairs_sharing(postings, ["band", "key"], "simhash")
    # hamming is a per-pair constant across band collisions, so verify
    # FIRST, filter, and dedup on (doc_a, doc_b, min(hamming)) — the
    # selective distance filter then runs before the dedup exchange
    # instead of after it (same reordering as lsh_candidate_pairs /
    # lsh_near_dup_pairs; guide §2.3).
    return (
        cand.withColumn("hamming", F.expr("bit_count(simhash_a ^ simhash_b)").cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    min_est: float = 0.5,
    max_iterations: int = 20,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH candidate
    pair graph, labeling every document with the smallest doc id reachable
    from it (the cluster's canonical representative — "keep the canonical,
    drop the rest" is the standard corpus-dedup contract).

    Algorithm: min-label propagation with pointer jumping, to a fixpoint.
    Labels start as each node's own id; every round joins the symmetric
    edge list against the current labels and lowers each node's label to
    the minimum of its neighborhood, then path-halves (label <-
    min(label, label-of-label)), so rounds needed = O(log diameter) —
    near-dup clusters are dense clique-ish blobs (2-3 rounds) and even
    chain-shaped components converge within the default cap.
    ``max_iterations`` bounds the loop, convergence is checked each round
    (count of changed labels — an aggregate, not a collect of data rows),
    and hitting the cap RAISES rather than returning split components.
    The per-round shape — joins + min-aggregate on the node key — is the
    same family as GraphX/GraphFrames connectedComponents'
    large-star/small-star alternation.

    Each iteration localCheckpoints the label table: this truncates the
    lineage so the plan does not grow exponentially across iterations
    (same technique as operators/hierarchy.py's semi-naive closure).
    """
    pairs = lsh_candidate_pairs(df, text_col, id_col, bands=bands, min_est=min_est)
    nodes = df.select(F.col(id_col).alias("doc_id"))
    return min_label_clusters(
        nodes,
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        max_iterations=max_iterations,
    )


def min_label_clusters(
    nodes: DataFrame, pair_edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Generic connected components by min-label propagation: ``nodes`` is
    a one-column (doc_id) frame, ``pair_edges`` an undirected (src, dst)
    pair list; returns (doc_id, cluster) with cluster = the smallest id
    reachable from each node (singletons label themselves).  The loop
    shape and the lineage/convergence mechanics are documented on
    dedup_clusters, which delegates here.

    Each round combines one hop of neighbor-min propagation with one
    POINTER JUMP (cluster <- min(cluster, cluster(cluster))) — the
    path-halving trick that makes rounds-to-converge O(log diameter)
    instead of O(diameter), so a 10^6-long chain (real dedup graphs at
    corpus scale: boilerplate chains, crawl rings) needs ~20 rounds, not
    10^6.  A label is always the id of some node in the same component
    (propagation moves labels along edges, jumping composes them), so
    the fixpoint is the component min — identical to the plain
    propagation the DuckDB oracle replays recursively.  If the cap is
    ever hit without convergence the function RAISES: silently returning
    partially-propagated labels would split components without any
    signal (the failure mode the cap used to hide)."""
    edges = pair_edges.unionByName(
        pair_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # Iterate over EDGE ENDPOINTS only: a node with no edge can never
    # change its label, so the full node set rides along every round for
    # nothing — at corpus scale the near-dup graph is a small fraction of
    # the corpus, so restricting the per-round joins/checkpoints/count to
    # endpoints shrinks each iteration from O(|nodes|) to O(|V_edges|)
    # (guide §1.2 step 1: fix the distributed algorithm first). Singletons
    # are re-attached once at the end with their identity label — the
    # exact value the old loop carried for them unchanged through every
    # round.
    # eager (the default): a lazy checkpoint here re-executes the
    # edges-distinct subtree once per reference inside round 1's join
    # before anything is materialized (measured +2-4 s at sf0.1).
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("doc_id"), F.col("src").alias("cluster"))
        .localCheckpoint()
    )
    converged = False
    for it in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        # the changed flag rides along inside the select, so convergence
        # costs one trivial scan of the materialized checkpoint instead
        # of re-joining new labels against old (which doubled the heavy
        # per-iteration job count)
        # ONE materialization per round: both the neighbor-min hop and the
        # pointer jump join against the PREVIOUS round's checkpoint (the
        # jump reads label-of-label one round stale), so the round is a
        # single 3-way join + checkpoint instead of hop-checkpoint then
        # jump-checkpoint. The stale jump still composes labels along
        # paths — new = min(own, neighbor-min, parent-of-own) — so rounds
        # stay O(log diameter) (one extra round at worst on deep chains)
        # while per-round actions drop from 2 materializations to 1. The
        # fixpoint is unchanged: at convergence labels are component
        # minima, where both the hop and the stale jump are identities.
        # Round 1 (it == 0): labels are the identity map, so the pointer
        # jump reads label-of-label = label — a provable no-op join.
        # Skipping it drops one join stage from the heaviest round while
        # leaving every value identical (least(own, nbr, own) =
        # least(own, nbr)).
        hopped = labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
        if it == 0:
            new_labels = hopped.select(
                "doc_id",
                F.least(
                    F.col("cluster"),
                    F.coalesce("nbr_cluster", F.col("cluster")),
                ).alias("cluster"),
                (F.coalesce("nbr_cluster", F.col("cluster")) < F.col("cluster")).alias(
                    "changed"
                ),
            ).localCheckpoint()
        else:
            parent = labels.select(
                F.col("doc_id").alias("p_id"), F.col("cluster").alias("p_cluster")
            )
            new_labels = (
                hopped.join(parent, labels.cluster == parent.p_id, "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster"),
                        F.coalesce("nbr_cluster", F.col("cluster")),
                        F.coalesce("p_cluster", F.col("cluster")),
                    ).alias("cluster"),
                    (
                        (F.coalesce("nbr_cluster", F.col("cluster")) < F.col("cluster"))
                        | (F.coalesce("p_cluster", F.col("cluster")) < F.col("cluster"))
                    ).alias("changed"),
                )
                .localCheckpoint()
            )
        changed = new_labels.where("changed").count()
        labels = new_labels.drop("changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"min_label_clusters did not converge in {max_iterations} rounds "
            "— component diameter exceeds 2^rounds; raise max_iterations"
        )
    # Singletons (nodes in no edge) label themselves. The propagated label
    # side is the endpoint set — small relative to the corpus — with
    # accurate post-checkpoint size stats, so the planner broadcasts it
    # against a large node set when it fits.
    return nodes.select("doc_id").join(
        labels.select(F.col("doc_id").alias("l_id"), "cluster"),
        F.col("doc_id") == F.col("l_id"),
        "left",
    ).select("doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster"))


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection (exact-substring dedup a
    la Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every word position whose k-gram also occurs in >= min_docs
    distinct documents is duplicated; runs of duplicated positions coalesce
    into maximal spans per document.

    The suffix-array of the paper becomes a shingle inverted index:

      doc -> positional k-grams (codegen transform + posexplode)
          -> groupBy gram: distinct-doc count  (shuffle 1, map-side combined)
          -> re-join occurrences x duplicated grams on the gram key
          -> per-doc gaps-and-islands interval merge (one doc-key window)

    Returns one row per doc: n_words, n_dup_spans, dup_words, dup_frac.

    Scale notes: unlike pair mining, a gram shared by m docs costs m
    occurrence rows (linear, never m^2) — there is no posting-explosion
    skew. The gram string itself is the key here so the DuckDB oracle can
    replay it engine-agnostically; production swaps the key to
    xxhash64(gram) (data-only change) to cut shuffle width ~10x. The final
    window partitions by doc id, whose cardinality bounds task memory.
    """
    # spread(): positional k-gram materialization is the heavy narrow stage
    # here; a single-split scan would run it on one core (guide §2.5)
    base = (
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select("doc_id", F.split(F.col(text_col), " ").alias("w"))
        .select("doc_id", "w", F.size("w").alias("n_words"))
    )
    occ = (
        base.where(F.col("n_words") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, n_words - {k} + 1),"
                    f" i -> concat_ws(' ', slice(w, i, {k})))"
                )
            ).alias("p0", "sh"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "sh")
    )
    dup = (
        occ.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("sh")
    )
    marked = occ.join(dup, "sh").select(
        "doc_id", "pos", (F.col("pos") + k - 1).alias("e")
    )
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    islands = marked.select(
        "doc_id",
        "pos",
        "e",
        F.when(
            F.col("pos")
            <= F.coalesce(
                F.max("e").over(w_doc.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(-10),
            )
            + 1,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("brk"),
    ).select(
        "doc_id",
        "pos",
        "e",
        F.sum("brk").over(w_doc.rowsBetween(W.unboundedPreceding, 0)).alias("island"),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("e").alias("en")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("en") - F.col("s") + 1).alias("dup_words"),
    )
    return (
        base.select("doc_id", "n_words")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
            F.round(
                F.coalesce("dup_words", F.lit(0)).cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_boilerplate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    g: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING dedup: word ``g``-grams appearing in
    at least ``min_docs`` distinct documents are boilerplate; every
    occurrence's span is cut from every document (the training-data
    dedup that removes licenses, headers and navigation chrome — Lee et
    al. 2022's suffix-array pass, re-expressed relationally: the n-gram
    postings index IS the repeated-substring finder at fixed g).

    Returns (doc_id, n_words, n_removed, cleaned_text) for EVERY input
    document — a fully-covered document comes back with empty text, a
    short one (< g words) untouched.

    Scale shape: one explode-groupBy over the corpus grams (the same
    shuffle class as MinHash); the hot-gram set is tiny by construction
    (boilerplate is rare), so the occurrence join prunes hard; covered
    positions explode only from hot occurrences; the reconstruction is a
    per-doc sort of kept words (partition-local after the doc_id
    shuffle). No UDFs, pure codegen.
    """
    d = df.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    )
    grams = d.where(F.size("w") >= g).select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, size(w) - {g})")).alias("s"),
        "w",
    ).select(
        "doc_id", "s", F.concat_ws(" ", F.expr(f"slice(w, s + 1, {g})")).alias("gram")
    )
    hot = (
        grams.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("gram")
    )
    cov = (
        grams.join(hot, "gram")
        .select("doc_id", F.explode(F.expr(f"sequence(s, s + {g - 1})")).alias("pos"))
        .distinct()
    )
    words = d.select("doc_id", F.posexplode("w").alias("pos", "word"))
    kept = words.join(cov, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"),
        ).alias("cleaned_text"),
    )
    base = d.select("doc_id", F.size("w").cast("long").alias("n_words"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_words",
        (F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


def jaccard_topk(
    df: DataFrame,
    n_queries: int,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-query lexical similarity ranking: for each of the first
    ``n_queries`` doc ids, the top-k OTHER documents by exact word-n-gram
    Jaccard — the lexical leg of a hybrid retriever (fuse with an ANN leg
    via ``operators.search.rrf_fuse``).

    Unlike the pair miner (symmetric, thresholded), this is asymmetric
    and exhaustive per query: the query side is TINY (n_queries docs) and
    broadcast onto the corpus postings, so the candidate join is
    one equi-join on the shingle — a pruned-probe shape that scales with
    corpus postings, never corpus pairs. Ties break on doc id.

    Returns (q_id, doc_id, jaccard, rank) with rank 1..k per query,
    jaccard rounded to 6 decimals. Queries whose text yields no shingles
    (under n words) rank nothing.
    """
    from pyspark.sql import Window as W

    # shingles() canonicalizes the id column to 'doc_id'; alias back to
    # the caller's id_col at the end (round-7 review fix: non-default
    # id_col previously raised an unresolved-column error)
    sh = shingles(df, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__sz"))
    qsh = (
        sh.where(F.col("doc_id") < n_queries)
        .select(F.col("doc_id").alias("q_id"), "shingle")
    )
    qsz = sizes.where(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("q_id"), F.col("__sz").alias("__qsz")
    )
    shared = (
        sh.join(F.broadcast(qsh), "shingle")
        .where(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    scored = (
        shared.join(sizes, "doc_id")
        .join(F.broadcast(qsz), "q_id")
        .select(
            "q_id",
            "doc_id",
            F.round(
                F.col("__shared")
                / (F.col("__qsz") + F.col("__sz") - F.col("__shared")),
                6,
            ).alias("jaccard"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("jaccard"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("doc_id").alias(id_col), "jaccard", "rank")
    )
