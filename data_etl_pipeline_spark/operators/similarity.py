"""Similarity search over embedding columns (array<float>).

BASELINE.json names similarity search as a first-class 100 TB capability.
Two strategies:

  cosine_pairs       - exact pairwise cosine above a threshold (the
                       correctness baseline; O(n^2), only for modest n)
  ann_topk_bruteforce- exact top-k neighbors for a small query set
                       (queries broadcast against the corpus — linear scan,
                       embarrassingly parallel, the right baseline even at
                       scale when the query set is small)
  ann_topk_lsh       - sign-random-projection bucketing; each query only
                       scans its bucket. The scale path: bucket key is a
                       shuffle/partition key, so the corpus is probed
                       without a cross join.

Dot products are computed with sequential left-fold ``aggregate`` in double
precision — bit-identical to the DuckDB oracle's ``list_reduce`` fold.
Similarities are rounded to 6 decimals before thresholding/ranking so both
engines agree deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.tables import spread

# Sequential double-precision left fold: same op order as the oracle.
#
# Round-12 optimization note (measured, kept as the fold on purpose): a
# dim-64 unrolled `0.0 + a[0]*b[0] + ...` expression is bit-identical and
# ~2.3x faster in a sterile single-column projection, but in the real
# query plans it LOST every A/B at sf0.1 (ann_topk_ivf warm 0.9 -> 2.7 s,
# cold 13.7 s): the ~320-node trees multiply generated-code size, and the
# per-invocation codegen/compile cost exceeds the interpreted-eval savings
# at any realistic per-task row count. Parallelism (spread below) is the
# lever that actually pays here.
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"


def _with_norm(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", fan_out: bool = True
) -> DataFrame:
    # spread() before the per-row dot/norm compute: embedding scans are
    # single-split locally, so every downstream narrow stage (norms, LSH
    # sign codes, centroid scoring) would otherwise run on one core
    # (guide §2.5); no-op when the scan already carries >= parallelism.
    # ``fan_out=False`` opts compute-light callers (ann_topk_bruteforce:
    # n_queries * corpus dots only) out of the repartition exchange, which
    # costs more than it saves there (round-12 A/B: 0.53 -> 0.73 s).
    dot_self = _DOT.format(a="v", b="v")
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    if fan_out:
        base = spread(base)
    return base.select(
        "vec_id",
        "v",
        F.expr(f"sqrt({dot_self})").alias("norm"),
    )


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    max_rows: int = 10_000,
) -> DataFrame:
    """All pairs (a < b) with round(cosine, 6) >= threshold.

    This is the O(n^2) EXACTNESS BASELINE, not a scale path — ``max_rows``
    makes that un-copyable into a production recipe: the input cardinality
    is counted up front and the call fails fast (ValueError) past the
    bound instead of melting a cluster with an n^2 theta-join. Raise the
    bound explicitly only when you mean it; the scale paths are
    ann_topk_ivf / ann_topk_lsh / doc_minhash_lsh_pairs.
    """
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs is an O(n^2) baseline: input has {n} rows > "
            f"max_rows={max_rows}; use the LSH/IVF scale paths or raise "
            "max_rows explicitly"
        )
    e = _with_norm(df, vec_col, id_col)
    a = e.alias("a")
    b = e.alias("b")
    dot = _DOT.format(a="a.v", b="b.v")
    sim = F.round(F.expr(dot) / (F.col("a.norm") * F.col("b.norm")), 6)
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def ann_topk_bruteforce(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query side is broadcast; the corpus is scanned once — a linear,
    fully parallel plan with a tiny shuffle (k rows per query survive).
    """
    e = _with_norm(df, vec_col, id_col, fan_out=False)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    dot = _DOT.format(a="qv", b="v")
    sim = F.round(F.expr(dot) / (F.col("qnorm") * F.col("norm")), 6)
    scored = (
        e.join(F.broadcast(q), F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def ann_topk_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_queries: int = 10,
    k: int = 3,
    stride: int = 25,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    to its nearest centroid, probe only each query's ``nprobe`` nearest
    cells, exact-rerank inside them.

    Centroids here are the deterministic stride sample ``vec_id % stride
    == 0`` so the index build is oracle-checkable end-to-end; in
    production the centroid table is the output of a (driver-side or
    MLlib) k-means over a corpus sample — everything downstream of the
    centroid table is unchanged.

    Scale shape: centroids are a broadcast dim (X5); assignment is a
    broadcast join scored in codegen + a map-side-combining max_by
    aggregation (the one shuffle moves one pre-reduced row per vector —
    no window sort over the corpus x centroids row set); probing joins
    corpus cells to query cells on the centroid id — the scan per query
    is ~nprobe/n_centroids of the corpus, and the join key (cell id) is
    the partition key, so no cross join ever materializes.
    """
    e = _with_norm(df, vec_col, id_col)
    if centroids is not None:
        # external centroid table (c_id, cv[, cnorm]) — e.g. the output of
        # kmeans_centroids reassembled into vectors
        c = centroids
        if "cnorm" not in c.columns:
            c = c.withColumn("cnorm", F.expr(f"sqrt({_DOT.format(a='cv', b='cv')})"))
    else:
        c = e.where(F.pmod(F.col("vec_id"), F.lit(stride)) == 0).select(
            F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
        )
    # Corpus-side assignment: per-(row, centroid) similarity stays in
    # whole-stage codegen (a broadcast hash-free join against the small
    # centroid side), then a max_by struct aggregation picks each row's
    # best (sim desc, id asc) cell. The aggregation partial-combines
    # map-side, so the one shuffle moves a single pre-reduced row per
    # vector — no window sort over the corpus x centroids row set.
    # (Measured at sf0.1: a pure higher-order-function fold over a
    # broadcast centroid ARRAY is ~1.7x slower here because lambda
    # expressions evaluate interpreted, outside codegen — the codegen
    # join + partial max_by is both the local and the 100 TB shape.)
    dot = _DOT.format(a="v", b="cv")
    csim = F.round(F.expr(dot) / (F.col("norm") * F.col("cnorm")), 6)
    scored_c = e.join(F.broadcast(c)).select("vec_id", "v", "norm", "c_id", csim.alias("c_sim"))
    cells = scored_c.groupBy("vec_id").agg(
        F.first("v").alias("v"),
        F.first("norm").alias("norm"),
        F.expr("max_by(c_id, named_struct('s', c_sim, 'i', -c_id))").alias("c_id"),
    )
    # Probe cells: full per-centroid ranking, computed ONLY for the tiny
    # query subset via an array sort over the broadcast centroid array (an
    # interpreted higher-order expression is fine on n_queries rows).
    cents = c.groupBy().agg(F.collect_list(F.struct("c_id", "cv", "cnorm")).alias("cents"))
    qcdot = _DOT.format(a="v", b="ct.cv")
    ranked = f"""
    array_sort(
      transform(cents, ct -> named_struct(
        'c_sim', round(({qcdot}) / (norm * ct.cnorm), 6),
        'c_id', ct.c_id)),
      (l, r) -> case when l.c_sim > r.c_sim then -1 when l.c_sim < r.c_sim then 1
                     when l.c_id  < r.c_id  then -1 when l.c_id  > r.c_id  then 1
                     else 0 end)
    """
    probes = (
        e.where(F.col("vec_id") < n_queries)
        .join(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(F.expr(f"transform(slice({ranked}, 1, {nprobe}), s -> s.c_id)")).alias("qc_id"),
        )
    )
    qdot = _DOT.format(a="qv", b="v")
    sim = F.round(F.expr(qdot) / (F.col("qnorm") * F.col("norm")), 6)
    # a corpus vector lives in exactly one cell and a query's probe cells
    # are distinct, so each (q, neighbor) appears at most once
    scored = cells.join(
        F.broadcast(probes),
        (F.col("c_id") == F.col("qc_id")) & (F.col("q_id") != F.col("vec_id")),
    ).select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def lsh_hyperplanes(
    dim: int, n_bits: int, n_tables: int, seed: int
) -> list[list[list[float]]]:
    """Seeded random hyperplanes for sign-projection LSH, rounded to 6
    decimals so the identical literals can be embedded in both the Spark
    plan and the DuckDB oracle SQL (deterministic, oracle-checkable
    randomness — the fix for the fixed-16-bucket stand-in this replaces).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = np.round(rng.standard_normal((n_tables, n_bits, dim)), 6)
    return [[[float(x) for x in row] for row in tbl] for tbl in planes]


def _array_literal(data, fmt) -> str:
    """Render nested Python lists as ONE foldable SQL array literal.
    Shape matters more than content here: a single foldable literal
    constant-folds into ONE Literal node in the executed plan, where
    per-element inline arrays produce a huge expression tree whose string
    rendering (SparkPlanInfo builds a plan description for the
    SQLExecutionStart listener event on EVERY action) costs seconds of
    driver time per job — the repo-wide rule is O(n) in VALUES, O(1) in
    TREE NODES (SCALE.md round-10 notes)."""
    if isinstance(data, (list, tuple)):
        return "array(" + ",".join(_array_literal(x, fmt) for x in data) + ")"
    return fmt(data)


def _planes_literal(planes: list[list[list[float]]]) -> str:
    """One nested array<array<array<double>>> literal holding EVERY
    table's hyperplanes (6-decimal leaves, matching the DuckDB oracle's
    literals).  Previously per-(table, bit) inline arrays stalled
    iterative callers like semantic_dedup's cluster loop for tens of
    seconds per run in plan rendering alone."""
    return _array_literal(planes, lambda x: f"{x:.6f}D")


def _lsh_code_expr(table_planes: str = "tbl") -> str:
    """SQL expr for one table's integer sign code given ``table_planes``
    (an array<array<double>> of that table's hyperplanes in bit order):
    bit j set iff dot(v, hyperplane_j) >= 0.  The dot is the same
    sequential double fold the DuckDB oracle replays, and the bit weights
    accumulate in bit order — arithmetic identical to summing
    IF(dot_j >= 0, 1<<j, 0) terms one by one."""
    dot = (
        "aggregate(zip_with(v, h, (x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, w) -> acc + w)"
    )
    return (
        f"aggregate(transform({table_planes}, (h, j) -> "
        f"IF({dot} >= 0.0, shiftleft(1L, j), 0L)), 0L, (code, b) -> code + b)"
    )


def _probe_masks(n_bits: int, probe_hamming: int) -> list[int]:
    """XOR masks enumerating every code within Hamming distance
    ``probe_hamming`` (0 first, then single bits, then bit pairs)."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_bits)]
    if probe_hamming >= 2:
        masks += [(1 << i) | (1 << j) for i in range(n_bits) for j in range(i + 1, n_bits)]
    if probe_hamming > 2:
        raise ValueError(f"probe_hamming <= 2 supported, got {probe_hamming}")
    return masks


def _lsh_coded(df, vec_col: str, id_col: str, planes, dim: int, n_tables: int):
    """One (vec_id, v, norm, table_id, code) row per (vector, table): the
    coded-corpus construction every LSH path shares (candidates, pair
    mining, persisted index build).  The dim guard raises on a wrong-length
    embedding instead of letting zip_with NULL-pad and collapse all codes
    into one bucket."""
    e = _with_norm(df, vec_col, id_col)
    assert len(planes) == n_tables, (len(planes), n_tables)
    dim_guard = (
        f"IF(size(v) = {dim}, {_lsh_code_expr('tbl')}, "
        f"cast(raise_error(concat('lsh dim mismatch: expected {dim}, got ', size(v))) as bigint))"
    )
    tabs = F.expr(
        f"transform({_planes_literal(planes)}, (tbl, t) -> "
        f"struct(cast(t as int) as table_id, cast({dim_guard} as long) as code))"
    )
    return (
        e.select("vec_id", "v", "norm", F.explode(tabs).alias("tc"))
        .select(
            "vec_id", "v", "norm",
            F.col("tc.table_id").alias("table_id"), F.col("tc.code").alias("code"),
        )
    )


def lsh_candidates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_queries: int = 10,
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
    probe_hamming: int = 2,
) -> DataFrame:
    """Deduped, scored LSH candidate set (q_id, neighbor_id, cosine_sim)
    BEFORE top-k ranking — exposed so selectivity (scanned fraction) is
    directly testable, not just recall.

    Index: ``n_tables`` independent sign-projection codes of ``n_bits``
    bits each (seeded random hyperplanes — deterministic, so the DuckDB
    oracle replays the identical index). A query probes, per table, every
    bucket within Hamming distance ``probe_hamming`` of its own code —
    QUERY-side expansion only, so the corpus index stays one row per
    (vector, table).

    Scale shape: the corpus is scanned once to compute codes (interpreted
    HOF dot products — the unavoidable cost of any projection index); the
    tiny probe set is broadcast and the candidate join is an equi-join on
    (table_id, code), so no cross join ever materializes. Expected scanned
    fraction per query ~= n_tables * n_probes / 2^n_bits where n_probes =
    sum_{i<=probe_hamming} C(n_bits, i) (~15% at the defaults: 8 * 79 /
    4096), and it DROPS as n_bits grows — the tunable that survives a
    100x corpus, unlike the fixed 16-bucket projection this replaces.

    The embedding length must equal ``dim``: a mismatch raises at runtime
    (zip_with would otherwise NULL-pad, every dot product would go NULL,
    and all codes would silently collapse into one bucket).
    """
    planes = lsh_hyperplanes(dim, n_bits, n_tables, seed)
    eb = _lsh_coded(df, vec_col, id_col, planes, dim, n_tables)
    probe_arr = F.array(
        *[F.col("code").bitwiseXOR(F.lit(m)) for m in _probe_masks(n_bits, probe_hamming)]
    )
    q = (
        eb.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.col("table_id").alias("q_table_id"),
            F.explode(probe_arr).alias("qcode"),
        )
    )
    dot = _DOT.format(a="qv", b="v")
    sim = F.round(F.expr(dot) / (F.col("qnorm") * F.col("norm")), 6)
    scored = (
        eb.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table_id"))
            & (F.col("code") == F.col("qcode"))
            & (F.col("q_id") != F.col("vec_id")),
        )
        # a (query, neighbor) pair can collide in several tables/probes;
        # sim is deterministic, so id-level distinct dedups the candidates
        .select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
        .distinct()
    )
    return scored


def ann_topk_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_queries: int = 10,
    k: int = 3,
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH with
    Hamming<=``probe_hamming`` multiprobe (lsh_candidates), then exact
    rerank inside the probed buckets. Recall at the defaults on the test
    corpus is asserted >= 0.6 in tests/test_similarity_scale.py.
    """
    scored = lsh_candidates(
        df, vec_col, id_col,
        n_queries=n_queries, n_bits=n_bits, n_tables=n_tables, seed=seed, dim=dim,
        probe_hamming=probe_hamming,
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.85,
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """ALL embedding near-dup pairs above ``threshold`` — the scale path
    that replaces the O(n^2) ``cosine_pairs`` baseline for production
    dedup: candidates are posting-list combinations within each
    (table_id, code) bucket (a single-scan inverted index — never a
    corpus self-join, and not the posting self-join of the MinHash/SimHash
    pair miners, ``dedup.pairs_sharing``), deduped across tables, then
    exact-verified with the sequential-fold cosine.

    Candidate recall at the defaults is the multi-table sign-LSH
    collision probability 1-(1-p^n_bits)^n_tables with p = 1 - theta/pi
    (~0.56 for cosine 0.85; more tables or fewer bits raise it — the
    explicit recall/cost knob, where the baseline's cost knob is n^2).
    Expected bucket size is n/2^n_bits per table, so combo fan-out stays
    bounded; both engines replay the identical seeded index, so the
    oracle checks the exact pair set.
    """
    planes = lsh_hyperplanes(dim, n_bits, n_tables, seed)
    eb = _lsh_coded(df, vec_col, id_col, planes, dim, n_tables)
    combos = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), y -> struct(x, y))))"
    )
    cand = (
        eb.groupBy("table_id", "code")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "v", "norm"))).alias("ds"))
        .where(F.size("ds") > 1)
        .select(F.explode(F.expr(combos)).alias("p"))
        .select(
            F.col("p.x.vec_id").alias("vec_a"),
            F.col("p.y.vec_id").alias("vec_b"),
            F.col("p.x.v").alias("va"),
            F.col("p.y.v").alias("vb"),
            F.col("p.x.norm").alias("na"),
            F.col("p.y.norm").alias("nb"),
        )
    )
    # Verify BEFORE the cross-table dedup, then dedup on the three scalar
    # columns: cosine is a per-pair constant (same vectors in every table
    # collision), so min() over the duplicates equals the single value the
    # old dropDuplicates kept. The old order shipped BOTH full dim-64
    # vectors (~1 KB/row) per candidate copy through a first(array)
    # SortAggregate dedup; verifying first costs at most n_tables extra
    # 64-term folds per pair but the threshold filter then drops
    # non-near-dups before the exchange and the dedup becomes a narrow
    # partial-aggregating HashAggregate (guide §2.3: shuffle keys and
    # verdicts, not payloads).
    sim = F.round(F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cand.withColumn("cosine_sim", sim)
        .where(F.col("cosine_sim") >= threshold)
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cosine_sim").alias("cosine_sim"))
        .select("vec_a", "vec_b", "cosine_sim")
    )


def build_lsh_index(
    df: DataFrame,
    table,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
) -> int:
    """Persist the LSH code index through a VersionedTable: one row per
    (vector, table) carrying (vec_id, table_id, code, v, norm), written
    range-clustered on (table_id, code) so probe-time scans prune with the
    manifest's per-file min/max stats.

    This is how the code-compute cost amortizes at 100 TB: hyperplane
    evaluation happens ONCE per corpus version here (SCALE.md); every
    subsequent probe reads stored codes and never re-evaluates a
    hyperplane (asserted on the probe plan in tests). Incremental corpus
    changes go through ``table.merge`` keyed on (vec_id, table_id).

    Returns the committed version. ``table`` is a
    ``sources.versioned.VersionedTable`` (kept untyped to avoid the
    import cycle).
    """
    planes = lsh_hyperplanes(dim, n_bits, n_tables, seed)
    index = _lsh_coded(df, vec_col, id_col, planes, dim, n_tables).select(
        "vec_id", "table_id", "code", "v", "norm",
        # the probe MUST expand codes under the same width the index was
        # built with; persisting it makes a mismatched probe impossible
        # instead of a silent recall loss
        F.lit(n_bits).cast("int").alias("n_bits"),
    )
    return table.write(index, cluster_by=["table_id", "code"])


def lsh_probe_persisted(
    index_df: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_bits: int | None = None,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k over a PERSISTED LSH index (build_lsh_index): the
    query rows' stored codes are expanded to Hamming<=``probe_hamming``
    probes by pure bit arithmetic (XOR against precomputed masks) and
    equi-joined back against the index on (table_id, code) — no hyperplane
    is ever evaluated on this path; the only dot products are the exact
    rerank inside the probed buckets. Same output contract as
    ann_topk_lsh: (q_id, neighbor_id, rank, cosine_sim).

    ``n_bits`` is read from the index itself (persisted by
    build_lsh_index); passing a different value raises rather than
    silently probing the wrong mask set."""
    if "n_bits" in index_df.columns:
        # one .first() driver job per probe whenever the column exists —
        # DELIBERATE, even when the caller passes n_bits, because the
        # stored-vs-passed mismatch check is the whole point of persisting
        # n_bits (a silently mis-masked probe loses recall with no error);
        # callers amortizing probes should pass the index DataFrame of a
        # cached/read snapshot so the read is a manifest-cheap scan
        stored = index_df.select("n_bits").first()
        if stored is None:
            # empty index: distinguish from the missing-column case — the
            # old fall-through raised "carries no n_bits column", a
            # misleading diagnosis when the column exists but has no rows
            if n_bits is None:
                raise ValueError(
                    "LSH index is empty (has an n_bits column but no rows); "
                    "build_lsh_index before probing, or pass n_bits to get "
                    "an empty result"
                )
            # empty index + explicit n_bits: empty probe result, same shape
        else:
            stored_bits = int(stored["n_bits"])
            if n_bits is not None and n_bits != stored_bits:
                raise ValueError(
                    f"probe n_bits={n_bits} != index n_bits={stored_bits}; "
                    "Hamming masks would skip the index's high code bits"
                )
            n_bits = stored_bits
    if n_bits is None:
        raise ValueError("index carries no n_bits column; pass n_bits explicitly")
    q = (
        index_df.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.col("table_id").alias("q_table_id"),
            F.explode(
                F.array(*[F.col("code").bitwiseXOR(F.lit(m)) for m in _probe_masks(n_bits, probe_hamming)])
            ).alias("qcode"),
        )
    )
    dot = _DOT.format(a="qv", b="v")
    sim = F.round(F.expr(dot) / (F.col("qnorm") * F.col("norm")), 6)
    scored = (
        index_df.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("q_table_id"))
            & (F.col("code") == F.col("qcode"))
            & (F.col("q_id") != F.col("vec_id")),
        )
        .select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
        .distinct()
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def build_ivf_index(
    df: DataFrame,
    table,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    stride: int = 25,
    centroids: DataFrame | None = None,
) -> int:
    """Persist the IVF cell assignment through a VersionedTable: one row
    per vector (vec_id, c_id, v, norm), range-clustered on c_id so probe
    scans prune to the probed cells via manifest stats.

    The corpus-side assignment (the broadcast-centroid scoring + max_by
    reduction — the expensive part of ann_topk_ivf) runs ONCE per corpus
    version here; probes (ivf_probe_persisted) re-derive the tiny
    centroid table from the index itself (the stride rows) and never
    re-assign the corpus. Incremental growth: assign ONLY the delta with
    ``centroids=ivf_index_centroids(existing_index)`` (the same centroid
    set the index was built with — partial-build stride centroids would
    be inconsistent), then MERGE on vec_id."""
    e = _with_norm(df, vec_col, id_col)
    if centroids is not None:
        c = centroids
        # delta rows are NEVER centroids: the centroid set was fixed by the
        # original build; a stride-sampled delta id must not masquerade as
        # one on the merged index (the probe would rank phantom cells with
        # zero assigned rows and silently wan its nprobe budget on them)
        is_cent = F.lit(False)
    else:
        c = e.where(F.pmod(F.col("vec_id"), F.lit(stride)) == 0).select(
            F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
        )
        is_cent = F.pmod(F.col("vec_id"), F.lit(stride)) == 0
    dot = _DOT.format(a="v", b="cv")
    csim = F.round(F.expr(dot) / (F.col("norm") * F.col("cnorm")), 6)
    scored = e.join(F.broadcast(c)).select("vec_id", "v", "norm", "c_id", csim.alias("c_sim"))
    cells = scored.groupBy("vec_id").agg(
        F.first("v").alias("v"),
        F.first("norm").alias("norm"),
        F.expr("max_by(c_id, named_struct('s', c_sim, 'i', -c_id))").alias("c_id"),
    ).select("vec_id", "c_id", "v", "norm", is_cent.alias("is_centroid"))
    return table.write(cells, cluster_by=["c_id"])


def ivf_index_centroids(index_df: DataFrame, stride: int = 25) -> DataFrame:
    """(c_id, cv, cnorm) recovered from a persisted IVF index's marked
    centroid rows — the centroid set to pass to build_ivf_index for delta
    batches so incremental assignments stay consistent with the existing
    index.  The ``is_centroid`` flag (written by build_ivf_index) is what
    keeps this correct on a MERGED index: a stride-sampled DELTA id is not
    a centroid and must not surface as one (older flag-less indexes fall
    back to the stride rule, which is only sound pre-merge)."""
    if "is_centroid" in index_df.columns:
        base = index_df.where(F.col("is_centroid"))
    else:
        base = index_df.where(F.pmod(F.col("vec_id"), F.lit(stride)) == 0)
    return base.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )


def ivf_probe_persisted(
    index_df: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    stride: int = 25,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k over a PERSISTED IVF index (build_ivf_index):
    centroids are recovered from the index's own stride rows (their
    stored vectors — no recomputation of anything corpus-sized), each
    query ranks the broadcast centroid array and probes its ``nprobe``
    nearest cells, and the equi-join on c_id scans only those cells'
    rows. The corpus assignment (the max_by reduction) never re-runs —
    the probe plan contains no corpus-wide aggregation (plan-asserted in
    tests). Same output contract as ann_topk_ivf."""
    cents_rows = ivf_index_centroids(index_df, stride)
    cents = cents_rows.groupBy().agg(
        F.collect_list(F.struct("c_id", "cv", "cnorm")).alias("cents")
    )
    qcdot = _DOT.format(a="v", b="ct.cv")
    ranked = f"""
    array_sort(
      transform(cents, ct -> named_struct(
        'c_sim', round(({qcdot}) / (norm * ct.cnorm), 6),
        'c_id', ct.c_id)),
      (l, r) -> case when l.c_sim > r.c_sim then -1 when l.c_sim < r.c_sim then 1
                     when l.c_id  < r.c_id  then -1 when l.c_id  > r.c_id  then 1
                     else 0 end)
    """
    probes = (
        index_df.where(F.col("vec_id") < n_queries)
        .join(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(F.expr(f"transform(slice({ranked}, 1, {nprobe}), s -> s.c_id)")).alias("qc_id"),
        )
    )
    qdot = _DOT.format(a="qv", b="v")
    sim = F.round(F.expr(qdot) / (F.col("qnorm") * F.col("norm")), 6)
    scored = index_df.join(
        F.broadcast(probes),
        (F.col("c_id") == F.col("qc_id")) & (F.col("q_id") != F.col("vec_id")),
    ).select("q_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cosine_sim"))
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cosine_sim")
    )


def _assign_to_centroids(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, c_id): each vector's best centroid by (cosine desc,
    c_id asc) — codegen broadcast join + map-side-combining max_by, the
    same shape as the IVF index build."""
    dot = _DOT.format(a="v", b="cv")
    sim = F.round(F.expr(dot) / (F.col("norm") * F.col("cnorm")), 6)
    scored = e.join(F.broadcast(cents)).select("vec_id", "v", "c_id", sim.alias("c_sim"))
    return scored.groupBy("vec_id").agg(
        F.first("v").alias("v"),
        F.expr("max_by(c_id, named_struct('s', c_sim, 'i', -c_id))").alias("c_id"),
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    stride: int = 25,
    iterations: int = 2,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — the centroid
    builder the IVF index documents as its production seam (ann_topk_ivf
    uses the deterministic stride sample; this operator refines it).

    Per iteration: cosine assignment (broadcast centroids + max_by, same
    plan as the IVF build) then per-(cluster, position) means. The mean is
    computed as a SEQUENTIAL fold over values sorted by vec_id so the
    result is bit-deterministic and the DuckDB oracle can replay it
    exactly (cross-partition double addition order would otherwise differ
    run to run). At production scale the fold becomes a plain avg() —
    nondeterminism in the 15th decimal is irrelevant without a hash gate —
    and the per-iteration shape (broadcast join + two grouped aggs) is
    unchanged. Empty clusters drop out of the groupBy on both engines.

    Returns (cluster, pos, centroid_val) rows for the final iteration,
    pos 0-based, values rounded to 6 decimals.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = _with_norm(df, vec_col, id_col)
    cents = e.where(F.pmod(F.col("vec_id"), F.lit(stride)) == 0).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    comp = None
    for _ in range(iterations):
        assigned = _assign_to_centroids(e, cents)
        pts = assigned.select("c_id", "vec_id", F.posexplode("v").alias("pos", "val"))
        folded = (
            pts.groupBy("c_id", "pos")
            .agg(F.array_sort(F.collect_list(F.struct("vec_id", "val"))).alias("pv"))
            .select(
                "c_id",
                "pos",
                F.expr(
                    "round(aggregate(pv, cast(0.0 as double), (acc, s) -> acc + cast(s.val as double))"
                    " / size(pv), 6)"
                ).alias("val"),
            )
        )
        comp = folded
        cv = (
            folded.groupBy("c_id")
            .agg(F.expr("transform(array_sort(collect_list(struct(pos, val))), s -> s.val)").alias("cv"))
        )
        cents = cv.select(
            "c_id", "cv", F.expr(f"sqrt({_DOT.format(a='cv', b='cv')})").alias("cnorm")
        )
    return comp.select(F.col("c_id").alias("cluster"), "pos", F.col("val").alias("centroid_val"))


def rp_signs(d_in: int, d_out: int, seed: int = 11) -> list[list[int]]:
    """Deterministic Rademacher (+1/-1) projection matrix, derived from md5
    so any engine (or the DuckDB oracle) can regenerate it bit-for-bit:
    sign[j][i] = +1 iff md5("rp-{seed}-{j}-{i}") is even."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp-{seed}-{j}-{i}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_projection(
    df: DataFrame,
    d_out: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d_in: int = 64,
    seed: int = 11,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``d_out`` Rademacher directions, scaled by
    1/sqrt(d_out), preserving pairwise distances within the JL bound
    (test-asserted).  The 100 TB shape: the sign matrix is a compile-time
    literal inside ONE codegen expression per output dimension — a pure
    map over the corpus with zero shuffles, zero UDFs, zero joins; this is
    the standard pre-pass that makes downstream ANN/clustering 4x cheaper
    per vector.

    Component j is a sequential left fold (aggregate over zip_with), the
    same bit-deterministic accumulation contract as the cosine kernels, so
    the oracle replays every component exactly.
    """
    signs = rp_signs(d_in, d_out, seed)
    scale = float(d_out) ** 0.5
    # the full sign matrix as ONE foldable nested-array literal
    # (_array_literal: O(1) in tree nodes); component j is the same
    # sequential fold over row j, in the same order
    signs_lit = _array_literal(signs, lambda s: f"{s}.0d")
    fold = (
        f"aggregate(zip_with({vec_col}, srow, (x, y) -> cast(x as double) * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )
    # same loud dim contract as the LSH paths: a wrong-length embedding
    # would NULL-pad zip_with and every component would silently go NULL
    guarded = (
        f"IF(size({vec_col}) = {d_in}, {fold}, "
        f"cast(raise_error(concat('random_projection dim mismatch: expected "
        f"{d_in}, got ', size({vec_col}))) as double))"
    )
    proj = F.expr(
        f"transform({signs_lit}, srow -> round(({guarded}) / {scale!r}D, 6))"
    )
    return df.select(F.col(id_col), proj.alias("proj"))


def refresh_lsh_index(
    table,
    changes: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
    max_changed: int = 100_000,
) -> None:
    """Keep a persisted LSH code index (build_lsh_index) consistent with
    its corpus's change feed: code rows of deleted/updated vectors are
    GC'd, codes of inserted/updated vectors are recomputed from ONLY
    those vectors (same seeded hyperplanes) and MERGEd in. Without this,
    a DV/MERGE delete on the corpus leaves ghost codes and probes return
    dead neighbors — the same stale-state hazard as BM25 postings
    (operators/search.py refresh_postings), fixed the same way.

    The changed-id set is collected driver-side for the tombstone delete
    — bounded by the change batch, not the corpus; past ``max_changed``
    this refuses in favor of a from-scratch rebuild.
    """
    stale = (
        changes.where(F.col("change_type").isin("delete", "update_preimage"))
        .select(F.col(id_col))
        .distinct()
    )
    ids = [r[0] for r in stale.limit(max_changed + 1).collect()]
    if len(ids) > max_changed:
        raise ValueError(
            f"more than {max_changed} changed vectors in one refresh; "
            "rebuild the LSH index from scratch instead"
        )
    if ids:
        table.delete_where(F.col("vec_id").isin(ids))
    fresh = changes.where(
        F.col("change_type").isin("insert", "update_postimage")
    ).select(id_col, vec_col)
    if fresh.take(1):
        planes = lsh_hyperplanes(dim, n_bits, n_tables, seed)
        index = _lsh_coded(fresh, vec_col, id_col, planes, dim, n_tables).select(
            "vec_id", "table_id", "code", "v", "norm",
            F.lit(n_bits).cast("int").alias("n_bits"),
        )
        table.merge(index, keys=["vec_id", "table_id"])


def refresh_ivf_index(
    table,
    changes: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    stride: int = 25,
    max_changed: int = 100_000,
) -> None:
    """Keep a persisted IVF index (build_ivf_index) consistent with its
    corpus's change feed: assignment rows of deleted/updated vectors are
    GC'd, fresh vectors are assigned against the INDEX'S OWN centroid set
    (ivf_index_centroids) and MERGEd in — the same index-vs-corpus
    consistency contract as refresh_lsh_index / refresh_postings.

    Deleting a CENTROID vector refuses: the centroid set is the index's
    geometry, and silently dropping one re-shapes every probe — at that
    point a from-scratch rebuild is the only honest maintenance. The
    changed-id collect is bounded by the change batch (max_changed),
    never the corpus.
    """
    stale = (
        changes.where(F.col("change_type").isin("delete", "update_preimage"))
        .select(F.col(id_col))
        .distinct()
    )
    ids = [r[0] for r in stale.limit(max_changed + 1).collect()]
    if len(ids) > max_changed:
        raise ValueError(
            f"more than {max_changed} changed vectors in one refresh; "
            "rebuild the IVF index from scratch instead"
        )
    if ids:
        cents = {
            r["c_id"]
            for r in ivf_index_centroids(table.read(), stride)
            .select("c_id")
            .collect()
        }
        hit = sorted(set(ids) & cents)
        if hit:
            raise ValueError(
                f"deleted vectors {hit[:5]} are IVF centroids; the index "
                "geometry changed — rebuild from scratch"
            )
        table.delete_where(F.col("vec_id").isin(ids))
    fresh = changes.where(
        F.col("change_type").isin("insert", "update_postimage")
    ).select(id_col, vec_col)
    if fresh.take(1):
        centroids = ivf_index_centroids(table.read(), stride)
        e = _with_norm(fresh, vec_col, id_col)
        dot = _DOT.format(a="v", b="cv")
        csim = F.round(F.expr(dot) / (F.col("norm") * F.col("cnorm")), 6)
        scored = e.join(F.broadcast(centroids)).select(
            "vec_id", "v", "norm", "c_id", csim.alias("c_sim")
        )
        cells = (
            scored.groupBy("vec_id")
            .agg(
                F.first("v").alias("v"),
                F.first("norm").alias("norm"),
                F.expr("max_by(c_id, named_struct('s', c_sim, 'i', -c_id))").alias("c_id"),
            )
            .select(
                "vec_id", "c_id", "v", "norm", F.lit(False).alias("is_centroid")
            )
        )
        table.merge(cells, keys=["vec_id"])


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-compression scale path
# ---------------------------------------------------------------------------

def _pq_l2sq_int(a: str, b: str, ds: int) -> str:
    """Unrolled squared-L2 over ``ds`` dims as a micro-units BIGINT.

    ``element_at`` is 1-based (mirrors DuckDB's ``arr[i]``); the single
    round-to-integer keeps accumulation order-independent across engines
    (the repo's integer-micro-units convention, cf. operators/qsketch.py).
    Unrolled rather than a fold so the expression stays inside
    whole-stage codegen on the corpus x codebook scoring join.
    """
    diff = " + ".join(
        f"(cast(element_at({a}, {i}) as double) - cast(element_at({b}, {i}) as double))"
        f" * (cast(element_at({a}, {i}) as double) - cast(element_at({b}, {i}) as double))"
        for i in range(1, ds + 1)
    )
    return f"cast(round(({diff}) * 1000000) as bigint)"


def _pq_subvectors(df: DataFrame, vec_col: str, id_col: str, m: int, ds: int) -> DataFrame:
    """Explode each vector into its ``m`` subvectors: (vec_id, j, sv)."""
    return (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .select("vec_id", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("j"), "v")
        .select("vec_id", "j", F.expr(f"slice(v, j * {ds} + 1, {ds})").alias("sv"))
    )


def pq_codebook(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    m: int = 8, ds: int = 8, stride: int = 25,
) -> DataFrame:
    """Deterministic per-subspace codebook: the subvectors of the stride
    sample ``vec_id % stride == 0`` (same oracle-checkable construction as
    the IVF centroid set — swap in per-subspace k-means output in
    production; everything downstream is unchanged).

    Returns (j, c_id, cv) — m * (n/stride) rows, a broadcast dim.
    """
    sample = df.where(F.pmod(F.col(id_col), F.lit(stride)) == 0)
    return _pq_subvectors(sample, vec_col, id_col, m, ds).select(
        "j", F.col("vec_id").alias("c_id"), F.col("sv").alias("cv")
    )


def pq_encode(
    df: DataFrame, codebook: DataFrame, vec_col: str = "embedding",
    id_col: str = "vec_id", m: int = 8, ds: int = 8,
) -> DataFrame:
    """Encode every vector as its nearest codebook entry per subspace.

    Returns (vec_id, j, code) — the 32x-compressed representation (m
    small ints per vector instead of m*ds floats). The scoring join is a
    broadcast against the codebook evaluated in codegen; the argmin is a
    map-side-combining min_by (all m rows of a vector are partition-local
    after the intra-partition explode), so the one shuffle moves one
    pre-reduced row per (vector, subspace).
    """
    sub = _pq_subvectors(df, vec_col, id_col, m, ds)
    d = sub.join(F.broadcast(codebook), "j").select(
        "vec_id", "j", "c_id", F.expr(_pq_l2sq_int("sv", "cv", ds)).alias("d_int")
    )
    return d.groupBy("vec_id", "j").agg(
        F.expr("min_by(c_id, named_struct('d', d_int, 'i', c_id))").alias("code")
    )


def ann_topk_pq(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    n_queries: int = 10, k: int = 5, m: int = 16, ds: int = 4, stride: int = 10,
) -> DataFrame:
    """Approximate top-k via product quantization with ADC scoring — the
    FAISS-style 100 TB memory path (reference capability: similarity
    search over an embedding column; cf. SURVEY §2.11).

    The corpus is scanned as CODES only (m small ints/vector, ~16x
    smaller than the raw 64-float vectors — at 100 TB of embeddings the
    ADC scan touches ~6 TB); per-query distance tables (n_queries * m *
    n_centroids rows) are broadcast, the approximate distance is an
    integer micro-units sum (order-independent), and top-k is a per-query
    window over one pre-reduced row per (query, vector).

    Pure-ADC ranking is a CANDIDATE GENERATOR on clusterless data
    (measured contain-rate of the exact top-5 in ADC top-50: 0.90 on the
    test corpus) — use ann_topk_pq_rerank for the two-stage production
    shape that restores exactness on the survivors.

    Returns (q_id, neighbor_id, rank, approx_dist) with approx_dist the
    squared-L2 ADC estimate, ascending.
    """
    cb = pq_codebook(df, vec_col, id_col, m, ds, stride)
    sub = _pq_subvectors(df, vec_col, id_col, m, ds)
    d = sub.join(F.broadcast(cb), "j").select(
        "vec_id", "j", "c_id", F.expr(_pq_l2sq_int("sv", "cv", ds)).alias("d_int")
    )
    codes = d.groupBy("vec_id", "j").agg(
        F.expr("min_by(c_id, named_struct('d', d_int, 'i', c_id))").alias("code")
    )
    # the distance TABLE is the same scored frame restricted to the query
    # rows — identical arithmetic to the encoding pass by construction
    dt = d.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("j").alias("qj"), "c_id", "d_int"
    )
    scored = (
        codes.join(
            F.broadcast(dt),
            (F.col("j") == F.col("qj")) & (F.col("code") == F.col("c_id")),
        )
        .where(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d_int").alias("d_sum"))
    )
    w = W.partitionBy("q_id").orderBy(F.asc("d_sum"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round(F.col("d_sum") / F.lit(1e6), 6).alias("approx_dist"),
        )
    )


_L2SQ_FOLD = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (cast(x as double) - cast(y as double))"
    " * (cast(x as double) - cast(y as double))), cast(0.0 as double), (acc, v) -> acc + v)"
)


def ann_topk_pq_rerank(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    n_queries: int = 10, k: int = 5, candidates: int = 50,
    m: int = 16, ds: int = 4, stride: int = 10,
) -> DataFrame:
    """Two-stage PQ search: ADC over compressed codes selects
    ``candidates`` per query, then the exact squared-L2 is recomputed on
    ONLY those survivors — the production IVF-PQ + rerank shape.

    Stage 1 never touches raw vectors (16x-compressed code scan); stage 2
    re-reads n_queries * candidates full vectors via a semi-join on the
    candidate ids — at 100 TB the exact pass is a few MB. Measured on the
    clusterless test corpus: contain-rate of the exact top-5 in ADC
    top-50 is 0.90, so rerank recall@5 is 0.90 with exact distances and
    exact ordering on everything it returns.

    Returns (q_id, neighbor_id, rank, l2_dist) ascending by TRUE distance.
    """
    cand = ann_topk_pq(
        df, vec_col, id_col, n_queries=n_queries, k=candidates, m=m, ds=ds, stride=stride
    ).select("q_id", "neighbor_id")
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv")
    )
    # candidates are tiny (n_queries * candidates rows) — broadcast them
    # against the corpus so the exact pass is a pruned scan, then attach
    # the (also tiny) query vectors
    exact = (
        e.join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(q), F.col("q_id") == F.col("qq_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(F.expr(_L2SQ_FOLD.format(a="qv", b="v")), 6).alias("l2_dist"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "l2_dist")
    )


def ann_topk_ivf_pq(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    n_queries: int = 10, k: int = 5, candidates: int = 50,
    m: int = 16, ds: int = 4, stride: int = 10,
    ivf_stride: int = 25, nprobe: int = 2,
) -> DataFrame:
    """The full FAISS IVF-PQ shape: coarse IVF cells prune WHICH vectors
    are scored, PQ codes compress HOW they are scored, and an exact
    rerank restores true distances on the survivors.

    At 100 TB the two reductions multiply: a probe touches
    ~nprobe/n_cells of the corpus, and what it touches is 16x-compressed
    codes — the raw-vector pass is only the ``candidates`` rerank rows
    per query. Cell assignment and probe ranking mirror ``ann_topk_ivf``
    verbatim (cosine, max_by, round-6); encoding/ADC mirror
    ``ann_topk_pq`` (integer micro-units) — both already oracle-proven,
    so the composition is too.

    Returns (q_id, neighbor_id, rank, l2_dist) ascending by TRUE
    squared-L2, restricted to the probed cells.
    """
    e = _with_norm(df, vec_col, id_col)
    c = e.where(F.pmod(F.col("vec_id"), F.lit(ivf_stride)) == 0).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    # cell assignment — identical arithmetic to ann_topk_ivf
    dot = _DOT.format(a="v", b="cv")
    csim = F.round(F.expr(dot) / (F.col("norm") * F.col("cnorm")), 6)
    scored_c = e.join(F.broadcast(c)).select("vec_id", "c_id", csim.alias("c_sim"))
    cells = scored_c.groupBy("vec_id").agg(
        F.expr("max_by(c_id, named_struct('s', c_sim, 'i', -c_id))").alias("c_id")
    )
    # probe cells per query: rank ALL centroids for the tiny query set
    w = W.partitionBy("q_id").orderBy(F.desc("c_sim"), F.asc("c_id"))
    probes = (
        e.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("v"), F.col("norm").alias("norm"))
        .join(F.broadcast(c))
        .select("q_id", "c_id", csim.alias("c_sim"))
        .withColumn("c_rank", F.row_number().over(w))
        .where(F.col("c_rank") <= nprobe)
        .select("q_id", F.col("c_id").alias("qc_id"))
    )
    allowed = cells.join(
        F.broadcast(probes), (F.col("c_id") == F.col("qc_id")) & (F.col("q_id") != F.col("vec_id"))
    ).select("q_id", "vec_id")
    # PQ codes + per-query distance tables — identical to ann_topk_pq
    cb = pq_codebook(df, vec_col, id_col, m, ds, stride)
    sub = _pq_subvectors(df, vec_col, id_col, m, ds)
    d = sub.join(F.broadcast(cb), "j").select(
        "vec_id", "j", "c_id", F.expr(_pq_l2sq_int("sv", "cv", ds)).alias("d_int")
    )
    codes = d.groupBy("vec_id", "j").agg(
        F.expr("min_by(c_id, named_struct('d', d_int, 'i', c_id))").alias("code")
    )
    dt = d.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("dq_id"), F.col("j").alias("qj"), "c_id", "d_int"
    )
    scored = (
        codes.join(F.broadcast(allowed), "vec_id")
        .join(
            F.broadcast(dt),
            (F.col("q_id") == F.col("dq_id"))
            & (F.col("j") == F.col("qj"))
            & (F.col("code") == F.col("c_id")),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d_int").alias("d_sum"))
    )
    wc = W.partitionBy("q_id").orderBy(F.asc("d_sum"), F.asc("vec_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= candidates)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    ev = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = ev.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qq_id"), F.col("v").alias("qv")
    )
    exact = (
        ev.join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(q), F.col("q_id") == F.col("qq_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(F.expr(_L2SQ_FOLD.format(a="qv", b="v")), 6).alias("l2_dist"),
        )
    )
    wk = W.partitionBy("q_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "l2_dist")
    )


def hard_negatives(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k MOST similar corpus vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (easy random
    negatives are already far away; see e.g. SimCSE/DPR training).

    Same linear broadcast-scan shape as ann_topk_bruteforce with the
    label inequality applied BEFORE the per-query top-k window, so k
    survivors per query is still all that shuffles. At 100 TB compose
    the candidate stage with the IVF probe (cells prune WHICH vectors)
    and keep this exact scoring as the rerank."""
    e = df.select(
        F.col(id_col),
        F.col(label_col).alias("lbl"),
        F.col(vec_col).alias("v"),
    ).withColumn("norm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))
    q = e.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("lbl").alias("q_label"),
    )
    dot = _DOT.format(a="qv", b="v")
    sim = F.round(F.expr(dot) / (F.col("qnorm") * F.col("norm")), 6)
    scored = e.join(
        F.broadcast(q),
        (F.col("q_id") != F.col(id_col)) & (F.col("q_label") != F.col("lbl")),
    ).select(
        "q_id",
        "q_label",
        F.col(id_col).alias("neg_id"),
        F.col("lbl").alias("neg_label"),
        sim.alias("cosine_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "q_label", "neg_id", "neg_label", "rank", "cosine_sim")
    )


def embedding_norms_arrow(df: DataFrame) -> DataFrame:
    """Per-vector feature stats (dim, L2 norm, positive-component count)
    via ``mapInArrow`` — the zero-copy Arrow-native UDF surface. The list
    column arrives as a pyarrow ListArray; segment sums run with
    ``np.add.reduceat`` over the flat values buffer (sequential within
    each segment — no cumsum-difference cancellation), so NO per-row
    Python, no pandas conversion, no object boxing anywhere.

    Scale shape: pure map over Arrow record batches — zero shuffles, and
    versus a pandas UDF the list column skips the Arrow->pandas object
    materialization (a list column in pandas is a Python-object ndarray;
    in Arrow it stays two flat buffers). Norm rounded to 6 decimals (the
    registry float contract) to absorb fold-order variation vs the
    oracle's list_sum.
    """
    import pyarrow as pa

    out_schema = (
        "vec_id long, dim long, l2_norm double, n_pos long"
    )

    def stats(batches):
        import numpy as np

        for batch in batches:
            emb = batch.column("embedding")
            # absolute offsets into the flat values buffer (valid under
            # slicing too; Spark hands us offset-0 fresh batches)
            offsets = emb.offsets.to_numpy()
            vals = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
            starts, ends = offsets[:-1], offsets[1:]
            # a NULL list entry must stay NULL downstream (the SQL
            # semantics: len(NULL) / list_sum(NULL) -> NULL), not collapse
            # to an empty segment's (0, 0.0, 0). Mask the OUTPUT arrays
            # only — never the offsets: the Arrow spec requires offsets to
            # be monotonically non-decreasing even at null slots, and
            # np.add.reduceat silently returns a[indices[i]] (a single
            # element, not a segment sum) wherever indices[i] >=
            # indices[i+1], which would corrupt every valid row that
            # immediately precedes a null within the batch.
            null_mask = None
            if emb.null_count:
                null_mask = ~emb.is_valid().to_numpy(zero_copy_only=False)
            # pad one zero so every start index (max: len(vals), for an
            # empty trailing segment) is a valid reduceat index; the pad
            # only ever joins the LAST segment, where +0 changes nothing
            sq = np.append(vals * vals, 0.0)
            pos = np.append((vals > 0).astype(np.int64), 0)
            sq_sums = np.add.reduceat(sq, starts)
            pos_counts = np.add.reduceat(pos, starts)
            # reduceat on an empty segment returns the element AT start,
            # not a zero-length sum — overwrite those
            empty = ends == starts
            sq_sums[empty] = 0.0
            pos_counts[empty] = 0
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    pa.array((ends - starts).astype(np.int64), mask=null_mask),
                    pa.array(np.round(np.sqrt(sq_sums), 6), mask=null_mask),
                    pa.array(pos_counts, mask=null_mask),
                ],
                names=["vec_id", "dim", "l2_norm", "n_pos"],
            )

    return df.select("vec_id", "embedding").mapInArrow(stats, out_schema)
