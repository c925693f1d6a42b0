"""LLM-training-data pipeline queries over documents/embeddings
(BASELINE.json extensions: dedup, similarity search, text analysis), plus
the reference's vocabulary-search join (SURVEY J7/J8).

Each oracle SQL reproduces the Spark plan's arithmetic exactly: the shared
md5-derived integer hash (functions/hashing.py), sequential left-fold dot
products, and round(x, 6) before any threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_etl_pipeline_spark.functions.hashing import (
    MERSENNE_31,
    MINHASH_A,
    MINHASH_B,
    NUM_MINHASH,
)
from data_etl_pipeline_spark.operators import (
    bpe,
    chunker,
    dedup,
    mixture,
    packing,
    similarity,
    textstats,
)
from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.session import scratch_dir
from data_etl_pipeline_spark.tables import load, local_frame

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (must mirror the Spark operators bit-for-bit)
# ---------------------------------------------------------------------------

_H32_SQL = f"(('0x' || substr(md5({{x}}), 1, 15))::BIGINT % {MERSENNE_31})"
# full 60-bit form for SimHash bit votes (the mod-2^31 reduction is only
# for MinHash permutation overflow safety; SimHash needs all 60 live bits)
_H60_SQL = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

_SHINGLES_CTE = """
docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM docs, unnest(range(1, len(w) - 1)) AS t(i)
       WHERE len(w) >= 3)
"""

_PARAMS_VALUES = ",".join(f"({i},{a},{b})" for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))

_MINHASH_CTE = (
    _SHINGLES_CTE
    + f""",
hs AS (SELECT doc_id, {_H32_SQL.format(x='shingle')} AS h FROM sh),
params AS (SELECT * FROM (VALUES {_PARAMS_VALUES}) AS p(i, a, b)),
mh AS (SELECT doc_id, p.i AS i, MIN((p.a * h + p.b) % {MERSENNE_31}) AS m
       FROM hs, params p GROUP BY doc_id, p.i)
"""
)

_DOT_SQL = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [{a}[i] * {b}[i] for i in range(1, 65)]), (acc, v) -> acc + v)"


# ---------------------------------------------------------------------------
# exact dedup (SURVEY W4)
# ---------------------------------------------------------------------------
@query(
    "doc_exact_dedup",
    sql="""
    SELECT content_hash, keep_id, n_copies FROM (
        SELECT md5(text) AS content_hash, doc_id AS keep_id,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
        FROM documents) t
    WHERE rn = 1
    """,
    doc="Exact hash dedup, first occurrence wins (SURVEY W4; dedup_util.py:273-307).",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------
@query(
    "doc_ngram_jaccard_pairs",
    sql=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.8
    """,
    doc="Exact 3-gram Jaccard near-dup pairs via inverted-index self-join.",
    bench_tier=1,
)
def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8)


@query(
    "doc_ngram_jaccard_capped",
    sql=f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 12),
    sk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM sk a JOIN sk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.6
    """,
    doc="Posting-capped Jaccard (drop shingles shared by >12 docs) — the "
    "100 TB skew mitigation declared explicitly so the approximation is "
    "oracle-visible, not silent.",
)
def doc_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold=0.6, max_postings=12
    )


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------
@query(
    "doc_minhash_signatures",
    sql=f"""
    WITH {_MINHASH_CTE}
    SELECT doc_id, array_to_string(list(m::VARCHAR ORDER BY i), ',') AS signature
    FROM mh GROUP BY doc_id
    """,
    doc="16-permutation MinHash signature per document (portable hash family).",
)
def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signatures(load(spark, sf_dir, "documents"))
    return sig.select(
        "doc_id",
        F.array_join(F.expr("transform(signature, x -> cast(x as string))"), ",").alias("signature"),
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH candidate pairs
# ---------------------------------------------------------------------------
@query(
    "doc_minhash_lsh_pairs",
    sql=f"""
    WITH {_MINHASH_CTE},
    sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
    bands AS (SELECT doc_id, s, b,
                     md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> x::VARCHAR), ',')) AS band_key
              FROM sig, unnest(range(0, 4)) AS t(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.s AS sa, b.s AS sb
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, est_similarity FROM (
        SELECT doc_a, doc_b,
               ROUND(CAST(len([i for i in range(1, {NUM_MINHASH + 1}) if sa[i] = sb[i]]) AS DOUBLE)
                     / CAST({NUM_MINHASH} AS DOUBLE), 6) AS est_similarity
        FROM cand
    ) WHERE est_similarity >= 0.5
    """,
    doc="Banded MinHash-LSH near-dup candidates (the 100 TB-scale dedup path).",
    bench_tier=1,
)
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(load(spark, sf_dir, "documents"), bands=4, min_est=0.5)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
@query(
    "doc_simhash",
    sql=f"""
    WITH d AS (SELECT doc_id,
                      list_transform(list_distinct(string_split(text, ' ')),
                                     x -> {_H60_SQL.format(x='x')}) AS hs
               FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 60)), (acc, j) -> acc +
             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(hs, h -> CASE WHEN ((h >> j) & 1) = 1
                                                       THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                        (v, x) -> v + x) > 0
                  THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS simhash
    FROM d
    """,
    doc="60-bit SimHash per document from the distinct-word hash votes.",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load(spark, sf_dir, "documents"))


# SimHash band-key equality across 4x15-bit bands; oracle mirrors the banding
# with a self-join of the signatures on the OR of the band matches (oracle
# clarity; the Spark plan equi-joins the (band, key) postings).
_SIMHASH_BAND_MATCH = " OR ".join(
    f"((a.simhash >> {b * 15}) & 32767) = ((b.simhash >> {b * 15}) & 32767)" for b in range(4)
)


@query(
    "doc_simhash_pairs",
    sql=f"""
    WITH d AS (SELECT doc_id,
                      list_transform(list_distinct(string_split(text, ' ')),
                                     x -> {_H60_SQL.format(x='x')}) AS hs
               FROM documents),
    sig AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 60)), (acc, j) -> acc +
               CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                            list_transform(hs, h -> CASE WHEN ((h >> j) & 1) = 1
                                                         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                          (v, x) -> v + x) > 0
                    THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS simhash
      FROM d)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE ({_SIMHASH_BAND_MATCH})
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-dup pairs: 4x15-bit band-key candidates filtered by "
    "hamming distance <= 3 (banding is lossless at this bound) — completes "
    "the SimHash signatures into a dedup path.",
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load(spark, sf_dir, "documents"), bands=4, max_hamming=3)


# ---------------------------------------------------------------------------
# Benchmark contamination: docs sharing 4-grams with a held-out eval set
# (doc_id % 97 == 0 — deterministic in both engines). 4 is the longest gram
# the synthetic corpus actually collides on (8 docs hit); production runs
# use 8-13-gram windows, a parameter of the same plan.
# ---------------------------------------------------------------------------
@query(
    "benchmark_contamination",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+3], ' ')
                                for i in range(1, len(ws) - 2)]) AS sh
          FROM w WHERE len(ws) >= 4),
    ev AS (SELECT DISTINCT unnest(sh) AS gram FROM g WHERE doc_id % 97 = 0),
    hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM (SELECT doc_id, unnest(sh) AS gram FROM g WHERE doc_id % 97 <> 0) cg
             JOIN ev USING (gram) GROUP BY doc_id)
    SELECT g.doc_id, CAST(len(sh) AS BIGINT) AS n_grams,
           COALESCE(n_hits, 0) AS n_contaminated,
           COALESCE(n_hits, 0) > 0 AS contaminated
    FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
    WHERE g.doc_id % 97 <> 0
    """,
    doc="Benchmark decontamination: per-document count of distinct 4-grams "
    "shared with the held-out eval slice (broadcast eval n-gram set, one "
    "corpus scan).",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.benchmark_contamination(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=4,
    )


# ---------------------------------------------------------------------------
# Sequence packing: greedy first-fit context-window packing per
# (source, shard). The packing recurrence is sequential by construction, so
# the oracle is a recursive CTE stepping doc-by-doc within each
# (source, shard) partition — the ground truth the Arrow-batched
# applyInPandas packer must reproduce exactly. The shard key
# (doc_id % 8) is what keeps a skew-heavy source from serializing onto one
# executor (operators/packing.py documents the fragmentation bound); the
# oracle shards identically so the approximation is itself verified.
# ---------------------------------------------------------------------------
@query(
    "sequence_packing",
    sql="""
    WITH RECURSIVE w AS (
      -- ((x % 8) + 8) % 8 mirrors Spark's pmod (both engines' bare % is
      -- sign-preserving, which would break bin-id injectivity on negatives)
      SELECT doc_id, source, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source, ((doc_id % 8) + 8) % 8
                                ORDER BY doc_id) AS rn
      FROM documents),
    p AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM w WHERE rn = 1
      UNION ALL
      SELECT w.doc_id, w.source, w.shard, w.n_tokens, w.rn,
             CASE WHEN p.fill + w.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + w.n_tokens > 256 THEN w.n_tokens
                  ELSE p.fill + w.n_tokens END
      FROM p JOIN w ON w.source = p.source AND w.shard = p.shard
                   AND w.rn = p.rn + 1)
    SELECT source, doc_id, n_tokens, bin * 8 + shard AS bin FROM p
    """,
    doc="Greedy first-fit sequence packing into 256-token context windows "
    "per (source, shard) — the shard key de-skews heavy sources "
    "(applyInPandas over the narrow token-count projection; recursive-CTE "
    "oracle sharded identically).",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_sequences(
        load(spark, sf_dir, "documents"), capacity=256, n_shards=8
    )


# ---------------------------------------------------------------------------
# INCREMENTAL sequence packing: pack the first batch, persist only the
# per-stream packer state (last bin + fill, O(|streams|) rows), then
# pack the next id-ordered batch CONTINUING each stream's partial bin.
# Greedy first-fit is prefix-stable, so the union of the two incremental
# packs must equal the full one-shot re-pack bit-for-bit — and the
# oracle IS the full re-pack (same recursive CTE as sequence_packing),
# so the hash gate itself proves the equivalence. At 100 TB: per-tick
# cost O(batch) + an O(|streams|) state join, never a corpus re-pack.
# ---------------------------------------------------------------------------
@query(
    "incremental_sequence_packing",
    sql="""
    WITH RECURSIVE w AS (
      SELECT doc_id, source, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source, ((doc_id % 8) + 8) % 8
                                ORDER BY doc_id) AS rn
      FROM documents),
    p AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM w WHERE rn = 1
      UNION ALL
      SELECT w.doc_id, w.source, w.shard, w.n_tokens, w.rn,
             CASE WHEN p.fill + w.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + w.n_tokens > 256 THEN w.n_tokens
                  ELSE p.fill + w.n_tokens END
      FROM p JOIN w ON w.source = p.source AND w.shard = p.shard
                   AND w.rn = p.rn + 1)
    SELECT source, doc_id, n_tokens, bin * 8 + shard AS bin FROM p
    """,
    doc="Append-only ingest packing: batch 1 packs, only (last_bin, "
    "last_fill) per (source, shard) persists, batch 2 continues each "
    "stream's partial bin — prefix-stability makes the union equal the "
    "full re-pack, which is exactly what the oracle computes.",
    round_added=8,
)
def incremental_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    batch1 = docs.where(F.col("doc_id") < 100)
    batch2 = docs.where(F.col("doc_id") >= 100)
    p1 = packing.pack_sequences(batch1, capacity=256, n_shards=8)
    st = packing.packing_state(p1, n_shards=8)
    p2 = packing.pack_sequences_incremental(
        batch2, st, capacity=256, n_shards=8
    )
    return p1.unionByName(p2)


# ---------------------------------------------------------------------------
# Domain-mixture resampling toward a uniform per-source token share.
# Integer-only keep threshold so both engines decide identically at the
# boundary (see operators/mixture.py).
# ---------------------------------------------------------------------------
@query(
    "mixture_rebalance",
    sql=f"""
    WITH sized AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    per_source AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS source_tokens
      FROM sized GROUP BY source),
    totals AS (
      SELECT CAST(SUM(source_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_source)
    SELECT s.source, s.doc_id, s.n_tokens,
           (('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT
            % {mixture.BUCKETS}) AS bucket,
           ROUND(LEAST(1.0, (CAST(total_tokens AS DOUBLE) / n_sources)
                 / source_tokens), 6) AS sample_rate
    FROM sized s JOIN per_source p ON s.source = p.source, totals
    WHERE (('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {mixture.BUCKETS}) * p.source_tokens * n_sources
          < total_tokens * {mixture.BUCKETS}
    """,
    doc="Domain-mixture resample toward uniform per-source token share — "
    "deterministic hash sampling with an integer-only keep threshold.",
)
def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture.rebalance_to_uniform(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Temperature-based source mixing (mT5/XLM-R style): sample source s
# proportional to n_s^alpha, alpha = 1/2 — up-samples small sources
# without letting any source dominate. Only sqrt is offered because
# IEEE-754 sqrt is correctly rounded (bit-identical across engines);
# each sqrt is rounded to 6 decimals and DECIMAL-summed so the
# normalizing denominator is order-free exact. One map-side-combinable
# aggregate collapses the corpus to |sources| rows; the global windows
# run on that bounded frame only.
# ---------------------------------------------------------------------------
@query(
    "source_temperature_mix",
    sql="""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
                 AS source_tokens
      FROM documents GROUP BY source),
    scored AS (
      SELECT source, source_tokens,
             CAST(ROUND(sqrt(CAST(source_tokens AS DOUBLE)), 6)
                  AS DECIMAL(28,6)) AS q,
             SUM(source_tokens) OVER () AS total_tokens,
             SUM(CAST(ROUND(sqrt(CAST(source_tokens AS DOUBLE)), 6)
                      AS DECIMAL(28,6))) OVER () AS total_q
      FROM per_source)
    SELECT source, source_tokens,
           ROUND(CAST(source_tokens AS DOUBLE)
                 / CAST(total_tokens AS DOUBLE), 6) AS natural_share,
           ROUND(CAST(q AS DOUBLE) / CAST(total_q AS DOUBLE), 6) AS mix_weight,
           ROUND((CAST(q AS DOUBLE) / CAST(total_q AS DOUBLE))
                 / (CAST(source_tokens AS DOUBLE)
                    / CAST(total_tokens AS DOUBLE)), 6) AS boost
    FROM scored ORDER BY source
    """,
    doc="Temperature mixing weights w_s ∝ n_s^(1/2) per source with the "
    "natural share and resulting up/down-sampling boost; sqrt is the one "
    "fractional power with a bit-exact cross-engine contract, and the "
    "denominator is an order-free DECIMAL sum of rounded sqrts.",
    round_added=8,
)
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture.temperature_mix_weights(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup pairs
# ---------------------------------------------------------------------------
@query(
    "embedding_cosine_pairs",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm
          FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) AS cosine_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) >= 0.4
    """,
    doc="Exact pairwise cosine near-dup pairs (baseline for embedding dedup).",
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4)


# ---------------------------------------------------------------------------
# ANN top-k: brute force + LSH-bucketed
# ---------------------------------------------------------------------------
@query(
    "ann_topk_bruteforce",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
    scored AS (SELECT q_id, n.vec_id AS neighbor_id,
                      ROUND({_DOT_SQL.format(a='qv', b='n.v')} / (qnorm * n.norm), 6) AS cosine_sim
               FROM n JOIN q ON q_id != n.vec_id)
    SELECT q_id, neighbor_id, rank, cosine_sim FROM (
        SELECT q_id, neighbor_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored) t
    WHERE rank <= 5
    """,
    doc="Exact top-5 cosine neighbors for 10 query vectors (broadcast scan).",
    bench_tier=1,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_bruteforce(load(spark, sf_dir, "embeddings"), n_queries=10, k=5)


def _lsh_oracle_sql(
    n_queries: int = 10,
    k: int = 3,
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
    probe_hamming: int = 2,
    where: str = "",
) -> str:
    """DuckDB replay of the multi-table multiprobe LSH index: the SAME
    seeded hyperplane literals as the Spark plan (similarity.lsh_hyperplanes),
    the same sequential double fold for every dot product, integer sign
    codes per table, and Hamming<=probe_hamming probing expressed as xor
    IN-lists (masks generated by the same _probe_masks the Spark side uses)."""
    planes = similarity.lsh_hyperplanes(dim, n_bits, n_tables, seed)
    masks = similarity._probe_masks(n_bits, probe_hamming)

    def code(t: int) -> str:
        terms = []
        for j, h in enumerate(planes[t]):
            lits = "([" + ", ".join(f"{x:.6f}" for x in h) + "])"
            dot = _DOT_SQL.format(a="v", b=lits)
            terms.append(f"(CASE WHEN {dot} >= 0.0 THEN {1 << j} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    code_cols = ",\n          ".join(f"{code(t)} AS c{t}" for t in range(n_tables))
    qcols = ", ".join(f"c{t} AS qc{t}" for t in range(n_tables))
    conds = []
    for t in range(n_tables):
        probes = ", ".join(f"xor(qc{t}, {m})" if m else f"qc{t}" for m in masks)
        conds.append(f"n.c{t} IN ({probes})")
    cond = "\n                  OR ".join(conds)
    src_where = f" WHERE {where}" if where else ""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings{src_where}),
    n AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm,
          {code_cols}
          FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, {qcols}
          FROM n WHERE vec_id < {n_queries}),
    scored AS (SELECT DISTINCT q_id, n.vec_id AS neighbor_id,
                      ROUND({_DOT_SQL.format(a='qv', b='n.v')} / (qnorm * n.norm), 6) AS cosine_sim
               FROM n JOIN q ON q_id != n.vec_id AND ({cond}))
    SELECT q_id, neighbor_id, rank, cosine_sim FROM (
        SELECT q_id, neighbor_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored) t
    WHERE rank <= {k}
    """


@query(
    "ann_topk_lsh",
    sql=_lsh_oracle_sql(),
    doc="Multi-table random-hyperplane LSH ANN with Hamming<=2 multiprobe: "
    "seeded deterministic index replayed identically by the oracle; "
    "candidate generation is an equi-join on (table_id, code) with "
    "query-side probe expansion — scanned fraction ~n_tables*n_probes/"
    "2^n_bits (~15% at the 12-bit defaults), shrinking as n_bits grows; "
    "recall@3 >= 0.6 asserted vs exact top-k.",
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_lsh(
        load(spark, sf_dir, "embeddings"), n_queries=10, k=3, n_bits=12, n_tables=8,
        seed=7, probe_hamming=2,
    )


@query(
    "ann_topk_lsh_persisted",
    sql=_lsh_oracle_sql(k=5),
    doc="ANN over a PERSISTED LSH index: codes are computed once and "
    "written through the versioned table clustered on (table_id, code); "
    "the probe path expands stored codes by XOR bit arithmetic and "
    "equi-joins the index with itself — no hyperplane evaluation on the "
    "probe plan (asserted in tests). The 100 TB shape: hyperplane cost "
    "amortizes to once per corpus version, probes read pruned files.",
)
def ann_topk_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    idx = VersionedTable(spark, scratch_dir(spark, "lsh-index-"))
    similarity.build_lsh_index(load(spark, sf_dir, "embeddings"), idx)
    return similarity.lsh_probe_persisted(idx.read(), n_queries=10, k=5)


@query(
    "ann_lsh_gc_topk",
    sql=_lsh_oracle_sql(k=5, where="vec_id % 9 <> 4"),
    doc="Persisted LSH index kept consistent through a corpus DV delete: "
    "the change feed drives a code-row GC (delete stale vec_ids, re-merge "
    "fresh), and the oracle is a from-scratch index over the survivors — "
    "a probe returning any deleted neighbor fails the hash. Same "
    "index-vs-corpus consistency contract as bm25_postings_gc_search.",
    bench_tier=3,
)
def ann_lsh_gc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    corpus = VersionedTable(spark, scratch_dir(spark, "lsh-corpus-"))
    corpus.write(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    idx = VersionedTable(spark, scratch_dir(spark, "lsh-gc-index-"))
    similarity.build_lsh_index(corpus.read(), idx)
    v0 = corpus.latest_version()
    corpus.delete_where_dv(F.pmod("vec_id", F.lit(9)) == 4)
    similarity.refresh_lsh_index(
        idx, corpus.change_feed(keys=["vec_id"], from_version=v0)
    )
    return similarity.lsh_probe_persisted(idx.read(), n_queries=10, k=5)


@query(
    "ann_topk_ivf",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM e),
    c AS (SELECT vec_id AS c_id, v AS cv, norm AS cnorm FROM n WHERE vec_id % 25 = 0),
    ranked AS (SELECT n.vec_id, n.v, n.norm, c.c_id,
                      ROW_NUMBER() OVER (
                          PARTITION BY n.vec_id
                          ORDER BY ROUND({_DOT_SQL.format(a='n.v', b='cv')} / (n.norm * cnorm), 6) DESC,
                                   c.c_id) AS c_rank
               FROM n CROSS JOIN c),
    cells AS (SELECT vec_id, v, norm, c_id FROM ranked WHERE c_rank = 1),
    probes AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, c_id AS qc_id
               FROM ranked WHERE vec_id < 10 AND c_rank <= 2),
    scored AS (SELECT q_id, cells.vec_id AS neighbor_id,
                      ROUND({_DOT_SQL.format(a='qv', b='cells.v')} / (qnorm * cells.norm), 6) AS cosine_sim
               FROM cells JOIN probes ON c_id = qc_id AND q_id != cells.vec_id)
    SELECT q_id, neighbor_id, rank, cosine_sim FROM (
        SELECT q_id, neighbor_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored) t
    WHERE rank <= 3
    """,
    doc="IVF ANN: stride-sampled centroids, nearest-cell assignment, "
    "nprobe-cell probing with exact rerank (the scale path where probing "
    "scans ~nprobe/n_centroids of the corpus).",
    bench_tier=1,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_ivf(
        load(spark, sf_dir, "embeddings"), n_queries=10, k=3, stride=25, nprobe=2
    )


@query(
    "embedding_near_dup_pairs",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dup AS (SELECT vec_id + 100000 AS vec_id, v FROM e WHERE vec_id % 25 = 0),
    c AS (SELECT * FROM e UNION ALL SELECT * FROM dup),
    n AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM c)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) AS cosine_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) >= 0.999
    """,
    doc="Embedding near-dup PAIRS at scale: posting-list combinations "
    "inside (table_id, code) LSH buckets + exact cosine verify — the "
    "single-scan inverted-index shape (zero joins, plan-asserted in "
    "tests) that replaces the O(n^2) cosine_pairs baseline. The corpus "
    "is the embeddings table plus exact duplicates of every 25th vector "
    "(the duplicate-document -> identical-embedding ingest case, where "
    "sign-LSH candidate recall is exactly 1.0 — identical vectors share "
    "every code); at threshold 0.999 only those duplicates qualify, so "
    "the relational all-pairs oracle provably equals the index output.",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dups = emb.where(F.pmod(F.col("vec_id"), F.lit(25)) == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dups)
    return similarity.lsh_near_dup_pairs(corpus, threshold=0.999)


@query(
    "ann_topk_ivf_persisted",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM e),
    c AS (SELECT vec_id AS c_id, v AS cv, norm AS cnorm FROM n WHERE vec_id % 25 = 0),
    ranked AS (SELECT n.vec_id, n.v, n.norm, c.c_id,
                      ROW_NUMBER() OVER (
                          PARTITION BY n.vec_id
                          ORDER BY ROUND({_DOT_SQL.format(a='n.v', b='cv')} / (n.norm * cnorm), 6) DESC,
                                   c.c_id) AS c_rank
               FROM n CROSS JOIN c),
    cells AS (SELECT vec_id, v, norm, c_id FROM ranked WHERE c_rank = 1),
    probes AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, c_id AS qc_id
               FROM ranked WHERE vec_id < 10 AND c_rank <= 2),
    scored AS (SELECT q_id, cells.vec_id AS neighbor_id,
                      ROUND({_DOT_SQL.format(a='qv', b='cells.v')} / (qnorm * cells.norm), 6) AS cosine_sim
               FROM cells JOIN probes ON c_id = qc_id AND q_id != cells.vec_id)
    SELECT q_id, neighbor_id, rank, cosine_sim FROM (
        SELECT q_id, neighbor_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored) t
    WHERE rank <= 4
    """,
    doc="ANN over a PERSISTED IVF index: the corpus cell assignment (the "
    "expensive max_by reduction) runs once and is written through the "
    "versioned table clustered on c_id; probes recover centroids from the "
    "index's own stride rows and scan only the probed cells — no "
    "corpus-wide aggregation on the probe plan (asserted in tests).",
)
def ann_topk_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    idx = VersionedTable(spark, scratch_dir(spark, "ivf-index-"))
    similarity.build_ivf_index(load(spark, sf_dir, "embeddings"), idx, stride=25)
    return similarity.ivf_probe_persisted(idx.read(), n_queries=10, k=4, stride=25, nprobe=2)


def _pq_l2_sql(a: str, b: str, ds: int = 8) -> str:
    diff = " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, ds + 1)
    )
    return f"CAST(ROUND(({diff}) * 1000000) AS BIGINT)"


_PQ_BASE_CTES = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    js AS (SELECT unnest(range(0, 16)) AS j),
    sub AS (SELECT vec_id, j, list_slice(v, j * 4 + 1, j * 4 + 4) AS sv FROM e, js),
    cb AS (SELECT j, vec_id AS c_id, sv AS cv FROM sub WHERE vec_id % 10 = 0),
    d AS (SELECT s.vec_id, s.j, cb.c_id, {l2} AS d_int
          FROM sub s JOIN cb ON s.j = cb.j),
    codes AS (SELECT vec_id, j, c_id AS code FROM (
        SELECT vec_id, j, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d_int, c_id) AS rn
        FROM d) t WHERE rn = 1)
""".format(l2=_pq_l2_sql("s.sv", "cb.cv", 4))

_PQ_CTES = (
    _PQ_BASE_CTES
    + """,
    scored AS (SELECT dt.vec_id AS q_id, c.vec_id AS neighbor_id, SUM(dt.d_int) AS d_sum
               FROM codes c JOIN d dt ON c.j = dt.j AND c.code = dt.c_id
               WHERE dt.vec_id < 10 AND dt.vec_id <> c.vec_id
               GROUP BY 1, 2)
"""
)

_L2_FULL_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "[({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) for i in range(1, 65)]), "
    "(acc, x) -> acc + x)"
)


@query(
    "ann_topk_pq",
    sql=f"""
    WITH {_PQ_CTES}
    SELECT q_id, neighbor_id, rank, approx_dist FROM (
        SELECT q_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d_sum, neighbor_id) AS rank,
               ROUND(d_sum / 1000000.0, 6) AS approx_dist
        FROM scored) t
    WHERE rank <= 5
    """,
    doc="Product-quantization ANN with ADC scoring: 16x4 subspace split, "
    "stride-sampled per-subspace codebooks, nearest-code encoding "
    "(integer micro-units squared-L2, min_by argmin), broadcast per-query "
    "distance tables, integer-sum approximate distance. The FAISS-style "
    "memory path: the corpus is scanned as m-small-int codes (~16x "
    "smaller than raw floats), so at 100 TB of embeddings the ADC pass "
    "reads ~6 TB and the only shuffle is one pre-reduced row per (query, "
    "vector).",
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_pq(
        load(spark, sf_dir, "embeddings"), n_queries=10, k=5, m=16, ds=4, stride=10
    )


@query(
    "ann_topk_pq_rerank",
    sql=f"""
    WITH {_PQ_CTES},
    cand AS (SELECT q_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d_sum, neighbor_id) AS rn
        FROM scored) t WHERE rn <= 50),
    exact AS (SELECT cand.q_id, cand.neighbor_id,
                     ROUND({_L2_FULL_SQL.format(a='qe.v', b='ne.v')}, 6) AS l2_dist
              FROM cand
              JOIN e qe ON qe.vec_id = cand.q_id
              JOIN e ne ON ne.vec_id = cand.neighbor_id)
    SELECT q_id, neighbor_id, rank, l2_dist FROM (
        SELECT q_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2_dist, neighbor_id) AS rank,
               l2_dist
        FROM exact) t
    WHERE rank <= 5
    """,
    doc="Two-stage PQ search (the production IVF-PQ shape): ADC over "
    "16x-compressed codes selects 50 candidates per query, then the exact "
    "squared-L2 is recomputed on only those survivors via a broadcast "
    "candidate semi-join — measured 0.90 recall@5 of the exact answer on "
    "the clusterless test corpus, with exact distances and exact ordering "
    "on everything returned. At 100 TB the raw-vector pass reads a few MB.",
)
def ann_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_pq_rerank(
        load(spark, sf_dir, "embeddings"),
        n_queries=10, k=5, candidates=50, m=16, ds=4, stride=10,
    )


@query(
    "ann_topk_ivf_pq",
    sql=f"""
    WITH {_PQ_BASE_CTES},
    nn AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM e),
    c AS (SELECT vec_id AS c_id, v AS cv, norm AS cnorm FROM nn WHERE vec_id % 25 = 0),
    ranked AS (SELECT nn.vec_id, c.c_id,
                      ROW_NUMBER() OVER (
                          PARTITION BY nn.vec_id
                          ORDER BY ROUND({_DOT_SQL.format(a='nn.v', b='cv')} / (nn.norm * cnorm), 6) DESC,
                                   c.c_id) AS c_rank
               FROM nn CROSS JOIN c),
    cells AS (SELECT vec_id, c_id FROM ranked WHERE c_rank = 1),
    probes AS (SELECT vec_id AS q_id, c_id AS qc_id
               FROM ranked WHERE vec_id < 10 AND c_rank <= 2),
    allowed AS (SELECT p.q_id, cells.vec_id
                FROM cells JOIN probes p
                ON cells.c_id = p.qc_id AND p.q_id <> cells.vec_id),
    scored AS (SELECT a.q_id, a.vec_id AS neighbor_id, SUM(dt.d_int) AS d_sum
               FROM allowed a
               JOIN codes co ON co.vec_id = a.vec_id
               JOIN d dt ON dt.vec_id = a.q_id AND dt.j = co.j AND dt.c_id = co.code
               GROUP BY 1, 2),
    cand AS (SELECT q_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d_sum, neighbor_id) AS rn
        FROM scored) t WHERE rn <= 50),
    exact AS (SELECT cand.q_id, cand.neighbor_id,
                     ROUND({_L2_FULL_SQL.format(a='qe.v', b='ne.v')}, 6) AS l2_dist
              FROM cand
              JOIN e qe ON qe.vec_id = cand.q_id
              JOIN e ne ON ne.vec_id = cand.neighbor_id)
    SELECT q_id, neighbor_id, rank, l2_dist FROM (
        SELECT q_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2_dist, neighbor_id) AS rank,
               l2_dist
        FROM exact) t
    WHERE rank <= 5
    """,
    doc="The full FAISS IVF-PQ shape: coarse IVF cells prune WHICH "
    "vectors are scored (probe ~nprobe/n_cells of the corpus), PQ codes "
    "compress HOW (16x, integer-micro-unit ADC), exact rerank restores "
    "true distances on the 50 survivors per query. Cell assignment "
    "mirrors ann_topk_ivf, encoding mirrors ann_topk_pq — the "
    "composition multiplies their reductions: at 100 TB a probe reads "
    "~kilobytes of codes per cell and a few MB of raw vectors total.",
)
def ann_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_ivf_pq(
        load(spark, sf_dir, "embeddings"),
        n_queries=10, k=5, candidates=50, m=16, ds=4, stride=10,
        ivf_stride=25, nprobe=2,
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
@query(
    "doc_boilerplate_removal",
    sql="""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (SELECT doc_id, i AS s, array_to_string(w[i:i+4], ' ') AS gram
              FROM docs, unnest(range(1, len(w) - 3)) AS t(i)
              WHERE len(w) >= 5),
    hot AS (SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY 1) f
        WHERE df >= 3),
    cov AS (SELECT DISTINCT g.doc_id, g.s + o AS pos
            FROM grams g JOIN hot USING (gram), unnest(range(0, 5)) AS t(o)),
    words AS (SELECT doc_id, i AS pos, w[i] AS word
              FROM docs, unnest(range(1, len(w) + 1)) AS t(i)),
    kept AS (SELECT words.* FROM words ANTI JOIN cov USING (doc_id, pos)),
    agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(word, ' ' ORDER BY pos) AS cleaned_text
            FROM kept GROUP BY 1)
    SELECT docs.doc_id, len(w) AS n_words,
           len(w) - COALESCE(n_kept, 0) AS n_removed,
           COALESCE(cleaned_text, '') AS cleaned_text
    FROM docs LEFT JOIN agg USING (doc_id)
    """,
    doc="Cross-document exact-substring dedup (Lee et al. 2022 shape): "
    "5-grams appearing in >= 3 distinct docs are boilerplate; every "
    "occurrence span is cut from every document. One explode-groupBy "
    "postings pass; the hot-gram set is tiny so the occurrence join "
    "prunes hard; reconstruction is a per-doc kept-word sort. Returns "
    "every doc with (n_words, n_removed, cleaned_text).",
)
def doc_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.remove_boilerplate_spans(
        load(spark, sf_dir, "documents"), g=5, min_docs=3
    )


@query(
    "event_props_json_shred",
    sql="""
    SELECT event_id,
           event_type AS cat,
           (event_id % 2 = 0) AS flag,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           COALESCE(CASE WHEN event_id % 5 = 0 THEN user_id END, -1) AS opt,
           value AS score
    FROM events
    """,
    doc="VARIANT-style JSON shredding with corpus-wide schema inference: "
    "a string column of JSON objects (built in-query with optional keys "
    "and mixed scalar types) becomes typed top-level columns via ONE "
    "from_json map pass — inference is an explode+groupBy over (key, "
    "value-class), the shred is element_at casts, zero UDFs. The oracle "
    "computes the expected projection straight from the base columns, so "
    "the hash gate pins the inferred key set AND types (long/double/"
    "boolean/string, absent key -> NULL; the NULL is surfaced as -1 at "
    "the query boundary so the hash gate compares integers — a nullable "
    "int column with NULLs round-trips as float through pandas/Arrow, "
    "which is exactly the type drift the gate exists to catch).",
)
def event_props_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.shred import json_shred

    ev = load(spark, sf_dir, "events")
    doc = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.get_json_object("props", "$.k").cast("long").alias("k"),
                F.col("event_type").alias("cat"),
                F.col("value").alias("score"),
                (F.pmod("event_id", F.lit(2)) == 0).alias("flag"),
                F.when(F.pmod("event_id", F.lit(5)) == 0, F.col("user_id")).alias("opt"),
            )
        ).alias("doc"),
    )
    out = json_shred(doc, "doc", id_cols=["event_id"])
    return out.withColumn("opt", F.coalesce(F.col("opt"), F.lit(-1).cast("long")))


@query(
    "event_props_variant_shred",
    sql="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           event_type AS cat,
           value AS score,
           UPPER(event_type) AS nested_up,
           CAST(event_id AS VARCHAR) AS tag1,
           COALESCE(CASE WHEN event_id % 5 = 0 THEN user_id END, -1) AS opt
    FROM events
    """,
    doc="Native VARIANT (Spark 4) sibling of event_props_json_shred: the "
    "same semi-structured event-properties document goes through "
    "parse_json into a VARIANT column and is shredded with variant_get / "
    "try_variant_get — typed scalar reads, a nested-object path, an "
    "array-index path, and absent-key -> NULL (try_variant_get), with "
    "corpus-wide schema inference via schema_of_variant_agg asserted "
    "in-query. The oracle computes the expected projection straight from "
    "the base columns, so the hash gate pins every extracted type. "
    "Scale note vs the E101 map pass: VARIANT stores each document as a "
    "binary (metadata, value) pair with per-field offsets, so a "
    "variant_get touches only the requested field instead of "
    "materializing the full key->string map per row; with shredded "
    "VARIANT parquet storage the scan prunes untouched fields at the "
    "column level, where the from_json map pass must always decode the "
    "whole object per row.",
    round_added=10,
)
def event_props_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    doc = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.get_json_object("props", "$.k").cast("long").alias("k"),
                F.col("event_type").alias("cat"),
                F.col("value").alias("score"),
                F.struct(F.upper("event_type").alias("up")).alias("nested"),
                F.array(F.col("event_type"), F.col("event_id").cast("string")).alias(
                    "tags"
                ),
                # to_json drops NULL struct fields, so `opt` is ABSENT (not
                # null) for 4/5 of rows — the absent-key path try_variant_get
                # must map to NULL
                F.when(F.pmod("event_id", F.lit(5)) == 0, F.col("user_id")).alias(
                    "opt"
                ),
            )
        ).alias("doc"),
    )
    v = doc.select("event_id", F.parse_json("doc").alias("v"))

    # corpus-wide schema inference: the VARIANT twin of E101's
    # explode+groupBy inference pass is one agg over the binary encoding
    inferred = v.select(F.schema_of_variant_agg("v").alias("s")).first()["s"]
    # the variant encoding parses plain decimal literals as DECIMAL (spec
    # behavior, unlike from_json's DOUBLE) — so `score` infers as
    # DECIMAL(p,2) at 2-dp data and the shred below casts it back to the
    # bit-identical double
    for field in ("k: BIGINT", "cat: STRING", "score: DECIMAL", "nested: OBJECT"):
        assert field in inferred, inferred
    # graceful type mismatch: reading the BIGINT field as an array yields
    # NULL for every row under try_variant_get (variant_get would raise)
    bad = v.select(
        F.try_variant_get("v", "$.k", "array<bigint>").alias("b")
    ).where(F.col("b").isNotNull())
    assert bad.count() == 0

    return v.select(
        "event_id",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        F.variant_get("v", "$.cat", "string").alias("cat"),
        F.variant_get("v", "$.score", "double").alias("score"),
        F.variant_get("v", "$.nested.up", "string").alias("nested_up"),
        F.variant_get("v", "$.tags[1]", "string").alias("tag1"),
        F.coalesce(
            F.try_variant_get("v", "$.opt", "bigint"), F.lit(-1).cast("long")
        ).alias("opt"),
    )


@query(
    "doc_lang_id",
    sql="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id,
                 len([x for x in w if x IN ('the', 'a', 'of')]) AS score_en,
                 len([x for x in w if x IN ('el', 'la', 'de')]) AS score_es,
                 len([x for x in w if x IN ('der', 'die', 'und')]) AS score_de
          FROM d)
    SELECT doc_id, score_en, score_es, score_de,
           CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                WHEN score_es >= score_de THEN 'es' ELSE 'de' END AS pred_lang
    FROM s
    """,
    doc="Heuristic marker-word language ID (zero-shuffle scan).",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load(spark, sf_dir, "documents"))


@query(
    "doc_quality_scores",
    sql="""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id,
                 len(w) AS n_words,
                 len(list_distinct(w)) AS n_distinct_words,
                 length(text) AS n_chars,
                 len([x for x in w if x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')]) AS n_stop
          FROM d)
    SELECT doc_id, n_words, n_distinct_words,
           ROUND(CAST(n_chars AS DOUBLE) / n_words, 6) AS avg_word_len,
           ROUND(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
           ROUND(0.4 * (CAST(n_distinct_words AS DOUBLE) / n_words)
                 + 0.3 * LEAST((CAST(n_stop AS DOUBLE) / n_words) * 4.0, 1.0)
                 + 0.3 * LEAST(n_words / 100.0, 1.0), 6) AS quality_score
    FROM s
    """,
    doc="Document quality features + composite score (training-data filter).",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(load(spark, sf_dir, "documents"))


@query(
    "doc_token_counts",
    sql="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> '']) AS re_tokens
    FROM documents
    """,
    doc="Whitespace + regex token counting (pluggable tokenizer seam, FIXTURES B7).",
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(load(spark, sf_dir, "documents"))


@query(
    "doc_fingerprints",
    sql=f"""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                                    list_transform(string_split(text, ''), x -> ord(x))),
                       (acc, c) -> (acc * 31 + c) % {MERSENNE_31}) AS fingerprint
    FROM documents
    """,
    doc="Polynomial rolling-hash content fingerprint (lineage/identity key).",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# vocabulary search joins (SURVEY J7/J8 — brute_search_service.py:9-29,
# extract_concept_service.py:339-349)
# ---------------------------------------------------------------------------

_VOCAB = [
    ("compute", "spark"),
    ("compute", "query"),
    ("storage", "table"),
    ("storage", "row"),
    ("streaming", "stream"),
    ("streaming", "window"),
]
_VOCAB_VALUES = ",".join(f"('{c}','{l}')" for c, l in _VOCAB)

_PHRASES = [
    ("perf", "fast table"),
    ("perf", "slow query"),
    ("join", "hash join"),
    ("join", "merge join"),
]
_PHRASE_VALUES = ",".join(f"('{c}','{l}')" for c, l in _PHRASES)


@query(
    "vocab_word_match",
    sql=f"""
    WITH vocab(concept, label) AS (VALUES {_VOCAB_VALUES}),
    words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT concept,
           COUNT(*) AS n_hits,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM words JOIN vocab ON word = label
    GROUP BY concept
    """,
    doc="Label equi-join of exploded words vs vocabulary (SURVEY J8).",
)
def vocab_word_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = local_frame(spark, _VOCAB, "concept string, label string")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        words.join(F.broadcast(vocab), F.col("word") == F.col("label"))
        .groupBy("concept")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "vocab_phrase_regex_match",
    sql=f"""
    WITH vocab(concept, label) AS (VALUES {_PHRASE_VALUES})
    SELECT concept, COUNT(DISTINCT doc_id) AS n_docs
    FROM documents JOIN vocab ON regexp_matches(text, '\\b' || label || '\\b')
    GROUP BY concept
    """,
    doc="Word-boundary regex vocabulary search (SURVEY J7/F1; brute_search_service.py:9-12).",
)
def vocab_phrase_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = local_frame(spark, _PHRASES, "concept string, label string")
    return (
        docs.crossJoin(F.broadcast(vocab))
        .where(F.expr("text rlike concat('\\\\b', label, '\\\\b')"))
        .groupBy("concept")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "vocab_match_compiled",
    sql=f"""
    WITH vocab(concept, label) AS (VALUES {_PHRASE_VALUES})
    SELECT concept, COUNT(DISTINCT doc_id) AS n_docs
    FROM documents JOIN vocab ON regexp_matches(text, '\\b' || label || '\\b')
    GROUP BY concept
    """,
    doc="Compiled single-pass multi-pattern vocabulary search (SURVEY J7 "
    "scale path: one alternation scan per doc instead of |vocab| rlike "
    "passes); same oracle as the crossJoin+rlike baseline.",
)
def vocab_match_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.vocab import vocab_multi_match

    docs = load(spark, sf_dir, "documents")
    return (
        vocab_multi_match(docs, _PHRASES)
        .groupBy("concept")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "vocab_match_aho_corasick",
    sql=f"""
    WITH vocab(concept, label) AS (VALUES {_PHRASE_VALUES})
    SELECT concept, COUNT(DISTINCT doc_id) AS n_docs
    FROM documents JOIN vocab ON regexp_matches(text, '\\b' || label || '\\b')
    GROUP BY concept
    """,
    doc="Aho-Corasick multi-pattern vocabulary search: scan cost "
    "independent of vocabulary size (the 10^5-label ontology path); same "
    "oracle as the regex variants.",
)
def vocab_match_aho_corasick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.vocab import ac_multi_match

    docs = load(spark, sf_dir, "documents")
    return (
        ac_multi_match(docs, _PHRASES)
        .groupBy("concept")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# chunking (SURVEY W1)
# ---------------------------------------------------------------------------
@query(
    "doc_chunks_even",
    sql="""
    WITH d AS (SELECT doc_id, text,
                      GREATEST(1, CAST(CEIL((length(text) - 50) / 150.0) AS INT)) AS n
               FROM documents)
    SELECT doc_id,
           CAST(i + 1 AS INT) AS chunk_no,
           CAST(i * 150 AS INT) AS chunk_start,
           CAST(LEAST(i * 150 + 200, length(text)) AS INT) AS chunk_end,
           CAST(i * 150 AS VARCHAR) || ':' || CAST(LEAST(i * 150 + 200, length(text)) AS VARCHAR) AS chunk_bounds,
           substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
    FROM d, unnest(range(0, n)) AS t(i)
    """,
    doc="Overlapping fixed-size chunker as pure DataFrame explode (SURVEY W1).",
)
def doc_chunks_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunker.chunk_even_chars(load(spark, sf_dir, "documents"), size=200, overlap=50)


@query(
    "doc_chunks_token_aware",
    # The chunk boundaries themselves are imperative (mapInPandas offset
    # bookkeeping), so the oracle checks the REASSEMBLY INVARIANT instead:
    # folding each document's chunks in offset order — dropping the
    # offset-declared overlap prefix of each chunk — must reproduce the
    # source text up to whitespace runs (inter-chunk gap chars are blank
    # lines/newlines/spaces by construction). Any wrong offset, dropped
    # line, duplicated overlap, or reordered chunk breaks string equality.
    sql=r"""
    SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS reassembled
    FROM documents
    WHERE trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''
    """,
    doc="Token-aware line-boundary overlapping chunker via mapInPandas (SURVEY W1); "
    "oracle-checked by reassembling every document from its chunks.",
)
def doc_chunks_token_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunker.chunk_by_tokens(
        load(spark, sf_dir, "documents"), soft_limit_tokens=40, max_chunks=1_000_000
    )
    fold = """
    aggregate(
      cs,
      named_struct('acc', '', 'covered', -1),
      (a, c) -> named_struct(
        'acc', concat(a.acc,
                      case when c.chunk_start >= a.covered
                           then concat(' ', c.chunk_text)
                           else substr(c.chunk_text, a.covered - c.chunk_start + 1) end),
        'covered', greatest(a.covered, c.chunk_end)),
      a -> a.acc)
    """
    return (
        chunks.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("chunk_start", "chunk_end", "chunk_text"))).alias("cs"))
        .select("doc_id", F.expr(fold).alias("raw"))
        .select("doc_id", F.trim(F.regexp_replace("raw", r"\s+", " ")).alias("reassembled"))
        .where(F.col("reassembled") != "")
    )


_REASSEMBLE_FOLD = """
aggregate(
  cs,
  named_struct('acc', '', 'covered', -1),
  (a, c) -> named_struct(
    'acc', concat(a.acc,
                  case when c.chunk_start >= a.covered
                       then concat(' ', c.chunk_text)
                       else substr(c.chunk_text, a.covered - c.chunk_start + 1) end),
    'covered', greatest(a.covered, c.chunk_end)),
  a -> a.acc)
"""


@query(
    "doc_chunks_hard_limit",
    # Same reassembly-invariant oracle as doc_chunks_token_aware, plus the
    # hard-cap invariant: every chunk must hold <= hard_limit tokens (the
    # documents corpus has no single line over the cap, so no singleton
    # exemption is needed) — the oracle expects the boolean to be TRUE.
    sql=r"""
    SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS reassembled,
           TRUE AS within_cap
    FROM documents
    WHERE trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''
    """,
    doc="Hard-token-cap line-boundary chunker with overlap backtrack "
    "(reference chunk_util.py:318-377), run with the BPE-ish token counter "
    "through the pluggable seam; oracle-checked by chunk reassembly + cap invariant.",
)
def doc_chunks_hard_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunker.chunk_by_tokens_hard(
        load(spark, sf_dir, "documents"),
        hard_limit_tokens=48,
        overlap_ratio=0.15,
        token_counter=chunker.bpe_ish_tokens,
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("chunk_start", "chunk_end", "chunk_text"))).alias("cs"),
            F.expr("bool_and(num_tokens <= 48)").alias("within_cap"),
        )
        .select("doc_id", "within_cap", F.expr(_REASSEMBLE_FOLD).alias("raw"))
        .select(
            "doc_id",
            F.trim(F.regexp_replace("raw", r"\s+", " ")).alias("reassembled"),
            "within_cap",
        )
        .where(F.col("reassembled") != "")
    )


@query(
    "doc_chunks_bpe",
    # Reassembly-invariant oracle (counter-agnostic): see doc_chunks_token_aware.
    sql=r"""
    SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS reassembled
    FROM documents
    WHERE trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''
    """,
    doc="Token-aware chunker driven by REAL byte-level BPE (embedded "
    "GPT-2-format merge table, operators/bpe.py) — the third tokenizer "
    "through the pluggable seam, closing the tiktoken fidelity gap "
    "(reference token_util.py:6-8); reassembly-invariant oracle.",
)
def doc_chunks_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunker.chunk_by_tokens(
        load(spark, sf_dir, "documents"),
        soft_limit_tokens=40,
        max_chunks=1_000_000,
        token_counter=bpe.bpe_tokens,
    )
    return (
        chunks.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("chunk_start", "chunk_end", "chunk_text"))).alias("cs"))
        .select("doc_id", F.expr(_REASSEMBLE_FOLD).alias("raw"))
        .select("doc_id", F.trim(F.regexp_replace("raw", r"\s+", " ")).alias("reassembled"))
        .where(F.col("reassembled") != "")
    )


# ---------------------------------------------------------------------------
# Corpus-wide BPE ENCODE (round 12): the step every training-data
# pipeline runs last — apply the trained merge table to turn documents
# into token-id streams (operators/bpe_encode.py). The oracle leans on
# BPE's losslessness: decoding the emitted tokens and concatenating must
# reproduce the raw text BYTE-EXACTLY, so DuckDB compares `text`
# verbatim — a stronger check than the chunkers' whitespace-normalized
# reassembly. `compressed` additionally proves merges actually fired on
# every document (token count strictly below character count), which a
# pass-through "one token per char" fake could not satisfy.
# ---------------------------------------------------------------------------
@query(
    "doc_bpe_encode",
    sql="""
    SELECT doc_id, text AS reassembled, TRUE AS compressed
    FROM documents
    """,
    doc="Corpus-wide BPE encode with the trained merge table "
    "(operators/bpe.py composed vocabulary): one Arrow-batched "
    "mapInPandas pass emits the id stream per document; losslessness "
    "(decode == raw text, byte-exact) and compression (n_tokens < "
    "n_chars) are oracle-checked per document. Closes the E151 loop: "
    "train -> count -> ENCODE.",
    round_added=12,
)
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.bpe_encode import encode_documents

    enc = encode_documents(load(spark, sf_dir, "documents"))
    return enc.select(
        "doc_id",
        "reassembled",
        (F.col("n_tokens") < F.length("reassembled")).alias("compressed"),
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the LSH candidate graph.
# Spark runs min-label propagation to a fixpoint (operators/dedup.py::
# dedup_clusters); the oracle computes reachability with WITH RECURSIVE and
# takes the minimum reachable id per node — two independent component
# algorithms that must agree on every document's cluster label.
# ---------------------------------------------------------------------------
@query(
    "doc_dedup_clusters",
    sql=f"""
    WITH RECURSIVE {_MINHASH_CTE},
    sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
    bands AS (SELECT doc_id, s, b,
                     md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> x::VARCHAR), ',')) AS band_key
              FROM sig, unnest(range(0, 4)) AS t(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    pairs AS (SELECT doc_a, doc_b FROM cand
              WHERE ROUND(CAST(len([i for i in range(1, {NUM_MINHASH + 1}) if sa[i] = sb[i]]) AS DOUBLE)
                          / CAST({NUM_MINHASH} AS DOUBLE), 6) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
    ),
    labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a)
    SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
    FROM documents d LEFT JOIN labels l USING (doc_id)
    """,
    doc="Connected-component near-dup clusters over MinHash-LSH pairs; Spark "
    "min-label propagation vs a recursive-reachability oracle.",
)
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_clusters(load(spark, sf_dir, "documents"), bands=4, min_est=0.5)


# ---------------------------------------------------------------------------
# Ingest-time incremental near-dup gate: the 80% of the corpus already
# ingested lives as a PERSISTED band index (versioned table); the new 20%
# batch is deduped against that index via an equi-join on (band, band_key)
# plus a first-wins intra-batch pass — the corpus is never rescanned or
# re-shingled. The kept docs' band rows MERGE back into the index so the
# next batch sees them. The oracle recomputes both sides relationally.
# ---------------------------------------------------------------------------
@query(
    "incremental_minhash_dedup",
    sql=f"""
    WITH {_MINHASH_CTE},
    sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
    bands AS (SELECT doc_id, s, b,
                     md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> x::VARCHAR), ',')) AS band_key
              FROM sig, unnest(range(0, 4)) AS t(b)),
    old AS (SELECT * FROM bands WHERE ((doc_id % 5) + 5) % 5 <> 0),
    new AS (SELECT * FROM bands WHERE ((doc_id % 5) + 5) % 5 = 0),
    vs_index AS (
      SELECT DISTINCT n.doc_id FROM new n JOIN old o
        ON n.b = o.b AND n.band_key = o.band_key
       AND ROUND(CAST(len([i FOR i IN range(1, {NUM_MINHASH + 1}) IF n.s[i] = o.s[i]]) AS DOUBLE)
                 / CAST({NUM_MINHASH} AS DOUBLE), 6) >= 0.5),
    intra AS (
      SELECT DISTINCT b2.doc_id FROM new a JOIN new b2
        ON a.b = b2.b AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
       AND ROUND(CAST(len([i FOR i IN range(1, {NUM_MINHASH + 1}) IF a.s[i] = b2.s[i]]) AS DOUBLE)
                 / CAST({NUM_MINHASH} AS DOUBLE), 6) >= 0.5)
    SELECT d.doc_id,
           CASE WHEN v.doc_id IS NOT NULL THEN 'dup_of_index'
                WHEN i.doc_id IS NOT NULL THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM (SELECT DISTINCT doc_id FROM documents WHERE ((doc_id % 5) + 5) % 5 = 0) d
    LEFT JOIN vs_index v ON v.doc_id = d.doc_id
    LEFT JOIN intra i ON i.doc_id = d.doc_id
    """,
    doc="Incremental ingest dedup against a persisted MinHash band index "
    "(versioned table): new-batch bands equi-join the index (dup_of_index) "
    "plus a first-wins intra-batch pass (dup_in_batch); kept docs' bands "
    "MERGE back into the index. The already-ingested corpus is never "
    "rescanned — the per-batch cost is the batch's own signatures.",
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents")
    old = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    new = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    t = VersionedTable(spark, scratch_dir(spark, "band-index-"))
    t.write(dedup.minhash_band_index(old), cluster_by=["band"])
    status, delta = dedup.incremental_minhash_dedup(t.read(), new)
    t.merge(delta, keys=["doc_id", "band"])  # next batch dedups against these too
    return status


# ---------------------------------------------------------------------------
# End-to-end corpus curation: the composite pipeline a training-data engine
# exists for — quality gate -> exact dedup (first wins) -> per-source token
# budget (running-cap window). Each stage is an operator already declared on
# its own; this query proves they COMPOSE into one plan: one corpus scan,
# one dedup shuffle, one per-source window — no intermediate materialization.
# ---------------------------------------------------------------------------
@query(
    "corpus_curation",
    sql="""
    WITH q AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             len([x for x in string_split(text, ' ')
                  if x in ('the','a','of','and','to','in','is')]) AS n_stop
      FROM documents),
    scored AS (
      SELECT doc_id, source, text, n_words,
             ROUND(0.4 * (n_distinct * 1.0 / n_words)
                   + 0.3 * LEAST(n_stop * 4.0 / n_words, 1.0)
                   + 0.3 * LEAST(n_words / 100.0, 1.0), 6) AS quality_score
      FROM q),
    kept AS (SELECT * FROM scored WHERE quality_score >= 0.42),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept) t
      WHERE rn = 1),
    budgeted AS (
      SELECT doc_id, source, n_words, quality_score,
             CAST(SUM(n_words) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_tokens
      FROM deduped)
    SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words, quality_score, cum_tokens
    FROM budgeted WHERE cum_tokens <= 400
    """,
    doc="Composite curation pipeline: quality gate -> exact dedup -> per-source "
    "running token budget, in one declarative plan.",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    kept = textstats.with_quality(docs).where(F.col("quality_score") >= 0.42)
    w_dedup = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
    )
    w_budget = W.partitionBy("source").orderBy("doc_id")
    return (
        deduped.withColumn("cum_tokens", F.sum("n_words").over(w_budget))
        .where(F.col("cum_tokens") <= 400)
        .select(
            "doc_id",
            "source",
            F.col("n_words").cast("long").alias("n_words"),
            "quality_score",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's iterations) over the embedding corpus — the
# IVF centroid-builder seam made real. The oracle UNROLLS the fixed
# iteration count into CTE chains (assignment window -> per-position
# sequential-fold means -> rebuilt centroid lists), replaying the exact
# deterministic arithmetic the Spark operator uses.
# ---------------------------------------------------------------------------


def _kmeans_oracle_sql(stride: int, iterations: int, dims: int = 64) -> str:
    dot = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [{a}[i] * {b}[i] for i in range(1, %d)]), (acc, x) -> acc + x)" % (dims + 1)
    emb_dot = dot.format(a="CAST(v AS DOUBLE[])", b="CAST(v AS DOUBLE[])")
    ctes = [
        "emb AS (SELECT vec_id, embedding AS v, "
        f"sqrt({emb_dot}) AS norm FROM embeddings)",
        "cent0 AS (SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv, "
        f"sqrt({dot.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS cnorm "
        f"FROM embeddings WHERE vec_id % {stride} = 0)",
    ]
    for it in range(iterations):
        pair_dot = dot.format(a="CAST(e.v AS DOUBLE[])", b="c.cv")
        ctes.append(
            f"a{it} AS (SELECT vec_id, v FROM ("
            f"  SELECT e.vec_id, e.v, c.c_id,"
            f"         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY"
            f"           ROUND(({pair_dot}) / (e.norm * c.cnorm), 6) DESC, c.c_id ASC) AS rn"
            f"  FROM emb e, cent{it} c) WHERE rn = 1) "
            .replace("SELECT vec_id, v FROM (", "SELECT vec_id, v, c_id FROM (")
        )
        ctes.append(
            f"comp{it} AS ("
            f"  SELECT c_id, i - 1 AS pos,"
            f"         ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f"                 list(CAST(v[i] AS DOUBLE) ORDER BY vec_id)), (acc, x) -> acc + x)"
            f"               / COUNT(*), 6) AS val"
            f"  FROM a{it}, range(1, {dims + 1}) t(i)"
            f"  GROUP BY c_id, i)"
        )
        cv_dot = dot.format(a="cv", b="cv")
        ctes.append(
            f"cent{it + 1} AS ("
            f"  SELECT c_id, cv, sqrt({cv_dot}) AS cnorm FROM ("
            f"    SELECT c_id, list(val ORDER BY pos) AS cv FROM comp{it} GROUP BY c_id))"
        )
    final = iterations - 1
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT c_id AS cluster, CAST(pos AS INT) AS pos, val AS centroid_val FROM comp{final}"
    )


@query(
    "embedding_kmeans_centroids",
    sql=_kmeans_oracle_sql(stride=25, iterations=2),
    doc="Two Lloyd's k-means iterations over embeddings (broadcast-join "
    "assignment + deterministic per-position fold means) vs an unrolled "
    "CTE-chain oracle — the IVF centroid-builder seam, oracle-checked.",
)
def embedding_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans_centroids(
        load(spark, sf_dir, "embeddings"), stride=25, iterations=2
    )


# ---------------------------------------------------------------------------
# PII redaction. The synthetic documents carry no PII, so both engines
# append the SAME deterministic contact line (email + phone derived from
# doc_id) before redacting — the redaction automata then provably fire on
# every row and the counts/outputs hash-compare.
# ---------------------------------------------------------------------------
@query(
    "doc_pii_redaction",
    sql=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 555-' ||
             lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234' AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted_text,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS BIGINT) AS n_phones
    FROM aug
    """,
    doc="Email/phone PII scrub with counts over deterministically augmented "
    "text; RE2-compatible patterns evaluated by both engines.",
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, ' contact user', doc_id, '@example.com or 555-', "
            "lpad(cast(doc_id % 1000 as string), 3, '0'), '-1234')"
        ).alias("text"),
    )
    return textstats.redact_pii(docs)


# ---------------------------------------------------------------------------
# Repetition quality gate (Gopher-style): drop documents dominated by one
# word or one n-gram.
# ---------------------------------------------------------------------------
@query(
    "doc_repetition_filter",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    stats AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             ROUND(CAST(list_max(list_transform(list_distinct(ws),
                     d -> len([x for x in ws if x = d]))) AS DOUBLE) / len(ws), 6) AS top_word_ratio,
             CASE WHEN len(ws) >= 3 THEN
               ROUND(CAST(list_max(list_transform(
                       list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]),
                       d -> len([g for g in [array_to_string(ws[i:i+2], ' ')
                                             for i in range(1, len(ws) - 1)] if g = d])))
                     AS DOUBLE) / (len(ws) - 2), 6) END AS top_trigram_ratio
      FROM w)
    SELECT doc_id, n_words, top_word_ratio, top_trigram_ratio,
           top_word_ratio <= 0.2 AND COALESCE(top_trigram_ratio, 0.0) <= 0.18 AS keep
    FROM stats
    """,
    doc="Repetition ratios (top word / top trigram share) with a keep flag — "
    "the Gopher-style boilerplate gate.",
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = textstats.repetition_stats(load(spark, sf_dir, "documents"))
    return stats.select(
        "doc_id",
        "n_words",
        "top_word_ratio",
        "top_trigram_ratio",
        (
            (F.col("top_word_ratio") <= 0.2)
            & (F.coalesce("top_trigram_ratio", F.lit(0.0)) <= 0.18)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Train/val/test stratified split: the standard corpus-prep op. Assignment
# is a deterministic md5 bucket of the doc id (same integer-threshold trick
# as mixture_rebalance, so both engines decide identically at boundaries);
# stratification is per source, verified by the per-(source, split) rollup.
# Scale: one scan, one grouped agg — the split column is a zero-shuffle
# codegen expression a writer would partitionBy.
# ---------------------------------------------------------------------------
@query(
    "stratified_split",
    sql="""
    WITH b AS (
      SELECT source,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100) AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM b GROUP BY 1, 2
    """,
    doc="Deterministic 80/10/10 train/val/test split, stratified per source "
    "(md5-bucket assignment, integer thresholds).",
)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
    return (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document — corpus-statistics text analysis. The
# idf is the EXACT rational N/df (computed as one IEEE double division,
# bit-identical in both engines) instead of a log, so the hash gate needs
# no rounding tolerance; ordering by (score desc, term asc) is total.
# Scale: two shuffles (doc-term tf agg, term df agg) + a term-keyed join;
# stopword-scale df skew is bounded because the df side is one row per
# distinct term (pre-reduced), and AQE splits hot term partitions.
# ---------------------------------------------------------------------------
@query(
    "doc_tfidf_topk",
    sql="""
    WITH words AS (
      SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words WHERE term <> '' GROUP BY doc_id, term),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT doc_id, tf.term, tf,
             CAST(tf * n_docs AS DOUBLE) / df AS score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, tf.term) AS rnk
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
    SELECT doc_id, term, tf, score, CAST(rnk AS BIGINT) AS rnk
    FROM scored WHERE rnk <= 3
    """,
    doc="TF-IDF top-3 terms per document (rational idf = N/df, exact in "
    "both engines; two pre-reduced shuffles + a term-keyed join).",
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).select("doc_id", F.lower("term").alias("term")).where(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", "tf", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Per-group least-squares fit (A-family extension: covariance aggregates).
# Training pipelines calibrate quality/length relationships per source;
# slope, intercept and Pearson r come from the five exact integer sufficient
# statistics (sum x, y, xy, x^2, y^2 — one map-side-combined groupBy, no
# UDF, no second pass), with the closed-form double arithmetic written in
# the SAME operation order in both engines so results are bit-identical
# before the final round(6).
# ---------------------------------------------------------------------------
@query(
    "per_source_quality_regression",
    sql="""
    WITH t AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             n_chars AS y
      FROM documents),
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(y*y) AS BIGINT) AS syy
      FROM t GROUP BY source)
    SELECT source, n AS n_docs,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                 / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                    * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr
    FROM s
    """,
    doc="Per-source least-squares fit of chars on whitespace tokens + "
    "Pearson r from exact integer sufficient statistics (single "
    "map-side-combined groupBy; closed-form double math mirrored "
    "operation-for-operation in the oracle).",
)
def per_source_quality_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("x"),
        F.col("n_chars").alias("y"),
    )
    s = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = (n * sxy - sx * sy).cast("double")
    var_n = (n * sxx - sx * sx).cast("double")
    vary_n = (n * syy - sy * sy).cast("double")
    slope = cov_n / var_n
    return s.select(
        "source",
        n.alias("n_docs"),
        F.round(slope, 6).alias("slope"),
        F.round((sy.cast("double") - slope * sx.cast("double")) / n.cast("double"), 6).alias(
            "intercept"
        ),
        F.round(cov_n / (F.sqrt(var_n) * F.sqrt(vary_n)), 6).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters with bounded memory: word trigrams whose corpus
# share clears a support threshold. One-shot groupBy over the full n-gram
# domain IS the scale problem at 100 TB; operators/heavyhitters.py runs
# per-partition Misra-Gries summaries (<= 1/support counters per task,
# candidates provably a superset of every >= support item), then an exact
# broadcast-semi-join re-count of candidates only. The oracle recomputes
# the ground truth directly — the sketch may only nominate, never decide,
# so the result is exact and partitioning-independent.
# ---------------------------------------------------------------------------
@query(
    "trigram_heavy_hitters",
    sql="""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(arr, 1) AS i, unnest(arr) AS tok
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> length(x) >= 2) AS arr
              FROM documents)
    ),
    tri AS (
        SELECT a.tok || ' ' || b.tok || ' ' || c.tok AS trigram
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ),
    tot AS (SELECT COUNT(*) AS total FROM tri)
    SELECT trigram, COUNT(*) AS cnt,
           ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(tot.total), 6) AS share
    FROM tri, tot
    GROUP BY trigram
    -- integer rational threshold (support 0.0002 = 1/5000), mirroring the
    -- engine's exact comparison: double CEIL can land an ulp high at an
    -- exact-boundary count and drop an item the engine keeps
    HAVING COUNT(*) * 5000 >= ANY_VALUE(tot.total)
    """,
    doc="Exact >=0.02%% word trigrams via per-partition Misra-Gries "
    "nomination + exact candidate re-count (two scans, bounded state).",
)
def trigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.heavyhitters import heavy_hitters

    docs = load(spark, sf_dir, "documents").select(
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> length(x) >= 2)"
        ).alias("arr")
    )
    trigrams = docs.select(
        F.explode(
            F.expr(
                "CASE WHEN size(arr) >= 3 THEN "
                "  transform(sequence(0, size(arr) - 3), "
                "            i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2])) "
                "ELSE array() END"
            )
        ).alias("trigram")
    )
    return heavy_hitters(trigrams, "trigram", support=0.0002)


# ---------------------------------------------------------------------------
# LM-based quality scoring (the CCNet/Gopher curation step): score every
# document by its average negative log-likelihood under a Laplace-smoothed
# bigram model trained on the corpus itself. Two grouped counts build the
# model (bigram + unigram-context), one scalar vocab count smooths it,
# and scoring is an equi-join of doc bigrams against the model — at 100 TB
# the model table is orders of magnitude smaller than the corpus (it
# grows with vocabulary^2 worst case, not corpus size) and broadcasts;
# past the broadcast threshold it degrades to a plain shuffled equi-join
# on w1,w2. No UDFs anywhere: tokenize/bigram are array expressions, the
# likelihood is codegen arithmetic + ln. avg(-ln p) is rounded to 6
# decimals per the registry float contract (each p is the same double in
# both engines: integer-count division).
# ---------------------------------------------------------------------------
@query(
    "doc_lm_nll",
    sql="""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(arr, 1) AS i, unnest(arr) AS tok
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> length(x) >= 2) AS arr
              FROM documents)
    ),
    big AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
    uc AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM toks)
    SELECT g.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-LN(CAST(bc.c2 + 1 AS DOUBLE) / (uc.c1 + v.vocab))), 6) AS nll
    FROM big g
    JOIN bc ON g.w1 = bc.w1 AND g.w2 = bc.w2
    JOIN uc ON g.w1 = uc.w1
    CROSS JOIN v
    GROUP BY g.doc_id
    """,
    doc="Per-document avg negative log-likelihood under a corpus-trained "
    "Laplace-smoothed bigram LM (CCNet-style quality scoring).",
)
def doc_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> length(x) >= 2)"
        ).alias("arr"),
    )
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(arr) >= 2 THEN "
                "  transform(sequence(0, size(arr) - 2), "
                "            i -> struct(arr[i] AS w1, arr[i+1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode("arr").alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    p = (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("vocab"))
    return (
        bigrams.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(uc), "w1")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 6).alias("nll"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus drift detection: per-source KL divergence of the token
# distribution against the whole corpus. The monitoring primitive a
# 100 TB ingest pipeline runs per batch — "did this source's language
# shift?" — as two map-side-combined groupBys (per-source and global
# token counts) and one broadcast join of the GLOBAL distribution into
# the per-source rows: the model table grows with vocabulary, not corpus.
# KL terms p*ln(p/q) use count ratios (identical doubles in both
# engines), summed per source and rounded to 6 decimals.
# ---------------------------------------------------------------------------
@query(
    "source_token_kl",
    sql="""
    WITH toks AS (
        SELECT source, t.tok FROM documents,
        UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> length(x) >= 2)) AS t(tok)
    ),
    sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok),
    st AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
    gc AS (SELECT tok, SUM(c) AS g FROM sc GROUP BY tok),
    gt AS (SELECT SUM(g) AS m FROM gc)
    SELECT sc.source,
           CAST(ANY_VALUE(st.n) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           ROUND(SUM((CAST(sc.c AS DOUBLE) / st.n)
                     * LN((CAST(sc.c AS DOUBLE) / st.n)
                          / (CAST(gc.g AS DOUBLE) / gt.m))), 6) AS kl_vs_corpus
    FROM sc
    JOIN st ON sc.source = st.source
    JOIN gc ON sc.tok = gc.tok
    CROSS JOIN gt
    GROUP BY sc.source
    """,
    doc="Per-source KL divergence of token distribution vs the whole corpus "
    "(drift monitoring); global distribution broadcast into per-source rows.",
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> length(x) >= 2)")
        ).alias("tok"),
    )
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("tok").agg(F.sum("c").alias("g"))
    gt = gc.agg(F.sum("g").alias("m"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("g").cast("double") / F.col("m")
    return (
        sc.join(F.broadcast(st), "source")
        .join(F.broadcast(gc), "tok")
        .join(F.broadcast(gt))
        .groupBy("source")
        .agg(
            F.first("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster-canonical selection by QUALITY, not label order: within each
# near-dup cluster keep the longest document (ties -> lowest doc_id) —
# the RefinedWeb/FineWeb curation policy, where the canonical copy should
# be the most complete one, not the first-seen one. Reuses the connected-
# component clustering; the selection adds one doc_id-keyed join and one
# window over cluster groups (cluster sizes are bounded by the LSH
# banding, so no hot reducer).
# ---------------------------------------------------------------------------
@query(
    "doc_dedup_keep_best",
    sql=f"""
    WITH RECURSIVE {_MINHASH_CTE},
    sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
    bands AS (SELECT doc_id, s, b,
                     md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> x::VARCHAR), ',')) AS band_key
              FROM sig, unnest(range(0, 4)) AS t(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    pairs AS (SELECT doc_a, doc_b FROM cand
              WHERE ROUND(CAST(len([i for i in range(1, {NUM_MINHASH + 1}) if sa[i] = sb[i]]) AS DOUBLE)
                          / CAST({NUM_MINHASH} AS DOUBLE), 6) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
    ),
    labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
    members AS (
        SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster,
               len(string_split(d.text, ' ')) AS n_words
        FROM documents d LEFT JOIN labels l USING (doc_id))
    SELECT cluster, doc_id AS keep_id, n_words AS keep_words,
           CAST(n_members AS BIGINT) AS n_members
    FROM (SELECT cluster, doc_id, n_words,
                 ROW_NUMBER() OVER (PARTITION BY cluster
                                    ORDER BY n_words DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cluster) AS n_members
          FROM members) t
    WHERE rn = 1
    """,
    doc="Keep-best near-dup policy: within each LSH cluster keep the "
    "longest document (RefinedWeb-style canonical selection).",
)
def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, bands=4, min_est=0.5)
    words = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words"))
    j = clusters.join(words, "doc_id")
    w = W.partitionBy("cluster").orderBy(F.desc("n_words"), F.asc("doc_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(W.partitionBy("cluster")))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("keep_id"),
            F.col("n_words").alias("keep_words"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# Cross-source contamination audit: near-dup clusters whose members span
# MULTIPLE sources — the leakage check a training pipeline runs before
# attributing mixture weights or deduplicating per-source (a doc counted
# in two sources double-weights its distribution and can leak held-out
# material between splits). One source join + one grouped agg on top of
# the component clustering; emits the spanning sources sorted for a
# deterministic hash.
# ---------------------------------------------------------------------------
@query(
    "cross_source_leakage",
    sql=f"""
    WITH RECURSIVE {_MINHASH_CTE},
    sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
    bands AS (SELECT doc_id, s, b,
                     md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> x::VARCHAR), ',')) AS band_key
              FROM sig, unnest(range(0, 4)) AS t(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    pairs AS (SELECT doc_a, doc_b FROM cand
              WHERE ROUND(CAST(len([i for i in range(1, {NUM_MINHASH + 1}) if sa[i] = sb[i]]) AS DOUBLE)
                          / CAST({NUM_MINHASH} AS DOUBLE), 6) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
    ),
    labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
    members AS (
        SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster, d.source
        FROM documents d LEFT JOIN labels l USING (doc_id))
    SELECT cluster,
           COUNT(*) AS n_members,
           COUNT(DISTINCT source) AS n_sources,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
    FROM members
    GROUP BY cluster
    HAVING COUNT(DISTINCT source) >= 2
    """,
    doc="Near-dup clusters spanning multiple sources (contamination / "
    "double-weighting audit before mixture attribution).",
)
def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, bands=4, min_est=0.5)
    j = clusters.join(docs.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        )
        .where(F.col("n_sources") >= 2)
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring detection (Lee et al. 2022 suffix-array dedup,
# re-expressed as a shingle inverted index + per-doc interval coalescing).
# Complements MinHash/SimHash whole-doc near-dup: this finds the duplicated
# REGIONS inside otherwise-distinct documents — the shape used to cut
# memorized boilerplate out of 100 TB training corpora.
# ---------------------------------------------------------------------------
@query(
    "doc_repeated_substrings",
    bench_tier=2,
    sql="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    occ AS (
      SELECT doc_id, t.i AS pos, array_to_string(w[t.i:t.i+7], ' ') AS sh
      FROM words, unnest(range(1, len(w) - 8 + 2)) AS t(i)
      WHERE len(w) >= 8
    ),
    dup AS (SELECT sh FROM occ GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
    marked AS (SELECT o.doc_id, o.pos, o.pos + 7 AS e FROM occ o JOIN dup USING (sh)),
    brk AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos <= COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -10) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM marked
    ),
    isl AS (
      SELECT doc_id, pos, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    ),
    spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS en
              FROM isl GROUP BY doc_id, island),
    per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                       CAST(SUM(en - s + 1) AS BIGINT) AS dup_words
                FROM spans GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(p.dup_words, 0) AS BIGINT) AS dup_words,
           ROUND(CAST(COALESCE(p.dup_words, 0) AS DOUBLE)
                 / CAST(len(w.w) AS DOUBLE), 6) AS dup_frac
    FROM words w LEFT JOIN per_doc p USING (doc_id)
    """,
    doc="Exact cross-document repeated-substring spans (8-word grams in >=2 "
    "docs, coalesced into maximal per-doc intervals) — suffix-array-style "
    "substring dedup as one inverted-index pass plus a doc-key window.",
)
def doc_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.repeated_substring_spans(docs, k=8, min_docs=2)


# ---------------------------------------------------------------------------
# Learned quality gate: multinomial Naive Bayes trained IN the engine on a
# hash-held-out split, scored over the test split (the GPT-3/CCNet cheap-
# classifier recipe, minus the external model service). Training is one
# (label, token) groupBy; scoring broadcasts the ~vocab-sized weight table.
# Scores are exact integer micro-LLR sums, so the oracle replays training
# and inference bit-for-bit (operators/nbayes.py documents the contract).
# ---------------------------------------------------------------------------
@query(
    "doc_nb_classifier",
    sql="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             list_contains(string_split(text, ' '), 'scan') AS hi,
             (doc_id % 5 = 0) AS is_test
      FROM documents
    ),
    train_tok AS (SELECT hi, unnest(w) AS word FROM base WHERE NOT is_test),
    scal AS (
      SELECT SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS t_hi,
             SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS t_lo,
             COUNT(DISTINCT word) AS v
      FROM train_tok
    ),
    priors AS (
      SELECT SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS n_hi,
             SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS n_lo
      FROM base WHERE NOT is_test
    ),
    cnt AS (
      SELECT word,
             SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS c_hi,
             SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS c_lo
      FROM train_tok GROUP BY word
    ),
    model AS (
      SELECT word,
             CAST(ROUND((LN(CAST(c_hi + 1 AS DOUBLE) / CAST(t_hi + v AS DOUBLE))
                       - LN(CAST(c_lo + 1 AS DOUBLE) / CAST(t_lo + v AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS llr
      FROM cnt, scal
    ),
    consts AS (
      SELECT CAST(ROUND((LN(CAST(1 AS DOUBLE) / CAST(t_hi + v AS DOUBLE))
                       - LN(CAST(1 AS DOUBLE) / CAST(t_lo + v AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS oov,
             CAST(ROUND((LN(CAST(n_hi AS DOUBLE) / CAST(n_hi + n_lo AS DOUBLE))
                       - LN(CAST(n_lo AS DOUBLE) / CAST(n_hi + n_lo AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS prior
      FROM scal, priors
    ),
    test_tok AS (SELECT doc_id, hi AS actual_hi, unnest(w) AS word
                 FROM base WHERE is_test),
    scored AS (
      SELECT t.doc_id, t.actual_hi,
             SUM(COALESCE(m.llr, c.oov)) AS tok_sum
      FROM test_tok t LEFT JOIN model m USING (word), consts c
      GROUP BY t.doc_id, t.actual_hi
    )
    SELECT s.doc_id,
           CAST(s.tok_sum + c.prior AS BIGINT) AS score_micro,
           (s.tok_sum + c.prior) > 0 AS predicted_hi,
           s.actual_hi,
           ((s.tok_sum + c.prior) > 0) = s.actual_hi AS correct
    FROM scored s, consts c
    """,
    doc="Multinomial NB quality classifier trained on the hash-held-out "
    "split inside the engine (integer micro-LLR model, broadcast scoring); "
    "oracle replays training + inference exactly.",
)
def doc_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.nbayes import train_score_nb

    docs = load(spark, sf_dir, "documents")
    return train_score_nb(docs, label_word="scan", test_mod=5)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup END TO END: LSH-bucketed near-dup pair
# mining over embeddings -> connected components -> keep-longest-document
# representative per cluster. The corpus re-uses the injected-exact-
# duplicate construction of embedding_near_dup_pairs (natural cosines top
# out at 0.48, so at threshold 0.999 sign-LSH recall is exactly 1.0 and
# the relational all-pairs + recursive-reachability oracle provably equals
# the engine's inverted-index + min-label-propagation path).
# ---------------------------------------------------------------------------
@query(
    "semantic_dedup",
    bench_tier=2,
    sql=f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d1 AS (SELECT vec_id + 100000 AS vec_id, v FROM e WHERE vec_id % 25 = 0),
    d2 AS (SELECT vec_id + 200000 AS vec_id, v FROM e WHERE vec_id % 50 = 0),
    c AS (SELECT * FROM e UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2),
    n AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM c),
    pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb
              FROM n a JOIN n b ON a.vec_id < b.vec_id
              WHERE ROUND({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) >= 0.999),
    edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a AND e2.b <> r.a
    ),
    labels AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
    sized AS (SELECT l.vec_id, l.cluster, d.n_chars
              FROM labels l JOIN documents d ON d.doc_id = l.vec_id % 100000),
    ranked AS (SELECT vec_id, cluster,
                      ROW_NUMBER() OVER (PARTITION BY cluster
                                         ORDER BY n_chars DESC, vec_id ASC) AS rn
               FROM sized)
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(vec_id) FILTER (WHERE rn = 1) AS keep_id,
           array_to_string(list(vec_id ORDER BY vec_id) FILTER (WHERE rn <> 1), ',') AS dropped_ids
    FROM ranked GROUP BY cluster HAVING COUNT(*) >= 2
    """,
    doc="SemDeDup end-to-end: embedding near-dup pairs (LSH buckets) -> "
    "connected components (min-label propagation) -> keep the longest "
    "member per cluster, dropping the rest; oracle replays all three "
    "stages relationally (all-pairs + recursive reachability).",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    d1 = emb.where(F.pmod(F.col("vec_id"), F.lit(25)) == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    d2 = emb.where(F.pmod(F.col("vec_id"), F.lit(50)) == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(d1).unionByName(d2)
    pairs = similarity.lsh_near_dup_pairs(corpus, threshold=0.999)
    labels = dedup.min_label_clusters(
        corpus.select(F.col("vec_id").alias("doc_id")),
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")),
    )
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "n_chars"
    )
    sized = labels.select(F.col("doc_id").alias("vec_id"), "cluster").join(
        F.broadcast(docs), F.pmod(F.col("vec_id"), F.lit(100000)) == F.col("base_id")
    )
    per = (
        sized.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr("max_by(vec_id, named_struct('c', n_chars, 'i', -vec_id))").alias("keep_id"),
            F.array_sort(F.collect_list("vec_id")).alias("ids"),
        )
        .where(F.col("n_members") >= 2)
    )
    return per.select(
        "cluster",
        "n_members",
        "keep_id",
        F.array_join(F.array_remove(F.col("ids"), F.col("keep_id")), ",").alias("dropped_ids"),
    )


# ---------------------------------------------------------------------------
# Quality/length-weighted document selection: Efraimidis-Spirakis weighted
# sampling without replacement as a distributed top-k on a deterministic
# exponential key. The plan is TakeOrderedAndProject — per-partition
# partial top-k, no global sort shuffle — the one-pass "select N documents
# proportional to token mass" shape of training-data curation.
# ---------------------------------------------------------------------------
@query(
    "quality_weighted_sample",
    sql="""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM documents),
    keyed AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             ROUND(-LN(CAST((hv % 1099511627776) + 1 AS DOUBLE) / 1099511627777.0)
                   / CAST(n_chars AS DOUBLE), 9) AS sample_key
      FROM h)
    SELECT doc_id, source, n_chars, sample_key
    FROM keyed ORDER BY sample_key ASC, doc_id ASC LIMIT 50
    """,
    doc="Weighted sampling without replacement (A-ES exponential keys, "
    "weight = n_chars) as a deterministic distributed top-k; oracle draws "
    "the identical 50 documents.",
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    return mixture.weighted_sample_topk(docs, weight_col="n_chars", k=50)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (64 -> 16 dims): the zero-
# shuffle, zero-UDF pre-pass that shrinks every downstream ANN/clustering
# cost 4x per vector. The Rademacher sign matrix is derived from md5 so
# both engines regenerate it bit-for-bit; each component is the same
# sequential-fold accumulation the cosine kernels use.
# ---------------------------------------------------------------------------
def _rp_oracle_sql() -> str:
    signs = similarity.rp_signs(64, 16, seed=11)
    comps = []
    for j in range(16):
        arr = "[" + ",".join(f"{s}.0" for s in signs[j]) + "]"
        comps.append(
            "ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"[v[i] * ({arr})[i] FOR i IN range(1, 65)]), (acc, x) -> acc + x) / 4.0, 6)"
        )
    # The declared output is SCALAR rows (vec_id, pos, val) — the driver's
    # canonicalizer pandas-sorts result columns and cannot hash list cells,
    # so the array form is unnested here exactly as
    # embedding_kmeans_centroids emits (cluster, pos, centroid_val).
    return (
        "SELECT vec_id, CAST(g.pos - 1 AS INT) AS pos, proj[g.pos] AS val "
        "FROM (SELECT vec_id, [" + ", ".join(comps) + "] AS proj "
        "FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e) p, "
        "generate_series(1, 16) AS g(pos)"
    )


@query(
    "embedding_random_projection",
    sql=_rp_oracle_sql(),
    doc="JL random projection 64->16 via an md5-seeded Rademacher sign "
    "matrix folded in codegen — pure map, no shuffle/UDF/join; oracle "
    "replays every component exactly. Output is unnested to scalar "
    "(vec_id, pos, val) rows so any harness can hash it.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.random_projection(
        load(spark, sf_dir, "embeddings"), d_out=16, d_in=64, seed=11
    ).select("vec_id", F.posexplode("proj").alias("pos", "val"))


@query(
    "embedding_norms_arrow",
    sql="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos
    FROM embeddings
    """,
    doc="Per-vector stats (dim, L2 norm, positive-count) via mapInArrow — "
    "the zero-copy Arrow UDF surface: the list column stays two flat "
    "buffers (offsets + values) and segment sums run with "
    "np.add.reduceat; no pandas object boxing, no per-row Python, zero "
    "shuffles. Completes the Python UDF-surface ladder next to pandas "
    "UDFs (U5), applyInPandas (U4), mapInPandas (U3/W1) and native "
    "UDTFs: mapInArrow is the right tier when the input is a nested "
    "Arrow type that pandas would box to objects.",
    round_added=10,
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_norms_arrow(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Training shard writer — the output last-mile: packed context windows are
# assigned to a fixed number of output shards by a deterministic hash of
# (source, bin), physically written as shard-partitioned parquet (the
# training-job input layout), read back, and summarized as a shard
# manifest. Hash assignment balances token mass across shards by the law
# of large numbers with ZERO coordination — the driver never sees a bin
# list, which is what survives a 100 TB corpus (a greedy balanced
# assignment would serialize every bin through one process).
# ---------------------------------------------------------------------------
@query(
    "training_shard_manifest",
    sql="""
    WITH RECURSIVE w AS (
      SELECT doc_id, source, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source, ((doc_id % 8) + 8) % 8
                                ORDER BY doc_id) AS rn
      FROM documents),
    p AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM w WHERE rn = 1
      UNION ALL
      SELECT w.doc_id, w.source, w.shard, w.n_tokens, w.rn,
             CASE WHEN p.fill + w.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + w.n_tokens > 256 THEN w.n_tokens
                  ELSE p.fill + w.n_tokens END
      FROM p JOIN w ON w.source = p.source AND w.shard = p.shard
                   AND w.rn = p.rn + 1),
    packed AS (SELECT source, doc_id, n_tokens, bin * 8 + shard AS bin FROM p),
    keyed AS (
      SELECT source, doc_id, n_tokens,
             source || ':' || CAST(bin AS VARCHAR) AS bin_key,
             ((('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)), 1, 15))::BIGINT % 16) + 16) % 16 AS out_shard
      FROM packed)
    SELECT out_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT bin_key) AS BIGINT) AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE)
                 / (CAST(COUNT(DISTINCT bin_key) AS DOUBLE) * 256.0), 6) AS avg_fill
    FROM keyed GROUP BY out_shard
    """,
    doc="Training shard writer: packed bins hash-assigned to 16 output "
    "shards, physically written as shard-partitioned parquet and read "
    "back; manifest reports per-shard docs/bins/tokens/fill. Oracle "
    "replays packing, shard hashing, and the manifest aggregates.",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.functions.hashing import md5_int60

    packed = packing.pack_sequences(
        load(spark, sf_dir, "documents"), capacity=256, n_shards=8
    )
    keyed = packed.select(
        "source",
        "doc_id",
        "n_tokens",
        F.concat_ws(":", F.col("source"), F.col("bin").cast("string")).alias("bin_key"),
        F.pmod(
            md5_int60("concat(source, ':', cast(bin as string))"), F.lit(16)
        ).alias("out_shard"),
    )
    out = scratch_dir(spark, "train_shards_")
    keyed.write.mode("overwrite").partitionBy("out_shard").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("out_shard").cast("bigint").alias("out_shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("bin_key").alias("n_bins"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(
            F.sum("n_tokens").cast("double")
            / (F.countDistinct("bin_key").cast("double") * F.lit(256.0)),
            6,
        ).alias("avg_fill"),
    )


# ---------------------------------------------------------------------------
# Per-source quality gate: keep the top 30% of documents per source by the
# composite quality score (the FineWeb percentile-cut recipe). Rank-based,
# not sketch-based, so the cut is exact and the oracle replays membership
# bit-for-bit; kept-score sums go through exact decimals.
# ---------------------------------------------------------------------------
@query(
    "per_source_quality_gate",
    sql="""
    WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id, source,
                 len(w) AS n_words,
                 len(list_distinct(w)) AS n_distinct_words,
                 length(text) AS n_chars,
                 len([x for x in w if x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')]) AS n_stop
          FROM d),
    scored AS (
      SELECT doc_id, source,
             ROUND(0.4 * (CAST(n_distinct_words AS DOUBLE) / n_words)
                   + 0.3 * LEAST((CAST(n_stop AS DOUBLE) / n_words) * 4.0, 1.0)
                   + 0.3 * LEAST(n_words / 100.0, 1.0), 6) AS quality_score
      FROM s),
    ranked AS (
      SELECT doc_id, source, quality_score,
             PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY quality_score DESC, doc_id ASC) AS pr
      FROM scored),
    kept AS (SELECT * FROM ranked WHERE pr <= 0.3)
    SELECT k.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(MIN(k.quality_score), 6) AS min_kept_score,
           CAST(SUM(CAST(k.quality_score AS DECIMAL(18,6))) AS DOUBLE) AS kept_score_sum
    FROM kept k
    JOIN (SELECT source, COUNT(*) AS n_docs FROM scored GROUP BY source) t
      USING (source)
    GROUP BY k.source, t.n_docs
    """,
    doc="Per-source top-30% quality cut (rank-based exact percentile gate, "
    "FineWeb recipe); one window on the source partitioning.",
)
def per_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = textstats.quality_score(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    kept = mixture.top_fraction_per_group(
        scored.select("doc_id", "source", "quality_score"),
        group_col="source",
        score_col="quality_score",
        q=0.3,
    )
    totals = scored.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("quality_score"), 6).alias("min_kept_score"),
            F.sum(F.col("quality_score").cast("decimal(18,6)"))
            .cast("double")
            .alias("kept_score_sum"),
        )
        .join(totals, "source")
        .select("source", "n_docs", "n_kept", "min_kept_score", "kept_score_sum")
    )


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the customer->supplier purchase graph: the
# importance-propagation shape (domain weighting for crawl corpora) in
# exact integer micro-rank arithmetic, so the iterative Spark loop and the
# oracle's unrolled iterations agree bit-for-bit (operators/hierarchy.py
# documents the div-truncation bound and the one-shuffle-per-iteration
# scale shape).
# ---------------------------------------------------------------------------
@query(
    "supplier_pagerank",
    sql="""
    WITH e AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                               's' || CAST(l_suppkey AS VARCHAR) AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
    n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM n),
    c1 AS (SELECT e.dst, SUM(r.rank_micro // d.out_deg) AS m
           FROM e JOIN deg d USING (src) JOIN r0 r ON r.node = e.src GROUP BY e.dst),
    r1 AS (SELECT n0.node, CAST(150000 + (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS rank_micro
           FROM r0 n0 LEFT JOIN c1 ON c1.dst = n0.node),
    c2 AS (SELECT e.dst, SUM(r.rank_micro // d.out_deg) AS m
           FROM e JOIN deg d USING (src) JOIN r1 r ON r.node = e.src GROUP BY e.dst),
    r2 AS (SELECT n0.node, CAST(150000 + (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS rank_micro
           FROM r1 n0 LEFT JOIN c2 ON c2.dst = n0.node),
    c3 AS (SELECT e.dst, SUM(r.rank_micro // d.out_deg) AS m
           FROM e JOIN deg d USING (src) JOIN r2 r ON r.node = e.src GROUP BY e.dst),
    r3 AS (SELECT n0.node, CAST(150000 + (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS rank_micro
           FROM r2 n0 LEFT JOIN c3 ON c3.dst = n0.node)
    SELECT node, rank_micro FROM r3 ORDER BY rank_micro DESC, node ASC LIMIT 20
    """,
    doc="3-iteration PageRank in exact integer micro-rank over the "
    "customer->supplier graph; iterative loop vs unrolled-CTE oracle, "
    "one pre-reduced shuffle per iteration.",
)
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.hierarchy import pagerank_fixed_point

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    ranks = pagerank_fixed_point(edges, iterations=3)
    return ranks.orderBy(F.desc("rank_micro"), F.asc("node")).limit(20)


@query(
    "supplier_triangle_counts",
    sql="""
    WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 45),
    e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    credit AS (SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
    SELECT node, COUNT(*) AS n_triangles FROM credit GROUP BY 1
    """,
    doc="Per-supplier triangle counts over the high-quantity co-supply "
    "graph (suppliers co-occurring in an order), via degree-ordered edge "
    "orientation (operators/hierarchy.py::triangle_counts) — wedges "
    "enumerate only at each edge's lowest-degree corner, bounding work "
    "by O(m^1.5) and erasing celebrity-node skew; the oracle counts the "
    "same triangles with the canonical u<v triple join. Edge build is a "
    "per-order pair expansion (orders hold <=7 items — bounded fan-out, "
    "never a corpus self-join).",
    round_added=10,
)
def supplier_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.hierarchy import triangle_counts

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_suppkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Flagship composition v2 — the full curation pipeline in ONE declarative
# plan: repeated-substring gate (docs over 60% duplicated regions drop)
# -> exact-hash dedup (first id wins) -> length-weighted A-ES sample of
# 100 docs -> greedy (source, shard) sequence packing -> per-source
# funnel manifest. Every stage is an already-oracle-verified operator;
# the oracle chains the same four CTE blocks so the WHOLE funnel, not
# just its pieces, is hash-checked. Scale shape is the sum of its parts
# (each documented in SCALE.md); no stage adds a join over text.
# ---------------------------------------------------------------------------
@query(
    "corpus_curation_v2",
    sql="""
    WITH RECURSIVE
    words AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents),
    occ AS (
      SELECT doc_id, t.i AS pos, array_to_string(w[t.i:t.i+7], ' ') AS sh
      FROM words, unnest(range(1, len(w) - 8 + 2)) AS t(i)
      WHERE len(w) >= 8
    ),
    dup AS (SELECT sh FROM occ GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
    marked AS (SELECT o.doc_id, o.pos, o.pos + 7 AS e FROM occ o JOIN dup USING (sh)),
    brk AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos <= COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -10) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM marked),
    isl AS (
      SELECT doc_id, pos, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brk),
    spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS en
              FROM isl GROUP BY doc_id, island),
    per_doc AS (SELECT doc_id, SUM(en - s + 1) AS dup_words FROM spans GROUP BY doc_id),
    gated AS (
      SELECT w.doc_id, w.source, w.text, w.w
      FROM words w LEFT JOIN per_doc p USING (doc_id)
      WHERE ROUND(CAST(COALESCE(p.dup_words, 0) AS DOUBLE)
                  / CAST(len(w.w) AS DOUBLE), 6) <= 0.6),
    uniq AS (
      SELECT doc_id, source, text, w FROM (
        SELECT g.*, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM gated g) t
      WHERE rn = 1),
    keyed AS (
      SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens,
             ROUND(-LN(CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                             % 1099511627776) + 1 AS DOUBLE) / 1099511627777.0)
                   / CAST(len(w) AS DOUBLE), 9) AS k
      FROM uniq),
    samp AS (SELECT doc_id, source, n_tokens FROM keyed ORDER BY k ASC, doc_id ASC LIMIT 100),
    pw AS (
      SELECT doc_id, source, ((doc_id % 4) + 4) % 4 AS shard, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source, ((doc_id % 4) + 4) % 4
                                ORDER BY doc_id) AS rn
      FROM samp),
    p AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM pw WHERE rn = 1
      UNION ALL
      SELECT w2.doc_id, w2.source, w2.shard, w2.n_tokens, w2.rn,
             CASE WHEN p.fill + w2.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + w2.n_tokens > 256 THEN w2.n_tokens
                  ELSE p.fill + w2.n_tokens END
      FROM p JOIN pw w2 ON w2.source = p.source AND w2.shard = p.shard
                       AND w2.rn = p.rn + 1),
    packedq AS (SELECT source, doc_id, n_tokens, bin * 4 + shard AS bin FROM p),
    f_in AS (SELECT source, COUNT(*) AS n_input FROM words GROUP BY source),
    f_gate AS (SELECT source, COUNT(*) AS n_gated FROM gated GROUP BY source),
    f_samp AS (SELECT source, COUNT(*) AS n_sampled FROM samp GROUP BY source),
    f_pack AS (SELECT source, COUNT(DISTINCT bin) AS n_bins, SUM(n_tokens) AS n_tok
               FROM packedq GROUP BY source)
    SELECT i.source,
           CAST(i.n_input AS BIGINT) AS n_input,
           CAST(COALESCE(g.n_gated, 0) AS BIGINT) AS n_gated,
           CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(COALESCE(k.n_bins, 0) AS BIGINT) AS n_bins,
           CAST(COALESCE(k.n_tok, 0) AS BIGINT) AS n_tokens
    FROM f_in i
    LEFT JOIN f_gate g USING (source)
    LEFT JOIN f_samp s USING (source)
    LEFT JOIN f_pack k USING (source)
    """,
    doc="Full curation funnel in one plan: repeated-substring gate -> "
    "exact dedup -> weighted sample (100 docs) -> sequence packing -> "
    "per-source manifest; oracle chains the four verified CTE blocks so "
    "the composition itself is hash-checked.",
)
def corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    spans = dedup.repeated_substring_spans(docs, k=8, min_docs=2)
    gated = docs.join(
        spans.where(F.col("dup_frac") <= 0.6).select("doc_id"), "doc_id"
    )
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    unique = (
        gated.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    sized = unique.withColumn(
        "n_words", F.size(F.split(F.col("text"), " ")).cast("long")
    )
    sampled = mixture.weighted_sample_topk(sized, weight_col="n_words", k=100)
    packed = packing.pack_sequences(
        sampled.select("doc_id", "text", "source"), capacity=256, n_shards=4
    )
    return (
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_input"))
        .join(gated.groupBy("source").agg(F.count(F.lit(1)).alias("n_gated")), "source", "left")
        .join(sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled")), "source", "left")
        .join(
            packed.groupBy("source").agg(
                F.countDistinct("bin").alias("n_bins"),
                F.sum("n_tokens").alias("n_tokens"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_input",
            F.coalesce("n_gated", F.lit(0)).alias("n_gated"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("n_bins", F.lit(0)).cast("long").alias("n_bins"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed TOTAL ORDER (operators/globalsort.py): rank the whole
# corpus by quality WITHOUT the single-reducer global window — range
# exchange + local sort + bounded per-partition offsets, the TeraSort
# shape. The oracle states the semantics directly as ROW_NUMBER() over
# the total key; boundary placement cannot change the result because the
# doc_id tiebreak makes the order total.
# ---------------------------------------------------------------------------
@query(
    "doc_global_quality_rank",
    sql="""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id,
                 len(w) AS n_words,
                 len(list_distinct(w)) AS n_distinct_words,
                 length(text) AS n_chars,
                 len([x for x in w if x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')]) AS n_stop
          FROM d),
    q AS (SELECT doc_id,
                 ROUND(0.4 * (CAST(n_distinct_words AS DOUBLE) / n_words)
                       + 0.3 * LEAST((CAST(n_stop AS DOUBLE) / n_words) * 4.0, 1.0)
                       + 0.3 * LEAST(n_words / 100.0, 1.0), 6) AS quality_score
          FROM s)
    SELECT doc_id, quality_score,
           ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS global_rank
    FROM q
    """,
    doc="Corpus-wide quality ranking as a two-phase distributed sort "
    "(range partition + local rank + offsets) — no global window, no "
    "single-reducer stage; oracle is the plain ROW_NUMBER semantics.",
)
def doc_global_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.globalsort import global_rank

    scored = textstats.quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    ranked = global_rank(
        scored.withColumn("_neg_q", -F.col("quality_score")),
        order_by=["_neg_q", "doc_id"],
    )
    return ranked.select("doc_id", "quality_score", "global_rank")


# ---------------------------------------------------------------------------
# Corpus keyword search (operators/search.py): inverted postings built in
# one tokenize-explode-groupBy scan, query terms broadcast against them,
# BM25 ranking in codegen arithmetic, top-k via TakeOrderedAndProject.
# Float contract as source_token_kl: identical double ratios + ln in both
# engines, per-doc sum rounded to 6.
# ---------------------------------------------------------------------------
@query(
    "doc_bm25_search",
    sql="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> length(x) >= 2) AS arr
      FROM documents),
    toks AS (SELECT doc_id, unnest(arr) AS term FROM tok),
    dl AS (SELECT doc_id, len(arr) AS dl FROM tok),
    corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    q AS (SELECT unnest(['data', 'model', 'quality']) AS term),
    post AS (SELECT t.term, t.doc_id, COUNT(*) AS tf
             FROM toks t JOIN q USING (term) GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM post GROUP BY 1),
    s AS (SELECT p.doc_id,
                 LN(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * (1.2 + 1))
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                        / (CAST(c.sum_dl AS DOUBLE) / c.n_docs))) AS w
          FROM post p JOIN dfc d USING (term) JOIN dl l USING (doc_id), corpus c),
    agg AS (SELECT doc_id, ROUND(SUM(w), 6) AS score FROM s GROUP BY 1)
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM agg
    QUALIFY rank <= 20
    """,
    doc="BM25 keyword search over an inverted postings index (one corpus "
    "scan to build, broadcast query join to answer, TakeOrdered top-k); "
    "oracle replays tf/df/dl and the scoring formula exactly.",
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.search import bm25_search

    return bm25_search(
        load(spark, sf_dir, "documents"), ["data", "model", "quality"], topk=20
    )


# ---------------------------------------------------------------------------
# Curation funnel v3 — the round-5 primitives composed into one pipeline:
# (1) quality scores; (2) an APPROXIMATE p25 quality floor read off the
# deterministic quantile sketch (O(sketch) — no exact global percentile
# pass over history); (3) exact dedup, first-wins by doc_id; (4) corpus-
# wide ranking via the two-phase distributed total order; (5) top-100
# manifest. The oracle chains the identical formulas, so the COMPOSITION
# (gate -> dedup -> rank interplay) is hash-checked, not just the parts.
# ---------------------------------------------------------------------------
@query(
    "corpus_curation_v3",
    sql="""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id, text,
                 len(w) AS n_words,
                 len(list_distinct(w)) AS n_distinct_words,
                 len([x for x in w if x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')]) AS n_stop
          FROM d),
    q AS (SELECT doc_id, text,
                 ROUND(0.4 * (CAST(n_distinct_words AS DOUBLE) / n_words)
                       + 0.3 * LEAST((CAST(n_stop AS DOUBLE) / n_words) * 4.0, 1.0)
                       + 0.3 * LEAST(n_words / 100.0, 1.0), 6) AS quality_score
          FROM s),
    -- the sketch cut: decimal-DDSketch binning of score cents, p25 bucket
    cents AS (SELECT CAST(ROUND(quality_score * 100, 0) AS BIGINT) AS c FROM q),
    b AS (SELECT CASE WHEN c <= 0 THEN 0 WHEN c < 10 THEN c
                      ELSE CAST(substring(CAST(c AS VARCHAR), 1, 2)
                           || repeat('0', length(CAST(c AS VARCHAR)) - 2) AS BIGINT) END AS lo,
                 CASE WHEN c <= 0 THEN 1 WHEN c < 10 THEN 1
                      ELSE CAST('1' || repeat('0', length(CAST(c AS VARCHAR)) - 2) AS BIGINT) END AS width
          FROM cents),
    sk AS (SELECT lo, width, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (SELECT lo, width, SUM(cnt) OVER (ORDER BY lo) AS cum, SUM(cnt) OVER () AS total FROM sk),
    cut AS (SELECT ROUND((lo + (width - 1) / 2.0) / 100.0, 6) AS v
            FROM (SELECT lo, width, ROW_NUMBER() OVER (ORDER BY lo) AS rn
                  FROM cum WHERE cum * 100 >= 25 * total)
            WHERE rn = 1),
    gated AS (SELECT doc_id, text, quality_score FROM q, cut WHERE quality_score >= cut.v),
    -- exact dedup, first (lowest doc_id) wins per content hash
    deduped AS (SELECT doc_id, quality_score
                FROM (SELECT doc_id, quality_score,
                             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                      FROM gated)
                WHERE rn = 1)
    SELECT doc_id, quality_score,
           CAST(ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS global_rank
    FROM deduped
    QUALIFY global_rank <= 100
    """,
    doc="Composed funnel: sketch-derived p25 quality floor -> exact "
    "first-wins dedup -> two-phase distributed global rank -> top-100 "
    "manifest; the composition itself is oracle-checked.",
)
def corpus_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from data_etl_pipeline_spark.operators.globalsort import global_rank
    from data_etl_pipeline_spark.operators.qsketch import (
        quantile_sketch,
        quantiles_from_sketch,
    )

    docs = load(spark, sf_dir, "documents")
    # in-place quality expressions (textstats.with_quality) — no join, the
    # text column stays on the same scan for the dedup hash below
    scored = textstats.with_quality(docs).select("doc_id", "text", "quality_score")
    # O(sketch) percentile floor: one bounded-key shuffle + a 1-row read
    sk = quantile_sketch(scored, "quality_score")
    cut_row = quantiles_from_sketch(sk, [0.25]).first()
    if cut_row is None:
        # empty/all-null corpus: the oracle's cut CTE goes empty and the
        # query returns zero rows — mirror that, never crash
        return scored.where(F.lit(False)).select(
            "doc_id", "quality_score", F.lit(0).cast("long").alias("global_rank")
        )
    gated = scored.where(F.col("quality_score") >= F.lit(cut_row["est"]))
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "quality_score")
    )
    ranked = global_rank(
        deduped.withColumn("_neg_q", -F.col("quality_score")),
        order_by=["_neg_q", "doc_id"],
    )
    return (
        ranked.where(F.col("global_rank") <= 100)
        .select("doc_id", "quality_score", "global_rank")
    )


# ---------------------------------------------------------------------------
# PERSISTED BM25 index, built incrementally: three ingest batches each
# tokenize ONLY their own documents and MERGE their postings into the
# term-clustered versioned table (the LSH/IVF state pattern) — the corpus
# is never re-tokenized, and the search runs entirely against the stored
# index (bm25_search(postings=...) path: zero tokenize on query). Oracle
# is the same full-corpus BM25 formula, so index-maintenance drift fails
# the hash.
# ---------------------------------------------------------------------------
@query(
    "bm25_persisted_index_search",
    sql="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> length(x) >= 2) AS arr
      FROM documents),
    toks AS (SELECT doc_id, unnest(arr) AS term FROM tok),
    dl AS (SELECT doc_id, SUM(1) AS dl FROM toks GROUP BY 1),
    corpus AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                      (SELECT SUM(dl) FROM dl) AS sum_dl),
    q AS (SELECT unnest(['data', 'model', 'quality']) AS term),
    post AS (SELECT t.term, t.doc_id, COUNT(*) AS tf
             FROM toks t JOIN q USING (term) GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM post GROUP BY 1),
    s AS (SELECT p.doc_id,
                 LN(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * (1.2 + 1))
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                        / (CAST(c.sum_dl AS DOUBLE) / c.n_docs))) AS w
          FROM post p JOIN dfc d USING (term) JOIN dl l USING (doc_id), corpus c),
    agg AS (SELECT doc_id, ROUND(SUM(w), 6) AS score FROM s GROUP BY 1)
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM agg
    QUALIFY rank <= 20
    """,
    doc="BM25 over a MERGE-maintained persisted postings index: three "
    "ingest batches tokenize only themselves; the query reads stored "
    "postings and tokenizes nothing.",
)
def bm25_persisted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.search import bm25_search, build_postings
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents")
    t = VersionedTable(spark, scratch_dir(spark, "bm25_idx_"))
    for b in range(3):
        batch = docs.where(F.pmod("doc_id", F.lit(3)) == b)
        postings = build_postings(batch)
        if t.latest_version() is None:
            t.write(postings, cluster_by=["term"])
        else:
            # disjoint doc slices -> MERGE is pure insert; re-ingesting a
            # batch would REPLACE its (term, doc_id) rows (idempotent)
            t.merge(postings, keys=["term", "doc_id"])
    return bm25_search(
        docs, ["data", "model", "quality"], topk=20, postings=t.read()
    )


# ---------------------------------------------------------------------------
# Postings GC (operators/search.py refresh_postings): documents deleted
# from the corpus (here a DV delete) must also leave the persisted index,
# or search silently diverges from a fresh rebuild — the stale-postings
# hole the r5 verdict flagged. The oracle IS the from-scratch rebuild:
# plain BM25 over the surviving documents, so any leftover posting or
# stale df/dl shifts a score and fails the hash.
# ---------------------------------------------------------------------------
@query(
    "bm25_postings_gc_search",
    sql="""
    WITH live AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
    tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> length(x) >= 2) AS arr
      FROM live),
    toks AS (SELECT doc_id, unnest(arr) AS term FROM tok),
    dl AS (SELECT doc_id, SUM(1) AS dl FROM toks GROUP BY 1),
    corpus AS (SELECT (SELECT COUNT(*) FROM live) AS n_docs,
                      (SELECT SUM(dl) FROM dl) AS sum_dl),
    q AS (SELECT unnest(['data', 'model', 'quality']) AS term),
    post AS (SELECT t.term, t.doc_id, COUNT(*) AS tf
             FROM toks t JOIN q USING (term) GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM post GROUP BY 1),
    s AS (SELECT p.doc_id,
                 LN(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * (1.2 + 1))
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl
                        / (CAST(c.sum_dl AS DOUBLE) / c.n_docs))) AS w
          FROM post p JOIN dfc d USING (term) JOIN dl l USING (doc_id), corpus c),
    agg AS (SELECT doc_id, ROUND(SUM(w), 6) AS score FROM s GROUP BY 1)
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM agg
    QUALIFY rank <= 20
    """,
    doc="Persisted BM25 index kept consistent through a corpus DV delete: "
    "the change feed drives a postings GC (delete stale, re-merge fresh), "
    "and the oracle is a from-scratch rebuild over the survivors.",
)
def bm25_postings_gc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.search import (
        bm25_search,
        build_postings,
        refresh_postings,
    )
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = VersionedTable(spark, scratch_dir(spark, "bm25_corpus_"))
    corpus.write(docs)
    index = VersionedTable(spark, scratch_dir(spark, "bm25_gc_idx_"))
    index.write(build_postings(corpus.read()), cluster_by=["term"])
    # a DV delete on the corpus: files keep their paths, deleted rows die
    # via the deletion-vector sidecar — the exact case that leaves stale
    # postings if nothing GCs them
    v0 = corpus.latest_version()
    corpus.delete_where_dv(F.pmod("doc_id", F.lit(7)) == 3)
    refresh_postings(index, corpus.change_feed(keys=["doc_id"], from_version=v0))
    return bm25_search(
        corpus.read(), ["data", "model", "quality"], topk=20, postings=index.read()
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of a SEMANTIC ranking (exact
# cosine top-20 over the embeddings) and a LEXICAL ranking (exact 3-gram
# Jaccard top-20 over the documents, query side broadcast onto the
# postings) — the standard RAG retriever combiner. Ranks are integers,
# so 1/(60+rank) is the same double in both engines; the fused score is
# a fixed-arity coalesced sum rounded to 6 decimals.
# ---------------------------------------------------------------------------
@query(
    "hybrid_search_rrf",
    sql=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nn AS (SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM e),
    qq AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM nn WHERE vec_id < 5),
    sem_scored AS (SELECT q_id, nn.vec_id AS doc_id,
                          ROUND({_DOT_SQL.format(a='qv', b='nn.v')} / (qnorm * nn.norm), 6) AS cs
                   FROM nn JOIN qq ON q_id != nn.vec_id),
    sem AS (SELECT q_id, doc_id, rnk FROM (
                SELECT q_id, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cs DESC, doc_id) AS rnk
                FROM sem_scored) t WHERE rnk <= 20),
    {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    qsh AS (SELECT doc_id AS q_id, shingle FROM sh WHERE doc_id < 5),
    shared AS (SELECT qsh.q_id, sh.doc_id, COUNT(*) AS c
               FROM sh JOIN qsh USING (shingle)
               WHERE sh.doc_id != qsh.q_id
               GROUP BY qsh.q_id, sh.doc_id),
    lexs AS (SELECT shared.q_id, shared.doc_id,
                    ROUND(c / (qs.sz + ds.sz - c), 6) AS j
             FROM shared
             JOIN sizes qs ON qs.doc_id = shared.q_id
             JOIN sizes ds ON ds.doc_id = shared.doc_id),
    lex AS (SELECT q_id, doc_id, rnk FROM (
                SELECT q_id, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY j DESC, doc_id) AS rnk
                FROM lexs) t WHERE rnk <= 20),
    fused AS (SELECT COALESCE(s.q_id, l.q_id) AS q_id,
                     COALESCE(s.doc_id, l.doc_id) AS doc_id,
                     ROUND(COALESCE(1.0::DOUBLE / (60 + s.rnk), 0.0)
                           + COALESCE(1.0::DOUBLE / (60 + l.rnk), 0.0), 6) AS rrf_score
              FROM sem s FULL OUTER JOIN lex l
                ON s.q_id = l.q_id AND s.doc_id = l.doc_id)
    SELECT q_id, doc_id, rrf_score, rank FROM (
        SELECT q_id, doc_id, rrf_score,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS rank
        FROM fused) t
    WHERE rank <= 10
    """,
    doc="Hybrid retrieval via reciprocal-rank fusion (c=60): exact-cosine "
    "semantic top-20 fused with exact 3-gram-Jaccard lexical top-20 per "
    "query doc, full-outer on (query, doc), top-10 by fused score. The "
    "lexical leg broadcasts the tiny query shingle set onto the corpus "
    "postings (one equi-join, never corpus pairs); the fusion joins only "
    "bounded per-query lists.",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.search import rrf_fuse

    sem = similarity.ann_topk_bruteforce(
        load(spark, sf_dir, "embeddings"), n_queries=5, k=20
    ).select("q_id", F.col("neighbor_id").alias("doc_id"), "rank")
    lex = dedup.jaccard_topk(
        load(spark, sf_dir, "documents"), n_queries=5, k=20
    ).select("q_id", "doc_id", "rank")
    return rrf_fuse([sem, lex], k=10).select("q_id", "doc_id", "rrf_score", "rank")


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: split assignment happens at the
# NEAR-DUP CLUSTER level (hash of the cluster's canonical id), never the
# document level, so near-duplicates cannot straddle a split boundary
# and leak eval data into training — the step after dedup clustering in
# every serious corpus pipeline. Cross-split LSH pairs are provably zero
# by construction (asserted in-query on the actual pair set).
# ---------------------------------------------------------------------------
@query(
    "leakage_safe_split",
    sql=f"""
    WITH RECURSIVE {_MINHASH_CTE},
    sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY doc_id),
    bands AS (SELECT doc_id, s, b,
                     md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> x::VARCHAR), ',')) AS band_key
              FROM sig, unnest(range(0, 4)) AS t(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
             FROM bands a JOIN bands b
               ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    pairs AS (SELECT doc_a, doc_b FROM cand
              WHERE ROUND(CAST(len([i for i in range(1, {NUM_MINHASH + 1}) if sa[i] = sb[i]]) AS DOUBLE)
                          / CAST({NUM_MINHASH} AS DOUBLE), 6) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
    ),
    labels AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
    clustered AS (SELECT d.doc_id, d.n_chars,
                         COALESCE(l.cluster, d.doc_id) AS cluster
                  FROM documents d LEFT JOIN labels l USING (doc_id)),
    assigned AS (SELECT doc_id, n_chars, cluster,
                        CASE WHEN bkt < 8 THEN 'train'
                             WHEN bkt = 8 THEN 'val' ELSE 'test' END AS split
                 FROM (SELECT *,
                              (('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 12))::BIGINT) % 10 AS bkt
                       FROM clustered) t)
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split
    """,
    doc="Cluster-level train/val/test assignment (md5 of the cluster's "
    "canonical id, 80/10/10): near-dups land in one split by "
    "construction, and the in-query audit joins the ACTUAL LSH pair set "
    "against the assignment to prove zero cross-split pairs. The "
    "assignment hash is the same 48-bit md5 prefix in both engines.",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, bands=4, min_est=0.5)
    bkt = F.pmod(
        F.conv(F.substring(F.md5(F.col("cluster").cast("string")), 1, 12), 16, 10)
        .cast("bigint"),
        F.lit(10),
    )
    assigned = clusters.withColumn(
        "split",
        F.when(bkt < 8, F.lit("train")).when(bkt == 8, F.lit("val")).otherwise(
            F.lit("test")
        ),
    )
    # the leak audit runs on the REAL pair set, not the construction
    pairs = dedup.lsh_candidate_pairs(docs, bands=4, min_est=0.5).select(
        "doc_a", "doc_b"
    )
    sp = assigned.select("doc_id", "split")
    leaks = (
        pairs.join(sp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), "doc_a")
        .join(sp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), "doc_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaks == 0, f"{leaks} near-dup pairs straddle splits"
    return (
        assigned.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources — map each source's score onto
# the GLOBAL score distribution rank-preservingly (normalized(x) =
# G^-1(F_source(x))), the standard move before mixing heterogeneous
# quality scores into one sampling weight. Per-source ranks are one
# keyed window; the global inverse-CDF lookup rides the TeraSort-shape
# global_rank (range partitioning + offsets — no single-reducer window)
# and two equi-joins on the rank id. Both engines compute p, idx and the
# interpolation in the same literal order, so the doubles agree bit-for-
# bit before the final round(6).
# ---------------------------------------------------------------------------
@query(
    "source_quantile_normalization",
    sql="""
    WITH s AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS x FROM documents),
    src AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id) AS r,
                   COUNT(*) OVER (PARTITION BY source) AS ns
            FROM s),
    g AS (SELECT x AS gx, ROW_NUMBER() OVER (ORDER BY x, doc_id) AS gr FROM s),
    nn AS (SELECT COUNT(*) AS n FROM s),
    m AS (SELECT src.doc_id, src.source, src.x,
                 (CASE WHEN src.ns = 1 THEN 0.5
                       ELSE (src.r - 1)::DOUBLE / (src.ns - 1) END) * (nn.n - 1) AS idx
          FROM src, nn),
    lo AS (SELECT *, CAST(floor(idx) AS BIGINT) AS lo_r, idx - floor(idx) AS frac FROM m)
    SELECT lo.doc_id, lo.source, lo.x,
           ROUND(g1.gx + lo.frac * (COALESCE(g2.gx, g1.gx) - g1.gx), 6) AS norm_score
    FROM lo
    JOIN g g1 ON g1.gr = lo.lo_r + 1
    LEFT JOIN g g2 ON g2.gr = lo.lo_r + 2
    """,
    doc="Rank-preserving quantile normalization of per-source n_chars "
    "onto the global distribution: per-source percent position p = "
    "(r-1)/(ns-1), global inverse CDF by linear interpolation between "
    "the floor(p*(N-1))-th and next global order statistics. Global "
    "ranks come from the literal-boundary range partitioner (no "
    "single-reducer window); the lookup is two equi-joins on the rank.",
)
def source_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.globalsort import global_rank
    from pyspark.sql import Window as W

    s = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("x")
    )
    w = W.partitionBy("source").orderBy("x", "doc_id")
    src = s.withColumn("r", F.row_number().over(w)).withColumn(
        "ns", F.count(F.lit(1)).over(W.partitionBy("source"))
    )
    g = global_rank(s, ["x", "doc_id"], rank_col="gr").select(
        F.col("x").alias("gx"), "gr"
    )
    n = s.count()  # one bounded count job, a literal in the plan
    p = F.when(F.col("ns") == 1, F.lit(0.5)).otherwise(
        (F.col("r") - 1).cast("double") / (F.col("ns") - 1)
    )
    m = src.select(
        "doc_id", "source", "x", (p * F.lit(n - 1)).alias("idx")
    ).select(
        "doc_id", "source", "x", "idx",
        F.floor("idx").cast("bigint").alias("lo_r"),
        (F.col("idx") - F.floor("idx")).alias("frac"),
    )
    g1 = g.select(F.col("gr").alias("g1r"), F.col("gx").alias("g1x"))
    g2 = g.select(F.col("gr").alias("g2r"), F.col("gx").alias("g2x"))
    return (
        m.join(g1, F.col("lo_r") + 1 == F.col("g1r"))
        .join(g2, F.col("lo_r") + 2 == F.col("g2r"), "left")
        .select(
            "doc_id", "source", "x",
            F.round(
                F.col("g1x")
                + F.col("frac") * (F.coalesce(F.col("g2x"), F.col("g1x")) - F.col("g1x")),
                6,
            ).alias("norm_score"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget waterfilling — allocate a global token budget across
# sources so small sources keep everything and big sources are capped at
# one common level (the classic max-min fair allocation a corpus mixer
# runs before sampling). The iterative cap-and-redistribute loop has a
# CLOSED FORM over the capacity order statistics: sort capacities
# ascending, find the largest i* with cap_i*(n-i+1) + prefix_{i-1} <=
# budget; sources up to i* get their full capacity, the rest get level
# L = (budget - prefix_{i*}) / (n - i*). One tiny window over the
# per-source aggregate — no loop, no driver iteration.
# ---------------------------------------------------------------------------
@query(
    "token_budget_waterfill",
    sql="""
    WITH cap AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS cap
                 FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(cap) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n FROM cap),
    r AS (SELECT source, cap,
                 ROW_NUMBER() OVER (ORDER BY cap, source) AS i,
                 SUM(cap) OVER (ORDER BY cap, source
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS p
          FROM cap),
    f AS (SELECT r.*, t.total // 2 AS budget, t.n FROM r, t),
    st AS (SELECT COALESCE(MAX(i), 0) AS istar FROM f
           WHERE cap * (n - i + 1) + (p - cap) <= budget),
    pi AS (SELECT COALESCE(MAX(CASE WHEN i = st.istar THEN p END), 0) AS p_star
           FROM f, st)
    SELECT f.source, f.cap,
           CASE WHEN f.i <= st.istar THEN CAST(f.cap AS DOUBLE)
                ELSE ROUND(CAST(f.budget - pi.p_star AS DOUBLE)
                           / (f.n - st.istar), 6) END AS alloc,
           f.i <= st.istar AS keeps_all
    FROM f, st, pi
    """,
    doc="Max-min fair (waterfilling) allocation of a 50%-of-total token "
    "budget across sources via the order-statistic closed form — no "
    "iterative redistribute loop: sources below the water level keep "
    "their full capacity, the rest share one level L computed with a "
    "single division on identical integers in both engines. One window "
    "over the per-source aggregate (rows = #sources).",
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cap = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("cap"))
    )
    t = cap.agg(
        F.sum("cap").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = W.orderBy("cap", "source").rowsBetween(W.unboundedPreceding, W.currentRow)
    # the window runs over the per-source AGGREGATE (rows = #sources) —
    # the unpartitioned frame is bounded by source cardinality, not data
    r = cap.select(
        "source", "cap",
        F.row_number().over(W.orderBy("cap", "source")).alias("i"),
        F.sum("cap").over(w).alias("p"),
    )
    f = r.crossJoin(F.broadcast(t)).withColumn(
        "budget", F.expr("total div 2")
    )
    st = f.where(
        F.col("cap") * (F.col("n") - F.col("i") + 1) + (F.col("p") - F.col("cap"))
        <= F.col("budget")
    ).agg(F.coalesce(F.max("i"), F.lit(0)).cast("bigint").alias("istar"))
    pi = (
        f.crossJoin(F.broadcast(st))
        .agg(
            F.coalesce(
                F.max(F.when(F.col("i") == F.col("istar"), F.col("p"))), F.lit(0)
            ).cast("bigint").alias("p_star")
        )
    )
    out = f.crossJoin(F.broadcast(st)).crossJoin(F.broadcast(pi))
    alloc = F.when(F.col("i") <= F.col("istar"), F.col("cap").cast("double")).otherwise(
        F.round(
            (F.col("budget") - F.col("p_star")).cast("double")
            / (F.col("n") - F.col("istar")),
            6,
        )
    )
    return out.select(
        "source", "cap", alloc.alias("alloc"),
        (F.col("i") <= F.col("istar")).alias("keeps_all"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep): per query, the
# k most-similar vectors whose LABEL differs — the negatives that move
# a contrastive loss. Label inequality applies before the per-query
# top-k window, so only k survivors per query shuffle; at 100 TB the
# candidate stage composes with the IVF probe and this scoring stays as
# the exact rerank.
# ---------------------------------------------------------------------------
@query(
    "hard_negative_mining",
    sql=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, label, v,
                 sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM e),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, norm AS qnorm
          FROM n WHERE vec_id < 10),
    scored AS (
        SELECT q_id, q_label, n.vec_id AS neg_id, n.label AS neg_label,
               ROUND({_DOT_SQL.format(a='qv', b='n.v')} / (qnorm * n.norm), 6)
                   AS cosine_sim
        FROM n JOIN q ON q_id != n.vec_id AND q_label != n.label
    )
    SELECT q_id, q_label, neg_id, neg_label, rank, cosine_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cosine_sim DESC, neg_id) AS rank
        FROM scored) t
    WHERE rank <= 5
    """,
    doc="Hard-negative mining for contrastive training: top-5 "
    "most-similar DIFFERENT-label vectors per query, label filter "
    "before the top-k window (k survivors per query shuffle); exact "
    "rerank stage of an IVF-pruned pipeline at scale.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hard_negatives(
        load(spark, sf_dir, "embeddings"), n_queries=10, k=5
    )


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle (round 12): reproducible shard +
# position for every document from (seed, doc_id) alone — the step that
# turns a curated corpus into training shard files. The Spark side runs
# the bounded-partition two-phase form (order-aligned hash buckets +
# offset window over the tiny per-bucket counts, operators/trainshuffle
# .py — no shard-sized sort anywhere); the oracle derives the identical
# positions with the naive ROW_NUMBER per shard. Exact rank equality
# between the two is the point of the test.
# ---------------------------------------------------------------------------
@query(
    "corpus_train_shuffle",
    sql="""
    WITH h AS (
        SELECT doc_id,
               (('0x' || substr(md5('ep0:s:' || doc_id), 1, 15))::BIGINT % 8)
                   AS shard,
               (('0x' || substr(md5('ep0:o:' || doc_id), 1, 15))::BIGINT) AS ok
        FROM documents)
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS pos
    FROM h
    """,
    doc="Deterministic seeded corpus shuffle into 8 training shards: "
    "shard and exact in-shard position are pure functions of "
    "(seed, doc_id), reproducible across engines and epochs; Spark "
    "computes ranks with order-aligned buckets + offset windows so no "
    "partition ever holds a whole shard (operators/trainshuffle.py).",
    round_added=12,
)
def corpus_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.trainshuffle import (
        deterministic_shard_shuffle,
    )

    return deterministic_shard_shuffle(
        load(spark, sf_dir, "documents"), "doc_id", seed="ep0", n_shards=8
    ).select("doc_id", "shard", "pos")
