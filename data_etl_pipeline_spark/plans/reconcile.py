"""Reconciliation queries: the J10 address merge and the reference's full
two-phase concept pipeline (search -> label match J8 -> mapping J9 ->
set-union merge A1) as single oracle-checked plans.

Fixtures are derived deterministically from the driver tables inside the
query so both engines construct identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_etl_pipeline_spark.operators import records
from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.tables import load, local_frame

_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
_H60_SPARK = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


# ---------------------------------------------------------------------------
# J10: address merge. Synthetic addresses from customers: entity = segment,
# city/state from the nation, postal code present for ~half the rows, phone
# derived from the custkey. Same-base-hash rows with compatible postal codes
# merge; phones union (address_util.py:4-66 semantics).
# ---------------------------------------------------------------------------
@query(
    "address_merge",
    sql=f"""
    WITH addr AS (
        SELECT c_mktsegment AS entity,
               n_name AS city,
               'ST' || CAST(n_regionkey AS VARCHAR) AS state,
               'US' AS country,
               CASE WHEN c_custkey % 2 = 0 THEN 'Z' || CAST(c_nationkey AS VARCHAR) END AS postal_code,
               ['P' || CAST(c_custkey % 7 AS VARCHAR)] AS phones
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey < 300
    ),
    keyed AS (
        SELECT *, sha256(lower(city) || '|' || lower(state) || '|' || lower(country)) AS base_hash,
               MIN(postal_code) OVER (PARTITION BY entity, sha256(lower(city) || '|' || lower(state) || '|' || lower(country))) AS min_code
        FROM addr
    ),
    grouped AS (
        SELECT entity, base_hash, COALESCE(postal_code, min_code, '') AS merge_key,
               city, state, country, postal_code, phones
        FROM keyed
    )
    SELECT entity, city, state, country,
           MAX(postal_code) AS postal_code,
           array_to_string(list_sort(list_distinct(flatten(list(phones)))), ',') AS phones,
           COUNT(*) AS n_merged
    FROM grouped
    GROUP BY entity, base_hash, merge_key, city, state, country
    """,
    doc="Pairwise address merge on (city,state,country) base hash with postal compatibility (SURVEY J10).",
)
def address_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    addr = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(load(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("c_custkey") < 300)
        .select(
            F.col("c_mktsegment").alias("entity"),
            F.col("n_name").alias("city"),
            F.concat(F.lit("ST"), F.col("n_regionkey").cast("string")).alias("state"),
            F.lit("US").alias("country"),
            F.when(F.col("c_custkey") % 2 == 0, F.concat(F.lit("Z"), F.col("c_nationkey").cast("string"))).alias(
                "postal_code"
            ),
            F.array(F.concat(F.lit("P"), (F.col("c_custkey") % 7).cast("string"))).alias("phones"),
        )
    )
    merged = records.merge_addresses(addr)
    return merged.select(
        "entity",
        "city",
        "state",
        "country",
        "postal_code",
        F.array_join("phones", ",").alias("phones"),
        "n_merged",
    )


# ---------------------------------------------------------------------------
# Full two-phase concept extraction (SURVEY §3.3 / ST4 phase gating):
#   phase 1 (search): stub LLM emits candidate strings per doc
#   label match (J8): candidates matching the vocabulary -> matched concepts
#   phase 2 (mapping, J9): unmatched candidates -> stub mapping, validated
#     against the vocabulary (hallucinations dropped)
#   reconcile (A1): final = matched UNION mapped, sorted distinct
# ---------------------------------------------------------------------------
_V = ["spark", "query", "table", "row", "stream", "window"]
_V_LIST = ",".join(f"'{v}'" for v in _V)
_V_ARR_SQL = "[" + _V_LIST + "]"


@query(
    "two_phase_concept_extraction",
    sql=f"""
    WITH cand AS (  -- phase 1: deterministic "LLM search" candidates per doc
        SELECT DISTINCT doc_id, x AS item
        FROM documents, unnest(string_split(text, ' ')[1:20]) AS t(x)
        WHERE ({_H60.format(x="x || 'search'")} % 4) = 0
    ),
    matched AS (SELECT doc_id, item AS concept FROM cand WHERE item IN ({_V_LIST})),
    unmatched AS (SELECT doc_id, item FROM cand WHERE item NOT IN ({_V_LIST})),
    mapping AS (  -- phase 2: stub mapping for distinct unknowns; 1 in 5 hallucinates
        SELECT item,
               CASE WHEN ({_H60.format(x="item || 'map'")} % 5) = 0 THEN 'NOT_A_CONCEPT'
                    ELSE {_V_ARR_SQL}[CAST({_H60.format(x="item || 'map'")} % 6 AS INT) + 1]
               END AS concept
        FROM (SELECT DISTINCT item FROM unmatched)
    ),
    mapped AS (SELECT u.doc_id, m.concept
               FROM unmatched u JOIN mapping m ON u.item = m.item
               WHERE m.concept IN ({_V_LIST})),
    unioned AS (SELECT * FROM matched UNION SELECT * FROM mapped)
    SELECT doc_id,
           array_to_string(list(concept ORDER BY concept), ',') AS concepts,
           COUNT(*) AS n_concepts
    FROM unioned GROUP BY doc_id
    """,
    doc="Two-phase concept pipeline: search -> J8 label match -> J9 mapping validation -> A1 merge (SURVEY §3.3/ST4).",
    bench_tier=1,
)
def two_phase_concept_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = local_frame(spark, [(v,) for v in _V], "label string")
    h_search = _H60_SPARK.format(x="x || 'search'")
    cand = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"filter(slice(split(text, ' '), 1, 20), x -> ({h_search} % 4) = 0)")
            ).alias("item"),
        )
        .distinct()
    )
    # J8: equi-join candidates against the (broadcast) vocabulary
    matched = cand.join(F.broadcast(vocab), cand.item == vocab.label, "left_semi").select(
        "doc_id", F.col("item").alias("concept")
    )
    unmatched = cand.join(F.broadcast(vocab), cand.item == vocab.label, "left_anti")
    # J9: stub mapping over DISTINCT unknowns, validated against the vocab
    h_map = _H60_SPARK.format(x="item || 'map'")
    arr = "array(" + _V_LIST + ")"
    mapping = unmatched.select("item").distinct().withColumn(
        "concept",
        F.expr(f"IF(({h_map} % 5) = 0, 'NOT_A_CONCEPT', element_at({arr}, cast({h_map} % 6 as int) + 1))"),
    )
    valid_mapping = mapping.join(F.broadcast(vocab), mapping.concept == vocab.label, "left_semi")
    mapped = unmatched.join(valid_mapping, "item").select("doc_id", "concept")
    # A1: reconcile matched UNION mapped
    final = matched.union(mapped).distinct()
    return final.groupBy("doc_id").agg(
        F.array_join(F.array_sort(F.collect_list("concept")), ",").alias("concepts"),
        F.count(F.lit(1)).alias("n_concepts"),
    )


# ---------------------------------------------------------------------------
# Fuzzy string join (entity resolution on free-text keys): part names vs a
# deterministically-corrupted copy (3rd character dropped), matched at edit
# distance <= 1 through the lossless q-gram count-filter blocking of
# operators/fuzzy.py. The oracle is the quadratic levenshtein join — equal
# output is exactly the losslessness claim.
# ---------------------------------------------------------------------------
@query(
    "fuzzy_name_match",
    sql="""
    WITH names AS (SELECT DISTINCT p_name AS s FROM part),
    corrupt AS (SELECT DISTINCT substr(s, 1, 2) || substr(s, 4) AS s FROM names)
    SELECT n.s AS left_id, c.s AS right_id,
           CAST(levenshtein(n.s, c.s) AS BIGINT) AS dist
    FROM names n, corrupt c
    WHERE levenshtein(n.s, c.s) <= 1
    """,
    doc="Edit-distance similarity join (<= 1) between part names and a "
    "corrupted copy via lossless q-gram count-filter blocking "
    "(posting-list equi-join + bounded short bucket, never a cross join "
    "on the long side); quadratic-oracle equality IS the losslessness "
    "proof (Gravano et al. VLDB 2001 count filtering).",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.fuzzy import fuzzy_match_pairs

    names = load(spark, sf_dir, "part").select(F.col("p_name").alias("s")).distinct()
    left = names.select(F.col("s").alias("id"), "s")
    right = names.select(
        F.concat(F.expr("substring(s, 1, 2)"), F.expr("substring(s, 4)")).alias("s")
    ).distinct().select(F.col("s").alias("id"), "s")
    return fuzzy_match_pairs(left, right, max_dist=1, q=2)
