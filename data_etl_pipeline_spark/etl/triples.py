"""RDF triples projection (SURVEY S13/S14/U3 — ttl_generator_service.py
semantics: one record row fans out to ~N (subject, predicate, object)
triples; publication overwrites the subject-prefix partition).

Spark-first: the graph is a ``triples`` table; generation is a UDTF-shaped
explode of per-column struct arrays. SPARQL-style scoped replacement by
subject prefix is ``VersionedTable.delete_where`` with ``prefix_prune``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PREFIX = "urn:ex:"


def project_triples(records: DataFrame, subject_col: str, predicates: dict[str, str]) -> DataFrame:
    """Fan a record table out to (subject, predicate, object, is_literal).

    ``predicates`` maps predicate name -> source column. Null objects emit
    no triple (the reference skips absent fields).
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(pred).alias("predicate"),
                F.col(col).cast("string").alias("object"),
            )
            for pred, col in predicates.items()
        ]
    )
    return (
        records.select(
            F.concat(F.lit(PREFIX), F.regexp_replace(F.col(subject_col).cast("string"), "[^A-Za-z0-9_.~-]", "_")).alias(
                "subject"
            ),
            F.explode(pairs).alias("po"),
        )
        .select("subject", F.col("po.predicate").alias("predicate"), F.col("po.object").alias("object"))
        .where(F.col("object").isNotNull())
        .withColumn("is_literal", ~F.col("object").startswith(PREFIX))
    )
