"""Driver contract (PySpark target).

``entry(spark)`` runs the flagship record-linkage pipeline end-to-end on
sf0.001 testdata; ``queries()`` / ``oracle_sql()`` expose the contract
queries of ``poi_name_matching_spark.queries`` — each runs package code
(a pipeline stage, a similarity kernel or an evaluation operator) and
has a DuckDB oracle to cross-check it against.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: entity resolution over a transcripts view derived
    from the sf0.001 documents table — signatures → blocking → scoring →
    threshold → connected components. Returns components(conv_id,
    component_id, n_members ordered columns stable)."""
    from pyspark.sql import functions as F

    from poi_name_matching_spark.operators.blocking import block_keys, candidate_pairs
    from poi_name_matching_spark.operators.clustering import components
    from poi_name_matching_spark.operators.scoring import (
        ScoringConfig,
        edges_from_scores,
        score_pairs,
    )
    from poi_name_matching_spark.operators.signatures import build_signatures
    from poi_name_matching_spark.queries import _doc_transcripts

    sf_dir = "/root/testdata/sf0.001"
    transcripts = _doc_transcripts(spark, sf_dir)
    sigs = build_signatures(transcripts)
    pairs = candidate_pairs(block_keys(sigs))
    cfg = ScoringConfig(
        kernels=("levenshtein", "jaccard", "tfidf", "softtfidf"),
        score_kernel="tfidf",
        threshold=0.425,
    )
    scores = score_pairs(spark, pairs, sigs, cfg)
    comps = components(
        sigs.select("conv_id"), edges_from_scores(scores, cfg.threshold)
    )
    return (
        comps.groupBy("component_id")
        .agg(F.count("*").alias("n_members"))
        .orderBy("component_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from poi_name_matching_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from poi_name_matching_spark.queries import ORACLE

    return dict(ORACLE)
