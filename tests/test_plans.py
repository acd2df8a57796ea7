"""Physical-plan regression tests: pushdown, pruning, and join strategy
must not rot silently — these are the properties that decide whether the
same query is cheap or catastrophic at 100 TB."""


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_audit_filter_pushes_to_scan(spark, tmp_path):
    """The false-negative audit scan's predicates reach the parquet
    reader, so an audit over a large labeled-pairs file reads only the
    row groups that can hold a miss."""
    from poi_name_matching_spark.operators.evaluation import false_negatives

    path = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        [(1, 0.9), (1, 0.2), (0, 0.7)], "match int, score double"
    ).write.parquet(path)
    plan = _formatted(false_negatives(spark.read.parquet(path), 0.5))
    assert "PushedFilters" in plan
    for frag in ["EqualTo(match,1)", "LessThan(score,0.5)"]:
        assert frag in plan, frag


def test_projection_prunes_scan_schema(spark, tmp_path):
    """``read_transcripts`` projects to the transcript schema, so a
    source's extra columns never leave the scan."""
    from poi_name_matching_spark.sources.readers import read_transcripts

    path = str(tmp_path / "transcripts.parquet")
    spark.createDataFrame(
        [("c1", 0, "user", "hi", None, None, "x" * 64)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, payload string",
    ).write.parquet(path)
    plan = _formatted(read_transcripts(spark, path))
    # ReadSchema carries only the transcript columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("conv_id", "turn_idx", "role", "text", "tool", "ts"):
        assert col in read
    assert "payload" not in read


def test_dimension_join_broadcasts(spark):
    """``threshold_sweep`` joins the scored rows to its small thresholds
    table by broadcast: the scored side is never shuffled for the join."""
    from poi_name_matching_spark.operators.evaluation import threshold_sweep

    labeled = spark.range(100).selectExpr(
        "cast(id % 2 as int) AS match", "id / 100.0 AS score"
    )
    plan = _formatted(threshold_sweep(labeled, [0.25, 0.5, 0.75]))
    assert "BroadcastNestedLoopJoin" in plan


def test_scoring_join_partitions_by_right_id(spark):
    """The shipped scoring plan must sort-merge the right_id join for
    every kernel set: a broadcast would run the scoring UDF in the pair
    scan's partitions, out of reach of udf_stage_parallelism's row
    budget, and would scatter the pairs that semantic soft-TFIDF's
    winner cache needs co-located."""
    from poi_name_matching_spark.data import transcripts_df
    from poi_name_matching_spark.operators.blocking import block_keys, candidate_pairs
    from poi_name_matching_spark.operators.scoring import ScoringConfig, score_pairs
    from poi_name_matching_spark.operators.signatures import build_signatures

    sigs = build_signatures(transcripts_df(spark, n_convs=60, seed=4))
    pairs = candidate_pairs(block_keys(sigs))
    for kernels in (
        ("levenshtein", "tfidf"),
        ("emb_cosine", "softtfidf"),
        ("levenshtein", "semantic_softtfidf"),
    ):
        cfg = ScoringConfig(kernels=kernels, score_kernel=kernels[1])
        assert "SortMergeJoin" in _formatted(score_pairs(spark, pairs, sigs, cfg)), kernels


def test_scoring_plan_evaluates_one_python_udf(spark, tmp_path):
    """The six-kernel scoring plan over stored signatures and pairs, as
    a pipeline run scores them, has one Python evaluation: the scoring
    UDF computes every kernel, emb_cosine included, so no embedding UDF
    runs under either join side."""
    from poi_name_matching_spark.data import transcripts_df
    from poi_name_matching_spark.operators.blocking import block_keys, candidate_pairs
    from poi_name_matching_spark.operators.scoring import ScoringConfig, score_pairs
    from poi_name_matching_spark.operators.signatures import build_signatures

    build_signatures(transcripts_df(spark, n_convs=60, seed=4)).write.parquet(
        str(tmp_path / "sigs")
    )
    sigs = spark.read.parquet(str(tmp_path / "sigs"))
    candidate_pairs(block_keys(sigs)).write.parquet(str(tmp_path / "pairs"))
    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    kernels = ("levenshtein", "jaccard", "jaro_winkler", "emb_cosine", "tfidf", "softtfidf")
    scores = score_pairs(spark, pairs, sigs, ScoringConfig(kernels=kernels))
    plan = scores._jdf.queryExecution().explainString(
        scores._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("ArrowEvalPython") == 1, plan
