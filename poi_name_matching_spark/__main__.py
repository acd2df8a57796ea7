"""spark-submit entrypoint: run the full record-linkage pipeline.

Cluster usage (north rule: spark-submit --py-files on multi-executor):

    zip -r pkg.zip poi_name_matching_spark
    spark-submit --py-files pkg.zip -m poi_name_matching_spark ...   # or:
    spark-submit --py-files pkg.zip run_pipeline.py \
        --input /path/transcripts_parquet --output /path/out

Local sandbox:

    python -m poi_name_matching_spark --n-convs 2000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="poi_name_matching_spark")
    p.add_argument("--input", help="transcripts parquet path or table name")
    p.add_argument("--n-convs", type=int, default=0,
                   help="generate synthetic transcripts instead of --input")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output", required=True, help="checkpoint/output dir")
    p.add_argument("--score-kernel", default="tfidf")
    p.add_argument("--threshold", type=float, default=0.425)
    p.add_argument(
        "--kernels",
        default="north",
        help="'north' (JW+lev+jaccard+emb-cosine+tfidf+softtfidf), "
        "'all' (adds jaro, count-cosine, semantic soft-TFIDF), or a "
        "comma list of kernel names",
    )
    p.add_argument("--max-block-size", type=int, default=200)
    p.add_argument("--master", default=None,
                   help="override master (default: whatever spark-submit set)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--incremental", action="store_true",
                   help="merge --input as NEW conversations into the "
                        "completed checkpoint at --output (scores only "
                        "new-touching pairs; see plans/incremental.py)")
    p.add_argument("--compact-above-files", type=int, default=None,
                   help="with --incremental: after the commit, compact "
                        "any stage whose data-file count exceeds N "
                        "(content/fingerprint-preserving rewrite — "
                        "Iceberg rewrite_data_files analog)")
    p.add_argument("--rescore-all", action="store_true",
                   help="with --incremental: re-score every pair under "
                        "the updated df-map (bit-identical to a batch "
                        "re-run) instead of keeping historical scores")
    args = p.parse_args(argv)
    if args.rescore_all and not args.incremental:
        # without the guard the flag is silently dead: run_pipeline
        # cache-HITs the scores stage on its unchanged fingerprint and
        # reports success with the stale scores the user asked to replace
        p.error("--rescore-all requires --incremental")
    if args.compact_above_files is not None and not args.incremental:
        # same hazard: the batch path never reads compact_above_files
        p.error("--compact-above-files requires --incremental")

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("poi-name-matching-pipeline")
    if args.master:
        builder = builder.master(args.master)
    builder = (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
    )
    spark = builder.getOrCreate()

    from poi_name_matching_spark.operators.blocking import BlockingConfig
    from poi_name_matching_spark.operators.scoring import ScoringConfig
    from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
    from poi_name_matching_spark.sources.readers import read_transcripts

    if args.n_convs:
        from poi_name_matching_spark.data import transcripts_df

        transcripts = transcripts_df(spark, n_convs=args.n_convs, seed=args.seed)
    elif args.input:
        transcripts = read_transcripts(spark, args.input)
    else:
        p.error("one of --input / --n-convs is required")

    from poi_name_matching_spark.operators.scoring import KERNELS

    presets = {
        "north": (
            "levenshtein", "jaccard", "jaro_winkler",
            "emb_cosine", "tfidf", "softtfidf",
        ),
        "all": tuple(KERNELS),
    }
    kernels = presets.get(args.kernels) or tuple(args.kernels.split(","))

    cfg = PipelineConfig(
        checkpoint_dir=args.output,
        blocking=BlockingConfig(max_block_size=args.max_block_size),
        scoring=ScoringConfig(
            kernels=kernels,
            score_kernel=args.score_kernel,
            threshold=args.threshold,
        ),
        shuffle_partitions=args.shuffle_partitions,
        compact_above_files=args.compact_above_files,
    )
    if args.incremental:
        from poi_name_matching_spark.plans.incremental import (
            incremental_update,
        )

        result = incremental_update(
            spark, transcripts, cfg, rescore_all=args.rescore_all
        )
    else:
        result = run_pipeline(spark, transcripts, cfg)
    summary = {
        "stages_reused": result.cached_stages,
        **result.stats,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
