#!/usr/bin/env python
"""Endurance run (BASELINE.md): full checkpointed pipeline at large N.

Reproduces the round-3 100k row and extends the scaling curve (the
round-4 target is ≥300k conversations): fixture parquet materialized
untimed, then the five-stage checkpointed pipeline (signatures →
blocks → candidate pairs → scores → components), reporting per-stage
walls from the stage manifests, candidate-pair throughput, pairwise
cluster F1 vs planted truth, and driver max RSS.

Usage:
    python scripts/endurance.py [--n 300000] [--cpus 32] \
        [--shuffle-partitions 512] [--out /tmp/poi_endurance_300k]
Prints one JSON line with every metric.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _common import SCORING_KERNELS, _ensure_fixture  # noqa: E402


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=300_000)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--shuffle-partitions", type=int, default=512)
    ap.add_argument("--out", default=None)
    ap.add_argument("--driver-mem", default="56g")
    ap.add_argument(
        "--cap",
        type=int,
        default=200,
        help="blocking max_block_size (SCALE.md growth-study knob; the "
        "10^8+ recommendation is 100)",
    )
    ap.add_argument(
        "--sweep",
        default=None,
        help="comma-separated thresholds for the post-run checkpoint-"
        "replay retune (filter scores -> CC -> pairwise F1 per value; "
        "no re-scoring)",
    )
    ap.add_argument(
        "--scoring-chunks",
        type=int,
        default=1,
        help="score candidate pairs in this many hash-chunks "
        "(PipelineConfig.scoring_chunks) — bounds the scoring stage's "
        "wide-shuffle scratch disk at 1/chunks (the 1M-conversation run "
        "measured 64 GB of shuffle for 103.3M pairs); output bit-identical",
    )
    ap.add_argument(
        "--io-codec",
        default="zstd",
        help="spark.io.compression.codec for shuffle/spill blocks; zstd "
        "(default) measured ~25%% smaller shuffle files than lz4 on the "
        "token-array-heavy scoring exchange — the margin that let the "
        "1M run fit a single scratch volume",
    )
    ap.add_argument(
        "--resume",
        action="store_true",
        help="keep an existing checkpoint dir and resume from completed "
        "stages (and, with --scoring-chunks > 1, completed scoring "
        "chunks) — run_pipeline's config-aware stage cache, whose "
        "scores stage commits each chunk, makes this exactly the fresh "
        "run's output; without the flag the dir is cleared as before",
    )
    args = ap.parse_args()

    out = args.out or f"/tmp/poi_endurance_{args.n}"
    if os.path.exists(out) and not args.resume:
        shutil.rmtree(out)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"poi-endurance-{args.n}")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.io.compression.codec", args.io_codec)
        # chunked scoring relies on finished chunks' shuffle files being
        # reclaimed BETWEEN chunks; the default periodic GC (30min) is
        # longer than a chunk at these sizes
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

    from poi_name_matching_spark.data import truth_df
    from poi_name_matching_spark.operators.blocking import BlockingConfig
    from poi_name_matching_spark.operators.evaluation import pairwise_cluster_f1
    from poi_name_matching_spark.operators.scoring import ScoringConfig
    from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    # fixture + truth generation is driver-side and NOT part of the
    # timed pipeline span (production reads parquet/Iceberg)
    fixture = _ensure_fixture(spark, args.n, args.seed)
    transcripts = spark.read.parquet(fixture)
    truth = truth_df(spark, n_convs=args.n, seed=args.seed).cache()
    n_truth = truth.count()

    cfg = PipelineConfig(
        checkpoint_dir=out,
        blocking=BlockingConfig(max_block_size=args.cap),
        scoring=ScoringConfig(
            kernels=SCORING_KERNELS, score_kernel="tfidf", threshold=0.425
        ),
        shuffle_partitions=args.shuffle_partitions,
        scoring_chunks=args.scoring_chunks,
    )
    t0 = time.monotonic()
    result = run_pipeline(spark, transcripts, cfg)
    wall = round(time.monotonic() - t0, 1)

    ckpt = StageCheckpoint(out)
    stage_walls = {
        s: round((ckpt.read_manifest(s) or {}).get("wall_ms", 0) / 1000, 1)
        for s in ["signatures", "blocks", "candidate_pairs", "scores", "components"]
    }
    # under --scoring-chunks the scores manifest's wall_ms covers only the
    # last chunk; chunk_walls_s carries the earlier chunks' walls — fold
    # them back in so throughput below is the honest figure
    scores_m = ckpt.read_manifest("scores") or {}
    stage_walls["scores"] = round(
        stage_walls["scores"] + sum(scores_m.get("chunk_walls_s", [])), 1
    )
    m = pairwise_cluster_f1(result.components, truth)
    n_pairs = result.stats["n_candidate_pairs"]
    rss_gb = round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e6, 2)

    # post-run threshold retune: replay from the scores checkpoint (the
    # pipeline's scores identity is threshold-independent, so this is
    # exactly the "retune reuses scores" path) — filter → CC → F1 per
    # value, never re-scoring
    sweep_rows = []
    if args.sweep:
        from poi_name_matching_spark.operators.clustering import components
        from poi_name_matching_spark.operators.scoring import edges_from_scores

        scores = result.scores
        ids = result.signatures.select("conv_id")
        for t in [float(x) for x in args.sweep.split(",") if x.strip()]:
            t0 = time.monotonic()
            comps_t = components(ids, edges_from_scores(scores, t))
            mt = pairwise_cluster_f1(comps_t, truth)
            sweep_rows.append(
                {
                    "threshold": t,
                    "f1": round(mt.f1, 5),
                    "precision": round(mt.precision, 5),
                    "recall": round(mt.recall, 5),
                    "wall_s": round(time.monotonic() - t0, 1),
                }
            )

    print(
        json.dumps(
            {
                "metric": "endurance",
                "n_convs": args.n,
                "cpus": int(args.cpus),
                "shuffle_partitions": args.shuffle_partitions,
                "blocking_cap": args.cap,
                # on --resume, pipeline_wall_s covers only the resumed
                # portion; stage_walls_s are the manifests' original
                # compute walls, so their sum is the honest full-run cost
                "pipeline_wall_s": wall,
                "resumed": bool(args.resume),
                "stage_walls_s": stage_walls,
                "stage_walls_sum_s": round(sum(stage_walls.values()), 1),
                "n_candidate_pairs": n_pairs,
                "pairs_per_conv": round(n_pairs / args.n, 1),
                "pairs_per_sec_scoring": round(
                    n_pairs / max(stage_walls["scores"], 1e-9), 1
                ),
                "n_components": result.stats["n_components"],
                "max_block_size_observed": result.stats["max_block_size"],
                "f1": round(m.f1, 5),
                "precision": round(m.precision, 5),
                "recall": round(m.recall, 5),
                "n_truth_pairs": n_truth,
                "driver_max_rss_gb": rss_gb,
                **({"sweep": sweep_rows} if sweep_rows else {}),
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
