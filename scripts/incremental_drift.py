#!/usr/bin/env python
"""Quantify incremental-path drift vs a from-scratch batch run (SCALE.md).

``plans/incremental.py`` documents two deliberate divergences of the
default (fast) increment path from a batch rebuild:

1. historical pair scores are retained as written — new pairs score
   under the UPDATED corpus df-map, old pairs keep the df-map they were
   scored under (staleness bounded by increment/corpus ratio);
2. old×old pairs inside a hot block are not re-derived when a new
   member pushes the block over the salting cap.

This study measures both: apply K increments onto a base corpus, then
compare against (a) a from-scratch batch run on the identical full
corpus and (b) the same increment sequence with the LAST increment run
under ``rescore_all=True`` (full df-map parity re-score, pair universe
still the incremental one — isolating score-staleness drift from
pair-set drift).

Reported per mode: candidate-pair set symmetric difference, score drift
on the shared pairs (max/mean abs delta, count > 0.01), pairwise-F1 vs
planted truth, and clustering agreement with the batch run (pairwise F1
of one clustering against the other as pseudo-truth). All comparisons
run in Spark (joins + aggregates) — nothing corpus-sized is collected.

Usage:
    python scripts/incremental_drift.py [--base 30000] [--increments 20]
        [--inc-size 500] [--cpus 32] [--threshold 0.425]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _common import SCORING_KERNELS  # noqa: E402


def _score_drift(a, b):
    """Join two scores relations on pair; return drift stats (Spark-side)."""
    from pyspark.sql import functions as F

    sa = a.select("left_id", "right_id", F.col("score").alias("score_a"))
    sb = b.select("left_id", "right_id", F.col("score").alias("score_b"))
    j = sa.join(sb, ["left_id", "right_id"], "full_outer")
    row = j.agg(
        F.count("*").alias("n_union"),
        F.sum(F.when(F.col("score_a").isNull(), 1).otherwise(0)).alias("only_b"),
        F.sum(F.when(F.col("score_b").isNull(), 1).otherwise(0)).alias("only_a"),
        F.max(F.abs(F.col("score_a") - F.col("score_b"))).alias("max_abs"),
        F.mean(F.abs(F.col("score_a") - F.col("score_b"))).alias("mean_abs"),
        F.sum(
            F.when(F.abs(F.col("score_a") - F.col("score_b")) > 0.01, 1).otherwise(0)
        ).alias("n_gt_001"),
        F.sum(
            F.when(F.abs(F.col("score_a") - F.col("score_b")) > 1e-9, 1).otherwise(0)
        ).alias("n_gt_1e9"),
    ).first()
    return {
        "n_pairs_union": int(row["n_union"]),
        "pairs_only_inc": int(row["only_a"] or 0),
        "pairs_only_batch": int(row["only_b"] or 0),
        "score_max_abs_delta": round(float(row["max_abs"] or 0.0), 6),
        "score_mean_abs_delta": round(float(row["mean_abs"] or 0.0), 8),
        "n_score_delta_gt_0.01": int(row["n_gt_001"] or 0),
        "n_score_delta_gt_1e-9": int(row["n_gt_1e9"] or 0),
    }


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=30_000)
    ap.add_argument("--increments", type=int, default=20)
    ap.add_argument("--inc-size", type=int, default=500)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--threshold", type=float, default=0.425)
    ap.add_argument("--shuffle-partitions", type=int, default=128)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    total = args.base + args.increments * args.inc_size
    work = args.workdir or f"/tmp/poi_drift_{args.base}_{args.increments}"
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"poi-drift-{args.base}")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

    from _common import _ensure_fixture

    from poi_name_matching_spark.data.transcripts import truth_df
    from poi_name_matching_spark.operators.evaluation import pairwise_cluster_f1
    from poi_name_matching_spark.operators.scoring import ScoringConfig
    from poi_name_matching_spark.plans.incremental import incremental_update
    from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline

    fixture = _ensure_fixture(spark, total, args.seed)
    full = spark.read.parquet(fixture)
    truth = truth_df(spark, n_convs=total, seed=args.seed).cache()
    truth.count()

    # deterministic arrival order: sorted conv_ids, first `base` boot the
    # checkpoint, then `increments` equal slices arrive one per commit.
    # Entity clusters straddle the boundary (the generator scatters
    # duplicates across the id range) — the interesting case.
    convs = [r[0] for r in full.select("conv_id").distinct().orderBy("conv_id").collect()]
    assert len(convs) == total
    slices = [
        convs[args.base + i * args.inc_size : args.base + (i + 1) * args.inc_size]
        for i in range(args.increments)
    ]

    def _slice_df(lo: str, hi: str):
        # contiguous ranges in sorted conv_id order — a 2-literal range
        # predicate, not a 30k-literal isin
        return full.filter((F.col("conv_id") >= lo) & (F.col("conv_id") <= hi))

    def _cfg(path):
        return PipelineConfig(
            checkpoint_dir=path,
            scoring=ScoringConfig(
                kernels=SCORING_KERNELS,
                score_kernel="tfidf",
                threshold=args.threshold,
            ),
            shuffle_partitions=args.shuffle_partitions,
        )

    # ---- (a) from-scratch batch run on the full corpus ------------------
    t = time.monotonic()
    batch = run_pipeline(spark, full, _cfg(f"{work}/batch"))
    batch_wall = round(time.monotonic() - t, 1)
    f1_batch = pairwise_cluster_f1(batch.components, truth)

    # ---- (b) base + K default-mode increments ----------------------------
    base_df = _slice_df(convs[0], convs[args.base - 1])
    t = time.monotonic()
    run_pipeline(spark, base_df, _cfg(f"{work}/inc"))
    boot_wall = round(time.monotonic() - t, 1)
    inc_walls = []
    inc = None
    for i, sl in enumerate(slices):
        if i == len(slices) - 1:
            # fork the checkpoint before the final increment: mode (c)
            # below replays only the last commit under rescore_all on
            # this copy instead of re-running all K-1 increments
            shutil.copytree(f"{work}/inc", f"{work}/rescore")
        t = time.monotonic()
        inc = incremental_update(spark, _slice_df(sl[0], sl[-1]), _cfg(f"{work}/inc"))
        inc_walls.append(round(time.monotonic() - t, 1))
    f1_inc = pairwise_cluster_f1(inc.components, truth)

    drift_inc = _score_drift(inc.scores, batch.scores)
    # clustering agreement: batch clustering as pseudo-truth
    agree_inc = pairwise_cluster_f1(
        inc.components,
        batch.components.select(
            "conv_id", F.col("component_id").alias("entity_id")
        ),
    )

    # ---- (c) same sequence, final increment under rescore_all ------------
    # (the checkpoint forked above already carries increments 1..K-1 in
    # default mode; commit the last one with a full-parity re-score: the
    # pair universe stays incremental, every score is under the final
    # df-map)
    t = time.monotonic()
    resc = incremental_update(
        spark,
        _slice_df(slices[-1][0], slices[-1][-1]),
        _cfg(f"{work}/rescore"),
        rescore_all=True,
    )
    rescore_wall = round(time.monotonic() - t, 1)
    f1_resc = pairwise_cluster_f1(resc.components, truth)
    drift_resc = _score_drift(resc.scores, batch.scores)
    agree_resc = pairwise_cluster_f1(
        resc.components,
        batch.components.select(
            "conv_id", F.col("component_id").alias("entity_id")
        ),
    )

    out = {
        "metric": "incremental_drift",
        "base": args.base,
        "increments": args.increments,
        "inc_size": args.inc_size,
        "total_convs": total,
        "threshold": args.threshold,
        "batch": {
            "wall_s": batch_wall,
            "n_pairs": batch.stats["n_candidate_pairs"],
            "f1": round(f1_batch.f1, 5),
        },
        "incremental_default": {
            "boot_wall_s": boot_wall,
            "inc_wall_s_median": sorted(inc_walls)[len(inc_walls) // 2],
            "inc_wall_s_total": round(sum(inc_walls), 1),
            "n_pairs": inc.stats["n_candidate_pairs"],
            "f1": round(f1_inc.f1, 5),
            "f1_delta_vs_batch": round(f1_inc.f1 - f1_batch.f1, 6),
            "cluster_agreement_f1": round(agree_inc.f1, 6),
            **drift_inc,
        },
        "incremental_rescore_all_final": {
            "final_increment_wall_s": rescore_wall,
            "n_pairs": resc.stats["n_candidate_pairs"],
            "f1": round(f1_resc.f1, 5),
            "f1_delta_vs_batch": round(f1_resc.f1 - f1_batch.f1, 6),
            "cluster_agreement_f1": round(agree_resc.f1, 6),
            **drift_resc,
        },
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
