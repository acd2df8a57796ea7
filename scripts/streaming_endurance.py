#!/usr/bin/env python
"""Streaming endurance: the full-pipeline stream driver at a real size.

The batch endurance rows (BASELINE.md) exercise ``run_pipeline`` /
``incremental_update`` directly; this run proves the NEWEST machinery —
``streaming/pipeline.start_pipeline_stream`` — end-to-end at ~100k
conversations delivered as 20+ parquet drops consumed one per
micro-batch (``maxFilesPerTrigger=1``): the first epoch founds the
checkpoint with a full ``run_pipeline``, every later epoch is a
head-pointer ``incremental_update`` commit, auto-compaction enabled.

Reported: per-epoch wall (stream progress ``batchDuration`` + the
commit stats captured from the driver's epoch log), checkpoint store
size, compaction counts, and final pairwise-F1 vs planted truth AND vs
a from-scratch batch run on the identical input (cluster agreement).

Usage:
    python scripts/streaming_endurance.py [--n 100000] [--batches 25]
        [--cpus 32] [--threshold 0.425] [--compact-above 64]
Prints one JSON line.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _common import SCORING_KERNELS, _ensure_fixture  # noqa: E402


class _EpochStatsHandler(logging.Handler):
    """Captures the per-epoch stats dicts the stream driver logs."""

    def __init__(self):
        super().__init__(level=logging.INFO)
        self.epochs: list[dict] = []

    def emit(self, record):
        if record.msg.startswith("pipeline stream epoch"):
            epoch, stats = record.args
            self.epochs.append({"epoch": int(epoch), **stats})


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--batches", type=int, default=25)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--threshold", type=float, default=0.425)
    ap.add_argument("--shuffle-partitions", type=int, default=256)
    ap.add_argument("--cap", type=int, default=200)
    ap.add_argument("--compact-above", type=int, default=64)
    ap.add_argument("--driver-mem", default="48g")
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--resume",
        action="store_true",
        help="keep an existing workdir and resume: the stream restarts "
        "from its own checkpoint (redelivered drops are dropped by the "
        "redelivery anti-join — this is the recovery path the engine ships), "
        "and the batch-comparison run resumes from its stage cache. "
        "Stream wall/epoch stats then cover only the resumed portion "
        "(flagged `resumed` in the output). Requires a completed drop "
        "staging (marker file); otherwise starts clean.",
    )
    args = ap.parse_args()

    work = args.workdir or f"/tmp/poi_stream_endurance_{args.n}"
    drops = os.path.join(work, "drops")
    drops_marker = os.path.join(work, "_drops_complete")
    resumed = args.resume and os.path.exists(drops_marker)
    if os.path.exists(work) and not resumed:
        shutil.rmtree(work)
    if not resumed:
        os.makedirs(drops)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"poi-stream-endurance-{args.n}")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

    from poi_name_matching_spark.data.transcripts import truth_df
    from poi_name_matching_spark.operators.blocking import BlockingConfig
    from poi_name_matching_spark.operators.evaluation import pairwise_cluster_f1
    from poi_name_matching_spark.operators.scoring import ScoringConfig
    from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint
    from poi_name_matching_spark.streaming.pipeline import start_pipeline_stream

    fixture = _ensure_fixture(spark, args.n, args.seed)
    full = spark.read.parquet(fixture)
    truth = truth_df(spark, n_convs=args.n, seed=args.seed).cache()
    truth.count()

    # ---- stage the corpus as `batches` whole-conversation parquet drops
    # (contiguous conv_id ranges → closed-conversation contract holds)
    if not resumed:
        convs = [
            r[0]
            for r in full.select("conv_id").distinct().orderBy("conv_id").collect()
        ]
        per = (len(convs) + args.batches - 1) // args.batches
        stage_tmp = os.path.join(work, "_stage")
        for i in range(args.batches):
            sl = convs[i * per : (i + 1) * per]
            if not sl:
                break
            (
                full.filter(
                    (F.col("conv_id") >= sl[0]) & (F.col("conv_id") <= sl[-1])
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage_tmp)
            )
            part = glob.glob(os.path.join(stage_tmp, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(drops, f"drop_{i:04d}.parquet"))
        shutil.rmtree(stage_tmp)
        # marker = staging commit record: --resume refuses a half-staged
        # drops dir (would silently stream a truncated corpus)
        with open(drops_marker, "w") as f:
            f.write("ok")
    n_drops = len(glob.glob(os.path.join(drops, "drop_*.parquet")))

    def _cfg(path):
        return PipelineConfig(
            checkpoint_dir=path,
            blocking=BlockingConfig(max_block_size=args.cap),
            scoring=ScoringConfig(
                kernels=SCORING_KERNELS,
                score_kernel="tfidf",
                threshold=args.threshold,
            ),
            shuffle_partitions=args.shuffle_partitions,
            compact_above_files=args.compact_above,
        )

    handler = _EpochStatsHandler()
    stream_log = logging.getLogger("poi_name_matching_spark.streaming.pipeline")
    stream_log.addHandler(handler)
    stream_log.setLevel(logging.INFO)

    pipe_dir = os.path.join(work, "pipeline_ckpt")
    stream_ckpt = os.path.join(work, "stream_ckpt")
    t0 = time.monotonic()
    q = start_pipeline_stream(
        spark, drops, _cfg(pipe_dir), stream_ckpt, max_files_per_trigger=1
    )
    q.awaitTermination()
    stream_wall = round(time.monotonic() - t0, 1)

    # Spark 4 returns StreamingQueryProgress objects; Spark 3 returned
    # their JSON strings — accept both.
    progress = [
        json.loads(p if isinstance(p, (str, bytes)) else p.json)
        for p in q.recentProgress
    ]
    epoch_walls = [
        round(p["batchDuration"] / 1000, 1)
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    compactions = sum(
        len(e.get("compactions", {}) or {}) for e in handler.epochs
    )
    redelivered = sum(e.get("n_redelivered_dropped", 0) for e in handler.epochs)

    ckpt = StageCheckpoint(pipe_dir)
    comps = ckpt.load(spark, "components")
    m = pairwise_cluster_f1(comps, truth)
    stream_stats = {
        "n_epochs": len(epoch_walls),
        "stream_wall_s": stream_wall,
        "epoch_wall_s_median": sorted(epoch_walls)[len(epoch_walls) // 2]
        if epoch_walls
        else None,
        "epoch_wall_s_max": max(epoch_walls) if epoch_walls else None,
        "epoch_walls_s": epoch_walls,
        "store_bytes": _du(pipe_dir),
        "compaction_count": compactions,
        "n_redelivered_dropped": redelivered,
        "f1": round(m.f1, 5),
        "precision": round(m.precision, 5),
        "recall": round(m.recall, 5),
    }

    # ---- from-scratch batch run on the identical input ------------------
    t = time.monotonic()
    batch = run_pipeline(spark, full, _cfg(os.path.join(work, "batch_ckpt")))
    batch_wall = round(time.monotonic() - t, 1)
    mb = pairwise_cluster_f1(batch.components, truth)
    agree = pairwise_cluster_f1(
        comps,
        batch.components.select(
            "conv_id", F.col("component_id").alias("entity_id")
        ),
    )

    out = {
        "metric": "streaming_endurance",
        "n_convs": args.n,
        "n_drops": n_drops,
        "resumed": resumed,
        "blocking_cap": args.cap,
        "compact_above_files": args.compact_above,
        "stream": stream_stats,
        "batch": {"wall_s": batch_wall, "f1": round(mb.f1, 5)},
        "f1_delta_stream_vs_batch": round(m.f1 - mb.f1, 6),
        "cluster_agreement_f1": round(agree.f1, 6),
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
