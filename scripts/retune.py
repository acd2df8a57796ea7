#!/usr/bin/env python
"""Checkpoint-replay threshold retune: F1 per operating point, no re-scoring.

This is the operational recalibration tool BASELINE.md's endurance rows
describe: the scores checkpoint is threshold-independent (per-pair kernel
outputs only), so moving the operating point is a replay — filter the
written scores at each candidate threshold, run connected components,
and evaluate pairwise F1 vs the planted truth. Nothing is re-scored; at
32.8M pairs a point costs ~15-26 s on local[32], vs ~an hour to re-run
the scoring stage.

Differences from `endurance.py --sweep` (which bundles the same replay
into a fresh pipeline run):

* operates on an EXISTING checkpoint directory — usable long after the
  run, from a different process, or after a crash;
* prints one JSON line PER THRESHOLD as soon as it is measured (flushed),
  so a partially completed sweep still yields evidence — thresholds are
  evaluated in the order given, put the most important first.

A scores stage left by an unfinished chunked-scoring run (its manifest
carries `partial_chunks`) holds only some pairs' scores; the script
refuses it (exit 3) — rerun the pipeline to finish the chunks.

Usage:
    python scripts/retune.py --checkpoint /tmp/poi_endurance_1m \
        --truth-n 1000000 --thresholds 0.45,0.425,0.475,0.4,0.5
Prints one JSON line per threshold plus a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--checkpoint", required=True, help="pipeline checkpoint root")
    ap.add_argument("--truth-n", type=int, required=True, help="fixture n_convs")
    ap.add_argument("--truth-seed", type=int, default=42)
    ap.add_argument(
        "--thresholds",
        default="0.45,0.425,0.475,0.4,0.5",
        help="comma-separated, evaluated in order (most important first)",
    )
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--shuffle-partitions", type=int, default=256)
    ap.add_argument("--driver-mem", default="48g")
    args = ap.parse_args()

    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    # refused before any Spark session starts
    ckpt = StageCheckpoint(args.checkpoint)
    m = ckpt.read_manifest("scores")
    if m is None:
        print(json.dumps({"error": "no scores stage"}), flush=True)
        return 2
    if "partial_chunks" in m:
        print(
            json.dumps(
                {"error": "scores stage unfinished", **m["partial_chunks"]}
            ),
            flush=True,
        )
        return 3

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"poi-retune-{args.truth_n}")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

    from poi_name_matching_spark.data import truth_df
    from poi_name_matching_spark.operators.clustering import components
    from poi_name_matching_spark.operators.evaluation import pairwise_cluster_f1
    from poi_name_matching_spark.operators.scoring import edges_from_scores

    scores = ckpt.load(spark, "scores")

    ids = ckpt.load(spark, "signatures").select("conv_id")
    truth = truth_df(spark, n_convs=args.truth_n, seed=args.truth_seed).cache()
    truth.count()
    n_pairs = scores.count()

    rows = []
    for t in [float(x) for x in args.thresholds.split(",") if x.strip()]:
        t0 = time.monotonic()
        comps = components(ids, edges_from_scores(scores, t))
        m = pairwise_cluster_f1(comps, truth)
        row = {
            "threshold": t,
            "f1": round(m.f1, 5),
            "precision": round(m.precision, 5),
            "recall": round(m.recall, 5),
            "wall_s": round(time.monotonic() - t0, 1),
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    best = max(rows, key=lambda r: r["f1"]) if rows else None
    print(
        json.dumps(
            {
                "metric": "retune",
                "checkpoint": args.checkpoint,
                "n_scored_pairs": n_pairs,
                "n_convs": args.truth_n,
                "sweep": rows,
                "best": best,
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
