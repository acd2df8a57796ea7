#!/usr/bin/env python
"""Blocking growth study (SCALE.md): recall vs pair budget.

The 100k endurance run showed candidate pairs/conv growing 26 → 70 as
Zipf-hot first-token blocks fill toward the `max_block_size` cap. This
study quantifies the trade the cap makes, per setting:

* at the STUDY scale (default 100k convs): candidate-pair count,
  pairs/conv, blocking wall, and BLOCKING RECALL — the fraction of
  planted true-duplicate pairs that survive into the candidate set
  (the hard ceiling on end-to-end recall; scoring can only lose more);
* at the F1 scale (default 30k, the rounds-1-3 invariant size,
  `--with-f1`): full pipeline F1 (north kernel suite, tf-idf @ 0.425)
  so the recall ceiling is tied to the actual operating point.

Grid: max_block_size ∈ {100, 200, 400} × key families {default
(t0+px+mh), +t1 (second-token family)}.

Usage:
    python scripts/blocking_study.py [--n 100000] [--with-f1 30000]
Prints one JSON line per row plus a final markdown table on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _common import SCORING_KERNELS, _ensure_fixture, _force, _mk_spark  # noqa: E402


def truth_pairs(spark, n_convs: int, seed: int = 42):
    from pyspark.sql import functions as F

    from poi_name_matching_spark.data import truth_df

    t = truth_df(spark, n_convs=n_convs, seed=seed)
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, "entity_id")
        .filter(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("left_id"),
            F.col("b.conv_id").alias("right_id"),
        )
    )


def blocking_row(spark, sigs, tp, n_truth: int, n_convs: int, cfg) -> dict:
    from poi_name_matching_spark.operators.blocking import block_keys, candidate_pairs

    t0 = time.monotonic()
    pairs = candidate_pairs(block_keys(sigs, cfg), cfg).cache()
    n_pairs = pairs.count()
    wall = round(time.monotonic() - t0, 1)
    hits = pairs.join(tp, ["left_id", "right_id"]).count()
    pairs.unpersist()
    return {
        "max_block_size": cfg.max_block_size,
        "families": "t0+t1+px+mh" if cfg.use_second_token else "t0+px+mh",
        "n_pairs": n_pairs,
        "pairs_per_conv": round(n_pairs / n_convs, 1),
        "block_recall": round(hits / n_truth, 5),
        "truth_pairs_missed": n_truth - hits,
        "blocking_wall_s": wall,
    }


def f1_row(spark, sigs, truth, cfg) -> dict:
    from poi_name_matching_spark.operators.blocking import block_keys, candidate_pairs
    from poi_name_matching_spark.operators.clustering import components
    from poi_name_matching_spark.operators.evaluation import pairwise_cluster_f1
    from poi_name_matching_spark.operators.scoring import (
        ScoringConfig,
        edges_from_scores,
        score_pairs,
        udf_stage_parallelism,
    )

    t0 = time.monotonic()
    pairs = candidate_pairs(block_keys(sigs, cfg), cfg).cache()
    n_pairs = pairs.count()
    scfg = ScoringConfig(
        kernels=SCORING_KERNELS, score_kernel="tfidf", threshold=0.425
    )
    scores = score_pairs(spark, pairs, sigs, scfg).cache()
    with udf_stage_parallelism(spark):
        _force(scores)
    comps = components(sigs.select("conv_id"), edges_from_scores(scores, 0.425))
    m = pairwise_cluster_f1(comps, truth)
    wall = round(time.monotonic() - t0, 1)
    pairs.unpersist()
    scores.unpersist()
    return {
        "n_pairs": n_pairs,
        "f1": round(m.f1, 5),
        "precision": round(m.precision, 5),
        "recall": round(m.recall, 5),
        "pipeline_wall_s": wall,
    }


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--with-f1", type=int, default=0, metavar="N_CONVS")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from poi_name_matching_spark.data import truth_df
    from poi_name_matching_spark.operators.blocking import BlockingConfig
    from poi_name_matching_spark.operators.signatures import build_signatures

    grid = [
        BlockingConfig(max_block_size=cap, use_second_token=t1)
        for cap in (100, 200, 400)
        for t1 in (False, True)
    ]

    spark = _mk_spark(args.cpus, "blocking-study", shuffle_partitions=256)
    rows = []

    sigs = spark.read.parquet(
        _ensure_fixture(spark, args.n, args.seed)
    ).transform(build_signatures).cache()
    sigs.count()
    tp = truth_pairs(spark, args.n, args.seed).cache()
    n_truth = tp.count()
    print(f"# study n={args.n} truth_pairs={n_truth}", file=sys.stderr)
    for cfg in grid:
        row = {"n_convs": args.n, **blocking_row(spark, sigs, tp, n_truth, args.n, cfg)}
        rows.append(row)
        print(json.dumps(row), flush=True)
    sigs.unpersist()
    tp.unpersist()

    if args.with_f1:
        nf = args.with_f1
        sigs = spark.read.parquet(
            _ensure_fixture(spark, nf, args.seed)
        ).transform(build_signatures).cache()
        sigs.count()
        truth = truth_df(spark, n_convs=nf, seed=args.seed).cache()
        truth.count()
        for cfg, row in zip(grid, rows):
            f1 = f1_row(spark, sigs, truth, cfg)
            row.update({"f1_n_convs": nf, **{f"f1_{k}" if k == "n_pairs" else k: v
                                             for k, v in f1.items()}})
            print(json.dumps(row), flush=True)

    hdr = ("| cap | families | pairs/conv @%dk | block recall @%dk | F1 @%dk | "
           "pipeline wall (s) |" % (args.n // 1000, args.n // 1000,
                                    (args.with_f1 or 0) // 1000))
    print(hdr, file=sys.stderr)
    print("|---|---|---|---|---|---|", file=sys.stderr)
    for r in rows:
        print(
            "| {mbs} | {fam} | {ppc} | {br} | {f1} | {wall} |".format(
                mbs=r["max_block_size"], fam=r["families"],
                ppc=r["pairs_per_conv"], br=r["block_recall"],
                f1=r.get("f1", "—"), wall=r.get("pipeline_wall_s", "—"),
            ),
            file=sys.stderr,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
