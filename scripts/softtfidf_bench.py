#!/usr/bin/env python
"""Spark-free soft-TFIDF microbench over a pipeline checkpoint.

Reads the live ``signatures`` and ``candidate_pairs`` versions of a
checkpoint with pyarrow, builds the df map as
``scoring.broadcast_df_map`` does (distinct signature texts, the
``min_df`` / ``max_vocab`` caps of the scores stage's recorded scoring
config), and scores every candidate pair's soft-TFIDF twice, cold:

* ``kernel``: ``kernels.soft_tfidf_pair`` with the Jaro-Winkler
  secondary, the reference's O(|x|·|y|) loop;
* ``udf``: the scoring UDF's path, ``spark_udfs._soft_tfidf_jw_fast``
  per pair over a fresh ``spark_udfs.jw_neighbours`` table (the
  vocabulary's JW >= threshold neighbours), so the time includes the
  table's character index and every row the pairs ask for.

The two must be equal with no tolerance, and so must the checkpoint's
own ``softtfidf`` scores column when it was written at the same
threshold and ``min_df``. Any unequal value makes the script exit 1.

Usage:
    python scripts/softtfidf_bench.py --checkpoint out
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def read_stage(ckpt, stage: str):
    import pyarrow.parquet as pq

    return pq.read_table(ckpt.manifest_path(stage).parent / "data.parquet")


def df_map_of(sigs, min_df: int, max_vocab: int | None) -> tuple[dict, int]:
    """The df map and corpus size ``broadcast_df_map`` would broadcast."""
    from collections import Counter

    docs = dict(zip(sigs.column("sig_text").to_pylist(), sigs.column("tokens").to_pylist()))
    df = Counter(t for toks in docs.values() for t in set(toks or ()))
    kept = [(t, n) for t, n in df.items() if n >= min_df]
    if max_vocab is not None and len(kept) > max_vocab:
        kept = sorted(kept, key=lambda tn: (-tn[1], tn[0]))[:max_vocab]
    return dict(kept), len(docs)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkpoint", required=True, help="pipeline checkpoint root")
    ap.add_argument(
        "--threshold",
        type=float,
        default=None,
        help="soft-TFIDF threshold (default: the scores stage's, else 0.9)",
    )
    ap.add_argument(
        "--min-df",
        type=int,
        default=None,
        help="df map cap (default: the scores stage's, else 1); terms under it score directly",
    )
    args = ap.parse_args()

    from poi_name_matching_spark.functions import kernels
    from poi_name_matching_spark.functions.spark_udfs import (
        _jw_cached,
        _soft_tfidf_jw_fast,
        jw_neighbours,
    )
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    ckpt = StageCheckpoint(args.checkpoint)
    scores_m = ckpt.read_manifest("scores") or {}
    scfg = scores_m.get("scoring_config", {})
    threshold = args.threshold if args.threshold is not None else scfg.get("softtfidf_threshold", 0.9)
    min_df = args.min_df if args.min_df is not None else scfg.get("min_df", 1)

    sigs = read_stage(ckpt, "signatures")
    pairs = read_stage(ckpt, "candidate_pairs")
    df_map, corpus_size = df_map_of(sigs, min_df, scfg.get("max_vocab"))
    tokens = dict(zip(sigs.column("conv_id").to_pylist(), sigs.column("tokens").to_pylist()))
    keys = list(zip(pairs.column("left_id").to_pylist(), pairs.column("right_id").to_pylist()))
    work = [(list(tokens[a] or ()), list(tokens[b] or ())) for a, b in keys]

    jw = kernels.jaro_winkler_similarity
    t0 = time.perf_counter()
    ref = [kernels.soft_tfidf_pair(x, y, df_map, corpus_size, jw, threshold) for x, y in work]
    kernel_s = time.perf_counter() - t0

    _jw_cached.cache_clear()
    t0 = time.perf_counter()
    table = jw_neighbours(df_map, threshold)
    index_s = time.perf_counter() - t0
    got = [_soft_tfidf_jw_fast(x, y, df_map, corpus_size, threshold) for x, y in work]
    udf_s = time.perf_counter() - t0
    rows = {} if table is None else table.rows

    unequal = sum(a != b for a, b in zip(ref, got))
    out = {
        "checkpoint": str(args.checkpoint),
        "threshold": threshold,
        "min_df": min_df,
        "pairs": len(work),
        "vocab": len(df_map),
        "table_rows": len(rows),
        "table_entries": sum(map(len, rows.values())),
        "index_s": round(index_s, 3),
        "kernel_us_per_pair": round(kernel_s / max(len(work), 1) * 1e6, 1),
        "udf_us_per_pair": round(udf_s / max(len(work), 1) * 1e6, 1),
        "speedup": round(kernel_s / udf_s, 2) if udf_s else None,
        "unequal_kernel": unequal,
    }
    same_cfg = scfg.get("softtfidf_threshold") == threshold and scfg.get("min_df", 1) == min_df
    if "softtfidf" in scfg.get("kernels", ()) and same_cfg:
        scores = read_stage(ckpt, "scores")
        stored = dict(
            zip(
                zip(scores.column("left_id").to_pylist(), scores.column("right_id").to_pylist()),
                scores.column("softtfidf").to_pylist(),
            )
        )
        out["unequal_checkpoint"] = sum(stored.get(k) != v for k, v in zip(keys, got))
        unequal += out["unequal_checkpoint"]
    print(json.dumps(out))
    return 1 if unequal else 0


if __name__ == "__main__":
    sys.exit(main())
