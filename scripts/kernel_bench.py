#!/usr/bin/env python
"""Spark-free microbench of one scoring kernel over a pipeline checkpoint.

Reads the live ``signatures`` and ``candidate_pairs`` versions of a
checkpoint with pyarrow and scores every candidate pair twice, cold:

* ``kernel``: the reference kernel in ``functions/kernels.py``, one call
  per pair;
* ``udf``: the scoring UDF's path in ``functions/spark_udfs.py``, fed
  as the UDF is fed (Arrow batches of up to 10,000 pairs, Spark's
  default ``spark.sql.execution.arrow.maxRecordsPerBatch``).

``--kernel`` picks the kernel:

* ``softtfidf``: ``kernels.soft_tfidf_pair`` with the Jaro-Winkler
  secondary, the reference's O(|x|·|y|) loop, against
  ``spark_udfs._soft_tfidf_jw_fast`` per pair over a fresh
  ``spark_udfs.jw_neighbours`` table (the vocabulary's JW >= threshold
  neighbours), so the time includes the table's character index and
  every row the pairs ask for. The df map is built as
  ``scoring.broadcast_df_map`` does (distinct signature texts, the
  ``min_df`` / ``max_vocab`` caps of the scores stage's recorded
  scoring config);
* ``levenshtein``: ``kernels.levenshtein_similarity`` (a dynamic
  program) against the UDF's batched bit-parallel edit distance;
* ``jaccard``: ``kernels.jaccard_similarity`` (both texts split per
  pair) against the UDF's one token set per distinct text of a batch.

The two must be equal with no tolerance, and so must the checkpoint's
own scores column when the scores stage computed the kernel (for
soft-TFIDF: at the same threshold and ``min_df``). Any unequal value
makes the script exit 1.

Usage:
    python scripts/kernel_bench.py --checkpoint out --kernel levenshtein
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: rows per Arrow batch the scoring UDF receives (Spark's default)
ARROW_BATCH = 10_000


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


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def bench_softtfidf(sigs, keys, threshold, min_df, max_vocab) -> tuple[list, list, dict]:
    from poi_name_matching_spark.functions import kernels
    from poi_name_matching_spark.functions.spark_udfs import (
        _jw_cached,
        _soft_tfidf_jw_fast,
        jw_neighbours,
    )

    df_map, corpus_size = df_map_of(sigs, min_df, max_vocab)
    tokens = dict(zip(sigs.column("conv_id").to_pylist(), sigs.column("tokens").to_pylist()))
    work = [(list(tokens[a] or ()), list(tokens[b] or ())) for a, b in keys]
    jw = kernels.jaro_winkler_similarity
    ref, kernel_s = timed(
        lambda: [kernels.soft_tfidf_pair(x, y, df_map, corpus_size, jw, threshold) for x, y in work]
    )
    _jw_cached.cache_clear()
    table, index_s = timed(lambda: jw_neighbours(df_map, threshold))
    got, udf_s = timed(
        lambda: [_soft_tfidf_jw_fast(x, y, df_map, corpus_size, threshold) for x, y in work]
    )
    rows = {} if table is None else table.rows
    return ref, got, {
        "threshold": threshold,
        "min_df": min_df,
        "vocab": len(df_map),
        "table_rows": len(rows),
        "table_entries": sum(map(len, rows.values())),
        "index_s": round(index_s, 3),
        "kernel_s": kernel_s,
        "udf_s": index_s + udf_s,
    }


def bench_text_kernel(kernel: str, sigs, keys) -> tuple[list, list, dict]:
    import pandas as pd

    from poi_name_matching_spark.functions import kernels
    from poi_name_matching_spark.functions.spark_udfs import _BATCH_KERNELS

    reference = {
        "levenshtein": kernels.levenshtein_similarity,
        "jaccard": kernels.jaccard_similarity,
    }[kernel]
    texts = dict(zip(sigs.column("conv_id").to_pylist(), sigs.column("sig_text").to_pylist()))
    left = [texts[a] for a, _ in keys]
    right = [texts[b] for _, b in keys]
    ref, kernel_s = timed(lambda: [reference(a, b) for a, b in zip(left, right)])
    batches = [
        (pd.Series(left[s : s + ARROW_BATCH]), pd.Series(right[s : s + ARROW_BATCH]))
        for s in range(0, len(keys), ARROW_BATCH)
    ]
    column = _BATCH_KERNELS[kernel]
    got, udf_s = timed(lambda: [v for a, b in batches for v in list(column(a, b))])
    return ref, got, {"kernel_s": kernel_s, "udf_s": udf_s}


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkpoint", required=True, help="pipeline checkpoint root")
    ap.add_argument(
        "--kernel",
        choices=("softtfidf", "levenshtein", "jaccard"),
        default="softtfidf",
        help="the kernel to time (default: softtfidf)",
    )
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
        help="soft-TFIDF df map cap (default: the scores stage's, else 1); terms under it score directly",
    )
    args = ap.parse_args()

    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    ckpt = StageCheckpoint(args.checkpoint)
    scores_m = ckpt.read_manifest("scores") or {}
    scfg = scores_m.get("scoring_config", {})

    sigs = read_stage(ckpt, "signatures")
    pairs = read_stage(ckpt, "candidate_pairs")
    keys = list(zip(pairs.column("left_id").to_pylist(), pairs.column("right_id").to_pylist()))
    same_cfg = True
    if args.kernel == "softtfidf":
        threshold = args.threshold if args.threshold is not None else scfg.get("softtfidf_threshold", 0.9)
        min_df = args.min_df if args.min_df is not None else scfg.get("min_df", 1)
        ref, got, stats = bench_softtfidf(sigs, keys, threshold, min_df, scfg.get("max_vocab"))
        same_cfg = scfg.get("softtfidf_threshold") == threshold and scfg.get("min_df", 1) == min_df
    else:
        ref, got, stats = bench_text_kernel(args.kernel, sigs, keys)
    kernel_s, udf_s = stats.pop("kernel_s"), stats.pop("udf_s")

    unequal = int(sum(a != b for a, b in zip(ref, got)))
    out = {
        "checkpoint": str(args.checkpoint),
        "kernel": args.kernel,
        "pairs": len(keys),
        **stats,
        "kernel_us_per_pair": round(kernel_s / max(len(keys), 1) * 1e6, 1),
        "udf_us_per_pair": round(udf_s / max(len(keys), 1) * 1e6, 1),
        "speedup": round(kernel_s / udf_s, 2) if udf_s else None,
        "unequal_kernel": unequal,
    }
    if args.kernel in scfg.get("kernels", ()) and same_cfg:
        scores = read_stage(ckpt, "scores")
        stored = dict(
            zip(
                zip(scores.column("left_id").to_pylist(), scores.column("right_id").to_pylist()),
                scores.column(args.kernel).to_pylist(),
            )
        )
        out["unequal_checkpoint"] = int(sum(stored.get(k) != v for k, v in zip(keys, got)))
        unequal += out["unequal_checkpoint"]
    print(json.dumps(out))
    return 1 if unequal else 0


if __name__ == "__main__":
    sys.exit(main())
