#!/usr/bin/env python
"""Interpreted against compiled execution at one corpus size (SCALE.md
§"Interpreted execution").

``run_pipeline`` and ``incremental_update`` run every query under
``plans.pipeline.RUN_CONFS``: no whole-stage code generation and no
per-expression code generation. ``--mode compiled`` empties that table
before the first run, so the session's own defaults (code generation
on) apply; nothing else differs. Each mode needs a process of its own,
so that neither inherits the other's JIT-compiled code.

One invocation writes the fixture once (untimed): ``--n`` base
conversations and 25 more, from ``generate_transcripts`` at ``--seed``,
as two parquet directories under ``--work``. It then times a batch run
of the base into an empty checkpoint and one incremental commit of the
25 to that checkpoint. For each step it reads from /proc the CPU
seconds of the driver (this process), the Spark JVM and the Python
workers (every other descendant, with the children they reaped), the
JVM's live JIT compiler threads, and the count of classes Janino
compiled (``CodegenMetrics``).

    python scripts/codegen_scale.py --n 30000 --mode interpreted [--cpus 4]
    python scripts/codegen_scale.py --n 30000 --mode compiled [--cpus 4]

Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _common import SCORING_KERNELS  # noqa: E402

COMMIT_SIZE = 25
TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit() and (st := _stat(int(d.name))):
            children.setdefault(int(st[1]), []).append(int(d.name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_split() -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM, its live JIT compiler
    threads and the Python workers."""
    me = os.getpid()
    st = _stat(me)
    out = {"driver": (int(st[11]) + int(st[12])) * TICK_S, "jvm": 0.0, "jit": 0.0, "workers": 0.0}
    for p in _descendants(me):
        try:
            comm = Path(f"/proc/{p}/comm").read_text().strip()
        except OSError:
            continue
        if (st := _stat(p)) is None:
            continue
        own, reaped = int(st[11]) + int(st[12]), int(st[13]) + int(st[14])
        if comm == "java":
            out["jvm"] += own * TICK_S
            # the JVM's reaped children are Python workers
            out["workers"] += reaped * TICK_S
            for t in Path(f"/proc/{p}/task").iterdir():
                try:
                    name = (t / "comm").read_text()
                    ts = (t / "stat").read_text().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if "Compiler" in name:
                    out["jit"] += (int(ts[11]) + int(ts[12])) * TICK_S
        else:
            out["workers"] += (own + reaped) * TICK_S
    return out


def ensure_fixture(spark, work: Path, n: int, seed: int) -> tuple[str, str]:
    base, commit = work / f"base_n{n}_s{seed}", work / f"commit_n{n}_s{seed}"
    if not (commit / "_SUCCESS").exists():
        from pyspark.sql import functions as F

        from poi_name_matching_spark.data import generate_transcripts
        from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA

        rows = generate_transcripts(n_convs=n + COMMIT_SIZE, seed=seed).rows
        late = sorted({r[0] for r in rows})[n:]
        df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
        df.filter(~F.col("conv_id").isin(late)).write.mode("overwrite").parquet(str(base))
        df.filter(F.col("conv_id").isin(late)).write.mode("overwrite").parquet(str(commit))
    return str(base), str(commit)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--n", type=int, default=30_000)
    ap.add_argument("--mode", choices=("interpreted", "compiled"), required=True)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--driver-mem", default="3g")
    ap.add_argument("--work", default="/tmp/poi_codegen_scale")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from poi_name_matching_spark.functions.spark_udfs import normalize_tokens
    from poi_name_matching_spark.operators.scoring import ScoringConfig
    from poi_name_matching_spark.plans import pipeline
    from poi_name_matching_spark.plans.incremental import incremental_update

    work = Path(args.work)
    work.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("codegen-scale")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        base, commit = ensure_fixture(spark, work, args.n, args.seed)
        # start one Python worker per core before anything is timed
        tokens = pandas_udf(normalize_tokens.func, normalize_tokens.returnType)
        spark.range(args.cpus, numPartitions=args.cpus).select(
            tokens(F.lit("warm the workers"))
        ).write.format("noop").mode("overwrite").save()
        if args.mode == "compiled":
            pipeline.RUN_CONFS = {}
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        ckpt = work / f"ckpt-{os.getpid()}"
        shutil.rmtree(ckpt, ignore_errors=True)
        cfg = pipeline.PipelineConfig(
            checkpoint_dir=str(ckpt),
            scoring=ScoringConfig(kernels=SCORING_KERNELS, score_kernel="tfidf", threshold=0.425),
        )

        def step(fn) -> dict:
            c0, k0, t0 = cpu_split(), codegen.METRIC_COMPILATION_TIME().getCount(), time.perf_counter()
            res = fn()
            wall = time.perf_counter() - t0
            c1, k1 = cpu_split(), codegen.METRIC_COMPILATION_TIME().getCount()
            out = {f"{k}_cpu_s": round(c1[k] - c0[k], 2) for k in c0}
            return {
                "wall_s": round(wall, 2),
                **out,
                "total_cpu_s": round(sum(c1[k] - c0[k] for k in ("driver", "jvm", "workers")), 2),
                "classes_compiled": k1 - k0,
                "pairs": res.stats["n_candidate_pairs"],
            }

        batch = step(lambda: pipeline.run_pipeline(spark, spark.read.parquet(base), cfg))
        commit_step = step(lambda: incremental_update(spark, spark.read.parquet(commit), cfg))
        print(
            json.dumps(
                {
                    "n": args.n,
                    "mode": args.mode,
                    "cpus": args.cpus,
                    "seed": args.seed,
                    "batch": batch,
                    "commit": commit_step,
                }
            )
        )
        shutil.rmtree(ckpt, ignore_errors=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
