#!/usr/bin/env python3
"""Linkage benchmark: a batch run through the package's public plans,
checked against planted truth; with tracing, also an incremental commit,
two threshold retunes and per-layer metrics.

    python3 perfbench/run.py --workload batch_link --seed 1 --seconds 40 --trace 0

One run is one closed loop on one driver (``local[<cores>]``): each
pipeline run or commit starts when the previous one has returned. A run

1. starts the Spark JVM and a SparkSession and warms the Python workers
   (``setup_s``, one cold start);
2. runs ``plans.pipeline.run_pipeline`` on the base corpus into an
   empty checkpoint at threshold 0.425 (``batch_cpu_s``) and scores
   its clusters against the planted entities (``pair_f1``);
3. reads the peak resident memory of the Spark JVM and its Python
   workers (``peak_rss_mb``).

A run's work is fixed, so every run of a workload measures the same
job; ``--seconds`` is accepted and not used. ``batch_cpu_s`` is the CPU
seconds the benchmark process, the Spark JVM and the Python workers
spend in the batch call. Its wall time is printed by the traced run
(``batch.wall_s``): on a shared virtual machine the hypervisor steals
CPU time in bursts lasting minutes, which moves wall times far more
than CPU times from one run to the next.

With ``--trace 1`` the run wraps every layer's calls in spans, commits
the arrival slice with ``plans.incremental.incremental_update`` to a
copy of the batch checkpoint, retunes the batch checkpoint at 0.45 and
then at 0.425 (whose components must match the batch run's), and
prints the per-layer metrics instead. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
A failed correctness check makes the run exit with code 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from statistics import median
from time import perf_counter

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from fixtures import FixtureSpec, ensure_fixture, fixture_id  # noqa: E402

#: the 6-kernel north suite (BASELINE.json) with tf-idf as operating kernel
KERNELS = ("levenshtein", "jaccard", "jaro_winkler", "emb_cosine", "tfidf", "softtfidf")
THRESHOLD = 0.425
RETUNE_THRESHOLD = 0.45
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = CORES


@dataclass(frozen=True)
class Workload:
    fixture: FixtureSpec
    max_block_size: int  # BlockingConfig cap; 200 is the package default
    f1_floor: float  # lowest pair_f1 that passes the correctness check


#: batch_link: the batch job; ~1.6 candidate pairs per conversation, so
#: per-stage fixed costs (Spark jobs, fingerprint scans, checkpoint
#: writes) dominate. skewed_link: the same corpus size with 100
#: conversations sharing a first token, a block over its cap of 48, so
#: salting splits it in three and ~4.5 pairs per conversation go to
#: scoring. Both are scaled down from a 3,000-conversation corpus at the
#: default cap of 200 to fit the run budget (see README.md). Salting
#: loses the duplicate pairs split across sub-blocks that no other key
#: family finds, so skewed_link's F1 floor is lower. The commit and the
#: retunes run in traced runs only.
WORKLOADS = {
    "batch_link": Workload(FixtureSpec(n_base=600, n_hot=0, n_commits=1, commit_size=25), 200, 0.99),
    "skewed_link": Workload(FixtureSpec(n_base=600, n_hot=100, n_commits=1, commit_size=25), 48, 0.95),
}

INCR_PHASES = (
    "wal",
    "signatures",
    "blocking",
    "commit_scores",
    "commit_candidate_pairs",
    "commit_blocks",
    "commit_signatures",
    "components",
    "retention",
)
TRACED_SPANS = (
    "batch",
    "retune",
    "commit",
    "stage.signatures",
    "stage.blocks",
    "stage.candidate_pairs",
    "stage.scores",
    "stage.components",
    "ckpt.write",
    "ckpt.append",
    "ckpt.load",
    "ckpt.expire",
    "df_map",
    "fingerprint",
    "components",
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class CheckFailed(Exception):
    pass


def start_session(run_dir: Path):
    """SparkSession sized to this machine, writing only under run_dir,
    with one warm-up job that starts a Python worker per core."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from poi_name_matching_spark.functions.spark_udfs import normalize_tokens

    t0 = perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xmn256m -Dderby.system.home={run_dir / 'derby'} -Djava.io.tmpdir={run_dir / 'tmp'}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # a new UDF object per session: a cached one keeps the JVM handle of
    # the session it was first used in, whose accumulator server is gone
    tokens = pandas_udf(normalize_tokens.func, normalize_tokens.returnType)
    warm = spark.range(CORES, numPartitions=CORES).select(tokens(F.lit("warm the workers")))
    warm.write.format("noop").mode("overwrite").save()
    return spark, perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the Spark JVM, the PySpark
    daemon and its workers), from /proc."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out: list[int] = []
    todo = list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over every descendant of ``pid``."""
    total_kb = 0
    for p in _descendants(pid):
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and its descendants, including
    children they have reaped. Time the hypervisor steals from this
    machine's CPUs is not counted."""
    total = 0
    for p in [pid, *_descendants(pid)]:
        try:
            fields = Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total * TICK_S


def pair_counts(clusters: dict[str, str], truth: dict[str, str]) -> tuple[int, int, int]:
    """(same-cluster pairs, same-entity pairs, pairs that are both)."""
    from collections import Counter
    from math import comb

    def pairs(counter) -> int:
        return sum(comb(n, 2) for n in counter.values())

    pred = pairs(Counter(clusters.values()))
    true = pairs(Counter(truth[c] for c in clusters))
    both = pairs(Counter((clusters[c], truth[c]) for c in clusters))
    return pred, true, both


def pairwise_f1(clusters: dict[str, str], truth: dict[str, str]) -> float:
    pred, true, both = pair_counts(clusters, truth)
    if pred == 0 or true == 0:
        return 1.0 if pred == true else 0.0
    p, r = both / pred, both / true
    return 2 * p * r / (p + r) if p + r else 0.0


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "poi_name_matching_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def dir_stats(root: Path) -> dict[str, int]:
    n_bytes = n_files = n_snaps = 0
    for p in root.rglob("*"):
        if p.is_file():
            n_bytes += p.stat().st_size
            if p.suffix == ".parquet" and "_snapshots" not in p.parts:
                n_files += 1
        elif p.is_dir() and p.parent.name == "_snapshots":
            n_snaps += 1
    return {"bytes": n_bytes, "files": n_files, "snapshots": n_snaps}


class Run:
    """One benchmark run: the measured steps and their correctness checks."""

    def __init__(self, spark, name: str, seed: int, run_dir: Path, tracer=None):
        self.spark = spark
        self.name = name
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.workload = WORKLOADS[name]
        self.spec = self.workload.fixture
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def cfg(self, ckpt: Path, threshold: float):
        from poi_name_matching_spark.operators.blocking import BlockingConfig
        from poi_name_matching_spark.operators.scoring import ScoringConfig
        from poi_name_matching_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            checkpoint_dir=str(ckpt),
            blocking=BlockingConfig(max_block_size=self.workload.max_block_size),
            scoring=ScoringConfig(kernels=KERNELS, score_kernel="tfidf", threshold=threshold),
            shuffle_partitions=SHUFFLE_PARTITIONS,
        )

    def attempt(self, what: str, fn):
        """Run one pipeline call or commit; any error or failed check
        counts toward ``failed`` and ends the run."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} failed", file=sys.stderr)
            traceback.print_exc()
            raise

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise CheckFailed(what)

    def measure(self) -> None:
        from poi_name_matching_spark.plans.pipeline import run_pipeline

        spark = self.spark
        fx = ensure_fixture(WORK / "fixtures", self.name, self.spec, self.seed)
        base = spark.read.parquet(fx.base)
        ckpt = self.run_dir / "ckpt"
        traced = self.tracer is not None

        def batch():
            t, c = perf_counter(), tree_cpu_s(os.getpid())
            with self.span("batch"):
                res = run_pipeline(spark, base, self.cfg(ckpt, THRESHOLD))
            self.samples.setdefault("batch_wall_s", []).append(perf_counter() - t)
            self.samples.setdefault("batch_cpu_s", []).append(tree_cpu_s(os.getpid()) - c)
            log(
                f"batch {self.samples['batch_wall_s'][-1]:.2f} s, "
                f"{self.samples['batch_cpu_s'][-1]:.2f} CPU s, {res.stats['n_candidate_pairs']} pairs"
            )
            self.check(res.cached_stages == [], f"batch run found cached stages {res.cached_stages}")
            return res

        res = self.attempt("batch run", batch)
        batch_stats = dict(res.stats)
        clusters = self.clusters(res, self.spec.n_base)
        f1 = pairwise_f1(clusters, fx.truth)
        self.samples["pair_f1"] = [f1]
        floor = self.workload.f1_floor
        self.check(f1 >= floor, f"pair_f1 {f1:.4f} below {floor}")
        n_components = len(set(clusters.values()))
        counts = {"pairs.rows": batch_stats["n_candidate_pairs"], "components.n": n_components}
        if traced:
            self.batch_quality(res, fx.truth)
            self.layer["components.n"] = n_components
            self.commits(fx)

        # traced runs retune the batch checkpoint: first at the retuned
        # operating point, then back at the batch threshold, where the
        # components must match the batch run's
        for th in (RETUNE_THRESHOLD, THRESHOLD) if traced else ():

            def retune(th=th):
                t, c = perf_counter(), tree_cpu_s(os.getpid())
                with self.span("retune"):
                    rr = run_pipeline(spark, base, self.cfg(ckpt, th))
                self.samples.setdefault("retune_s", []).append(perf_counter() - t)
                self.samples.setdefault("retune_cpu_s", []).append(tree_cpu_s(os.getpid()) - c)
                log(f"retune at {th} {self.samples['retune_s'][-1]:.2f} s")
                self.check(
                    len(rr.cached_stages) == 4 and "components" not in rr.cached_stages,
                    f"retune cached {rr.cached_stages}, expected the four stages before components",
                )
                return rr

            rr = self.attempt(f"retune at {th}", retune)
            n = rr.stats["n_components"]
            if th == THRESHOLD:
                want = batch_stats["n_components"]
                self.check(n == want, f"retune at {th} found {n} components, the batch run {want}")
            else:
                counts["retune.components.n"] = n
            self.layer["pipeline.stages_cached"] = len(rr.cached_stages)
        self.check_repeatable(counts)

    def clusters(self, res, n_convs: int) -> dict[str, str]:
        rows = res.components.select("conv_id", "component_id").collect()
        clusters = {row[0]: row[1] for row in rows}
        self.check(
            len(clusters) == n_convs == res.stats["n_signatures"],
            f"clusters cover {len(clusters)} of {n_convs} conversations",
        )
        return clusters

    def commits(self, fx) -> None:
        """Commit each arrival slice, in conv_id order, to a copy of the
        batch checkpoint (traced runs only)."""
        from poi_name_matching_spark.plans.incremental import incremental_update

        spark = self.spark
        ckpt = self.run_dir / "ckpt_incremental"
        shutil.copytree(self.run_dir / "ckpt", ckpt)
        n_pairs = self.layer["pairs.rows"]
        for i, path in enumerate(fx.slices):

            def commit(path=path):
                t = perf_counter()
                with self.span("commit"):
                    r = incremental_update(spark, spark.read.parquet(path), self.cfg(ckpt, THRESHOLD))
                wall = perf_counter() - t
                log(f"commit {i} {wall:.2f} s")
                self.check(
                    r.stats["n_new_convs"] == self.spec.commit_size
                    and r.stats["n_redelivered_dropped"] == 0,
                    f"commit {i} merged {r.stats['n_new_convs']} of {self.spec.commit_size} conversations",
                )
                return r, wall

            r, wall = self.attempt(f"commit {i}", commit)
            phases = r.stats["phase_wall_s"]
            self.samples.setdefault("commit.wall_s", []).append(wall)
            for ph in INCR_PHASES:
                self.samples.setdefault(f"incremental.phase.{ph}_s", []).append(phases.get(ph, 0.0))
            self.samples.setdefault("incremental.preamble_s", []).append(wall - sum(phases.values()))
            self.samples.setdefault("incremental.new_pairs", []).append(
                r.stats["n_candidate_pairs"] - n_pairs
            )
            n_pairs = r.stats["n_candidate_pairs"]

        f1 = pairwise_f1(self.clusters(r, self.spec.n_total), fx.truth)
        floor = self.workload.f1_floor
        self.check(f1 >= floor, f"pair_f1 {f1:.4f} after the commits, below {floor}")
        for k, v in dir_stats(ckpt).items():
            self.layer[f"checkpoint.{k}"] = v

    def batch_quality(self, res, truth: dict[str, str]) -> None:
        """Blocking precision/recall and the share of pairs over the
        threshold, from the batch run's checkpointed stages (traced runs
        only; untimed)."""
        from pyspark.sql import functions as F

        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        pairs = res.candidate_pairs.select("left_id", "right_id").collect()
        base_ids = [r[0] for r in res.signatures.select("conv_id").collect()]
        n_true_pairs = pair_counts({c: truth[c] for c in base_ids}, truth)[1]
        hits = sum(1 for a, b in pairs if truth[a] == truth[b])
        n_edges = res.scores.filter(F.col("score") >= THRESHOLD).count()
        self.layer.update(
            {
                "signatures.rows": len(base_ids),
                "blocks.rows": StageCheckpoint(self.run_dir / "ckpt").read_manifest("blocks")["rows"],
                "blocks.max_block_size": res.stats["max_block_size"],
                "pairs.rows": len(pairs),
                "pairs.per_conv": len(pairs) / len(base_ids),
                "pairs.precision": hits / len(pairs),
                "pairs.recall": hits / n_true_pairs,
                "scores.edge_frac": n_edges / len(pairs),
            }
        )

    def check_repeatable(self, got: dict[str, int]) -> None:
        """The same code and seed must give the same pair and cluster
        counts on every run; a count one kind of run does not make is
        added to the record when another run first makes it."""
        fx = fixture_id(self.name, self.spec, self.seed)
        cap = self.workload.max_block_size
        key = WORK / "expected" / f"{fx}-cap{cap}-{source_digest()}.json"
        want = json.loads(key.read_text()) if key.exists() else {}
        differ = {k: (want[k], v) for k, v in got.items() if k in want and want[k] != v}
        self.check(not differ, f"counts differ from an earlier run of this seed (earlier, now): {differ}")
        if not got.keys() <= want.keys():
            key.parent.mkdir(parents=True, exist_ok=True)
            key.write_text(json.dumps({**want, **got}))


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict:
    s = run.samples
    return {
        "setup_s": (setup_s, "s"),
        "batch_cpu_s": (s["batch_cpu_s"][0], "s"),
        "pair_f1": (s["pair_f1"][0], "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(run: Run, tracer) -> dict:
    summary = tracer.summary()

    def total(name: str, key: str = "seconds") -> float:
        return summary.get(name, {}).get(key, 0)

    layer = dict(run.layer)
    scores_s = total("stage.scores")
    # the batch's scores stage is the first: commits do not go through
    # get_or_compute and the retunes come after them
    batch_scores = next(sp for sp in tracer.spans if sp.name == "stage.scores")
    layer.update(
        {
            "signatures.s": total("stage.signatures"),
            "blocks.s": total("stage.blocks"),
            "pairs.s": total("stage.candidate_pairs"),
            "scores.s": scores_s,
            "scoring.pairs_per_s": layer["pairs.rows"] / scores_s if scores_s else 0.0,
            "scores.cpu_share": batch_scores.cpu_s / run.samples["batch_cpu_s"][0],
            "scoring.df_map_s": total("df_map"),
            "components.s": total("stage.components"),
            "checkpoint.write_s": total("ckpt.write", "self_s"),
            "checkpoint.append_s": total("ckpt.append", "self_s"),
            "checkpoint.load_s": total("ckpt.load", "self_s"),
            "checkpoint.expire_s": total("ckpt.expire", "self_s"),
            "checkpoint.fingerprint_s": total("fingerprint", "self_s"),
            "checkpoint.fingerprint_n": total("fingerprint", "calls"),
        }
    )
    s = run.samples
    for key, xs in s.items():
        if key.startswith("incremental."):
            layer[key] = median(xs)
    layer["batch.wall_s"] = s["batch_wall_s"][0]
    layer["batch.cpu_s"] = s["batch_cpu_s"][0]
    layer["retune.wall_s"] = s["retune_s"][0]
    layer["retune.cpu_s"] = s["retune_cpu_s"][0]
    layer["commit.wall_s"] = median(s["commit.wall_s"])
    for name in TRACED_SPANS:
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            layer[f"{name}.{k}"] = total(name, k)
    layer["trace.overhead_s"] = tracer.overhead_s
    layer["trace.spans"] = len(tracer.spans)
    units = {"s": "s", "rows": "count", "n": "count", "bytes": "bytes"}
    out = {}
    for key, value in layer.items():
        suffix = key.rsplit(".", 1)[-1]
        if suffix == "pairs_per_s":
            unit = "1/s"
        elif key.endswith("_s") or suffix == "s":
            unit = "s"
        elif suffix in ("precision", "recall", "edge_frac", "per_conv", "cpu_share"):
            unit = "ratio"
        else:
            unit = units.get(suffix, "count")
        out[key] = (value, unit)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40, help="accepted and not used: a run's work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "poi_name_matching_spark" / "__init__.py").exists():
        print(f"perfbench: package poi_name_matching_spark not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}-{time.time_ns()}"
    (run_dir / "tmp").mkdir(parents=True)
    # everything Spark, the JVM and the Python workers write stays in
    # run_dir, and the workers import the package from this checkout
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # HotSpot writes its performance-data file under /tmp whatever the
    # JVM's tmpdir; this variable reaches spark-submit's launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    tracer = None
    try:
        spark, setup_s = start_session(run_dir)
        log(f"set-up {setup_s:.2f} s")
        if args.trace:
            from tracer import Tracer, instrument

            tracer = Tracer(spark.sparkContext, lambda: tree_cpu_s(os.getpid()))
        run = Run(spark, args.workload, args.seed, run_dir, tracer)
        correct = True
        try:
            with instrument(tracer) if tracer else nullcontext():
                run.measure()
        except CheckFailed as ex:
            print(f"perfbench: correctness check failed: {ex}", file=sys.stderr)
            correct = False
        except Exception:
            traceback.print_exc()
            correct = False
        if not correct:
            print(json.dumps({"correct": False, "attempted": max(1, run.attempted),
                              "failed": max(1, run.failed), "metrics": {}}))
            return 1
        if tracer:
            metrics = per_layer(run, tracer)
            stamp = time.strftime("%Y%m%dT%H%M%S")
            tracer.write(WORK / "traces" / f"{args.workload}-s{args.seed}-{stamp}.json")
        else:
            metrics = end_to_end(run, setup_s, tree_peak_rss_mb(os.getpid()))
        print(
            json.dumps(
                {
                    "correct": True,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit, so no
    process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
