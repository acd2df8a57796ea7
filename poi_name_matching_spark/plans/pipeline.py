"""The flagship plan: transcripts → signatures → blocks → candidate pairs
→ scores → edges → components, each stage checkpointed with a manifest.

This is the distributed re-creation of the reference's three entry points
chained together (``label_data.py`` candidate generation →
``ml_similarity_metrics.py`` feature build → threshold classification of
``baseline.py``), plus the transitive-clustering stage the north rule
adds.

Resumability: every stage is keyed by the fingerprint of its input stage
PLUS the config it is built under (blocking config for blocks/pairs,
scoring config minus threshold for scores, threshold for components);
rerunning after a crash (or after deleting one stage directory) recomputes
exactly that stage and its downstream, never upstream (FIXTURES.md §6),
and rerunning with a changed config recomputes exactly the stages that
config reaches — a threshold retune reuses scores and recomputes only
the clustering.

Input key (``sources.checkpoint.input_key``): transcripts read from files
— a file scan, or a plain column projection of one such as
``read_transcripts`` returns — are keyed by their files' paths, sizes and
mtimes plus the output schema, read when the run starts; no Spark job
scans them. So a byte-identical copy of the input at a new path
recomputes the signatures, and so does rewriting a file with the same
bytes (its mtime changes); later stages are keyed by the content they
read and hit when the signatures come out the same. Any other DataFrame
(``createDataFrame``, a filter or join over files) keeps the content
scan: row count and xor of row hashes. A checkpoint written before these
keys recomputes scores and components once (their keys now cover the
signatures), and signatures too for a file-backed input.

With a file-backed input, only the stage writes and the driver collects
that feed them run Spark jobs: a cache hit loads with the schema its
manifest records, and the run's statistics come from manifests —
``max_block_size`` from the block-size aggregation salting runs anyway,
the component count observed while the components are written.

Chunked scoring (``PipelineConfig.scoring_chunks`` = K > 1) commits the
scores stage one hash chunk at a time through the same store: chunk 0 is
a ``write``, each later chunk an ``append`` that hard-links the earlier
chunks' files, so every score row is written once. A chunk before the
last commits under ``<scores key>|chunk:<k>/<K>`` (k chunks done) with
the manifest field ``partial_chunks``, so only the last commit is a
cache hit; a rerun after a crash resumes at the first uncommitted chunk.
The K−1 partial versions stay in the stage's history as retained
versions (hard links, no bytes of their own) and count against
``expire_keep_last``.

Interpreted execution: ``run_pipeline`` and ``incremental_update`` run
inside one ``sql_conf`` scope (``run_confs``) that turns whole-stage
code generation off, evaluates expressions interpreted (``RUN_CONFS``)
and sets the configured shuffle partitions; on return or on an
exception each conf gets back the session's value. Retunes and
streaming epochs go through these two functions, so they run
interpreted too. At benchmark scale the JVM's warm-up, not the data, is
most of a run's CPU: with code generation Janino compiled 92 classes
for a 600-conversation batch; interpreted, it compiles 2 and the JVM
spends less CPU. Interpreted runs cost no more JVM CPU at 30,000
conversations either (SCALE.md §"Interpreted execution").
The DataFrames a run returns are plans over the checkpoint; the
caller's own actions on them run under the session's confs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import (
    BlockingConfig,
    block_keys,
    candidate_pairs,
    oversized_blocks,
)
from ..operators.clustering import components
from ..operators.scoring import (
    DF_MAP_KERNELS,
    ScoringConfig,
    broadcast_df_map,
    edges_from_scores,
    score_pairs,
    sql_conf,
    udf_stage_parallelism,
)
from ..operators.signatures import build_signatures
from ..sources.checkpoint import StageCheckpoint, input_key, stage_fingerprint

STAGES = ["signatures", "blocks", "candidate_pairs", "scores", "components"]

#: SQL confs every ``run_pipeline`` and ``incremental_update`` runs
#: under (see the module docstring): Spark's interpreted operators and
#: expressions, with no whole-stage or per-expression code generation
RUN_CONFS = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def run_confs(spark: SparkSession, cfg: PipelineConfig):
    """The ``sql_conf`` scope of one run: ``RUN_CONFS`` plus the
    configured shuffle partitions, all restored when the run returns or
    raises."""
    confs = dict(RUN_CONFS)
    if cfg.shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(cfg.shuffle_partitions)
    return sql_conf(spark, confs)


def component_count() -> dict:
    """The components write's ``observe`` aggregate: labels are the
    minimum member id, so each component has exactly one member labelled
    with its own id."""
    return {"n_components": F.count_if(F.col("conv_id") == F.col("component_id"))}


def _output_fp(ckpt: StageCheckpoint, stage: str, df: DataFrame) -> str:
    """Output fingerprint of a completed stage: fast path reads the
    manifest (observed while the stage's rows were written, so no scan);
    fallback recomputes only for pre-upgrade checkpoints whose manifest
    lacks the field."""
    manifest = ckpt.read_manifest(stage) or {}
    return manifest.get("output_fingerprint") or stage_fingerprint(df)


@dataclass
class PipelineConfig:
    checkpoint_dir: str | Path = "out"
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    shuffle_partitions: int | None = None  # None → session default
    #: snapshot retention for BATCH runs: after a completed run, keep at
    #: most this many retained versions per stage (and sweep the orphan
    #: versions of crashed writes). Every stage rewrite is a new
    #: corpus-sized version — without retention, daily rebuilds grow the
    #: checkpoint dir by O(corpus) per run forever. ``None`` keeps
    #: everything (scratch/debug).
    expire_keep_last: int | None = 3
    #: small-file maintenance for the INCREMENTAL path: after each
    #: committed increment, any stage whose data-file count exceeds this
    #: is compacted (``StageCheckpoint.compact`` — content- and
    #: fingerprint-preserving rewrite, Iceberg rewrite_data_files
    #: analog). Fast appends write O(increment) files per commit; at
    #: 100 TB a year of daily increments is ~10^5 files per stage and
    #: per-file open cost dominates every scan. ``None`` disables
    #: (compact manually / out-of-band).
    compact_above_files: int | None = None
    #: scratch-disk bound for the scoring stage: >1 scores the candidate
    #: pairs in this many hash-chunks, each committed to the scores
    #: stage as its own write (see the module docstring), so the stage's
    #: wide pairs×signatures shuffle (~1 KB/pair — the measured 64 GB at
    #: 65 M pairs that exhausts a single scratch volume first) peaks at
    #: 1/chunks of the unchunked run. Output is bit-identical (chunking
    #: is pair-pure; the df map is built once over the full corpus), so
    #: this is NOT part of the completed scores' cache identity. The
    #: chunk loop's partial versions count against ``expire_keep_last``.
    #: 1 → plain single-job scoring.
    scoring_chunks: int = 1


def _score_in_chunks(
    spark: SparkSession,
    ckpt: StageCheckpoint,
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: PipelineConfig,
    scores_key: str,
    extra: dict,
) -> DataFrame:
    """Score ``pairs`` in ``cfg.scoring_chunks`` hash chunks, committing
    each to the scores stage (see the module docstring). Chunk
    membership is ``pmod(xxhash64(left_id, right_id), K)``, a pure
    function of the pair, and one df map over the whole corpus serves
    every chunk, so the union is exactly the unchunked relation and its
    composed output fingerprint equals the unchunked one. Each commit's
    ``wall_ms`` times its own chunk; ``chunk_walls_s`` carries the
    earlier chunks' walls, so the scoring wall is
    ``wall_ms + sum(chunk_walls_s)``.

    Resume: when the live scores version is this key's partial commit
    of k of the same K chunks, the loop starts at chunk k; anything else
    starts at chunk 0 with a full write.

    A finished chunk's shuffle files are reclaimed only once the JVM
    garbage-collects its shuffle; on long chunks set
    ``spark.cleaner.periodicGC.interval`` below the per-chunk wall so
    peak scratch stays about two chunks' worth."""
    n = cfg.scoring_chunks
    m = ckpt.read_manifest("scores") or {}
    part = m.get("partial_chunks")
    start, walls = 0, []
    if (
        part
        and part["of"] == n
        and m["input_fingerprint"] == f"{scores_key}|chunk:{part['done']}/{n}"
    ):
        start = part["done"]
        walls = m["chunk_walls_s"] + [m["wall_ms"] / 1000]
    df_map_bc = corpus_size_bc = None
    if DF_MAP_KERNELS & set(cfg.scoring.kernels):
        df_map_bc, corpus_size_bc = broadcast_df_map(
            spark, sigs, min_df=cfg.scoring.min_df, max_vocab=cfg.scoring.max_vocab
        )
    chunk_of = F.pmod(F.xxhash64("left_id", "right_id"), F.lit(n))
    for k in range(start, n):
        chunk = score_pairs(
            spark,
            pairs.filter(chunk_of == k),
            sigs,
            cfg.scoring,
            df_map_bc=df_map_bc,
            corpus_size_bc=corpus_size_bc,
        )
        done = k + 1
        commit_extra = {**extra, "chunk_walls_s": walls}
        if done < n:
            commit_extra["partial_chunks"] = {"done": done, "of": n}
        commit = ckpt.write if k == 0 else ckpt.append
        scores = commit(
            "scores",
            chunk,
            scores_key if done == n else f"{scores_key}|chunk:{done}/{n}",
            commit_extra,
        )
        walls = walls + [ckpt.read_manifest("scores")["wall_ms"] / 1000]
    return scores


@dataclass
class PipelineResult:
    signatures: DataFrame
    candidate_pairs: DataFrame
    scores: DataFrame
    components: DataFrame
    cached_stages: list[str]
    stats: dict


def run_pipeline(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig = PipelineConfig()
) -> PipelineResult:
    """Run (or resume) the five stages into ``cfg.checkpoint_dir``
    inside the run's conf scope (``run_confs``)."""
    with run_confs(spark, cfg):
        return _run_pipeline(spark, transcripts, cfg)


def _run_pipeline(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig
) -> PipelineResult:
    ckpt = StageCheckpoint(cfg.checkpoint_dir)
    cached: list[str] = []
    stats: dict = {}

    from dataclasses import asdict
    import json as _json

    in_fp = input_key(transcripts)
    # config is part of each stage's cache identity: a resume keyed on
    # data fingerprints alone would cache-HIT a stage built under a
    # different config — e.g. a threshold retune would silently return
    # the OLD components, and the blocking-drift refusal's prescribed
    # remediation ("rebuild via run_pipeline with the new config") would
    # no-op on cached config-A blocks. threshold is excluded from the
    # scores identity on purpose: scores are threshold-independent, so a
    # retune reuses them and recomputes only edges → components.
    blocking_key = _json.dumps(asdict(cfg.blocking), sort_keys=True)
    scoring_d = asdict(cfg.scoring)
    scoring_d.pop("threshold")
    scoring_key = _json.dumps(scoring_d, sort_keys=True)

    # signatures and blocks are UDF-heavy too (stemmer / MinHash): keep
    # AQE from byte-coalescing their post-shuffle partitions down to a
    # handful — the groupBy(conv_id) output is small in BYTES but each
    # row costs a stemmer pass (see scoring.udf_stage_parallelism)
    with udf_stage_parallelism(spark):
        sigs, hit = ckpt.get_or_compute(
            spark,
            "signatures",
            lambda: build_signatures(transcripts),
            in_fp,
        )
    if hit:
        cached.append("signatures")
    sig_fp = _output_fp(ckpt, "signatures", sigs)

    with udf_stage_parallelism(spark):
        # the blocking config is part of the blocks stage's identity
        # (cache key AND manifest record): incremental_update compares
        # the record so a drifted config (different key families / cap)
        # cannot silently shrink the pair universe
        blocks, hit = ckpt.get_or_compute(
            spark,
            "blocks",
            lambda: block_keys(sigs, cfg.blocking),
            f"{sig_fp}|cfg:{blocking_key}",
            extra={"blocking_config": asdict(cfg.blocking)},
        )
    if hit:
        cached.append("blocks")
    blocks_fp = _output_fp(ckpt, "blocks", blocks)

    # the largest block size is recorded from the block-size aggregation
    # salting runs anyway (filled in by _pairs, read after it returns)
    pairs_extra: dict = {}

    def _pairs():
        largest, hot = oversized_blocks(blocks, cfg.blocking.max_block_size)
        pairs_extra["max_block_size"] = largest
        # blocks is checkpoint-backed parquet here: re-scanning it for
        # salting's references is cheap AND recomputable, so skip the
        # extra materialization copy (see candidate_pairs docstring)
        return candidate_pairs(blocks, cfg.blocking, materialize="none", hot=hot)

    pairs, hit = ckpt.get_or_compute(
        spark,
        "candidate_pairs",
        _pairs,
        f"{blocks_fp}|cfg:{blocking_key}",
        extra=pairs_extra,
    )
    if hit:
        cached.append("candidate_pairs")
    pairs_fp = _output_fp(ckpt, "candidate_pairs", pairs)
    largest = ckpt.read_manifest("candidate_pairs").get("max_block_size")
    if largest is None:
        # a manifest written before the field existed
        largest = oversized_blocks(blocks, None)[0]
    stats["max_block_size"] = largest

    # scores read the signatures' text as well as the pairs, so a changed
    # signature must miss even when the pair set comes out the same
    scores_key = f"{pairs_fp}|{sig_fp}|cfg:{scoring_key}"
    # scoring_config (threshold-independent, JSON-normalized) is the
    # record incremental_update's drift guard compares: any drifted
    # scoring parameter — not just the kernel — would append
    # incomparable values into the existing scores column
    scores_extra = {
        "score_kernel": cfg.scoring.score_kernel,
        "threshold": cfg.scoring.threshold,
        "scoring_config": _json.loads(scoring_key),
    }
    # UDF-heavy stage: keep AQE from byte-coalescing the scoring
    # partitions down to core count (stragglers — see
    # scoring.udf_stage_parallelism)
    with udf_stage_parallelism(spark):
        if cfg.scoring_chunks > 1 and not ckpt.is_complete("scores", scores_key):
            scores = _score_in_chunks(
                spark, ckpt, pairs, sigs, cfg, scores_key, scores_extra
            )
            hit = False
        else:
            scores, hit = ckpt.get_or_compute(
                spark,
                "scores",
                lambda: score_pairs(spark, pairs, sigs, cfg.scoring),
                scores_key,
                extra=scores_extra,
            )
    if hit:
        cached.append("scores")
    scores_fp = _output_fp(ckpt, "scores", scores)

    def _components():
        edges = edges_from_scores(scores, cfg.scoring.threshold)
        return components(sigs.select("conv_id"), edges)

    comps, hit = ckpt.get_or_compute(
        spark,
        "components",
        _components,
        # every signature is a node: a conversation without pairs still
        # changes the components, though not the scores
        f"{scores_fp}|{sig_fp}|threshold:{cfg.scoring.threshold}",
        # explicit linkage for incremental CC's staleness guard (the
        # input fingerprint now carries the threshold suffix, so the
        # guard's raw-fingerprint fallback would no longer match).
        # threshold is recorded HERE — on the stage it actually shaped —
        # because the scores manifest's threshold goes stale on a retune
        # (scores cache-hit keeps the old extras while components
        # rebuild at the new threshold); the operating-point guard must
        # compare against what the stored clusters were built at
        extra={
            "scores_fingerprint": scores_fp,
            "threshold": cfg.scoring.threshold,
        },
        observe=component_count(),
    )
    if hit:
        cached.append("components")

    stats["n_signatures"] = ckpt.read_manifest("signatures")["rows"]
    stats["n_candidate_pairs"] = ckpt.read_manifest("candidate_pairs")["rows"]
    stats["n_components"] = ckpt.read_manifest("components")["n_components"]
    if cfg.expire_keep_last is not None:
        for stage in STAGES:
            ckpt.expire_snapshots(stage, keep_last=cfg.expire_keep_last)
    return PipelineResult(sigs, pairs, scores, comps, cached, stats)
