"""Incremental pipeline update: score only pairs touching NEW conversations.

At 10^11 conversations a daily batch re-run re-pays the scoring UDF for
every historical pair; the only work a day of arrivals actually creates
is (new × blocked-partners). This plan updates a completed pipeline
checkpoint (``plans/pipeline.py``) with a batch of new transcripts:

* heavy per-row work (signature build, MinHash keys, kernel scoring)
  runs ONLY on the new conversations / new-touching pairs;
* the full-corpus work that must be global stays cheap and narrow:
  the salt-size scan over the id-only block relation, the df-map
  aggregate over tokens, and the connected-components rounds over
  id-only edges;
* every updated stage is committed as a new immutable version (the
  versioned store in ``sources/checkpoint.py``), so the previous one
  stays retained and an increment is rollback-able like an Iceberg
  table commit;
* stage commits are FAST APPENDS (``StageCheckpoint.append``): only
  the increment's rows are written as new files — O(increment) bytes
  per commit, never a rewrite of history.

Commit order is the batch pipeline's, root first; each stage reads the
one before it from the pending version's immutable files (``load`` and
``load_appended`` inside ``StageCheckpoint.commit()``), so no plan is
persisted or re-evaluated, and the new-row counts in ``stats`` are the
manifests' ``appended.rows``:

1. append the signatures of the conversations not already stored;
2. append the block keys of the appended signatures;
3. salt and pair-join over the blocks stage (now holding the new
   blocks) and append the new-touching pairs not stored yet;
4. score the appended pairs and append them — under ``rescore_all``,
   score every pair and rewrite the scores stage whole;
5. rewrite the components stage (cluster ids can change globally).

Semantics vs a from-scratch batch run (documented, pinned by tests):

* **Pair set**: identical when no block crosses the salting cap.
  Salting is applied to the UNION block relation (so new pairs use the
  same sub-block boundaries a batch run would), but previously stored
  old×old pairs are kept as-is — if a new member re-salts a hot block,
  old×old pairs inside it are not re-derived. Differences are confined
  to capped hot blocks, whose recall contract is already carried by
  the MinHash band family (SCALE.md).
* **Scores**: new pairs are scored under the df-map of the UPDATED
  corpus; historical pair scores are retained as written (df drift is
  bounded by the increment/corpus ratio — the standard freshness
  trade). ``rescore_all=True`` re-scores every pair under the current
  df-map instead, giving bit-identical parity with a batch run at the
  cost of a full scoring pass.
* Conversations whose conv_id already exists in the checkpoint are
  dropped (at-least-once redelivery safety), counted in
  ``stats["n_redelivered_dropped"]``.
* **Crash atomicity (head-pointer commit)**: the five stage commits
  run inside one ``StageCheckpoint.commit()``, so they become visible
  together in a single atomic swap of ``_head.json``. A crash anywhere
  before the swap leaves the pre-increment head valid (the new version
  directories are orphans that retention sweeps) — a failed commit
  leaves no trace, and redelivery re-applies the batch exactly once (no
  duplicate score/block rows, no conversations stranded outside the
  components stage).
* **Components staleness guard**: each components commit records the
  scores-stage fingerprint it was derived from; incremental CC (the
  contraction path) runs only when that linkage matches the current
  scores stage, else one full CC self-heals it.

``stats["phase_wall_s"]`` records wall seconds per phase, each covering
the compute its stage's write runs: ``signatures`` (build, anti-join,
append and the redelivery count), ``commit_blocks`` (MinHash keys and
their append), ``blocking`` (salting, the pair join and the pairs
append), ``commit_scores``, ``components`` and ``retention`` — the
first thing to read when an increment is slower than expected.
"""

from __future__ import annotations

import json
import logging
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import block_keys, oversized_blocks, salt_oversized
from ..operators.clustering import components, incremental_components
from ..operators.scoring import edges_from_scores, score_pairs, udf_stage_parallelism
from ..operators.signatures import build_signatures
# stage_fingerprint is not called here but stays a module attribute:
# perfbench/tracer.py wraps it by name in this module
from ..sources.checkpoint import StageCheckpoint, input_key, stage_fingerprint  # noqa: F401
from .pipeline import STAGES, PipelineConfig, PipelineResult, component_count, run_confs


def incremental_update(
    spark: SparkSession,
    new_transcripts: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
    rescore_all: bool = False,
) -> PipelineResult:
    """Merge a batch of new conversations into a completed pipeline
    checkpoint and refresh clusters. Requires every stage of a prior
    ``run_pipeline`` at ``cfg.checkpoint_dir``.

    Snapshot retention follows ``cfg.expire_keep_last``: after the
    commit, keep at most that many retained versions per stage.
    Fast-append versions share their data files by hard link, but full
    rewrites (the components stage every increment, the scores stage
    under ``rescore_all``) are corpus-sized, so unbounded retention
    would grow the checkpoint dir by O(corpus) per increment. ``None``
    keeps everything.

    The whole update runs inside the run's conf scope
    (``pipeline.run_confs``), as a batch run does."""
    with run_confs(spark, cfg):
        return _incremental_update(spark, new_transcripts, cfg, rescore_all)


def _incremental_update(
    spark: SparkSession,
    new_transcripts: DataFrame,
    cfg: PipelineConfig,
    rescore_all: bool,
) -> PipelineResult:
    ckpt = StageCheckpoint(cfg.checkpoint_dir)
    for stage in STAGES:
        m = ckpt.read_manifest(stage)
        # partial_chunks: the live version of an unfinished chunked
        # scoring loop, holding only some of the pairs' scores
        if m is None or "partial_chunks" in m:
            raise FileNotFoundError(
                f"incremental_update needs a completed pipeline checkpoint; "
                f"stage {stage!r} is missing or unfinished at "
                f"{cfg.checkpoint_dir} — run run_pipeline first"
            )
    # ---- config-drift guards: refuse BEFORE any mutation ---------------
    # captured BEFORE the scores commit replaces the manifest: decides
    # whether the historical edge set is reusable for incremental CC
    old_scores_meta = ckpt.read_manifest("scores")
    # threshold-independent, JSON-normalized (tuples → lists) — the
    # same identity the batch pipeline keys the scores stage on
    scoring_now = json.loads(json.dumps(asdict(cfg.scoring)))
    scoring_now.pop("threshold")
    stored_scoring = (old_scores_meta or {}).get("scoring_config")
    stored_kernel = (old_scores_meta or {}).get("score_kernel")
    if not rescore_all and (
        (stored_scoring is not None and stored_scoring != scoring_now)
        or (
            stored_scoring is None
            and stored_kernel is not None
            and stored_kernel != cfg.scoring.score_kernel
        )
    ):
        # appending scores computed under a drifted config (different
        # kernel, but equally a different min_df / max_vocab /
        # soft-TFIDF threshold / embedding seed — anything the batch
        # cache identity covers) next to historical rows would mix
        # incomparable values in one column — and the commit would
        # rewrite the manifest's config, hiding the mix from every
        # later run. (A THRESHOLD change is fine: scores are
        # threshold-independent; it just forces one full CC below.)
        # Pre-upgrade checkpoints record only score_kernel; the guard
        # falls back to comparing that alone.
        raise ValueError(
            f"incremental_update scoring config {scoring_now} differs "
            f"from the config the checkpoint's scores were computed "
            f"with {stored_scoring or {'score_kernel': stored_kernel}}; "
            "pass rescore_all=True to re-score every pair under the "
            "new config (or keep the checkpoint's)"
        )
    blocks_meta0 = ckpt.read_manifest("blocks")
    blocking_now = asdict(cfg.blocking)
    stored_blocking = (blocks_meta0 or {}).get("blocking_config")
    if stored_blocking is not None and stored_blocking != blocking_now:
        # stored old blocks carry ONLY the old config's keys: keying the
        # new conversations differently silently drops every old↔new
        # pair the changed key family would have found in a batch run
        raise ValueError(
            f"incremental_update blocking config {blocking_now} differs "
            f"from the config the checkpoint's blocks were built with "
            f"{stored_blocking}; use the stored config, or rebuild via "
            "run_pipeline with the new one"
        )
    if stored_blocking is None:
        logging.getLogger(__name__).warning(
            "checkpoint's blocks manifest records no blocking_config "
            "(pre-upgrade); assuming it matches the current config — "
            "this increment records it for future drift detection"
        )

    stats: dict = {}
    phases: dict[str, float] = {}
    stats["phase_wall_s"] = phases
    _t0 = time.monotonic()

    def _mark(phase: str) -> None:
        nonlocal _t0
        now = time.monotonic()
        phases[phase] = round(phases.get(phase, 0.0) + (now - _t0), 2)
        _t0 = now

    # the increment's identity, recorded as every commit's input key
    incr_fp = f"incr:{input_key(new_transcripts)}"
    old_sigs = ckpt.load(spark, "signatures")
    old_pairs = ckpt.load(spark, "candidate_pairs")
    old_comps_meta = ckpt.read_manifest("components")
    score_extra = {
        "score_kernel": cfg.scoring.score_kernel,
        "threshold": cfg.scoring.threshold,
        "scoring_config": scoring_now,
        "rescore_all": bool(rescore_all),
    }

    # the five stage commits below become visible in ONE head swap at the
    # end of this block; an exception anywhere inside leaves the
    # pre-increment head in place. Each stage appends its rows, and the
    # next stage reads them back from the pending version's files.
    with ckpt.commit():
        # ---- signatures: UDF work on NEW conversations only ------------
        with udf_stage_parallelism(spark):
            # at-least-once redelivery: already-known conversations are frozen
            sigs = ckpt.append(
                "signatures",
                build_signatures(new_transcripts).join(
                    old_sigs.select("conv_id"), "conv_id", "left_anti"
                ),
                input_fingerprint=incr_fp,
            )
        stats["n_new_convs"] = ckpt.read_manifest("signatures")["appended"]["rows"]
        # raw distinct ids minus the survivors, a query of its own: AQE
        # drops an observation under the anti-join's shuffle when empty
        stats["n_redelivered_dropped"] = (
            new_transcripts.select("conv_id").distinct().count() - stats["n_new_convs"]
        )
        new_sigs = ckpt.load_appended(spark, "signatures")
        _mark("signatures")

        # ---- blocks: MinHash keys for the new conversations ------------
        with udf_stage_parallelism(spark):
            blocks = ckpt.append(
                "blocks",
                block_keys(new_sigs, cfg.blocking),
                input_fingerprint=incr_fp,
                extra={"blocking_config": blocking_now},
            )
        _mark("commit_blocks")

        # ---- candidate pairs: new × touched blocks of the union --------
        # the stored blocks stage stays UNSALTED (as in the batch pipeline —
        # salting is a pair-generation concern); salt a join-local view of
        # the union so sub-block boundaries match what a batch run over it
        # would use, without baking '#salt' suffixes into the stage
        join_blocks = blocks
        pairs_extra = {}
        if cfg.blocking.max_block_size:
            cap = cfg.blocking.max_block_size
            pairs_extra["max_block_size"], hot = oversized_blocks(blocks, cap)
            join_blocks = salt_oversized(blocks, cap, hot)
        new_side = join_blocks.join(new_sigs.select("conv_id"), "conv_id")
        touched_keys = new_side.select("block_key").distinct()
        # members of touched blocks only — untouched old blocks are never
        # joined (the whole point: per-increment join work is O(new × cap))
        touched = join_blocks.join(touched_keys, "block_key")
        cand = (
            new_side.select(F.col("conv_id").alias("a"), "block_key")
            .join(
                touched.select(F.col("conv_id").alias("b"), "block_key"),
                "block_key",
            )
            .filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("left_id"),
                F.greatest("a", "b").alias("right_id"),
            )
            .dropDuplicates(["left_id", "right_id"])
        )
        pairs = ckpt.append(
            "candidate_pairs",
            cand.join(old_pairs, ["left_id", "right_id"], "left_anti"),
            input_fingerprint=incr_fp,
            extra=pairs_extra,
        )
        stats["n_new_pairs"] = ckpt.read_manifest("candidate_pairs")["appended"]["rows"]
        _mark("blocking")

        # ---- scores: the new pairs, or every pair under rescore_all ----
        # both score under the df-map of the UPDATED corpus; the scores
        # write is where the kernels and the df-map build actually EXECUTE
        to_score = pairs if rescore_all else ckpt.load_appended(spark, "candidate_pairs")
        commit_scores = ckpt.write if rescore_all else ckpt.append
        with udf_stage_parallelism(spark):
            scores = commit_scores(
                "scores",
                score_pairs(spark, to_score, sigs, cfg.scoring),
                input_fingerprint=incr_fp,
                extra=score_extra,
            )
        _mark("commit_scores")

        # ---- clustering -------------------------------------------------
        # Default path: CONTRACTION — old components become supernodes
        # and CC runs only over the increment's edges (O(increment),
        # identical output to a full run because old edges are unchanged
        # and labels are min-composable; see operators/clustering.py).
        # Falls back to full CC when the historical edge set is not
        # reusable: rescore_all, or a changed threshold/kernel.
        # The threshold is compared against the COMPONENTS manifest — the
        # stage the threshold actually shaped — never the scores manifest:
        # a batch threshold retune cache-HITs scores (their extras keep the
        # original threshold) while rebuilding components at the new one,
        # so the scores-side record goes stale exactly when it matters. A
        # pre-upgrade components manifest (no threshold recorded) fails
        # the comparison and self-heals via one full CC.
        same_operating_point = (
            old_scores_meta is not None
            and old_comps_meta is not None
            and old_comps_meta.get("threshold") == cfg.scoring.threshold
            and old_scores_meta.get("score_kernel") == cfg.scoring.score_kernel
        )
        # staleness guard: incremental CC is only sound if the stored
        # components reflect the PRE-append scores state, as the batch
        # (input_fingerprint) and every commit (scores_fingerprint)
        # record it. A break in that linkage (older-format checkpoint,
        # manual stage surgery) self-heals via one full CC.
        comps_linked = (
            old_comps_meta is not None
            and old_scores_meta is not None
            and (
                old_comps_meta.get("scores_fingerprint")
                or old_comps_meta.get("input_fingerprint")
            )
            == old_scores_meta.get("output_fingerprint")
        )
        if rescore_all or not same_operating_point or not comps_linked:
            stats["components_mode"] = "full"
            stats["components_full_reason"] = (
                "rescore_all" if rescore_all
                else "operating_point_changed" if not same_operating_point
                else "components_scores_linkage_broken"
            )
            comps_df = components(
                sigs.select("conv_id"),
                edges_from_scores(scores, cfg.scoring.threshold),
            )
        else:
            stats["components_mode"] = "incremental"
            comps_df = incremental_components(
                ckpt.load(spark, "components"),
                new_sigs.select("conv_id"),
                edges_from_scores(
                    ckpt.load_appended(spark, "scores"), cfg.scoring.threshold
                ),
            )
        comps = ckpt.write(
            "components",
            comps_df,
            input_fingerprint=incr_fp,
            # linkage for the NEXT increment's staleness guard: the
            # scores state (post-commit, read from the pending version)
            # these components were derived from, and the threshold they
            # were built at (the operating-point check reads it from
            # here — see same_operating_point above)
            extra={
                "scores_fingerprint": ckpt.read_manifest("scores")[
                    "output_fingerprint"
                ],
                "threshold": cfg.scoring.threshold,
            },
            observe=component_count(),
        )
    _mark("components")
    # maintenance: each compaction is its own content-preserving commit
    if cfg.compact_above_files is not None:
        compactions = {}
        # Stages FULLY REWRITTEN this increment are exempt: their next
        # increment's ckpt.write replaces every file regardless, so a
        # post-commit compaction is a read+rewrite+fingerprint scan the
        # very next commit throws away — and if the rewrite itself emits
        # more than compact_above_files part files (shuffle_partitions >
        # bound), EVERY increment would pay that tax. components is
        # rewritten every increment; under rescore_all, scores are too.
        rewritten = {"scores", "components"} if rescore_all else {"components"}
        for stage in STAGES:
            if stage not in rewritten and len(ckpt._data_files(stage)) > cfg.compact_above_files:
                res = ckpt.compact(spark, stage)
                # compact() may decline (a stage whose files already
                # match its target layout): record and reload only
                # stages it actually rewrote
                if res["compacted"]:
                    compactions[stage] = res
        if compactions:
            stats["compactions"] = compactions
            # the stage handles resolved above read the pre-compaction
            # versions, which retention may expire; re-load any
            # compacted stage so the returned plans read the live one
            if "signatures" in compactions:
                sigs = ckpt.load(spark, "signatures")
            if "candidate_pairs" in compactions:
                pairs = ckpt.load(spark, "candidate_pairs")
            if "scores" in compactions:
                scores = ckpt.load(spark, "scores")
    if cfg.expire_keep_last is not None:
        for stage in STAGES:
            ckpt.expire_snapshots(stage, keep_last=cfg.expire_keep_last)
    _mark("retention")

    stats["n_signatures"] = ckpt.read_manifest("signatures")["rows"]
    stats["n_candidate_pairs"] = ckpt.read_manifest("candidate_pairs")["rows"]
    stats["n_components"] = ckpt.read_manifest("components")["n_components"]
    return PipelineResult(sigs, pairs, scores, comps, [], stats)
