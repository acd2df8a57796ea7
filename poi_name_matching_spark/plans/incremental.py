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
  per commit, never a rewrite of history. Only ``rescore_all`` (full
  df-map parity) and the components stage (cluster ids can change
  globally) rewrite whole stages.

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

``stats["phase_wall_s"]`` records wall seconds per phase (signatures,
blocking, scoring, commit, components, retention) — the per-stage
metrics the north rule asks each checkpoint commit to carry, and the
first thing to read when an increment is slower than expected.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import block_keys, oversized_blocks, salt_oversized
from ..operators.clustering import components, incremental_components
from ..operators.scoring import edges_from_scores, score_pairs
from ..operators.signatures import build_signatures
# stage_fingerprint is not called here but stays a module attribute:
# perfbench/tracer.py wraps it by name in this module
from ..sources.checkpoint import StageCheckpoint, input_key, stage_fingerprint  # noqa: F401
from .pipeline import STAGES, PipelineConfig, PipelineResult, component_count


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
    Fast-append versions (the default path) share their data files by
    hard link, but full rewrites (``rescore_all``, and the components
    stage every increment) are corpus-sized, so unbounded retention
    would grow the checkpoint dir by O(corpus) per increment. ``None``
    keeps everything."""
    if cfg.shuffle_partitions:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(cfg.shuffle_partitions)
        )
    ckpt = StageCheckpoint(cfg.checkpoint_dir)
    for stage in STAGES:
        if ckpt.read_manifest(stage) is None:
            raise FileNotFoundError(
                f"incremental_update needs a completed pipeline checkpoint; "
                f"stage {stage!r} is missing at {cfg.checkpoint_dir} — run "
                "run_pipeline first"
            )
    # ---- config-drift guards: refuse BEFORE any mutation ---------------
    from dataclasses import asdict

    scores_meta0 = ckpt.read_manifest("scores")
    # threshold-independent, JSON-normalized (tuples → lists) — the
    # same identity the batch pipeline keys the scores stage on
    scoring_now = json.loads(json.dumps(asdict(cfg.scoring)))
    scoring_now.pop("threshold")
    stored_scoring = (scores_meta0 or {}).get("scoring_config")
    stored_kernel = (scores_meta0 or {}).get("score_kernel")
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
        import logging

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

    from ..operators.scoring import udf_stage_parallelism

    # the increment's identity, recorded as every commit's input key
    in_fp = input_key(new_transcripts)
    old_sigs = ckpt.load(spark, "signatures")
    old_blocks = ckpt.load(spark, "blocks")
    old_pairs = ckpt.load(spark, "candidate_pairs")
    # captured BEFORE the scores commit replaces the manifest: decides
    # whether the historical edge set is reusable for incremental CC
    old_scores_meta = ckpt.read_manifest("scores")
    old_comps_meta = ckpt.read_manifest("components")

    # every .persist() handle created below lands in this list and is
    # released in the finally: a FAILED increment (e.g. the append
    # guard firing on a fully-redelivered batch, retried by a
    # long-lived driver) must not pin cached copies of the increment's
    # signatures/blocks/pairs in executor storage
    persisted: list[DataFrame] = []
    try:
        # ---- signatures: UDF work on NEW conversations only ----------------
        with udf_stage_parallelism(spark):
            incoming = build_signatures(new_transcripts)
            # at-least-once redelivery: already-known conversations are frozen
            new_sigs = incoming.join(
                old_sigs.select("conv_id"), "conv_id", "left_anti"
            ).persist()
            persisted.append(new_sigs)
            n_new = new_sigs.count()
        stats["n_new_convs"] = n_new
        # redelivery count WITHOUT re-running the signature UDF: distinct
        # conv ids in the raw increment minus the survivors
        stats["n_redelivered_dropped"] = (
            new_transcripts.select("conv_id").distinct().count() - n_new
        )
        _mark("signatures")

        all_sigs = old_sigs.unionByName(new_sigs)

        # ---- blocking: keys for new convs; salting over the UNION ----------
        with udf_stage_parallelism(spark):
            # persisted: materialized once (as part of the union scan below)
            # then reused by the fast-append commit of the blocks stage
            new_blocks = block_keys(new_sigs, cfg.blocking).persist()
            persisted.append(new_blocks)
        blocks_all = old_blocks.unionByName(new_blocks)
        # the stored blocks stage stays UNSALTED (as in the batch pipeline —
        # salting is a pair-generation concern); salt a join-local view so
        # sub-block boundaries match what a batch run over the union would
        # use, without baking '#salt' suffixes into the next increment's input
        join_blocks = blocks_all
        pairs_extra = {}
        if cfg.blocking.max_block_size:
            # the size scan runs over the id-only union relation (narrow,
            # cheap); keep the persisted handle so it can be released below
            blocks_cached = blocks_all.persist()
            persisted.append(blocks_cached)
            cap = cfg.blocking.max_block_size
            pairs_extra["max_block_size"], hot = oversized_blocks(blocks_cached, cap)
            join_blocks = salt_oversized(blocks_cached, cap, hot)
        new_ids = new_sigs.select("conv_id")
        new_side = join_blocks.join(new_ids, "conv_id")
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
        new_pairs = cand.join(
            old_pairs, ["left_id", "right_id"], "left_anti"
        ).persist()
        persisted.append(new_pairs)
        # this count MATERIALIZES the MinHash-UDF blocking work — it must run
        # under the advisory guard (the config is read at execution time;
        # plan construction above is not enough — see udf_stage_parallelism)
        with udf_stage_parallelism(spark):
            stats["n_new_pairs"] = new_pairs.count()
        pairs_all = old_pairs.unionByName(new_pairs)
        _mark("blocking")

        # ---- scoring + commit ----------------------------------------------
        score_extra = {
            "score_kernel": cfg.scoring.score_kernel,
            "threshold": cfg.scoring.threshold,
            "scoring_config": scoring_now,
            "rescore_all": bool(rescore_all),
        }
        # the five stage commits below become visible in ONE head swap at
        # the end of this block; an exception anywhere inside leaves the
        # pre-increment head in place
        with ckpt.commit():
            if rescore_all:
                # full-rewrite path: every pair is rescored under the
                # updated df-map, so every stage is a full rewrite. Each
                # write goes to a new version directory, so the union
                # plans keep reading the versions they were built on.
                with udf_stage_parallelism(spark):
                    scores_all = score_pairs(spark, pairs_all, all_sigs, cfg.scoring)
                    sigs = ckpt.write(
                        "signatures",
                        all_sigs,
                        input_fingerprint=f"incr:{in_fp}",
                    )
                    _mark("commit_signatures")
                    blocks = ckpt.write(
                        "blocks",
                        blocks_all,
                        input_fingerprint=f"incr:{in_fp}",
                        extra={"blocking_config": blocking_now},
                    )
                    _mark("commit_blocks")
                    pairs = ckpt.write(
                        "candidate_pairs",
                        pairs_all,
                        input_fingerprint=f"incr:{in_fp}",
                        extra=pairs_extra,
                    )
                    _mark("commit_candidate_pairs")
                    # the scores write is where the scoring kernels (and the
                    # df-map build over the updated corpus) actually EXECUTE
                    scores = ckpt.write(
                        "scores",
                        scores_all,
                        input_fingerprint=f"incr:{in_fp}",
                        extra=score_extra,
                    )
                    _mark("commit_scores")
            else:
                # fast-append path (the default, and the 100 TB shape): each
                # stage commits ONLY the increment's rows as new files —
                # O(increment) bytes written per commit, history untouched.
                #
                # Commit order (leaf-first) is kept for the expect_rows
                # guards: each stage is committed before any stage its
                # increment's lineage reads, so a persisted increment that
                # re-evaluated at write time would fail its row-count check
                # instead of landing silently:
                #   scores          (reads signatures + new_pairs)   first,
                #   candidate_pairs (reads blocks/pairs/signatures)  second,
                #   blocks          (reads signatures via new_sigs)  third,
                #   signatures      (reads the signatures stage)     last.
                with udf_stage_parallelism(spark):
                    new_scores = score_pairs(spark, new_pairs, all_sigs, cfg.scoring)
                    scores = ckpt.append(
                        "scores",
                        new_scores,
                        input_fingerprint=f"incr:{in_fp}",
                        extra=score_extra,
                        expect_rows=stats["n_new_pairs"],
                    )
                    _mark("commit_scores")
                pairs = ckpt.append(
                    "candidate_pairs",
                    new_pairs,
                    input_fingerprint=f"incr:{in_fp}",
                    extra=pairs_extra,
                    expect_rows=stats["n_new_pairs"],
                )
                _mark("commit_candidate_pairs")
                with udf_stage_parallelism(spark):
                    n_new_blocks = new_blocks.count()  # cached; cheap
                    blocks = ckpt.append(
                        "blocks",
                        new_blocks,
                        input_fingerprint=f"incr:{in_fp}",
                        expect_rows=n_new_blocks,
                        extra={"blocking_config": blocking_now},
                    )
                    _mark("commit_blocks")
                    sigs = ckpt.append(
                        "signatures",
                        new_sigs,
                        input_fingerprint=f"incr:{in_fp}",
                        expect_rows=n_new,
                    )
                    _mark("commit_signatures")

            # ---- clustering -------------------------------------------------
            # Default path: CONTRACTION — old components become supernodes
            # and CC runs only over the increment's edges (O(increment),
            # identical output to a full run because old edges are unchanged
            # and labels are min-composable; see operators/clustering.py).
            # Inputs come from the appended FILES of the pending versions plus
            # the not-yet-touched components stage. Falls back to full CC
            # when the historical edge set is not reusable: rescore_all, or a
            # changed threshold/kernel.
            # the threshold is compared against the COMPONENTS manifest — the
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
            # components actually reflect the PRE-append scores state. The
            # batch pipeline keys the components stage on the scores output
            # fingerprint (input_fingerprint); incremental commits record it
            # explicitly (scores_fingerprint). A break in that linkage
            # (older-format checkpoint, manual stage surgery) self-heals via
            # one full CC.
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
                    "rescore_all"
                    if rescore_all
                    else (
                        "operating_point_changed"
                        if not same_operating_point
                        else "components_scores_linkage_broken"
                    )
                )
                comps_df = components(
                    sigs.select("conv_id"),
                    edges_from_scores(scores, cfg.scoring.threshold),
                )
            else:
                stats["components_mode"] = "incremental"
                comps_df = incremental_components(
                    ckpt.load(spark, "components"),
                    ckpt.load_appended(spark, "signatures").select("conv_id"),
                    edges_from_scores(
                        ckpt.load_appended(spark, "scores"), cfg.scoring.threshold
                    ),
                )
            comps = ckpt.write(
                "components",
                comps_df,
                input_fingerprint=f"incr:{in_fp}",
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
        # persisted increment handles are released by the enclosing finally
        # (success AND failure paths — a retried failed increment must not
        # pin cached copies in executor storage). Maintenance runs after
        # the commit; each compaction is its own content-preserving commit.
        if cfg.compact_above_files is not None:
            compactions = {}
            # Stages FULLY REWRITTEN this increment are exempt: their next
            # increment's ckpt.write replaces every file regardless, so a
            # post-commit compaction is a read+rewrite+fingerprint scan the
            # very next commit throws away — and if the rewrite itself emits
            # more than compact_above_files part files (shuffle_partitions >
            # bound), EVERY increment would pay that tax. components is
            # rewritten every increment; under rescore_all, all stages are.
            rewritten = set(STAGES) if rescore_all else {"components"}
            for stage in STAGES:
                if stage in rewritten:
                    continue
                if len(ckpt._data_files(stage)) > cfg.compact_above_files:
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
    finally:
        for _df in persisted:
            _df.unpersist()
