"""Streaming record linkage: the FULL pipeline per micro-batch.

A file-source ``readStream`` watches a directory of transcript parquet
drops. Each micro-batch is merged into the pipeline checkpoint with
``plans/incremental.incremental_update``, so blocking keys, pair scores
and connected components stay current as conversations arrive. Every
commit inherits the incremental path's guarantees: one atomic head swap
per multi-stage commit, redelivery anti-joins and retained stage
versions. The first non-empty batch founds the checkpoint with a full
``run_pipeline``.

Exactly-once: Structured Streaming replays a micro-batch after a crash
(at-least-once delivery); ``incremental_update`` makes the replay a
no-op commit (already-known conversations are anti-joined away, a fully
redelivered batch appends zero rows, and a crash mid-commit never
swapped the head, so the replay applies to the pre-crash state) — so clusters end up
exactly-once per conversation without relying on the sink being
idempotent by luck.

**Input contract — CLOSED conversations only.** ``incremental_update``
freezes a conv_id on first sight (that is what makes redelivery safe),
so a conversation whose turns straggle across micro-batches would be
signed from its first partial slice and never updated. Feed batches of
complete conversations: append whole-conversation files to the watched
directory, so each parquet drop carries only finished conversations.
Sessionizing open conversations is the upstream producer's job. This is
the same contract Iceberg-based CDC pipelines put on their upsert key.

Engine capability beyond the reference (batch-only, SURVEY.md §2.8).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..plans.incremental import incremental_update
from ..plans.pipeline import STAGES, PipelineConfig, run_pipeline
from ..sources.checkpoint import StageCheckpoint, input_key
from .sentinel import HadoopSentinel, make_sentinel

TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def apply_transcript_batch(
    batch: DataFrame,
    cfg: PipelineConfig,
    founded_marker=None,
) -> dict | None:
    """Merge one (batch) DataFrame of closed conversations into the
    pipeline checkpoint: a genuinely FRESH checkpoint (every stage
    missing) is founded with ``run_pipeline``; everything else goes
    through ``incremental_update``. Returns the run's stats (None for
    an empty batch). Usable directly for manual micro-batching outside
    Structured Streaming.

    Crash handling around the bootstrap itself: a partially-committed
    founding run (some stages written, the driver died between stage
    commits) is recognized by the signatures manifest carrying THIS
    batch's input key (founding runs key signatures on
    ``input_key(batch)``, the function ``run_pipeline`` records with;
    increments use an ``incr:`` prefix) —
    the replayed batch then RESUMES ``run_pipeline``, whose
    fingerprint-keyed stage cache skips the committed stages
    (exactly-once). Any other partially-missing checkpoint is foreign
    damage: it is handed to the incremental path, which raises a clear
    error — never rebuilt from one micro-batch, which would silently
    drop every previously-applied conversation.

    ``founded_marker``: the founding sentinel owned by the STREAM
    checkpoint (``start_pipeline_stream`` wires it) — a
    ``streaming.sentinel.HadoopSentinel``, or a path to build one on.
    If the sentinel exists but every pipeline
    stage is missing, the pipeline checkpoint was lost while the
    stream's offsets survived — founding again from a mid-stream batch
    would silently drop the prior corpus, so this raises instead. The
    sentinel is established idempotently after ANY successful
    application that leaves the checkpoint complete, so a crash before
    the first write, a resumed founding, or a checkpoint founded
    outside this stream cannot disarm the guard."""
    if batch.isEmpty():
        return None
    spark = batch.sparkSession
    if isinstance(founded_marker, (str, Path)):
        founded_marker = HadoopSentinel(spark, str(founded_marker))
    ck = StageCheckpoint(cfg.checkpoint_dir)
    missing = [s for s in STAGES if ck.read_manifest(s) is None]
    if len(missing) == len(STAGES):
        if founded_marker is not None and founded_marker.exists():
            raise RuntimeError(
                f"pipeline checkpoint at {cfg.checkpoint_dir} is empty but "
                f"the stream checkpoint says it was founded before "
                f"({founded_marker}): the stream's offsets would skip the "
                "already-consumed drops, so re-founding from this batch "
                "would silently drop every earlier conversation. Restore "
                "the pipeline checkpoint, or delete the STREAM checkpoint "
                "to replay all drops from scratch."
            )
        stats = run_pipeline(spark, batch, cfg).stats
    else:
        sig_fp = (ck.read_manifest("signatures") or {}).get(
            "input_fingerprint"
        )
        # crashed-founding resume: only meaningful on a PARTIAL
        # checkpoint, and only a FOUNDING run writes the raw batch key
        # (increments use an 'incr:' prefix — skip computing the key,
        # a full-batch scan for a non-file batch, whenever the prefix
        # rules a match out)
        if (
            missing
            and sig_fp is not None
            and not sig_fp.startswith("incr:")
            and sig_fp == input_key(batch)
        ):
            # our own founding run of THIS batch crashed between stage
            # commits — resume it (completed stages cache-hit)
            stats = run_pipeline(spark, batch, cfg).stats
        else:
            stats = incremental_update(spark, batch, cfg).stats
    # establish the founding sentinel IDEMPOTENTLY: whenever the
    # checkpoint is complete and the marker absent — not only on the one
    # uncrashed founding call. Covers a crash between the founding's
    # stage commits and the marker write, a resumed founding, a
    # checkpoint founded manually (or under a previous stream
    # checkpoint), and a fresh stream checkpoint pointed at an existing
    # pipeline checkpoint; one disarmed case would re-open the silent
    # re-founding hole the marker guards against.
    if founded_marker is not None and not founded_marker.exists():
        founded_marker.write({"checkpoint_dir": str(cfg.checkpoint_dir)})
    return stats


def start_pipeline_stream(
    spark: SparkSession,
    source_path: str,
    cfg: PipelineConfig,
    checkpoint_path: str,
    max_files_per_trigger: int = 4,
):
    """Wire the full-pipeline stream over a watched transcript-parquet
    directory; returns the StreamingQuery (caller awaits/stops).
    ``checkpoint_path`` is the STREAM's offset checkpoint (Spark's),
    separate from ``cfg.checkpoint_dir`` (the pipeline's stage store).
    ``availableNow`` drains everything currently in the directory and
    stops — re-run on a schedule, or swap the trigger for continuous
    micro-batching.

    The founding sentinel lives next to the stream's offsets via the
    Hadoop FileSystem API (``streaming.sentinel.make_sentinel``), so the
    lost-pipeline-checkpoint guard works on HDFS/S3/local alike —
    scheme-less paths resolve against ``fs.defaultFS`` exactly as the
    ``checkpointLocation`` itself does. An unreachable gateway or
    filesystem raises here, before the stream starts."""
    import logging

    log = logging.getLogger(__name__)
    founded = make_sentinel(spark, checkpoint_path)

    def _apply(batch: DataFrame, epoch: int) -> None:
        stats = apply_transcript_batch(batch, cfg, founded_marker=founded)
        if stats is not None:
            # surface the per-batch stats the return value carries in
            # batch mode: redelivery drops (the ONLY signal of an
            # upstream closed-conversation contract violation),
            # compactions, phase timings
            log.info("pipeline stream epoch %d stats: %s", epoch, stats)

    stream = read_transcript_stream(
        spark, source_path, max_files_per_trigger=max_files_per_trigger
    )
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
        .trigger(availableNow=True)
        .start()
    )
