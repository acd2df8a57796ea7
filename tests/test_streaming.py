"""Full-pipeline stream: parquet drops of closed conversations through
``start_pipeline_stream`` equal one batch run, a replay is a no-op, and
the founding guard survives crashes around the first commit."""

from poi_name_matching_spark.data import generate_transcripts

SEED = 33


def test_full_pipeline_stream_matches_batch_and_replay_is_noop(
    spark, tmp_path
):
    """The full-pipeline stream driver (foreachBatch → incremental_update,
    first batch bootstraps run_pipeline): clusters after draining the
    drops equal a single batch run over the union, and replaying every
    drop from a fresh stream checkpoint (full redelivery) changes
    nothing — exactly-once per conversation."""
    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
    from poi_name_matching_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint
    from poi_name_matching_spark.streaming import start_pipeline_stream

    res = generate_transcripts(n_convs=90, seed=SEED)
    convs = sorted({r[0] for r in res.rows})
    # drops carry WHOLE conversations (the module's input contract)
    groups = [set(convs[:30]), set(convs[30:60]), set(convs[60:])]
    src = tmp_path / "drops"
    src.mkdir()
    full = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    for i, ids in enumerate(groups):
        full.filter(full.conv_id.isin(ids)).coalesce(1).write.parquet(
            str(src / f"drop_{i}")
        )

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "pipe"))
    q = start_pipeline_stream(
        spark, str(src) + "/*/", cfg, str(tmp_path / "sck"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(600)

    def clusters(comps):
        from collections import defaultdict

        g = defaultdict(set)
        for r in comps.collect():
            g[r["component_id"]].add(r["conv_id"])
        return {frozenset(v) for v in g.values()}

    ck = StageCheckpoint(cfg.checkpoint_dir)
    got = clusters(ck.load(spark, "components"))
    batch = run_pipeline(
        spark, full, PipelineConfig(checkpoint_dir=str(tmp_path / "batch"))
    )
    assert got == clusters(batch.components)
    fp_before = {
        s: ck.read_manifest(s)["output_fingerprint"]
        for s in ("signatures", "blocks", "candidate_pairs", "scores")
    }

    # full redelivery: fresh STREAM checkpoint, same drops, same pipeline
    # checkpoint — every batch must be a no-op commit
    q2 = start_pipeline_stream(
        spark, str(src) + "/*/", cfg, str(tmp_path / "sck2"),
        max_files_per_trigger=1,
    )
    q2.awaitTermination(600)
    for s, fp in fp_before.items():
        assert ck.read_manifest(s)["output_fingerprint"] == fp, s
    assert clusters(ck.load(spark, "components")) == got


def test_pipeline_batch_apply_refuses_partial_checkpoint(spark, tmp_path):
    """A checkpoint with SOME stages missing (unhealable crash debris)
    must never trigger the single-batch bootstrap — that would rebuild
    the clusters from one micro-batch and silently drop every
    previously-applied conversation. The damaged checkpoint is left for
    the operator."""
    import shutil

    import pytest as _pytest

    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
    from poi_name_matching_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint
    from poi_name_matching_spark.streaming.pipeline import (
        apply_transcript_batch,
    )

    res = generate_transcripts(n_convs=40, seed=4)
    full = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    convs = sorted({r[0] for r in res.rows})
    p1 = full.filter(full.conv_id.isin(set(convs[:30])))
    p2 = full.filter(~full.conv_id.isin(set(convs[:30])))
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "pipe"))
    run_pipeline(spark, p1, cfg)
    ck = StageCheckpoint(cfg.checkpoint_dir)
    # unhealable debris: a stage dir destroyed entirely (no snapshot to
    # restore from — expire everything first)
    for s in ("scores",):
        ck.expire_snapshots(s, keep_last=0)
    shutil.rmtree(tmp_path / "pipe" / "scores")
    with _pytest.raises(FileNotFoundError, match="run_pipeline first"):
        apply_transcript_batch(p2, cfg)
    # prior conversations' stages untouched by the refused batch
    assert ck.read_manifest("signatures")["rows"] == 30


def test_crashed_bootstrap_resumes_on_replay(spark, tmp_path):
    """A founding run that dies between stage commits must not wedge the
    stream: the replayed batch is recognized by the signatures
    manifest carrying its fingerprint and RESUMES run_pipeline
    (committed stages cache-hit; exactly-once)."""
    import shutil

    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
    from poi_name_matching_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint
    from poi_name_matching_spark.streaming.pipeline import (
        apply_transcript_batch,
    )

    res = generate_transcripts(n_convs=30, seed=8)
    batch = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "pipe"))
    # simulate the crash: a full founding run, then destroy the LAST
    # three stages (signatures+blocks committed, rest not)
    run_pipeline(spark, batch, cfg)
    ck = StageCheckpoint(cfg.checkpoint_dir)
    sig_mtime = ck.manifest_path("signatures").stat().st_mtime_ns
    for s in ("candidate_pairs", "scores", "components"):
        shutil.rmtree(tmp_path / "pipe" / s)

    stats = apply_transcript_batch(batch, cfg)  # the replay
    assert stats is not None
    # resumed, not re-founded: the committed signatures stage cache-hit
    assert ck.manifest_path("signatures").stat().st_mtime_ns == sig_mtime
    assert all(ck.read_manifest(s) for s in (
        "signatures", "blocks", "candidate_pairs", "scores", "components"))
    assert ck.read_manifest("components")["rows"] == 30


def test_lost_pipeline_checkpoint_with_live_offsets_raises(spark, tmp_path):
    """Stream offsets surviving a lost pipeline checkpoint must fail
    LOUDLY: re-founding from a mid-stream batch would silently drop
    every earlier conversation."""
    import shutil

    import pytest as _pytest

    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
    from poi_name_matching_spark.plans.pipeline import PipelineConfig
    from poi_name_matching_spark.streaming.pipeline import (
        apply_transcript_batch,
    )

    res = generate_transcripts(n_convs=20, seed=9)
    batch = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "pipe"))
    marker = tmp_path / "sck" / "_pipeline_founded.json"
    marker.parent.mkdir(parents=True)
    assert apply_transcript_batch(batch, cfg, founded_marker=marker)
    assert marker.exists()  # founding recorded in the STREAM checkpoint
    shutil.rmtree(tmp_path / "pipe")  # pipeline checkpoint lost
    with _pytest.raises(RuntimeError, match="founded before"):
        apply_transcript_batch(batch, cfg, founded_marker=marker)


def test_founding_marker_established_idempotently(spark, tmp_path):
    """The sentinel must arm no matter HOW the checkpoint got founded:
    after a resumed (crashed) founding, and on the first batch a new
    stream checkpoint applies over a pre-existing pipeline checkpoint —
    one disarmed case re-opens the silent re-founding hole."""
    import shutil

    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
    from poi_name_matching_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from poi_name_matching_spark.streaming.pipeline import (
        apply_transcript_batch,
    )

    res = generate_transcripts(n_convs=24, seed=11)
    batch = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "pipe"))

    # case 1: founding crashed between stage commits, marker never
    # written; the resumed replay must still arm the guard
    run_pipeline(spark, batch, cfg)
    for s in ("scores", "components"):
        shutil.rmtree(tmp_path / "pipe" / s)
    m1 = tmp_path / "sck1" / "_pipeline_founded.json"
    m1.parent.mkdir(parents=True)
    apply_transcript_batch(batch, cfg, founded_marker=m1)  # resume path
    assert m1.exists()

    # case 2: fresh STREAM checkpoint over the (complete) pipeline
    # checkpoint — incremental path must arm its own marker too
    m2 = tmp_path / "sck2" / "_pipeline_founded.json"
    m2.parent.mkdir(parents=True)
    apply_transcript_batch(batch, cfg, founded_marker=m2)  # redelivery noop
    assert m2.exists()
