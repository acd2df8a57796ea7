"""Incremental pipeline update vs a from-scratch batch run: identical
pair universe, bit-identical scores under rescore_all, retained stage
versions, redelivery safety, and crash behaviour of the head-pointer
commit."""

import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.data import generate_transcripts
from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
from poi_name_matching_spark.plans.incremental import incremental_update
from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

N = 120


def _cfg(path):
    return PipelineConfig(checkpoint_dir=str(path))


@pytest.fixture(scope="module")
def split(spark):
    res = generate_transcripts(n_convs=N, seed=21)
    full = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    convs = sorted({r[0] for r in res.rows})
    old_ids = set(convs[: int(N * 0.75)])
    part1 = full.filter(F.col("conv_id").isin(old_ids))
    part2 = full.filter(~F.col("conv_id").isin(old_ids))
    return full, part1, part2


def _pairs(df):
    return {(r["left_id"], r["right_id"]) for r in df.collect()}


def _clusters(comps):
    from collections import defaultdict

    groups = defaultdict(set)
    for r in comps.collect():
        groups[r["component_id"]].add(r["conv_id"])
    return {frozenset(v) for v in groups.values()}


class TestIncrementalUpdate:
    def test_matches_batch_run(self, spark, tmp_path, split):
        full, part1, part2 = split
        inc_dir, batch_dir = tmp_path / "inc", tmp_path / "batch"
        run_pipeline(spark, part1, _cfg(inc_dir))
        inc = incremental_update(spark, part2, _cfg(inc_dir), rescore_all=True)
        batch = run_pipeline(spark, full, _cfg(batch_dir))

        # identical candidate-pair universe (no oversized blocks here)
        assert _pairs(inc.candidate_pairs) == _pairs(batch.candidate_pairs)
        # bit-identical scores under rescore_all (same df-map)
        inc_scores = {
            (r["left_id"], r["right_id"]): r["score"]
            for r in inc.scores.collect()
        }
        for r in batch.scores.collect():
            assert inc_scores[(r["left_id"], r["right_id"])] == r["score"]
        # identical clusters
        assert _clusters(inc.components) == _clusters(batch.components)
        assert inc.stats["n_new_convs"] == N - int(N * 0.75)
        assert inc.stats["n_redelivered_dropped"] == 0

    def test_default_mode_scores_new_pairs_and_keeps_old(
        self, spark, tmp_path, split
    ):
        full, part1, part2 = split
        d = tmp_path / "inc2"
        base = run_pipeline(spark, part1, _cfg(d))
        old_scores = {
            (r["left_id"], r["right_id"]): r["score"]
            for r in base.scores.collect()
        }
        inc = incremental_update(spark, part2, _cfg(d))
        got = {
            (r["left_id"], r["right_id"]): r["score"]
            for r in inc.scores.collect()
        }
        # historical pairs: retained exactly as written (no rescore)
        for k, v in old_scores.items():
            assert got[k] == v
        # every pair involving a new conversation is present and scored
        new_ids = {r[0] for r in part2.select("conv_id").distinct().collect()}
        assert inc.stats["n_new_pairs"] == sum(
            1 for (l, r) in got if l in new_ids or r in new_ids
        )
        # the previous stage versions are retained, not destroyed
        ck = StageCheckpoint(d)
        for stage in ("signatures", "scores", "components"):
            assert ck.snapshot_versions(stage), stage
        hist = ck.history("signatures")
        assert hist[0]["rows"] == int(N * 0.75) and hist[-1]["rows"] == N

    def test_redelivered_conversations_dropped(self, spark, tmp_path, split):
        full, part1, part2 = split
        d = tmp_path / "inc3"
        run_pipeline(spark, part1, _cfg(d))
        # redeliver a slice of part1 along with part2
        redelivered = part1.limit(0).unionByName(part2).unionByName(
            part1.join(
                part1.select("conv_id").distinct().limit(5), "conv_id"
            )
        )
        inc = incremental_update(spark, redelivered, _cfg(d))
        assert inc.stats["n_redelivered_dropped"] == 5
        assert inc.stats["n_signatures"] == N

    def test_requires_completed_checkpoint(self, spark, tmp_path, split):
        _, _, part2 = split
        with pytest.raises(FileNotFoundError, match="signatures"):
            incremental_update(spark, part2, _cfg(tmp_path / "missing"))


class TestIncrementalFastAppend:
    def test_default_mode_never_rewrites_history(self, spark, tmp_path, split):
        """The default increment is a fast-append commit: every data
        file that existed before the increment is carried into the new
        version as a hard link (same inode/mtime/size) for all four
        appended stages — the O(increment)-bytes-per-commit contract at
        10^12 turns. Only the components stage (global cluster ids) is
        rewritten."""
        import os

        full, part1, part2 = split
        d = tmp_path / "incfa"
        run_pipeline(spark, part1, _cfg(d))
        ck = StageCheckpoint(d)
        stages = ("signatures", "blocks", "candidate_pairs", "scores")

        def data_dir(s):
            return ck.manifest_path(s).parent / "data.parquet"

        before = {
            s: {f: os.stat(data_dir(s) / f) for f in ck._data_files(s)}
            for s in stages
        }
        inc = incremental_update(spark, part2, _cfg(d))
        for s in stages:
            now_files = set(ck._data_files(s))
            assert set(before[s]) < now_files, s  # files were added
            for f, st in before[s].items():
                now = os.stat(data_dir(s) / f)
                assert (st.st_mtime_ns, st.st_size, st.st_ino) == (
                    now.st_mtime_ns, now.st_size, now.st_ino
                ), f"stage {s} rewrote pre-increment file {f}"
            # the append manifest composes to exactly the full content
            m = ck.read_manifest(s)
            from poi_name_matching_spark.sources.checkpoint import (
                stage_fingerprint,
            )

            assert m["output_fingerprint"] == stage_fingerprint(
                ck.load(spark, s)
            ), s
        # increment is rollback-able: scores roll back to the base run
        base_rows = before["scores"]
        ck.rollback("scores", ck.snapshot_versions("scores")[-1])
        assert set(ck._data_files("scores")) == set(base_rows)

def test_changed_threshold_falls_back_to_full_components(
    spark, tmp_path, split
):
    """Contraction reuses the historical edge set; moving the operating
    point (threshold) invalidates it, so the increment must re-run full
    CC (and record which mode ran)."""
    from poi_name_matching_spark.operators.scoring import ScoringConfig

    full, part1, part2 = split
    d = tmp_path / "incth"
    run_pipeline(spark, part1, _cfg(d))
    base_thresh = PipelineConfig().scoring.threshold
    moved = PipelineConfig(
        checkpoint_dir=str(d),
        scoring=ScoringConfig(threshold=base_thresh + 0.07),
    )
    inc = incremental_update(spark, part2, moved)
    assert inc.stats["components_mode"] == "full"
    # and the unchanged operating point uses contraction
    d2 = tmp_path / "incth2"
    run_pipeline(spark, part1, _cfg(d2))
    inc2 = incremental_update(spark, part2, _cfg(d2))
    assert inc2.stats["components_mode"] == "incremental"


def test_fully_redelivered_batch_is_a_noop_commit(spark, tmp_path, split):
    """An increment consisting only of already-known conversations must
    commit zero rows to every stage (at-least-once redelivery safety on
    the fast-append path) and leave stage contents fingerprint-stable."""
    full, part1, part2 = split
    d = tmp_path / "incnoop"
    run_pipeline(spark, part1, _cfg(d))
    ck = StageCheckpoint(d)
    before = {
        s: ck.read_manifest(s)["output_fingerprint"]
        for s in ("signatures", "blocks", "candidate_pairs", "scores")
    }
    inc = incremental_update(spark, part1, _cfg(d))  # all redelivered
    assert inc.stats["n_new_convs"] == 0
    assert inc.stats["n_new_pairs"] == 0
    assert inc.stats["n_redelivered_dropped"] == int(N * 0.75)
    for s, fp in before.items():
        m = ck.read_manifest(s)
        assert m["output_fingerprint"] == fp, s
        assert m["appended"]["rows"] == 0, s
    # clusters unchanged
    assert inc.stats["components_mode"] == "incremental"


_STAGES = ("signatures", "blocks", "candidate_pairs", "scores", "components")


def _fps(root):
    """Every stage's output fingerprint as a FRESH checkpoint reads it."""
    ck = StageCheckpoint(root)
    return {s: ck.read_manifest(s)["output_fingerprint"] for s in _STAGES}


class TestCrashRecovery:
    """A crash anywhere in the multi-stage commit sequence must leave no
    trace once the batch is redelivered: the five stage commits swap the
    head once, so a crash before the swap leaves the pre-increment head
    and each increment applies exactly once. These pin the two crash
    windows per-stage head swaps would open: a partially-committed
    increment double-applying on redelivery, and an increment whose
    components write never ran stranding conversations outside the
    clusters."""

    def test_crash_after_scores_append_no_duplicate_scores(
        self, spark, tmp_path, split, monkeypatch
    ):
        full, part1, part2 = split
        d, clean = tmp_path / "c1", tmp_path / "c1clean"
        run_pipeline(spark, part1, _cfg(d))
        run_pipeline(spark, part1, _cfg(clean))
        before = _fps(d)
        orig = StageCheckpoint.append

        def crashing(self, stage, *a, **k):
            out = orig(self, stage, *a, **k)
            if stage == "scores":
                raise RuntimeError("simulated crash after scores commit")
            return out

        monkeypatch.setattr(StageCheckpoint, "append", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            incremental_update(spark, part2, _cfg(d))
        monkeypatch.setattr(StageCheckpoint, "append", orig)
        # the scores version was written but never named by the head
        assert _fps(d) == before

        inc = incremental_update(spark, part2, _cfg(d))
        # exactly one score row per pair — the crashed append was never
        # committed, so redelivery did not double-apply it
        dupes = (
            inc.scores.groupBy("left_id", "right_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dupes == 0
        # bit-identical to a never-crashed increment, stage by stage
        ref = incremental_update(spark, part2, _cfg(clean))
        ck, ck_ref = StageCheckpoint(d), StageCheckpoint(clean)
        for s in ("signatures", "blocks", "candidate_pairs", "scores",
                  "components"):
            assert (
                ck.read_manifest(s)["output_fingerprint"]
                == ck_ref.read_manifest(s)["output_fingerprint"]
            ), s
        assert _clusters(inc.components) == _clusters(ref.components)

    def test_crash_before_components_write_strands_no_convs(
        self, spark, tmp_path, split, monkeypatch
    ):
        full, part1, part2 = split
        d = tmp_path / "c2"
        run_pipeline(spark, part1, _cfg(d))
        before = _fps(d)
        orig = StageCheckpoint.write

        def crashing(self, stage, *a, **k):
            if stage == "components":
                raise RuntimeError("simulated crash before components")
            return orig(self, stage, *a, **k)

        monkeypatch.setattr(StageCheckpoint, "write", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            incremental_update(spark, part2, _cfg(d))
        monkeypatch.setattr(StageCheckpoint, "write", orig)

        # all four data stages wrote the increment's versions, but the
        # head still names the pre-increment ones; the redelivered batch
        # re-applies in full
        assert _fps(d) == before
        inc = incremental_update(spark, part2, _cfg(d))
        assert inc.stats["n_new_convs"] == N - int(N * 0.75)
        # every conversation is clustered — none stranded outside
        comp_ids = {r["conv_id"] for r in inc.components.collect()}
        all_ids = {r["conv_id"] for r in full.select("conv_id").distinct().collect()}
        assert comp_ids == all_ids

    def test_crashed_redelivery_of_applied_batch_rolls_nothing_back(
        self, spark, tmp_path, split, monkeypatch
    ):
        """A crashed RE-delivery of an already-applied batch must leave
        the first (successful) application in place."""
        full, part1, part2 = split
        d = tmp_path / "c3"
        run_pipeline(spark, part1, _cfg(d))
        incremental_update(spark, part2, _cfg(d))  # applied cleanly
        ck = StageCheckpoint(d)
        before = {
            s: ck.read_manifest(s)["output_fingerprint"]
            for s in ("signatures", "blocks", "candidate_pairs", "scores")
        }
        orig = StageCheckpoint.append

        def crashing(self, stage, *a, **k):
            out = orig(self, stage, *a, **k)
            if stage == "scores":
                raise RuntimeError("simulated crash on redelivery")
            return out

        monkeypatch.setattr(StageCheckpoint, "append", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            incremental_update(spark, part2, _cfg(d))
        monkeypatch.setattr(StageCheckpoint, "append", orig)

        inc = incremental_update(spark, part2, _cfg(d))
        assert inc.stats["n_new_convs"] == 0
        for s, fp in before.items():
            assert ck.read_manifest(s)["output_fingerprint"] == fp, s

    def test_broken_components_linkage_self_heals_with_full_cc(
        self, spark, tmp_path, split
    ):
        """If the components stage does not reflect the pre-append scores
        state (manual surgery, older-format checkpoint), the contraction
        path would silently drop conversations — the linkage guard must
        fall back to one full CC instead."""
        import json

        full, part1, part2 = split
        d = tmp_path / "c4"
        run_pipeline(spark, part1, _cfg(d))
        ck = StageCheckpoint(d)
        m = ck.read_manifest("components")
        m["input_fingerprint"] = "bogus-stale-linkage"
        # batch runs now record the explicit linkage key too — an
        # older-format / hand-edited checkpoint has neither intact
        m.pop("scores_fingerprint", None)
        ck.manifest_path("components").write_text(json.dumps(m))

        inc = incremental_update(spark, part2, _cfg(d))
        assert inc.stats["components_mode"] == "full"
        assert (
            inc.stats["components_full_reason"]
            == "components_scores_linkage_broken"
        )
        comp_ids = {r["conv_id"] for r in inc.components.collect()}
        all_ids = {r["conv_id"] for r in full.select("conv_id").distinct().collect()}
        assert comp_ids == all_ids
        # the repaired commit re-records the linkage: next increment can
        # go incremental again
        m2 = ck.read_manifest("components")
        assert m2["scores_fingerprint"] == ck.read_manifest("scores")[
            "output_fingerprint"
        ]

    def test_crash_mid_rescore_all_recovers_full_snapshots(
        self, spark, tmp_path, split, monkeypatch
    ):
        """The rescore_all path commits FULL rewrites; a crash
        mid-sequence must leave the pre-increment head and the
        redelivered rescore bit-identical to a never-crashed one."""
        full, part1, part2 = split
        d, clean = tmp_path / "c5", tmp_path / "c5clean"
        run_pipeline(spark, part1, _cfg(d))
        run_pipeline(spark, part1, _cfg(clean))
        before = _fps(d)
        orig = StageCheckpoint.write

        def crashing(self, stage, *a, **k):
            if stage == "scores":
                raise RuntimeError("simulated crash before scores rewrite")
            return orig(self, stage, *a, **k)

        monkeypatch.setattr(StageCheckpoint, "write", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            incremental_update(spark, part2, _cfg(d), rescore_all=True)
        monkeypatch.setattr(StageCheckpoint, "write", orig)
        assert _fps(d) == before

        inc = incremental_update(spark, part2, _cfg(d), rescore_all=True)
        ref = incremental_update(spark, part2, _cfg(clean), rescore_all=True)
        ck, ck_ref = StageCheckpoint(d), StageCheckpoint(clean)
        for s in ("signatures", "blocks", "candidate_pairs", "scores",
                  "components"):
            assert (
                ck.read_manifest(s)["output_fingerprint"]
                == ck_ref.read_manifest(s)["output_fingerprint"]
            ), s
        assert _clusters(inc.components) == _clusters(ref.components)


class TestConfigDriftGuards:
    """incremental_update must REFUSE config drift before any mutation:
    mixed-kernel score columns and shrunken pair universes are silent
    corruption a manifest rewrite would then hide forever."""

    def test_kernel_change_without_rescore_raises(self, spark, tmp_path, split):
        from poi_name_matching_spark.operators.scoring import ScoringConfig

        _, part1, part2 = split
        d = tmp_path / "g1"
        run_pipeline(spark, part1, _cfg(d))
        drifted = PipelineConfig(
            checkpoint_dir=str(d),
            scoring=ScoringConfig(score_kernel="jaro_winkler"),
        )
        before = StageCheckpoint(d).read_manifest("scores")
        with pytest.raises(ValueError, match="score_kernel"):
            incremental_update(spark, part2, drifted)
        # nothing was mutated by the refused call
        after = StageCheckpoint(d).read_manifest("scores")
        assert after == before
        # rescore_all makes the kernel change legal (full rescore)
        inc = incremental_update(spark, part2, drifted, rescore_all=True)
        m = StageCheckpoint(d).read_manifest("scores")
        assert m["score_kernel"] == "jaro_winkler"
        assert inc.stats["components_mode"] == "full"

    def test_blocking_config_drift_raises(self, spark, tmp_path, split):
        from poi_name_matching_spark.operators.blocking import BlockingConfig

        _, part1, part2 = split
        d = tmp_path / "g2"
        run_pipeline(spark, part1, _cfg(d))
        drifted = PipelineConfig(
            checkpoint_dir=str(d),
            blocking=BlockingConfig(use_second_token=True),
        )
        with pytest.raises(ValueError, match="blocking config"):
            incremental_update(spark, part2, drifted)
        # the stored config is recorded by the batch run
        m = StageCheckpoint(d).read_manifest("blocks")
        assert m["blocking_config"]["use_second_token"] is False

    def test_legacy_blocks_manifest_tolerated_and_recorded(
        self, spark, tmp_path, split
    ):
        """Pre-upgrade checkpoints record no blocking_config: the
        increment proceeds (warning) and records the config so the NEXT
        drift is caught."""
        import json

        _, part1, part2 = split
        d = tmp_path / "g3"
        run_pipeline(spark, part1, _cfg(d))
        ck = StageCheckpoint(d)
        m = ck.read_manifest("blocks")
        del m["blocking_config"]
        ck.manifest_path("blocks").write_text(json.dumps(m))
        incremental_update(spark, part2, _cfg(d))
        assert "blocking_config" in ck.read_manifest("blocks")


class TestConfigInStageIdentity:
    """run_pipeline's stage cache keys must include the configs the
    stages were built under — a resume keyed on data fingerprints alone
    would cache-HIT stages built under a different config."""

    def test_threshold_retune_recomputes_components_reuses_scores(
        self, spark, tmp_path, split
    ):
        from poi_name_matching_spark.operators.scoring import ScoringConfig

        _, part1, _ = split
        d = tmp_path / "ci1"
        r1 = run_pipeline(
            spark, part1, PipelineConfig(checkpoint_dir=str(d))
        )
        # retune: scores are threshold-independent (cache hit); the
        # components stage must RECOMPUTE, not return the old clusters
        r2 = run_pipeline(
            spark,
            part1,
            PipelineConfig(
                checkpoint_dir=str(d),
                scoring=ScoringConfig(threshold=0.99),
            ),
        )
        assert "scores" in r2.cached_stages
        assert "components" not in r2.cached_stages
        assert r2.stats["n_components"] > r1.stats["n_components"]
        # and the retune is itself resumable
        r3 = run_pipeline(
            spark,
            part1,
            PipelineConfig(
                checkpoint_dir=str(d),
                scoring=ScoringConfig(threshold=0.99),
            ),
        )
        assert "components" in r3.cached_stages

    def test_retune_then_increment_at_old_threshold_forces_full_cc(
        self, spark, tmp_path, split
    ):
        """After a batch threshold retune, the scores manifest's
        threshold extra is STALE (scores cache-hit keeps the original
        extras while components rebuild at the new threshold). The
        operating-point guard must read the threshold off the
        COMPONENTS manifest: an increment back at the original
        threshold would otherwise pass the stale comparison and
        contract clusters built at a different operating point —
        historical pairs scoring between the two thresholds would
        never merge."""
        from poi_name_matching_spark.operators.scoring import ScoringConfig

        _, part1, part2 = split
        d = tmp_path / "ci4"
        base = PipelineConfig(checkpoint_dir=str(d))
        run_pipeline(spark, part1, base)
        retuned = PipelineConfig(
            checkpoint_dir=str(d), scoring=ScoringConfig(threshold=0.99)
        )
        r2 = run_pipeline(spark, part1, retuned)
        assert "scores" in r2.cached_stages  # the staleness precondition
        # increment at the ORIGINAL threshold: components were built at
        # 0.99, so contraction would be unsound — must fall back to full
        inc = incremental_update(spark, part2, base)
        assert inc.stats["components_mode"] == "full"
        assert (
            inc.stats["components_full_reason"] == "operating_point_changed"
        )
        # matches a from-scratch batch run at that threshold
        batch = run_pipeline(
            spark,
            part1.unionByName(part2),
            PipelineConfig(checkpoint_dir=str(tmp_path / "ci4b")),
        )
        assert _clusters(inc.components) == _clusters(batch.components)
        # and an increment AT the retuned threshold stays incremental
        d2 = tmp_path / "ci4c"
        run_pipeline(spark, part1, PipelineConfig(checkpoint_dir=str(d2)))
        run_pipeline(
            spark,
            part1,
            PipelineConfig(
                checkpoint_dir=str(d2), scoring=ScoringConfig(threshold=0.99)
            ),
        )
        inc2 = incremental_update(
            spark,
            part2,
            PipelineConfig(
                checkpoint_dir=str(d2), scoring=ScoringConfig(threshold=0.99)
            ),
        )
        assert inc2.stats["components_mode"] == "incremental"

    def test_scoring_param_drift_without_rescore_raises(
        self, spark, tmp_path, split
    ):
        """The drift guard must cover the FULL scoring config, not just
        the kernel name: an increment scored under e.g. a different
        min_df appends values from a different scoring regime into the
        same column — exactly the mix the kernel guard refuses."""
        from poi_name_matching_spark.operators.scoring import ScoringConfig

        _, part1, part2 = split
        d = tmp_path / "ci5"
        run_pipeline(spark, part1, PipelineConfig(checkpoint_dir=str(d)))
        drifted = PipelineConfig(
            checkpoint_dir=str(d), scoring=ScoringConfig(min_df=50)
        )
        before = StageCheckpoint(d).read_manifest("scores")
        with pytest.raises(ValueError, match="scoring config"):
            incremental_update(spark, part2, drifted)
        assert StageCheckpoint(d).read_manifest("scores") == before
        # a threshold-only change is NOT drift (scores are
        # threshold-independent); it just forces one full CC
        moved = PipelineConfig(
            checkpoint_dir=str(d),
            scoring=ScoringConfig(threshold=0.495),
        )
        inc = incremental_update(spark, part2, moved)
        assert inc.stats["components_mode"] == "full"
        # rescore_all makes the param change legal and records it
        d2 = tmp_path / "ci5b"
        run_pipeline(spark, part1, PipelineConfig(checkpoint_dir=str(d2)))
        incremental_update(
            spark,
            part2,
            PipelineConfig(
                checkpoint_dir=str(d2), scoring=ScoringConfig(min_df=50)
            ),
            rescore_all=True,
        )
        m = StageCheckpoint(d2).read_manifest("scores")
        assert m["scoring_config"]["min_df"] == 50

    def test_blocking_change_rebuilds_blocks_unblocking_increments(
        self, spark, tmp_path, split
    ):
        """The drift guard's prescribed remediation must WORK: a batch
        re-run with the new blocking config rebuilds the blocks stage
        (no silent cache hit on config-A blocks), after which the
        increment under the new config proceeds."""
        from poi_name_matching_spark.operators.blocking import BlockingConfig

        _, part1, part2 = split
        d = tmp_path / "ci2"
        run_pipeline(spark, part1, PipelineConfig(checkpoint_dir=str(d)))
        new_cfg = PipelineConfig(
            checkpoint_dir=str(d),
            blocking=BlockingConfig(use_second_token=True),
        )
        with pytest.raises(ValueError, match="blocking config"):
            incremental_update(spark, part2, new_cfg)
        r = run_pipeline(spark, part1, new_cfg)  # the remediation
        assert "blocks" not in r.cached_stages
        m = StageCheckpoint(d).read_manifest("blocks")
        assert m["blocking_config"]["use_second_token"] is True
        inc = incremental_update(spark, part2, new_cfg)  # now legal
        assert inc.stats["n_new_convs"] > 0

    def test_incremental_retention_follows_cfg(self, spark, tmp_path, split):
        """cfg.expire_keep_last=None (keep everything) must hold through
        incremental_update without repeating it per call."""
        _, part1, part2 = split
        d = tmp_path / "ci3"
        cfg = PipelineConfig(checkpoint_dir=str(d), expire_keep_last=None)
        run_pipeline(spark, part1, cfg)
        ck = StageCheckpoint(d)
        incremental_update(spark, part2, cfg)
        n_after_1 = len(ck.snapshot_versions("components"))
        incremental_update(spark, part2, cfg)  # redelivery: more snapshots
        assert len(ck.snapshot_versions("components")) > n_after_1 >= 1


def test_failed_increment_leaves_nothing_cached(spark, tmp_path, split, monkeypatch):
    """A FAILED increment must not pin cached copies of its
    signatures/blocks/pairs in executor storage: a long-lived driver
    retrying per micro-batch would otherwise accumulate one leaked cache
    entry set per failure. A commit that dies after its signatures,
    blocks and pairs appends leaves the session's cache manager empty."""
    _, part1, part2 = split
    d = tmp_path / "incleak"
    run_pipeline(spark, part1, _cfg(d))
    spark.catalog.clearCache()

    appended = []
    orig = StageCheckpoint.append

    def failing(self, stage, *a, **k):
        if stage == "scores":
            raise RuntimeError("injected commit failure")
        appended.append(stage)
        return orig(self, stage, *a, **k)

    monkeypatch.setattr(StageCheckpoint, "append", failing)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        incremental_update(spark, part2, _cfg(d))

    # the failure came after the upstream appends, else the test asserts nothing
    assert appended == ["signatures", "blocks", "candidate_pairs"]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_commit_job_budget(spark, tmp_path, split, count_jobs):
    """Each stage's write is the one job that computes its increment and
    the next stage reads the written files, so a commit runs no count or
    re-evaluation of its own: 35 Spark jobs on this fixture, measured on
    the suite's local[4] session, components rounds included."""
    _, part1, part2 = split
    d = tmp_path / "incjobs"
    run_pipeline(spark, part1, _cfg(d))
    inc, n_jobs = count_jobs(lambda: incremental_update(spark, part2, _cfg(d)))
    assert inc.stats["n_new_pairs"] > 0
    assert n_jobs <= 35


def test_rescore_all_appends_upstream_stages(spark, tmp_path, split):
    """rescore_all re-scores every pair, so only the scores and the
    components are rewritten whole: the signatures, blocks and pairs
    stages take the increment's rows as a fast append, like any commit."""
    _, part1, part2 = split
    d = tmp_path / "incrs"
    run_pipeline(spark, part1, _cfg(d))
    inc = incremental_update(spark, part2, _cfg(d), rescore_all=True)
    ck = StageCheckpoint(d)
    for s in ("signatures", "blocks", "candidate_pairs"):
        assert ck.read_manifest(s)["appended"]["rows"] > 0, s
    for s in ("scores", "components"):
        assert "appended" not in ck.read_manifest(s), s
    assert ck.read_manifest("scores")["rows"] == inc.stats["n_candidate_pairs"]


def test_empty_increment_commits_zero_rows(spark, tmp_path, split):
    """An increment with no conversation at all appends zero rows to
    every stage, leaves their contents fingerprint-stable and reports
    nothing dropped as redelivered."""
    _, part1, part2 = split
    d = tmp_path / "incempty"
    base = run_pipeline(spark, part1, _cfg(d))
    ck = StageCheckpoint(d)
    stages = ("signatures", "blocks", "candidate_pairs", "scores")
    before = {s: ck.read_manifest(s)["output_fingerprint"] for s in stages}
    inc = incremental_update(spark, part2.limit(0), _cfg(d))
    assert inc.stats["n_new_convs"] == 0
    assert inc.stats["n_new_pairs"] == 0
    assert inc.stats["n_redelivered_dropped"] == 0
    for s in stages:
        m = ck.read_manifest(s)
        assert m["appended"]["rows"] == 0, s
        assert m["output_fingerprint"] == before[s], s
    assert inc.stats["n_components"] == base.stats["n_components"]


def test_incremental_auto_compaction(spark, tmp_path, split):
    """cfg.compact_above_files: after the commit, stages whose file
    count exceeds the bound are compacted (fingerprint-preserving),
    the returned plans read the live files, and a follow-up increment
    (incl. redelivery dedup against the compacted stages) still works."""
    full, part1, part2 = split
    d = tmp_path / "inccmp"
    cfg = PipelineConfig(checkpoint_dir=str(d), compact_above_files=1)
    run_pipeline(spark, part1, cfg)
    ck = StageCheckpoint(d)
    fp_before = {
        s: ck.read_manifest(s)["output_fingerprint"]
        for s in ("signatures", "scores")
    }

    inc = incremental_update(spark, part2, cfg)
    assert "compactions" in inc.stats and inc.stats["compactions"]
    for stage, res in inc.stats["compactions"].items():
        assert res["compacted"], stage
        assert len(ck._data_files(stage)) <= res["files_after"], stage
    # components is fully REWRITTEN by every increment, so compacting it
    # post-commit is waste the next commit discards — it must be exempt
    # even at this bound (1 file) that every multi-file stage trips
    assert "components" not in inc.stats["compactions"]
    # returned plans must read the live (compacted) files
    assert inc.components.count() == N
    assert inc.signatures.count() == N
    # fingerprints reflect the merged content, not the compaction
    # (compaction is invisible; the increment changed them)
    for s, fp in fp_before.items():
        assert ck.read_manifest(s)["output_fingerprint"] != fp, s

    # follow-up increment: full redelivery over compacted stages is a
    # clean no-op commit (anti-joins read the compacted data correctly)
    inc2 = incremental_update(spark, part2, cfg)
    assert inc2.stats["n_new_convs"] == 0
    assert inc2.stats["n_new_pairs"] == 0


_STEPS = ("after_data", "after_manifest", "before_swap", "after_swap")


def _inject(monkeypatch, step):
    """Make the next commit raise at ``step``: after its data files are
    written, after its manifest is written, or just before / just after
    the head swap."""
    import poi_name_matching_spark.sources.checkpoint as cp

    write_json = cp.write_json_atomic

    def crash(*_):
        raise RuntimeError(f"injected crash {step}")

    def crashing_write_json(path, payload):
        if step == "before_swap" and path.name == "_head.json":
            crash()
        write_json(path, payload)
        if (step, path.name) in {
            ("after_swap", "_head.json"),
            ("after_manifest", "_manifest.json"),
        }:
            crash()

    if step == "after_data":
        # every commit reads its new files' footers once they are written
        monkeypatch.setattr(cp, "_file_rows", crash)
    else:
        monkeypatch.setattr(cp, "write_json_atomic", crashing_write_json)


def _state(root, stages):
    """What a FRESH checkpoint on ``root`` reads: per stage, the output
    fingerprint and whether the live version is a compaction."""
    ck = StageCheckpoint(root)
    return {
        s: (m["output_fingerprint"], "compaction" in m)
        for s in stages
        for m in [ck.read_manifest(s)]
    }


def _unnamed(root, stages):
    """Version directories the head does not name, per stage."""
    import json

    head = json.loads((root / "_head.json").read_text())
    out = {}
    for s in stages:
        named = {f"v{v}" for v in [head[s]["live"], *head[s]["versions"]]}
        out[s] = sorted(p.name for p in (root / s).iterdir() if p.name not in named)
    return out


def _single_stage_base(spark, root):
    ck = StageCheckpoint(root)
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    ck.write("stage", rows.repartition(2))
    ck.append("stage", spark.createDataFrame([(3, "c")], "id long, s string"))
    return ck


def _single_stage_op(spark, op, root):
    ck = StageCheckpoint(root)
    if op == "write":
        ck.write("stage", spark.createDataFrame([(9, "z")], "id long, s string"))
    elif op == "append":
        ck.append("stage", spark.createDataFrame([(4, "d")], "id long, s string"))
    else:
        assert ck.compact(spark, "stage")["compacted"]


@pytest.fixture(scope="module")
def increment_states(spark, split, tmp_path_factory):
    """A base pipeline checkpoint plus the stage states before and after
    one never-crashed increment on a copy of it."""
    import shutil

    _, part1, part2 = split
    root = tmp_path_factory.mktemp("crash_window")
    run_pipeline(spark, part1, _cfg(root / "base"))
    shutil.copytree(root / "base", root / "clean")
    incremental_update(spark, part2, _cfg(root / "clean"))
    return root / "base", _state(root / "base", _STAGES), _state(root / "clean", _STAGES)


@pytest.mark.parametrize("step", _STEPS)
@pytest.mark.parametrize("op", ["write", "append", "compact", "increment"])
def test_crash_window_leaves_pre_or_post_commit(
    spark, tmp_path, split, monkeypatch, op, step, request
):
    """A commit that dies at any step reads back, through a fresh
    checkpoint and with no repair call, as exactly the pre-commit state
    (every step before the head swap) or the post-commit state (after
    it), for every stage it touches; the next expiry then leaves no
    version directory the head does not name."""
    import shutil

    from poi_name_matching_spark.sources.checkpoint import stage_fingerprint

    root = tmp_path / "ck"
    if op == "increment":
        base, pre, post = request.getfixturevalue("increment_states")
        shutil.copytree(base, root)
        stages = _STAGES
    else:
        stages = ("stage",)
        _single_stage_base(spark, root)
        _single_stage_base(spark, tmp_path / "clean")
        _single_stage_op(spark, op, tmp_path / "clean")
        pre, post = _state(root, stages), _state(tmp_path / "clean", stages)
    assert pre != post

    _inject(monkeypatch, step)
    with pytest.raises(RuntimeError, match="injected crash"):
        if op == "increment":
            incremental_update(spark, split[2], _cfg(root))
        else:
            _single_stage_op(spark, op, root)
    monkeypatch.undo()

    assert _state(root, stages) == (post if step == "after_swap" else pre)
    fresh = StageCheckpoint(root)
    for s in stages:
        assert stage_fingerprint(fresh.load(spark, s)) == fresh.read_manifest(s)[
            "output_fingerprint"
        ], s
    if step != "after_swap":
        # the crash hit inside the commit: its new version is an orphan
        assert any(_unnamed(root, stages).values())
    for s in stages:
        fresh.expire_snapshots(s, keep_last=3)
    assert _unnamed(root, stages) == {s: [] for s in stages}


def test_runs_restore_the_session_confs(
    spark, tmp_path, split, monkeypatch, increment_states
):
    """A run with ``shuffle_partitions`` set, and a commit that raises
    inside its head-pointer commit, leave the session's shuffle
    partitions and both codegen confs as they found them."""
    import shutil

    from poi_name_matching_spark.plans.pipeline import RUN_CONFS

    _, part1, part2 = split
    base, _, _ = increment_states
    shutil.copytree(base, tmp_path / "ck")
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ck"), shuffle_partitions=3)
    keys = ["spark.sql.shuffle.partitions", *RUN_CONFS]
    before = {k: spark.conf.get(k, None) for k in keys}
    assert before["spark.sql.shuffle.partitions"] != "3"

    run_pipeline(spark, part1, cfg)
    assert {k: spark.conf.get(k, None) for k in keys} == before

    _inject(monkeypatch, "before_swap")
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_update(spark, part2, cfg)
    monkeypatch.undo()
    assert {k: spark.conf.get(k, None) for k in keys} == before


def test_compiled_commit_writes_the_same_stages(
    spark, tmp_path, split, monkeypatch, increment_states
):
    """One increment committed with code generation on (the run's conf
    table emptied) writes the same five stages, by output fingerprint,
    as the interpreted increment."""
    import shutil

    from poi_name_matching_spark.plans import pipeline

    base, _, post = increment_states
    shutil.copytree(base, tmp_path / "ck")
    monkeypatch.setattr(pipeline, "RUN_CONFS", {})
    incremental_update(spark, split[2], _cfg(tmp_path / "ck"))
    assert _state(tmp_path / "ck", _STAGES) == post


_KILL_CHILD = r"""
import os, signal, sys

mode, out = sys.argv[1], sys.argv[2]
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
from poi_name_matching_spark.data import generate_transcripts
from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA
from poi_name_matching_spark.plans.incremental import incremental_update
from poi_name_matching_spark.plans.pipeline import PipelineConfig
from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

if mode == "increment":
    res = generate_transcripts(n_convs=120, seed=21)
    full = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    convs = sorted({r[0] for r in res.rows})
    old = set(convs[: int(120 * 0.75)])
    part2 = full.filter(~F.col("conv_id").isin(old))
    orig = StageCheckpoint.append

    def killing(self, stage, *a, **k):
        r = orig(self, stage, *a, **k)
        if stage == "scores":
            # inside commit(): the scores version is written, the head
            # not yet swapped
            os.kill(os.getpid(), signal.SIGKILL)  # the real thing
        return r

    StageCheckpoint.append = killing
    incremental_update(spark, part2, PipelineConfig(checkpoint_dir=out))
elif mode == "compact":
    ck = StageCheckpoint(out)

    def killing(self, updates):
        # the compacted version and its manifest are written; kill before
        # the head swap
        os.kill(os.getpid(), signal.SIGKILL)

    StageCheckpoint._swap = killing
    ck.compact(spark, "scores", target_file_bytes=1 << 20)
raise SystemExit(3)  # the kill must have fired; reaching here is a bug
"""


def _run_kill_child(mode, out):
    import os
    import subprocess
    import sys

    return subprocess.run(
        [sys.executable, "-c", _KILL_CHILD, mode, str(out)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )


def test_real_process_kill(spark, tmp_path, split):
    """Integration twin of the crash-window test: a subprocess driver is
    SIGKILLed (no atexit, no JVM shutdown hooks, no cleanup code runs)
    inside the increment's commit, and later inside a compaction, each
    after its new version is written and before the head swap. On
    restart the head still names the previous versions with no repair
    call, and the redelivered increment matches a never-crashed run
    bit for bit."""
    full, part1, part2 = split
    d, clean = tmp_path / "rk", tmp_path / "rkclean"
    run_pipeline(spark, part1, _cfg(d))
    run_pipeline(spark, part1, _cfg(clean))
    before = _fps(d)

    # --- kill -9 inside the increment's commit (after the scores version) ---
    p = _run_kill_child("increment", d)
    assert p.returncode == -9, (p.returncode, p.stdout[-2000:], p.stderr[-2000:])
    assert _fps(d) == before  # the head names the pre-increment versions
    assert _unnamed(d, ("scores",))["scores"], "the scores version was written"

    inc = incremental_update(spark, part2, _cfg(d))
    ref = incremental_update(spark, part2, _cfg(clean))
    assert _fps(d) == _fps(clean)
    assert _clusters(inc.components) == _clusters(ref.components)

    # --- kill -9 inside compaction (new version written, head not swapped) ---
    ck = StageCheckpoint(d)
    m_before = ck.read_manifest("scores")
    p = _run_kill_child("compact", d)
    assert p.returncode == -9, (p.returncode, p.stdout[-2000:], p.stderr[-2000:])
    assert StageCheckpoint(d).read_manifest("scores") == m_before
    assert _unnamed(d, ("scores",))["scores"], "the compacted version was written"
    assert ck.load(spark, "scores").count() == m_before["rows"]


def test_multi_increment_drift_bounded(spark, tmp_path):
    """The drift-study pin (SCALE.md §"Incremental-path drift"): a base
    corpus plus FIVE default-mode increments ends within 0.001 pairwise
    F1 of a from-scratch batch run on the identical corpus — the
    incremental path's two documented divergences (stale historical
    df-maps, kept old×old pairs in re-salted blocks) stay quality-
    neutral at the studied sizes. scripts/incremental_drift.py measures
    the same bound at 30k+ conversations."""
    from poi_name_matching_spark.data.transcripts import truth_df
    from poi_name_matching_spark.operators.evaluation import (
        pairwise_cluster_f1,
    )

    total, base, k = 600, 400, 5
    res = generate_transcripts(n_convs=total, seed=33)
    full = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    truth = truth_df(spark, n_convs=total, seed=33)
    convs = sorted({r[0] for r in res.rows})
    per = (total - base) // k

    batch = run_pipeline(spark, full, _cfg(tmp_path / "drift_batch"))
    f1_batch = pairwise_cluster_f1(batch.components, truth).f1

    def _slice(lo, hi):
        return full.filter((F.col("conv_id") >= lo) & (F.col("conv_id") <= hi))

    cfg = _cfg(tmp_path / "drift_inc")
    run_pipeline(spark, _slice(convs[0], convs[base - 1]), cfg)
    inc = None
    for i in range(k):
        sl = convs[base + i * per : base + (i + 1) * per]
        inc = incremental_update(spark, _slice(sl[0], sl[-1]), cfg)
    f1_inc = pairwise_cluster_f1(inc.components, truth).f1

    assert abs(f1_inc - f1_batch) < 0.001, (f1_inc, f1_batch)
