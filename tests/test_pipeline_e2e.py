"""End-to-end pipeline + resumability tests (FIXTURES.md §6, SURVEY.md §5.2)."""

import json

import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.data import transcripts_df, truth_df
from poi_name_matching_spark.operators.evaluation import pairwise_cluster_f1
from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline

N = 250
SEED = 21


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("ckpt")
    tdf = transcripts_df(spark, n_convs=N, seed=SEED)
    from poi_name_matching_spark.operators.scoring import ScoringConfig

    # representative kernel subset (native + UDF paths) — the full suite
    # incl. semantic soft-TFIDF is covered by test_blocking_scoring
    cfg = PipelineConfig(
        checkpoint_dir=out,
        scoring=ScoringConfig(
            kernels=("levenshtein", "jaccard", "tfidf", "softtfidf")
        ),
    )
    result = run_pipeline(spark, tdf, cfg)
    return out, tdf, cfg, result


def test_cluster_f1_vs_planted_truth(spark, pipeline_run):
    _, _, _, result = pipeline_run
    truth = truth_df(spark, n_convs=N, seed=SEED)
    m = pairwise_cluster_f1(result.components, truth)
    assert m.f1 >= 0.95, m


def test_manifests_written(pipeline_run):
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    out, _, _, _ = pipeline_run
    ck = StageCheckpoint(out)
    head = json.loads((out / "_head.json").read_text())
    for stage in ["signatures", "blocks", "candidate_pairs", "scores", "components"]:
        # the head names the live version; its manifest sits beside its data
        v = head[stage]["live"]
        mpath = out / stage / f"v{v}" / "_manifest.json"
        assert ck.manifest_path(stage) == mpath
        assert (mpath.parent / "data.parquet").is_dir(), stage
        assert mpath.exists(), stage
        m = json.loads(mpath.read_text())
        assert m["rows"] > 0
        assert m["partitions"] and all("rows" in p for p in m["partitions"])
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]


def test_resume_skips_completed_stages(spark, pipeline_run):
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    out, tdf, cfg, first = pipeline_run
    ck = StageCheckpoint(out)
    mtimes = {
        s: ck.manifest_path(s).stat().st_mtime
        for s in ["signatures", "blocks", "candidate_pairs", "scores", "components"]
    }
    second = run_pipeline(spark, tdf, cfg)
    assert set(second.cached_stages) == {
        "signatures",
        "blocks",
        "candidate_pairs",
        "scores",
        "components",
    }
    for s, t in mtimes.items():
        assert ck.manifest_path(s).stat().st_mtime == t, f"{s} recomputed"


def test_exact_duplicates_always_clustered(spark, pipeline_run):
    """The auto-label-on-exact-equality rule (label_data.py:75-76): exact
    copies must land in the same component. Runs BEFORE the destructive
    resume test below, which rewrites the checkpoint files this fixture's
    DataFrames point at."""
    _, _, _, result = pipeline_run
    sigs = result.signatures.select("conv_id", "sig_text")
    comp = result.components
    j = sigs.join(comp, "conv_id")
    groups = (
        j.groupBy("sig_text")
        .agg(
            F.countDistinct("conv_id").alias("n"),
            F.countDistinct("component_id").alias("nc"),
        )
        .filter(F.col("n") > 1)
    )
    bad = groups.filter(F.col("nc") > 1).count()
    assert bad == 0


def test_resume_recomputes_only_downstream(spark, pipeline_run):
    """Delete scores/ → signatures/blocks/pairs untouched, final
    components identical (deterministic recompute)."""
    out, tdf, cfg, first = pipeline_run
    before = {
        r["conv_id"]: r["component_id"] for r in first.components.collect()
    }
    import shutil

    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    ck = StageCheckpoint(out)
    shutil.rmtree(out / "scores")
    shutil.rmtree(out / "components")
    upstream_mtimes = {
        s: ck.manifest_path(s).stat().st_mtime
        for s in ["signatures", "blocks", "candidate_pairs"]
    }
    second = run_pipeline(spark, tdf, cfg)
    assert "scores" not in second.cached_stages
    assert set(second.cached_stages) >= {"signatures", "blocks", "candidate_pairs"}
    for s, t in upstream_mtimes.items():
        assert ck.manifest_path(s).stat().st_mtime == t
    after = {r["conv_id"]: r["component_id"] for r in second.components.collect()}
    assert after == before


class TestSnapshots:
    """Iceberg snapshot analog: a rewrite retains the previous version,
    history lists, rollback points the head back, expire prunes."""

    def _ckpt(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "snap")
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        v2 = spark.createDataFrame([(3, "c")], "id long, s string")
        ck.write("stage", v1, input_fingerprint="fp1")
        ck.write("stage", v2, input_fingerprint="fp2")
        return ck, v1, v2

    def test_overwrite_archives_and_history(self, spark, tmp_path):
        ck, v1, v2 = self._ckpt(spark, tmp_path)
        assert ck.snapshot_versions("stage") == [1]
        hist = ck.history("stage")
        assert [h["version"] for h in hist] == [1, None]
        assert hist[0]["input_fingerprint"] == "fp1"
        assert hist[1]["input_fingerprint"] == "fp2"
        assert ck.load(spark, "stage").count() == 1  # current = v2

    def test_rollback_restores_and_is_undoable(self, spark, tmp_path):
        ck, v1, v2 = self._ckpt(spark, tmp_path)
        ck.rollback("stage", 1)
        assert ck.read_manifest("stage")["input_fingerprint"] == "fp1"
        got = {r["id"] for r in ck.load(spark, "stage").collect()}
        assert got == {1, 2}
        # the abandoned current was archived, not destroyed
        assert ck.snapshot_versions("stage") == [2]
        ck.rollback("stage", 2)
        assert {r["id"] for r in ck.load(spark, "stage").collect()} == {3}
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError, match="snapshot v99"):
            ck.rollback("stage", 99)

    def test_resume_contract_unaffected(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck, v1, v2 = self._ckpt(spark, tmp_path)
        df, cached = ck.get_or_compute(
            spark, "stage", lambda: (_ for _ in ()).throw(AssertionError),
            input_fingerprint="fp2",
        )
        assert cached and df.count() == 1

    def test_expire_keeps_last(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "exp")
        for i in range(5):
            ck.write("s", spark.range(i + 1), input_fingerprint=f"fp{i}")
        assert ck.snapshot_versions("s") == [1, 2, 3, 4]
        expired = ck.expire_snapshots("s", keep_last=2)
        assert expired == [1, 2]
        assert ck.snapshot_versions("s") == [3, 4]
        # current version untouched
        assert ck.load(spark, "s").count() == 5


class TestFastAppend:
    """Iceberg fast_append analog: append writes only the increment's
    files into a new version that hard-links the previous one's, composes
    the fingerprint exactly, and rolls back by pointing the head back."""

    def _ckpt(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "app")
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        inc = spark.createDataFrame([(3, "c"), (4, "d")], "id long, s string")
        ck.write("stage", v1, input_fingerprint="fp1")
        return ck, v1, inc

    def test_append_contents_and_fingerprint(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import (
            stage_fingerprint,
        )

        ck, v1, inc = self._ckpt(spark, tmp_path)
        reloaded = ck.append("stage", inc, input_fingerprint="fp2")
        assert {r["id"] for r in reloaded.collect()} == {1, 2, 3, 4}
        m = ck.read_manifest("stage")
        assert m["rows"] == 4 and m["input_fingerprint"] == "fp2"
        # composed fingerprint == what a full rescan computes
        assert m["output_fingerprint"] == stage_fingerprint(reloaded)
        assert m["appended"]["rows"] == 2
        # resume contract keys off the appended manifest
        df, cached = ck.get_or_compute(
            spark, "stage", lambda: (_ for _ in ()).throw(AssertionError),
            input_fingerprint="fp2",
        )
        assert cached and df.count() == 4

    def test_append_leaves_existing_files_untouched(self, spark, tmp_path):
        import os

        ck, v1, inc = self._ckpt(spark, tmp_path)
        old_dir = ck.manifest_path("stage").parent / "data.parquet"
        before = {
            f: os.stat(old_dir / f) for f in ck._data_files("stage")
        }
        ck.append("stage", inc)
        new_dir = ck.manifest_path("stage").parent / "data.parquet"
        assert new_dir != old_dir  # a new version directory
        after_files = set(ck._data_files("stage"))
        assert set(before) < after_files  # strictly grew
        for f, st in before.items():
            # the new version hard-links the old files: same inode, no copy
            for now in (os.stat(old_dir / f), os.stat(new_dir / f)):
                assert (st.st_mtime_ns, st.st_size, st.st_ino) == (
                    now.st_mtime_ns, now.st_size, now.st_ino
                ), f"pre-append file {f} was rewritten"

    def test_append_rollback(self, spark, tmp_path):
        ck, v1, inc = self._ckpt(spark, tmp_path)
        m1 = ck.read_manifest("stage")
        ck.append("stage", inc, input_fingerprint="fp2")
        # the pre-append version is retained
        assert ck.snapshot_versions("stage") == [1]
        hist = ck.history("stage")
        assert [h["version"] for h in hist] == [1, None]
        assert hist[0]["rows"] == 2 and hist[1]["rows"] == 4
        ck.rollback("stage", 1)
        m = ck.read_manifest("stage")
        assert m["rows"] == 2
        assert m["output_fingerprint"] == m1["output_fingerprint"]
        assert {r["id"] for r in ck.load(spark, "stage").collect()} == {1, 2}

    def test_append_rollback_after_full_rewrite(self, spark, tmp_path):
        ck, v1, inc = self._ckpt(spark, tmp_path)
        ck.append("stage", inc)  # v2 = the append version
        ck.write("stage", v1, input_fingerprint="fp3")  # v3 = full rewrite
        # versions are self-contained: the append version survives the
        # rewrite and rolls back with its rows
        ck.rollback("stage", 2)
        assert ck.read_manifest("stage")["rows"] == 4
        assert {r["id"] for r in ck.load(spark, "stage").collect()} == {1, 2, 3, 4}
        ck.rollback("stage", 1)
        assert {r["id"] for r in ck.load(spark, "stage").collect()} == {1, 2}

    def test_append_requires_existing_stage(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "app2")
        inc = spark.createDataFrame([(1, "a")], "id long, s string")
        with pytest.raises(FileNotFoundError, match="write"):
            ck.append("missing", inc)

def test_append_manifest_partitions_history_compacts(spark, tmp_path, monkeypatch):
    """Fast-append manifests must stay O(increment): old per-partition
    entries compact into one rollup row once the cap is hit, preserving
    exact row totals and recent skew visibility."""
    import poi_name_matching_spark.sources.checkpoint as cp

    monkeypatch.setattr(cp, "_PARTITION_HISTORY_CAP", 6)
    ck = cp.StageCheckpoint(tmp_path / "compact")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    ck.write("stage", df.repartition(2))
    total = 2
    for i in range(5):
        inc = spark.createDataFrame(
            [(10 + i, "x"), (20 + i, "y")], "id long, s string"
        ).repartition(2)
        ck.append("stage", inc)
        total += 2
    m = ck.read_manifest("stage")
    assert m["rows"] == total
    assert len(m["partitions"]) <= 6
    assert sum(p["rows"] for p in m["partitions"]) == total
    assert any("compacted" in p for p in m["partitions"])
    # ids stay monotone so the next append's id base is still unique
    ids = [p["id"] for p in m["partitions"]]
    assert ids == sorted(ids)


def test_append_refuses_schema_drift(spark, tmp_path):
    """The composed output fingerprint hashes columns in file order, so
    an increment with reordered (or retyped) columns would silently
    diverge from a full rescan — append must refuse and leave the stage
    as it was."""
    import pytest

    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    ck = StageCheckpoint(tmp_path / "schemaguard")
    base = spark.createDataFrame(
        [("a", "b", 0.5)], "left_id string, right_id string, score double"
    )
    ck.write("scores", base, input_fingerprint="fp0")
    reordered = spark.createDataFrame(
        [("c", "d", 0.7)], "right_id string, left_id string, score double"
    ).select("right_id", "left_id", "score")
    with pytest.raises(ValueError, match="schema mismatch"):
        ck.append("scores", reordered, input_fingerprint="fp1")
    retyped = spark.createDataFrame(
        [("e", "f", 1)], "left_id string, right_id string, score long"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        ck.append("scores", retyped, input_fingerprint="fp1")
    # stage untouched by the refused appends
    assert ck.read_manifest("scores")["rows"] == 1
    assert ck.load(spark, "scores").count() == 1


def test_run_pipeline_retention_bounds_snapshots(spark, tmp_path):
    """Repeated batch rebuilds archive a full snapshot per stage per
    run; the default retention must bound that to expire_keep_last, or
    daily rebuilds grow the checkpoint by O(corpus) forever."""
    from poi_name_matching_spark.data import transcripts_df
    from poi_name_matching_spark.plans.pipeline import (
        STAGES,
        PipelineConfig,
        run_pipeline,
    )
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    out = tmp_path / "retention"
    cfg = PipelineConfig(checkpoint_dir=out, expire_keep_last=2)
    for seed in (1, 2, 3, 4):  # each rebuild archives the previous run
        run_pipeline(spark, transcripts_df(spark, n_convs=30, seed=seed), cfg)
    ck = StageCheckpoint(out)
    for stage in STAGES:
        assert len(ck.snapshot_versions(stage)) <= 2, stage
    # retention never touches the current version
    assert ck.load(spark, "components").count() > 0


def test_cli_rejects_rescore_all_without_incremental(capsys):
    """--rescore-all is only wired through the incremental branch; without
    the guard the full-run path cache-HITs the scores stage and reports
    success with exactly the stale scores the flag asked to replace."""
    from poi_name_matching_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--n-convs", "10", "--output", "/tmp/x", "--rescore-all"])
    assert exc.value.code == 2
    assert "--rescore-all requires --incremental" in capsys.readouterr().err


class TestCompaction:
    """Iceberg rewrite_data_files analog: fast appends accumulate small
    files; compact() rewrites them into ~target-sized ones while
    preserving content, fingerprint, and every manifest config key —
    invisible to resume and drift guards."""

    def _many_appends(self, spark, tmp_path, n_appends=3):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "cmp")
        base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        ck.write("stage", base, input_fingerprint="fp0",
                 extra={"scoring_config": {"kernels": ["tfidf"]}})
        for i in range(n_appends):
            inc = spark.createDataFrame(
                [(10 + 2 * i, f"x{i}"), (11 + 2 * i, f"y{i}")],
                "id long, s string",
            )
            # extras are re-supplied per commit, as the pipeline does
            ck.append("stage", inc, input_fingerprint=f"fp{i+1}",
                      extra={"scoring_config": {"kernels": ["tfidf"]}})
        return ck

    def test_compact_preserves_content_fingerprint_and_config(
        self, spark, tmp_path
    ):
        ck = self._many_appends(spark, tmp_path)
        m_before = ck.read_manifest("stage")
        rows_before = {
            tuple(r) for r in ck.load(spark, "stage").collect()
        }
        files_before = len(ck._data_files("stage"))
        assert files_before >= 4  # base + 3 appends

        res = ck.compact(spark, "stage")
        assert res["compacted"] and res["files_before"] == files_before
        assert res["files_after"] == 1  # tiny stage → one target file
        assert len(ck._data_files("stage")) == 1
        m = ck.read_manifest("stage")
        assert m["output_fingerprint"] == m_before["output_fingerprint"]
        assert m["rows"] == m_before["rows"]
        assert m["input_fingerprint"] == m_before["input_fingerprint"]
        # config keys (drift-guard identity) carried through unchanged
        assert m["scoring_config"] == m_before["scoring_config"]
        # the last commit is no longer an append
        assert "appended" not in m
        rows_after = {tuple(r) for r in ck.load(spark, "stage").collect()}
        assert rows_after == rows_before
        # resume contract unaffected: still a cache hit on the same key
        df, cached = ck.get_or_compute(
            spark, "stage",
            lambda: (_ for _ in ()).throw(AssertionError("recomputed")),
            input_fingerprint=m_before["input_fingerprint"],
        )
        assert cached and df.count() == m_before["rows"]

    def test_compact_noop_below_threshold(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "cmp1")
        df = spark.createDataFrame([(1, "a")], "id long, s string")
        ck.write("stage", df.coalesce(1), input_fingerprint="fp0")
        assert len(ck._data_files("stage")) == 1
        snaps = ck.snapshot_versions("stage")
        res = ck.compact(spark, "stage")
        assert res == {"compacted": False, "files": 1, "target_files": 1}
        assert ck.snapshot_versions("stage") == snaps  # nothing archived

    def test_compact_is_rollbackable(self, spark, tmp_path):
        ck = self._many_appends(spark, tmp_path)
        files_before = set(ck._data_files("stage"))
        res = ck.compact(spark, "stage")
        v = res["snapshot"]
        ck.rollback("stage", v)
        assert set(ck._data_files("stage")) == files_before
        m = ck.read_manifest("stage")
        assert m["appended"]["rows"] == 2  # pre-compaction manifest is back

    def test_compact_verify_failure_leaves_stage_untouched(
        self, spark, tmp_path, monkeypatch
    ):
        import poi_name_matching_spark.sources.checkpoint as ckmod

        ck = self._many_appends(spark, tmp_path)
        files_before = set(ck._data_files("stage"))
        snaps_before = ck.snapshot_versions("stage")
        m_before = ck.read_manifest("stage")
        monkeypatch.setattr(ckmod, "stage_fingerprint", lambda df: "0:0")
        with pytest.raises(RuntimeError, match="fingerprint"):
            ck.compact(spark, "stage")
        monkeypatch.undo()
        assert set(ck._data_files("stage")) == files_before
        assert ck.snapshot_versions("stage") == snaps_before
        assert ck.read_manifest("stage") == m_before
        assert ck.load(spark, "stage").count() == m_before["rows"]
        # the rejected copy is an unnamed version; expiry sweeps it
        live = ck.manifest_path("stage").parent.name
        ck.expire_snapshots("stage", keep_last=len(snaps_before))
        assert sorted(p.name for p in ck._dir("stage").iterdir()) == sorted(
            [live] + [f"v{v}" for v in snaps_before]
        )

    def test_compact_tolerates_pre_upgrade_manifest(self, spark, tmp_path):
        """Manifests written before output_fingerprint existed must
        compact via a rescan (the same tolerance append() has) and have
        the fingerprint backfilled. Manifests of the retired bucketed
        layout (``bucket_by``/``n_buckets`` keys) load, compact and
        append as plain parquet."""
        from poi_name_matching_spark.sources.checkpoint import stage_fingerprint

        ck = self._many_appends(spark, tmp_path)
        mp = ck.manifest_path("stage")
        m = json.loads(mp.read_text())
        fp = m.pop("output_fingerprint")
        mp.write_text(json.dumps({**m, "bucket_by": "id", "n_buckets": 4}))
        ids = {1, 2, 10, 11, 12, 13, 14, 15}
        assert {r["id"] for r in ck.load(spark, "stage").collect()} == ids
        res = ck.compact(spark, "stage")
        assert res["compacted"]
        assert ck.read_manifest("stage")["output_fingerprint"] == fp
        inc = spark.createDataFrame([(99, "z")], "id long, s string")
        out = ck.append("stage", inc)
        assert {r["id"] for r in out.collect()} == ids | {99}
        assert ck.read_manifest("stage")["output_fingerprint"] == stage_fingerprint(out)


class TestTimeTravel:
    """load_snapshot: read any retained version without mutating the
    stage (Iceberg VERSION AS OF analog), written or appended."""

    def _staged(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "tt")
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        v2_inc = spark.createDataFrame([(3, "c")], "id long, s string")
        v3 = spark.createDataFrame([(9, "z")], "id long, s string")
        ck.write("stage", v1, input_fingerprint="fp1")  # v1 = {1,2}
        ck.append("stage", v2_inc)           # v2 = append version {1,2,3}
        ck.write("stage", v3, input_fingerprint="fp3")  # v3 = live {9}
        return ck

    def test_reads_both_snapshot_shapes_without_mutation(
        self, spark, tmp_path
    ):
        ck = self._staged(spark, tmp_path)
        m_cur = ck.read_manifest("stage")
        # v2 is the appended state
        full = ck.load_snapshot(spark, "stage", 2)
        assert {r["id"] for r in full.collect()} == {1, 2, 3}
        # current version untouched by the read
        assert ck.read_manifest("stage") == m_cur
        assert {r["id"] for r in ck.load_snapshot(spark, "stage", None).collect()} == {9}
        assert {r["id"] for r in ck.load(spark, "stage").collect()} == {9}

    def test_append_snapshot_readable_after_rewrite(self, spark, tmp_path):
        ck = self._staged(spark, tmp_path)
        # the v3 full rewrite left the append version and its parent whole
        assert {r["id"] for r in ck.load_snapshot(spark, "stage", 2).collect()} == {1, 2, 3}
        assert {r["id"] for r in ck.load_snapshot(spark, "stage", 1).collect()} == {1, 2}
        with pytest.raises(FileNotFoundError, match="no complete snapshot"):
            ck.load_snapshot(spark, "stage", 99)

    def test_append_snapshot_readable_while_files_live(self, spark, tmp_path):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "tt2")
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        ck.write("stage", v1)
        ck.append("stage", spark.createDataFrame([(3, "c")], "id long, s string"))
        # v1 is the pre-append version
        old = ck.load_snapshot(spark, "stage", 1)
        assert {r["id"] for r in old.collect()} == {1, 2}
        assert ck.load(spark, "stage").count() == 3


def test_cli_rejects_compact_without_incremental(capsys):
    from poi_name_matching_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--n-convs", "10", "--output", "/tmp/x",
              "--compact-above-files", "8"])
    assert exc.value.code == 2
    assert "requires --incremental" in capsys.readouterr().err


# ---- file-backed input: the input key and the per-run job budget ------

FILE_N = 60
FILE_SEED = 23
STAGE_ORDER = ["signatures", "blocks", "candidate_pairs", "scores", "components"]


def _write_transcript_files(out, n_convs=FILE_N, seed=FILE_SEED, n_files=2):
    """The generated transcripts as ``n_files`` parquet files under
    ``out``, each holding whole conversations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from poi_name_matching_spark.data import generate_transcripts

    rows = generate_transcripts(n_convs=n_convs, seed=seed).rows
    convs = sorted({r[0] for r in rows})
    out.mkdir(parents=True)
    for i in range(n_files):
        mine = set(convs[i::n_files])
        cols = list(zip(*[r for r in rows if r[0] in mine]))
        table = pa.table(
            {
                "conv_id": pa.array(cols[0], pa.string()),
                "turn_idx": pa.array(cols[1], pa.int32()),
                "role": pa.array(cols[2], pa.string()),
                "text": pa.array(cols[3], pa.string()),
                "tool": pa.array(cols[4], pa.string()),
                "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
            }
        )
        pq.write_table(table, out / f"part-{i}.parquet")


def _small_cfg(checkpoint_dir, threshold=0.425):
    from poi_name_matching_spark.operators.scoring import ScoringConfig

    return PipelineConfig(
        checkpoint_dir=checkpoint_dir,
        scoring=ScoringConfig(kernels=("jaccard", "tfidf"), threshold=threshold),
    )


@pytest.fixture(scope="module")
def file_run(spark, tmp_path_factory):
    """One run over transcripts read from parquet files: (input dir,
    checkpoint dir, result). Tests copy the checkpoint before changing
    it; none changes the input files."""
    root = tmp_path_factory.mktemp("file_input")
    _write_transcript_files(root / "in")
    result = run_pipeline(
        spark, spark.read.parquet(str(root / "in")), _small_cfg(root / "ckpt")
    )
    assert result.cached_stages == []
    return root / "in", root / "ckpt", result


def test_input_key_follows_the_files(spark, tmp_path, count_jobs, file_run):
    """A file scan, or a plain projection of one, is keyed by its files'
    paths, sizes and mtimes plus its schema, with no Spark job; any other
    DataFrame keeps the content scan."""
    import shutil

    from poi_name_matching_spark.sources.checkpoint import input_key
    from poi_name_matching_spark.sources.readers import read_transcripts

    src, _, _ = file_run
    df = spark.read.parquet(str(src))
    key, n_jobs = count_jobs(lambda: input_key(df))
    assert key.startswith("files:") and n_jobs == 0
    assert input_key(spark.read.parquet(str(src))) == key
    # read_transcripts projects every column in file order: same scan
    assert input_key(read_transcripts(spark, str(src))) == key
    narrow = input_key(df.select("conv_id", "text"))
    assert narrow.startswith("files:") and narrow != key
    assert input_key(df.select("text", "conv_id")) not in (key, narrow)
    # a byte-identical copy (mtimes kept) at a new path is a new input
    shutil.copytree(src, tmp_path / "copy")
    assert input_key(spark.read.parquet(str(tmp_path / "copy"))) != key
    # a filter is no plain scan: keyed by its rows
    assert not input_key(df.filter(F.col("turn_idx") > 0)).startswith("files:")


def test_touching_an_input_file_invalidates_signatures(spark, tmp_path):
    """Re-reading unchanged files hits every stage. Writing one file's
    bytes again (new mtime) recomputes signatures; the stages after it
    are keyed by the signatures' content, which did not change, so they
    hit. Changing one row recomputes all five stages."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    _write_transcript_files(src)
    cfg = _small_cfg(tmp_path / "ckpt")

    def run():
        return run_pipeline(spark, spark.read.parquet(str(src)), cfg)

    first = run()
    assert first.cached_stages == []
    assert run().cached_stages == STAGE_ORDER

    touched = src / "part-0.parquet"
    data, st = touched.read_bytes(), touched.stat()
    touched.unlink()
    touched.write_bytes(data)
    os.utime(touched, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    rewritten = run()
    assert rewritten.cached_stages == STAGE_ORDER[1:]
    assert rewritten.stats == first.stats

    table = pq.read_table(touched)
    i = table.column("turn_idx").to_pylist().index(0)
    texts = table.column("text").to_pylist()
    # a new first word: the conversation's signature and its first-token
    # and prefix block keys all change
    texts[i] = "zanzibar " + texts[i]
    col = table.schema.get_field_index("text")
    pq.write_table(table.set_column(col, "text", pa.array(texts, pa.string())), touched)
    changed = run()
    assert changed.cached_stages == []
    assert changed.stats["n_signatures"] == first.stats["n_signatures"]


def test_conversation_without_pairs_reaches_components(spark, tmp_path):
    """A new conversation that blocks with nobody leaves the pair set
    and so the scores unchanged; it must still get its own component
    (the components key covers the signatures, not only the scores)."""
    from poi_name_matching_spark.data import generate_transcripts
    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA

    rows = generate_transcripts(n_convs=30, seed=4).rows
    cfg = _small_cfg(tmp_path / "ckpt")
    first = run_pipeline(spark, spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA), cfg)
    loner = ("zz-loner", 0, "user", "qwxz vbnk plmj", None, rows[0][5])
    second = run_pipeline(
        spark, spark.createDataFrame(rows + [loner], TRANSCRIPTS_SCHEMA), cfg
    )
    assert second.stats["n_candidate_pairs"] == first.stats["n_candidate_pairs"]
    assert "components" not in second.cached_stages
    assert second.stats["n_components"] == first.stats["n_components"] + 1
    got = {r["conv_id"]: r["component_id"] for r in second.components.collect()}
    assert got["zz-loner"] == "zz-loner"


def test_cache_hits_and_retunes_run_within_the_job_budget(
    spark, tmp_path, count_jobs, file_run
):
    """Only stage writes (and the driver collects feeding them) run
    Spark jobs: a rerun that hits every stage runs none, and a threshold
    retune — four cache hits and a components rebuild — runs at most 3."""
    import shutil

    src, ckpt, first = file_run
    shutil.copytree(ckpt, tmp_path / "ckpt")
    transcripts = spark.read.parquet(str(src))

    rerun, n_jobs = count_jobs(
        lambda: run_pipeline(spark, transcripts, _small_cfg(tmp_path / "ckpt"))
    )
    assert rerun.cached_stages == STAGE_ORDER
    assert rerun.stats == first.stats
    assert n_jobs == 0

    retune, n_jobs = count_jobs(
        lambda: run_pipeline(spark, transcripts, _small_cfg(tmp_path / "ckpt", 0.6))
    )
    assert retune.cached_stages == STAGE_ORDER[:4]
    assert n_jobs <= 3
    comps = {r["conv_id"]: r["component_id"] for r in retune.components.collect()}
    assert retune.stats["n_components"] == len(set(comps.values()))
    assert retune.stats["max_block_size"] == first.stats["max_block_size"]


def _compilations(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_pipeline_runs_interpreted(spark, tmp_path):
    """A run executes on Spark's interpreted operators and expressions:
    Janino compiles at most 2 generated classes for it, where a run with
    code generation compiles dozens even on a warm code cache. This
    also fails if a Spark upgrade stops honouring
    ``spark.sql.codegen.factoryMode``, which Spark marks internal."""
    from poi_name_matching_spark.data import generate_transcripts
    from poi_name_matching_spark.data.transcripts import TRANSCRIPTS_SCHEMA

    rows = generate_transcripts(n_convs=40, seed=6).rows
    transcripts = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    before = _compilations(spark)
    result = run_pipeline(spark, transcripts, _small_cfg(tmp_path / "ckpt"))
    assert result.cached_stages == []
    assert _compilations(spark) - before <= 2


def test_compiled_run_writes_the_same_stages(spark, tmp_path, monkeypatch, file_run):
    """A run with code generation on (the run's conf table emptied)
    writes the same five stages, by output fingerprint, as the
    interpreted ``file_run``."""
    from poi_name_matching_spark.plans import pipeline
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    src, ckpt, _ = file_run
    monkeypatch.setattr(pipeline, "RUN_CONFS", {})
    before = _compilations(spark)
    compiled = run_pipeline(
        spark, spark.read.parquet(str(src)), _small_cfg(tmp_path / "ckpt")
    )
    assert compiled.cached_stages == []
    assert _compilations(spark) - before > 2

    def fingerprints(root):
        ck = StageCheckpoint(root)
        return {s: ck.read_manifest(s)["output_fingerprint"] for s in STAGE_ORDER}

    assert fingerprints(tmp_path / "ckpt") == fingerprints(ckpt)


def test_checkpoint_from_before_the_upgrade(spark, tmp_path, monkeypatch, file_run):
    """A checkpoint written before the file-metadata input key, the
    signatures in the scores and components keys, and the ``schema``,
    ``max_block_size`` and ``n_components`` manifest fields: its first
    run recomputes signatures (a file input's key changed), scores and
    components (their keys changed) and hits blocks and candidate_pairs,
    loading them without a recorded schema and measuring the missing
    ``max_block_size`` once. From then on a retune hits four stages, as
    on a checkpoint written after the upgrade, with the same stats."""
    import shutil

    from poi_name_matching_spark.plans import pipeline
    from poi_name_matching_spark.sources.checkpoint import (
        StageCheckpoint,
        stage_fingerprint,
    )

    src, ckpt, first = file_run
    transcripts = spark.read.parquet(str(src))
    shutil.copytree(ckpt, tmp_path / "new")
    shutil.copytree(ckpt, tmp_path / "old")
    ck = StageCheckpoint(tmp_path / "old")
    sig_fp = ck.read_manifest("signatures")["output_fingerprint"]
    # the keys as the earlier code wrote them
    legacy_key = {
        "signatures": lambda k: stage_fingerprint(transcripts),
        "scores": lambda k: k.replace(f"|{sig_fp}|cfg:", "|cfg:"),
        "components": lambda k: k.replace(f"|{sig_fp}|threshold:", "|threshold:"),
    }
    for stage in STAGE_ORDER:
        path = ck.manifest_path(stage)
        m = json.loads(path.read_text())
        for k in ("schema", "max_block_size", "n_components"):
            m.pop(k, None)
        if stage in legacy_key:
            m["input_fingerprint"] = legacy_key[stage](m["input_fingerprint"])
        path.write_text(json.dumps(m))

    calls = []
    measure = pipeline.oversized_blocks
    monkeypatch.setattr(
        pipeline, "oversized_blocks", lambda *a: calls.append(a) or measure(*a)
    )
    upgraded = run_pipeline(spark, transcripts, _small_cfg(tmp_path / "old"))
    assert upgraded.cached_stages == ["blocks", "candidate_pairs"]
    assert upgraded.stats == first.stats
    assert len(calls) == 1

    calls.clear()
    retune_old = run_pipeline(spark, transcripts, _small_cfg(tmp_path / "old", 0.6))
    assert len(calls) == 1
    retune_new = run_pipeline(spark, transcripts, _small_cfg(tmp_path / "new", 0.6))
    assert len(calls) == 1
    assert retune_old.cached_stages == retune_new.cached_stages == STAGE_ORDER[:4]
    assert retune_old.stats == retune_new.stats
