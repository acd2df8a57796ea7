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


def test_bucketed_signatures_elide_exchange(spark, tmp_path):
    """A conv_id-bucketed signatures checkpoint removes the signatures-
    side Exchange from a pair join (the scores stage's dominant shuffle
    at 100 TB reads its partitioning from table metadata instead)."""
    from pyspark.sql import functions as F

    from poi_name_matching_spark.data import transcripts_df
    from poi_name_matching_spark.operators.signatures import build_signatures
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    sigs = build_signatures(transcripts_df(spark, n_convs=120, seed=3))
    ck = StageCheckpoint(tmp_path / "out")
    plain = ck.write("sig_plain", sigs)
    bucketed = ck.write("sig_bucketed", sigs, bucket_by="conv_id", n_buckets=8)
    pairs = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(60)], "left_id string, right_id string"
    )

    def n_exchanges(sig_df):
        left = sig_df.select(
            F.col("conv_id").alias("left_id"), F.col("sig_text").alias("l_text")
        )
        with_conf = spark.conf
        old_bcast = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = with_conf.get("spark.sql.adaptive.enabled")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with_conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = (
                pairs.join(left, "left_id")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
            with_conf.set("spark.sql.adaptive.enabled", old_aqe)
        return plan.count("Exchange")

    assert n_exchanges(bucketed) < n_exchanges(plain)
    # bucketed checkpoint round-trips through load() with identical content
    reloaded = ck.load(spark, "sig_bucketed")
    assert reloaded.count() == plain.count()
    assert ck.read_manifest("sig_bucketed")["bucket_by"] == "conv_id"


def test_pipeline_with_bucketed_signatures(spark, tmp_path):
    """End-to-end pipeline with bucket_signatures on: same components as
    the plain-parquet run, and resume still skips completed stages."""
    from poi_name_matching_spark.data import transcripts_df
    from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline

    tdf = transcripts_df(spark, n_convs=80, seed=9)
    plain = run_pipeline(
        spark, tdf, PipelineConfig(checkpoint_dir=tmp_path / "plain")
    )
    bucketed = run_pipeline(
        spark,
        tdf,
        PipelineConfig(checkpoint_dir=tmp_path / "bucketed", bucket_signatures=8),
    )
    a = {(r["conv_id"], r["component_id"]) for r in plain.components.collect()}
    b = {(r["conv_id"], r["component_id"]) for r in bucketed.components.collect()}
    assert a == b
    again = run_pipeline(
        spark,
        tdf,
        PipelineConfig(checkpoint_dir=tmp_path / "bucketed", bucket_signatures=8),
    )
    assert "signatures" in again.cached_stages


def test_bucketed_checkpoint_survives_catalog_loss(spark, tmp_path):
    """A fresh Spark session has an empty in-memory catalog; load() must
    re-register the bucketed table from the manifest (resume contract)
    WITH bucket metadata intact. Simulated by dropping the table."""
    from pyspark.sql import functions as F

    from poi_name_matching_spark.data import transcripts_df
    from poi_name_matching_spark.operators.signatures import build_signatures
    from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

    sigs = build_signatures(transcripts_df(spark, n_convs=50, seed=2))
    ck = StageCheckpoint(tmp_path / "out")
    written = ck.write("sig_b", sigs, bucket_by="conv_id", n_buckets=4)
    n = written.count()
    table = ck._table_name("sig_b", 1)  # the table of version v1
    spark.sql(f"DROP TABLE {table}")  # what a process restart looks like
    assert not spark.catalog.tableExists(table)

    reloaded = ck.load(spark, "sig_b")
    assert reloaded.count() == n
    assert spark.catalog.tableExists(table)
    # bucket metadata restored: the join still elides the bucketed-side
    # Exchange in a fresh registration
    pairs = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(20)], "left_id string, right_id string"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        left = reloaded.select(
            F.col("conv_id").alias("left_id"), F.col("sig_text").alias("t")
        )
        plan = pairs.join(left, "left_id")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange") == 1


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

    def test_append_bucketed_preserves_elision(self, spark, tmp_path):
        from poi_name_matching_spark.data import transcripts_df
        from poi_name_matching_spark.operators.signatures import build_signatures
        from poi_name_matching_spark.sources.checkpoint import (
            StageCheckpoint,
            stage_fingerprint,
        )

        sigs = build_signatures(transcripts_df(spark, n_convs=80, seed=5))
        # real id format is conv_%08d — split so the base stage is
        # POPULATED (the risky path: appending to buckets that already
        # hold files, composing a non-trivial prev fingerprint)
        old = sigs.filter(F.col("conv_id") < "conv_00000060")
        new = sigs.filter(F.col("conv_id") >= "conv_00000060")
        assert old.count() > 0 and new.count() > 0
        ck = StageCheckpoint(tmp_path / "bapp")
        ck.write("sig", old, bucket_by="conv_id", n_buckets=8)
        reloaded = ck.append("sig", new)
        m = ck.read_manifest("sig")
        assert m["bucket_by"] == "conv_id" and m["rows"] == sigs.count()
        assert m["output_fingerprint"] == stage_fingerprint(reloaded)
        # the appended table still elides the big-side Exchange
        pairs = spark.createDataFrame(
            [("conv_00000000",), ("conv_00000070",)], "left_id string"
        )
        old_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                pairs.join(
                    reloaded.select(F.col("conv_id").alias("left_id"), "sig_text"),
                    "left_id",
                )
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_conf)
        # one Exchange (the pairs side); the bucketed table side has none
        assert plan.count("Exchange") == 1


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
        ck.append("stage", inc, expect_rows=2)
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
    diverge from a full rescan — append must refuse, like expect_rows."""
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

    def test_compact_bucketed_stage_keeps_bucket_metadata(
        self, spark, tmp_path
    ):
        from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

        ck = StageCheckpoint(tmp_path / "cmpb")
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(16)], "id long, s string"
        )
        ck.write("stage", base, input_fingerprint="fp0",
                 bucket_by="id", n_buckets=4)
        inc = spark.createDataFrame(
            [(100 + i, f"w{i}") for i in range(16)], "id long, s string"
        )
        ck.append("stage", inc)
        files_before = len(ck._data_files("stage"))
        m_before = ck.read_manifest("stage")

        res = ck.compact(spark, "stage")
        assert res["compacted"]
        assert res["files_after"] <= 4 < files_before  # ~one file/bucket
        m = ck.read_manifest("stage")
        assert m["output_fingerprint"] == m_before["output_fingerprint"]
        assert (m["bucket_by"], m["n_buckets"]) == ("id", 4)
        # load() still resolves through the bucketed catalog table
        out = ck.load(spark, "stage")
        assert out.count() == 32
        assert {r["id"] for r in out.collect()} == set(range(16)) | {
            100 + i for i in range(16)
        }

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
        the fingerprint backfilled."""
        ck = self._many_appends(spark, tmp_path)
        mp = ck.manifest_path("stage")
        m = json.loads(mp.read_text())
        fp = m.pop("output_fingerprint")
        mp.write_text(json.dumps(m))
        res = ck.compact(spark, "stage")
        assert res["compacted"]
        assert ck.read_manifest("stage")["output_fingerprint"] == fp


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
