"""Commit statistics observed during the write: the output fingerprint
and per-file row counts a ``StageCheckpoint`` records without a rescan."""

import pytest

from poi_name_matching_spark.sources.checkpoint import StageCheckpoint, stage_fingerprint


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "cast(id * 7 as string) s").repartition(3)


@pytest.mark.parametrize(
    "case", ["write", "bucketed_write", "append", "empty_write", "empty_append"]
)
def test_observed_fingerprint_equals_rescan(spark, tmp_path, case):
    ck = StageCheckpoint(tmp_path / "ck")
    want_rows = {"empty_write": 0, "empty_append": 20}.get(case, 50)
    if case == "write":
        ck.write("stage", _rows(spark, 0, 50))
    elif case == "bucketed_write":
        ck.write("stage", _rows(spark, 0, 50), bucket_by="id", n_buckets=4)
    elif case == "empty_write":
        ck.write("stage", _rows(spark, 0, 50).limit(0))
    else:
        ck.write("stage", _rows(spark, 0, 20))
        hi = 50 if case == "append" else 20
        ck.append("stage", _rows(spark, 20, hi), expect_rows=hi - 20)
    m = ck.read_manifest("stage")
    assert m["rows"] == want_rows
    assert m["output_fingerprint"] == stage_fingerprint(ck.load(spark, "stage"))
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
    assert all(p["rows"] > 0 for p in m["partitions"])


def test_write_of_narrow_frame_is_one_spark_job(spark, tmp_path):
    """Writing a shuffle-free DataFrame costs its write job and nothing
    else: no fingerprint rescan, no schema-inference job on reload."""
    sc = spark.sparkContext
    ck = StageCheckpoint(tmp_path / "ck")
    df = spark.range(200).selectExpr("id", "cast(id as string) s")
    group = "checkpoint-write-job-count"
    sc.setJobGroup(group, "one StageCheckpoint.write")
    try:
        out = ck.write("stage", df)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.count() == 200


@pytest.mark.parametrize("bucketed", [False, True])
def test_loads_read_the_manifest_schema_with_no_spark_job(
    spark, tmp_path, count_jobs, bucketed
):
    """``load``, ``load_appended`` and ``load_snapshot`` read with the
    schema the manifest records, so none of them launches the footer
    job schema inference would — a bucketed stage included, whose
    catalog table a fresh session must register again."""
    ck = StageCheckpoint(tmp_path / "ck")
    kw = {"bucket_by": "id", "n_buckets": 4} if bucketed else {}
    written = ck.write("stage", _rows(spark, 0, 50), **kw)
    ck.append("stage", _rows(spark, 50, 60), expect_rows=10)
    assert ck.read_manifest("stage")["schema"] == written.schema.jsonValue()
    if bucketed:
        # what a process restart looks like to the in-memory catalog
        spark.sql(f"DROP TABLE {ck._table_name('stage', 2)}")
    loaded, n_jobs = count_jobs(lambda: ck.load(spark, "stage"))
    assert n_jobs == 0
    assert loaded.schema == written.schema
    appended, n_jobs = count_jobs(lambda: ck.load_appended(spark, "stage"))
    assert n_jobs == 0
    old, n_jobs = count_jobs(lambda: ck.load_snapshot(spark, "stage", 1))
    assert n_jobs == 0
    assert (loaded.count(), appended.count(), old.count()) == (60, 10, 50)
    assert stage_fingerprint(loaded) == ck.read_manifest("stage")["output_fingerprint"]
