"""Founding-sentinel filesystem abstraction (streaming/sentinel.py).

Round-4 stored the lost-pipeline-checkpoint marker with local pathlib
and silently DISABLED the guard for URI / non-local-defaultFS stream
checkpoints — exactly the deployments where silent re-founding is most
costly. The sentinel now goes through the Hadoop FileSystem API; these
tests pin that it works for plain paths and explicit URIs and that a
stream without a reachable gateway refuses to start un-guarded.
"""

from __future__ import annotations

import json

import pytest

from poi_name_matching_spark.streaming.sentinel import (
    HadoopSentinel,
    make_sentinel,
)


class _BrokenSpark:
    """Stand-in for a deployment with no JVM gateway (e.g. Spark
    Connect): ANY attribute access used by HadoopSentinel raises."""

    @property
    def _jvm(self):
        raise AttributeError("no JVM gateway")

    @property
    def sparkContext(self):
        raise AttributeError("no JVM gateway")


def test_hadoop_sentinel_plain_path(spark, tmp_path):
    ck = tmp_path / "stream_ck"
    s = make_sentinel(spark, str(ck))
    assert isinstance(s, HadoopSentinel)
    assert not s.exists()
    s.write({"checkpoint_dir": "/pipe"})
    assert s.exists()
    # scheme-less path on a local defaultFS lands on the local disk,
    # with the advisory payload readable
    marker = ck / "_pipeline_founded.json"
    assert marker.exists()
    assert json.loads(marker.read_text())["checkpoint_dir"] == "/pipe"


def test_hadoop_sentinel_file_uri(spark, tmp_path):
    """Explicit URIs disabled the guard in round 4; they must guard
    now — file:/ is the in-sandbox proxy for hdfs:/s3a: (same FileSystem
    resolution path, different scheme)."""
    ck_uri = "file://" + str(tmp_path / "stream_ck_uri")
    s = make_sentinel(spark, ck_uri)
    assert isinstance(s, HadoopSentinel)
    assert not s.exists()
    s.write({"checkpoint_dir": "/pipe"})
    assert s.exists()
    assert (tmp_path / "stream_ck_uri" / "_pipeline_founded.json").exists()


def test_sentinel_overwrite_and_reread(spark, tmp_path):
    s = make_sentinel(spark, str(tmp_path / "ck"))
    s.write({"v": 1})
    s.write({"v": 2})  # idempotent re-arm must not fail
    assert s.exists()


def test_strict_raises_without_gateway(tmp_path):
    """No gateway, no guard, no stream: the sentinel refuses to start
    rather than let the stream re-found silently."""
    with pytest.raises(RuntimeError, match="founding guard"):
        make_sentinel(_BrokenSpark(), str(tmp_path / "ck"))


def test_guard_end_to_end_via_hadoop_sentinel(spark, tmp_path):
    """The full lost-checkpoint guard through the Hadoop-backed
    sentinel: found → marker armed → pipeline checkpoint lost →
    replay raises instead of silently re-founding."""
    import shutil

    from poi_name_matching_spark.data.transcripts import (
        TRANSCRIPTS_SCHEMA,
        generate_transcripts,
    )
    from poi_name_matching_spark.plans.pipeline import PipelineConfig
    from poi_name_matching_spark.streaming.pipeline import (
        apply_transcript_batch,
    )

    res = generate_transcripts(n_convs=12, seed=21)
    batch = spark.createDataFrame(res.rows, TRANSCRIPTS_SCHEMA)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "pipe"))
    sentinel = make_sentinel(spark, str(tmp_path / "sck"))
    assert isinstance(sentinel, HadoopSentinel)
    assert apply_transcript_batch(batch, cfg, founded_marker=sentinel)
    assert sentinel.exists()
    shutil.rmtree(tmp_path / "pipe")
    with pytest.raises(RuntimeError, match="founded before"):
        apply_transcript_batch(batch, cfg, founded_marker=sentinel)
