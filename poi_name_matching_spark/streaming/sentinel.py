"""Filesystem-agnostic founding sentinel for the pipeline stream.

The lost-pipeline-checkpoint guard (``pipeline.apply_transcript_batch``)
needs one bit of durable state co-located with the STREAM's offset
checkpoint: "this stream has founded a pipeline checkpoint before".
``HadoopSentinel`` keeps it through the Hadoop ``FileSystem`` API, so
the marker lives on WHATEVER filesystem the checkpoint path resolves to
(scheme-less paths resolve against ``fs.defaultFS``, URIs against their
own scheme) — the same resolution Structured Streaming itself applies
to ``checkpointLocation``, so the guard holds on HDFS/S3 as on a local
disk. A session without the JVM gateway cannot run the pipeline at all
(``input_key`` and the df-map broadcast need it), so there is no
fallback: an unreachable gateway raises when the stream starts.

Only ``exists()`` gates the guard; the JSON payload is advisory
(debuggability), so a crash mid-write that leaves a partial file still
arms the guard correctly — presence IS the signal.

Engine capability beyond the reference (batch-only; SURVEY.md §2.8).
"""

from __future__ import annotations

import json


class HadoopSentinel:
    """Founding marker on any Hadoop-visible filesystem.

    Resolution happens per-call (not cached) so a rebuilt SparkContext
    after driver restart keeps working; the per-call JVM round-trips are
    negligible next to a micro-batch.
    """

    def __init__(self, spark, path: str) -> None:
        self._spark = spark
        self.path = str(path)

    def _fs(self):
        # Route: SparkContext -> Hadoop Configuration -> Path-resolved
        # FileSystem. PySpark exposes no fully public accessor for the
        # Hadoop conf; make_sentinel probes exists() once, so a Spark
        # build that drops these attributes fails at stream start.
        jvm = self._spark._jvm
        hconf = self._spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        return jpath.getFileSystem(hconf), jpath

    def exists(self) -> bool:
        fs, p = self._fs()
        return bool(fs.exists(p))

    def write(self, payload: dict) -> None:
        fs, p = self._fs()
        out = fs.create(p, True)  # overwrite; parents auto-created
        try:
            out.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            out.close()

    def __str__(self) -> str:
        return self.path


def make_sentinel(spark, checkpoint_path: str) -> HadoopSentinel:
    """The founding sentinel for a stream checkpoint location, probed
    with one ``exists()`` call so a broken gateway or an unreachable
    filesystem raises HERE, at stream start, not mid-stream."""
    marker_path = str(checkpoint_path).rstrip("/") + "/_pipeline_founded.json"
    sentinel = HadoopSentinel(spark, marker_path)
    try:
        sentinel.exists()
    except Exception as exc:  # gateway/classpath/scheme failure
        raise RuntimeError(
            f"cannot arm the founding guard for stream checkpoint "
            f"{checkpoint_path}: its Hadoop FileSystem is unreachable "
            f"({exc!r})"
        ) from exc
    return sentinel
