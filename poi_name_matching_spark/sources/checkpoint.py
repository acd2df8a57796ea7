"""Stage checkpoints: immutable stage versions behind one head pointer.

FIXTURES.md §6 layout:

    out/_head.json                     {<stage>: {live, versions, last}}
    out/<stage>/v<N>/data.parquet/
    out/<stage>/v<N>/_manifest.json    {stage, input_fingerprint,
                                        output_fingerprint, rows, schema,
                                        partitions: [{id, rows}], wall_ms,
                                        <observed stats>}

Resumability contract (north rule): rerunning the pipeline skips any stage
whose manifest exists AND whose recorded ``input_fingerprint`` matches the
fingerprint of the current inputs; deleting one stage directory recomputes
that stage and everything downstream, nothing upstream. ``input_key``
computes the pipeline's input fingerprint: from file metadata for a file
scan, from the rows for anything else.

Manifest fields beyond the identity ones:

* ``schema`` — the stage's schema (Spark's JSON form). ``load``,
  ``append``, ``load_appended`` and ``load_snapshot`` read with it, so
  reading a stage runs no schema-inference job; only a manifest without
  one (written before the field existed) makes them infer it from the
  parquet footers.
* observed stats — named aggregates a caller passes to ``write`` as
  ``observe``, computed while the rows are written (the pipeline records
  ``n_components`` this way), plus ``extra`` values a caller learned from
  a query that already ran (the pipeline's ``max_block_size`` on
  ``candidate_pairs``).

Stats without a rescan: ``write`` and ``append`` observe the output
fingerprint (row count + xor of ``xxhash64`` row hashes, the
``stage_fingerprint`` aggregate) with ``DataFrame.observe`` while the
rows are written, and read each new data file's row count from its
parquet footer on the driver — one Spark job per commit, not a write
plus a rescan. The observed count must equal the footers' total or the
version is left uncommitted. ``partitions`` holds one entry per
non-empty data file. ``compact`` alone rescans what it wrote: that
independent fingerprint is its verification. Under Spark 4.1 a session
that has run an observation no longer Java-serializes, so a spark.ml
model whose training summary holds it cannot ``transform``;
``operators/ml.py`` drops those summaries.

Commit protocol (the Iceberg metadata-pointer commit): every ``write``,
``append`` and ``compact`` creates a NEW version directory and never
touches an existing one. ``_head.json`` names each stage's live version
plus its retained committed versions (most recently replaced last), and
is only ever replaced whole with ``write_json_atomic``. A version is
committed exactly when the head names it, so a crash at any point before
the head swap leaves the previous head valid plus an orphan directory
that ``expire_snapshots`` sweeps — a restart needs no repair step. The
head stores version numbers, never paths, so a copied checkpoint
directory is a working checkpoint. Version numbers are never reused
(``last`` records the highest one allocated or swept).

``commit()`` groups several stage commits into ONE head swap (the
incremental path's five-stage commit); outside it each call swaps the
head for its own stage right away, which keeps the batch resume
contract (a crash after ``signatures`` keeps ``signatures``).

Snapshots (Iceberg time-travel analog): ``history`` lists the retained
versions, ``load_snapshot`` reads one, ``rollback`` points the head back
at one (undoable: the replaced live version is retained), and
``expire_snapshots`` trims the retained list and deletes every version
directory the head does not name.

Fast append (Iceberg ``fast_append`` analog): ``append``'s new version
hard-links the live version's data files and writes ONLY the new rows
next to them — O(increment) bytes per commit, and every version stays one
self-contained directory. The output fingerprint composes exactly (xor of
row hashes / sum of counts), so resume keys stay consistent with a full
rescan.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_json_atomic(path: Path, payload: dict) -> None:
    """Write a small JSON file durably-complete-or-absent: tmp file,
    fsync the contents, rename into place, fsync the directory (makes
    the rename itself durable). Without the fsync, delayed allocation
    can persist the rename before the contents — a head swap must never
    be observable torn."""
    tmp = path.with_name(path.name + ".tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps(payload, indent=2))
        f.flush()
        os.fsync(f.fileno())
    tmp.rename(path)
    dfd = os.open(str(path.parent), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _fp_columns(columns: list[str]) -> tuple:
    """The content-fingerprint aggregate over ``columns``: row count and
    bit_xor of ``xxhash64`` row hashes (``n``, ``h``)."""
    return (
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*columns)), F.lit(0)).alias("h"),
    )


def stage_fingerprint(df: DataFrame) -> str:
    """Order/partitioning-insensitive content fingerprint: bit_xor of
    row hashes + row count over ALL columns. One scan; used to decide
    stage skip and to verify byte-stability in resumability tests."""
    row = df.agg(*_fp_columns(df.columns)).first()
    return _fp_format(row["n"], row["h"])


def _file_relation(df: DataFrame):
    """The ``HadoopFsRelation`` ``df`` reads when ``df`` is a file scan or
    a plain column projection of one (no filter, rename or expression —
    its rows are then fixed by the files and its schema); else ``None``."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        exprs = plan.projectList().iterator()
        while exprs.hasNext():
            if exprs.next().getClass().getSimpleName() != "AttributeReference":
                return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    return rel if rel.getClass().getSimpleName() == "HadoopFsRelation" else None


def _file_stats(spark: SparkSession, files: list[str]) -> list[tuple[int, int]]:
    """(size, mtime in ms) of each of ``files`` (URIs, as ``inputFiles``
    returns them), read now through the Hadoop FileSystem of its scheme:
    one fresh listing per parent directory, not one call per file, and
    not the listing Spark cached when the DataFrame was created."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    listed: dict[str, dict[str, tuple[int, int]]] = {}
    stats = []
    for f in files:
        path = jvm.org.apache.spark.paths.SparkPath.fromUrlString(f).toPath()
        parent = path.getParent()
        if parent.toString() not in listed:
            listed[parent.toString()] = {
                st.getPath().getName(): (st.getLen(), st.getModificationTime())
                for st in parent.getFileSystem(conf).listStatus(parent)
            }
        entries = listed[parent.toString()]
        if path.getName() not in entries:
            raise FileNotFoundError(f"input file {f} no longer exists")
        stats.append(entries[path.getName()])
    return stats


def input_key(df: DataFrame) -> str:
    """The cache key of a pipeline input. A file scan (or a plain column
    projection of one) is keyed by its format, reader options, output
    schema and every file's path, size and mtime, listed from the file
    system when the key is computed — no Spark job. So a rewrite of a
    file, even with the same bytes, and a byte-identical copy at a new
    path both change the key; a same-size rewrite within the same
    millisecond (the FileSystem's mtime unit) does not. Any other
    DataFrame is keyed by its rows (``stage_fingerprint``)."""
    rel = _file_relation(df)
    if rel is None:
        return stage_fingerprint(df)
    files = sorted(df.inputFiles())
    payload = [
        rel.fileFormat().toString(),
        rel.options().toString(),
        df.schema.json(),
        [[f, *st] for f, st in zip(files, _file_stats(df.sparkSession, files))],
    ]
    return "files:" + hashlib.sha256(json.dumps(payload).encode()).hexdigest()


def _observe_fingerprint(
    df: DataFrame, observe: dict | None = None
) -> tuple[DataFrame, Observation]:
    """``df`` with its ``stage_fingerprint`` aggregate (and the named
    ``observe`` aggregates) observed as the rows stream through the
    action that consumes it (the stage write), so they cost no scan of
    their own."""
    obs = Observation()
    named = [col.alias(name) for name, col in (observe or {}).items()]
    return df.observe(obs, *_fp_columns(df.columns), *named), obs


def _fp_format(n: int, h: int) -> str:
    return f"{n}:{h:x}" if h >= 0 else f"{n}:m{-h:x}"


def _fp_parse(fp: str) -> tuple[int, int]:
    n, _, h = fp.partition(":")
    if h.startswith("m"):
        return int(n), -int(h[1:], 16)
    return int(n), int(h, 16)


#: manifest ``partitions`` entries kept before old ones compact into a
#: single rollup row (see ``append``) — bounds every commit's manifest
#: rewrite regardless of how many increments a stage has accumulated
_PARTITION_HISTORY_CAP = 512

#: ``compact`` leaves a stage of fewer data files than this alone
_COMPACT_MIN_FILES = 2


def _file_rows(path: Path, files: list[str]) -> list[int]:
    """Row count of each of ``files`` under ``path``, read from its
    parquet footer on the driver (no Spark job). Every commit — write,
    append and compact — calls it once its data files are written."""
    return [pq.read_metadata(path / f).num_rows for f in files]


def _observed_stats(
    stage: str, obs: Observation, path: Path, files: list[str]
) -> tuple[int, int, list[int]]:
    """``(n, h, file_rows)`` of a write observed by ``obs`` that added
    ``files`` under ``path``. The observed count must equal the footers'
    total; a mismatch (a plan that ran twice, a lost file) raises before
    the new version is committed."""
    file_rows = _file_rows(path, files)
    fp = obs.get
    n, h = int(fp["n"]), int(fp["h"])
    if n != sum(file_rows):
        raise ValueError(
            f"stage {stage!r}: the write observed {n} rows but its files "
            f"hold {sum(file_rows)} — the new version was not committed"
        )
    return n, h, file_rows


def _fp_combine(a: str, b: str) -> str:
    """Fingerprint of the UNION of two disjoint row sets: counts add,
    xor-hashes xor (both re-wrapped to signed 64-bit, matching what a
    full ``stage_fingerprint`` rescan computes)."""
    na, ha = _fp_parse(a)
    nb, hb = _fp_parse(b)
    h = (ha ^ hb) & ((1 << 64) - 1)
    if h >= 1 << 63:
        h -= 1 << 64
    return _fp_format(na + nb, h)


def _partitions(file_rows: list[int], base: int = 0) -> list[dict]:
    """Manifest ``partitions`` entries: one per non-empty data file."""
    return [{"id": base + i, "rows": r} for i, r in enumerate(file_rows) if r]


def _part_files(path: Path) -> list[str]:
    """Names of the data files in one version's parquet directory
    (metadata/hidden/marker files excluded)."""
    if not path.exists():
        return []
    return sorted(
        p.name for p in path.iterdir() if p.is_file() and p.name.startswith("part-")
    )


class StageCheckpoint:
    """Versioned stage store: one directory per stage version, one head."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        #: head entries staged by an open ``commit()`` (None outside one)
        self._pending: dict | None = None

    # ------------------------------------------------------------------
    # head pointer
    # ------------------------------------------------------------------

    def _head_path(self) -> Path:
        return self.root / "_head.json"

    def _entry(self, stage: str) -> dict:
        """The stage's head entry, as an open ``commit()`` will leave it."""
        e = (self._pending or {}).get(stage)
        if e is None:
            p = self._head_path()
            e = json.loads(p.read_text()).get(stage) if p.exists() else None
        return e or {"live": None, "versions": [], "last": 0}

    def _swap(self, updates: dict) -> None:
        """Replace the head entries of ``updates``' stages — deferred to
        the end of an open ``commit()``, else one atomic head write."""
        if self._pending is not None:
            self._pending.update(updates)
            return
        p = self._head_path()
        head = json.loads(p.read_text()) if p.exists() else {}
        write_json_atomic(p, {**head, **updates})

    @contextmanager
    def commit(self):
        """Group every stage commit made inside the block into ONE head
        swap at exit. Inside the block, ``read_manifest``, ``load`` and
        ``load_appended`` already resolve the pending versions; an
        exception leaves the head untouched (the pending versions become
        orphans for ``expire_snapshots``). Not reentrant; do not expire
        inside the block."""
        self._pending = {}
        try:
            yield self
            pending = self._pending
        finally:
            self._pending = None
        if pending:
            self._swap(pending)

    def _new_version(self, stage: str) -> int:
        """Allocate and create the next (never reused) version directory."""
        v = 1 + max([self._entry(stage)["last"], *self._version_dirs(stage)])
        self._version_dir(stage, v).mkdir(parents=True)
        return v

    def _commit(self, stage: str, v: int, manifest: dict) -> None:
        """Write version ``v``'s manifest, then make it the live version
        (the replaced live version joins the retained list)."""
        write_json_atomic(self._version_dir(stage, v) / "_manifest.json", manifest)
        e = self._entry(stage)
        retained = e["versions"] + ([e["live"]] if e["live"] is not None else [])
        self._swap(
            {stage: {"live": v, "versions": retained, "last": max(e["last"], v)}}
        )

    # ------------------------------------------------------------------
    # layout
    # ------------------------------------------------------------------

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def _version_dir(self, stage: str, v: int) -> Path:
        return self._dir(stage) / f"v{v}"

    def _version_dirs(self, stage: str) -> list[int]:
        d = self._dir(stage)
        if not d.exists():
            return []
        return sorted(
            int(p.name[1:])
            for p in d.iterdir()
            if p.is_dir() and p.name.startswith("v") and p.name[1:].isdigit()
        )

    def _data_path(self, stage: str, v: int | None = None) -> Path:
        if v is None:
            v = self._entry(stage)["live"]
            if v is None:
                raise FileNotFoundError(f"stage {stage!r} has no committed version")
        return self._version_dir(stage, v) / "data.parquet"

    def _data_files(self, stage: str) -> list[str]:
        """Names of the data files making up the live version."""
        return _part_files(self._data_path(stage))

    def manifest_path(self, stage: str) -> Path:
        return self._data_path(stage).parent / "_manifest.json"

    def _manifest(self, stage: str, v: int | None) -> dict | None:
        p = None if v is None else self._version_dir(stage, v) / "_manifest.json"
        return json.loads(p.read_text()) if p is not None and p.exists() else None

    def read_manifest(self, stage: str) -> dict | None:
        """The live version's manifest; ``None`` when the head names no
        version of ``stage`` or names one whose directory is gone."""
        return self._manifest(stage, self._entry(stage)["live"])

    def is_complete(self, stage: str, input_fingerprint: str | None = None) -> bool:
        m = self.read_manifest(stage)
        if m is None:
            return False
        if input_fingerprint is not None and m.get("input_fingerprint") != input_fingerprint:
            return False
        return True

    def _read(
        self, spark: SparkSession, stage: str, v: int, files: list[str] | None = None
    ) -> DataFrame:
        """Version ``v``'s parquet data (or just its ``files``), read
        with the schema its manifest records — no schema-inference job.
        A manifest without one (written before the field existed) falls
        back to inferring it from the footers."""
        path = self._data_path(stage, v)
        schema = (self._manifest(stage, v) or {}).get("schema")
        reader = spark.read if schema is None else spark.read.schema(
            StructType.fromJson(schema)
        )
        if files is None:
            return reader.parquet(str(path))
        return reader.parquet(*(str(path / f) for f in files))

    def load(self, spark: SparkSession, stage: str) -> DataFrame:
        return self._read(spark, stage, self._entry(stage)["live"])

    # ------------------------------------------------------------------
    # snapshots — Iceberg time-travel/rollback/expire analog
    # ------------------------------------------------------------------

    def snapshot_versions(self, stage: str) -> list[int]:
        """Retained committed versions of ``stage`` (the live one excluded)."""
        return list(self._entry(stage)["versions"])

    def history(self, stage: str) -> list[dict]:
        """Manifests of every retained version plus the live one (live
        last), each tagged with its ``version`` (``None`` = live) —
        Iceberg's snapshot-history listing."""
        out = []
        for v in self.snapshot_versions(stage):
            m = self._manifest(stage, v)
            if m is not None:
                out.append({"version": v, **m})
        cur = self.read_manifest(stage)
        if cur is not None:
            out.append({"version": None, **cur})
        return out

    def _check_snapshot(self, stage: str, version: int) -> dict:
        e = self._entry(stage)
        if version not in e["versions"] or self._manifest(stage, version) is None:
            raise FileNotFoundError(
                f"stage {stage!r} has no complete snapshot v{version}; "
                f"available: {e['versions']}"
            )
        return e

    def load_snapshot(
        self, spark: SparkSession, stage: str, version: int | None
    ) -> DataFrame:
        """Time-travel READ (Iceberg ``VERSION AS OF`` analog): the
        stage's rows as of retained ``version``, without mutating
        anything. ``None`` reads the live version (= ``load``)."""
        if version is None:
            return self.load(spark, stage)
        self._check_snapshot(stage, version)
        return self._read(spark, stage, version)

    def rollback(self, stage: str, version: int) -> None:
        """Point the head back at retained ``version``. Undoable: the
        replaced live version joins the retained list (Iceberg's rollback
        keeps the abandoned snapshot reachable too)."""
        e = self._check_snapshot(stage, version)
        retained = [v for v in e["versions"] if v != version] + [e["live"]]
        self._swap({stage: {**e, "live": version, "versions": retained}})

    def expire_snapshots(self, stage: str, keep_last: int = 3) -> list[int]:
        """Keep only the newest ``keep_last`` retained versions, then
        delete every version directory of ``stage`` the head does not
        name — expired versions and the orphans of uncommitted writes
        alike. The live version is never touched. Returns the expired
        version numbers — Iceberg's ``expireSnapshots``. Call outside
        ``commit()``."""
        e = self._entry(stage)
        n_expired = max(0, len(e["versions"]) - max(0, int(keep_last)))
        expired, kept = e["versions"][:n_expired], e["versions"][n_expired:]
        named = {e["live"], *kept}
        doomed = [v for v in self._version_dirs(stage) if v not in named]
        if expired or doomed:
            # head first: a crash mid-sweep leaves only unnamed directories
            self._swap(
                {stage: {**e, "versions": kept, "last": max([e["last"], *doomed])}}
            )
        for v in doomed:
            shutil.rmtree(self._version_dir(stage, v))
        return expired

    # ------------------------------------------------------------------
    # commits
    # ------------------------------------------------------------------

    def write(
        self,
        stage: str,
        df: DataFrame,
        input_fingerprint: str | None = None,
        extra: dict | None = None,
        observe: dict | None = None,
    ) -> DataFrame:
        """Materialize ``df`` as a new version, record its observed
        output fingerprint, schema, per-file row counts (skew
        visibility) and wall time, commit it, and return the reloaded
        DataFrame so downstream stages read the checkpoint, not the
        lineage.

        ``observe``: ``{name: aggregate Column}`` computed while the
        rows are written and recorded in the manifest under ``name``."""
        t0 = time.monotonic()
        spark = df.sparkSession
        v = self._new_version(stage)
        path = self._data_path(stage, v)
        # the output fingerprint is observed as the rows are written —
        # downstream stages key off it without re-scanning the checkpoint
        observed, obs = _observe_fingerprint(df, observe)
        observed.write.parquet(str(path))
        # the written schema is df's: passing it skips the footer-
        # sampling job schema inference would launch
        reloaded = spark.read.schema(df.schema).parquet(str(path))
        n, h, file_rows = _observed_stats(stage, obs, path, _part_files(path))
        manifest = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "output_fingerprint": _fp_format(n, h),
            "rows": n,
            "schema": reloaded.schema.jsonValue(),
            "partitions": _partitions(file_rows),
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "written_at_unix": int(time.time()),
            **{name: obs.get[name] for name in observe or {}},
        }
        if extra:
            manifest.update(extra)
        self._commit(stage, v, manifest)
        return reloaded

    def append(
        self,
        stage: str,
        df: DataFrame,
        input_fingerprint: str | None = None,
        extra: dict | None = None,
    ) -> DataFrame:
        """Fast-append commit (Iceberg ``fast_append`` analog): a new
        version that hard-links the live version's data files and writes
        ONLY ``df``'s rows next to them — O(increment) data written, no
        existing file touched. The increment's fingerprint is observed
        during its write and the new files' row counts come from their
        footers; the stage's output fingerprint is composed exactly
        (xor/count), so downstream resume keys match a full rescan.

        Requires a complete existing stage."""
        t0 = time.monotonic()
        m = self.read_manifest(stage)
        if m is None:
            raise FileNotFoundError(
                f"append needs a complete stage {stage!r}; write() it first"
            )
        spark = df.sparkSession
        # schema guard: the composed output fingerprint hashes columns
        # in file order, so an increment with reordered/retyped columns
        # would silently diverge from a full rescan (and mixed-schema
        # files in one version directory are a read hazard). Names, order
        # and types must match exactly (nullability excluded — parquet
        # unions it).
        existing = self.load(spark, stage)
        want = [(f.name, f.dataType.simpleString()) for f in existing.schema.fields]
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if want != got:
            raise ValueError(
                f"append to stage {stage!r} schema mismatch: stage has "
                f"{want}, increment has {got} — select columns in the "
                "stage's order with matching types before appending"
            )
        prev_fp = m.get("output_fingerprint") or stage_fingerprint(existing)
        src = self._data_path(stage)
        linked = _part_files(src)
        v = self._new_version(stage)
        path = self._data_path(stage, v)
        path.mkdir()
        for f in linked:
            os.link(src / f, path / f)
            if (src / f".{f}.crc").exists():
                os.link(src / f".{f}.crc", path / f".{f}.crc")
        observed, obs = _observe_fingerprint(df)
        observed.write.mode("append").parquet(str(path))
        new_files = sorted(set(_part_files(path)) - set(linked))
        n_new, h, file_rows = _observed_stats(stage, obs, path, new_files)
        out_fp = _fp_combine(prev_fp, _fp_format(n_new, h))
        pid_base = max((p["id"] for p in m.get("partitions", [])), default=-1) + 1
        partitions = list(m.get("partitions", [])) + _partitions(file_rows, pid_base)
        # keep the commit O(increment): after many fast-appends the
        # cumulative per-file history would dominate the manifest
        # (a zero-row commit rewriting an unbounded JSON). Compact the
        # oldest entries into one rollup row — recent appends keep full
        # skew visibility, row totals are preserved exactly, and the
        # granular history of every era survives in the retained
        # versions' manifests
        if len(partitions) > _PARTITION_HISTORY_CAP:
            keep = _PARTITION_HISTORY_CAP // 2
            old, recent = partitions[:-keep], partitions[-keep:]
            rollup = {
                "id": min(p["id"] for p in old),
                "rows": sum(p["rows"] for p in old),
                "compacted": len(old),
            }
            partitions = [rollup] + recent
        manifest = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "output_fingerprint": out_fp,
            "rows": _fp_parse(out_fp)[0],
            "schema": existing.schema.jsonValue(),
            "partitions": partitions,
            "appended": {"files": new_files, "rows": n_new},
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "written_at_unix": int(time.time()),
        }
        if extra:
            manifest.update(extra)
        self._commit(stage, v, manifest)
        return self.load(spark, stage)

    def load_appended(self, spark: SparkSession, stage: str) -> DataFrame:
        """The rows the LAST commit appended to ``stage`` (reads exactly
        the files recorded in the manifest's ``appended`` entry). Raises
        if the last commit was a full write."""
        m = self.read_manifest(stage)
        if m is None or "appended" not in m:
            raise ValueError(
                f"stage {stage!r} was not fast-appended by its last "
                "commit; load_appended has nothing to read"
            )
        v = self._entry(stage)["live"]
        files = m["appended"]["files"]
        if not files:
            return self._read(spark, stage, v).limit(0)
        return self._read(spark, stage, v, files)

    def compact(
        self,
        spark: SparkSession,
        stage: str,
        target_file_bytes: int = 128 << 20,
    ) -> dict:
        """Rewrite the stage's accumulated data files into ~target-sized
        ones (Iceberg ``rewrite_data_files`` / binpack analog). Fast
        appends write O(increment) files per commit — after enough
        increments a stage is thousands of KB-scale files, and at 100 TB
        the per-file open/footer cost dominates every scan. Compaction
        is CONTENT- and FINGERPRINT-PRESERVING: rows, ``rows``,
        ``output_fingerprint``, ``input_fingerprint`` and every config
        key in the manifest are carried through unchanged, so it is
        invisible to resume keys and the config-drift guards — only the
        file layout changes.

        The compacted copy is a new version whose content fingerprint is
        checked against the manifest BEFORE the head swap; a mismatch
        raises with the stage untouched. The pre-compaction version is
        retained and rollback-able like any other.

        No-op (returns ``{"compacted": False, ...}``) when the stage
        already has fewer than ``_COMPACT_MIN_FILES`` files or no more
        than the target layout's file count — sized by TOTAL BYTES, so
        calling this after every increment is cheap and idempotent."""
        import math

        m = self.read_manifest(stage)
        if m is None:
            raise FileNotFoundError(
                f"compact needs a complete stage {stage!r}; write() it first"
            )
        src = self._data_path(stage)
        files = _part_files(src)
        total_bytes = sum((src / f).stat().st_size for f in files)
        n_out = max(1, math.ceil(total_bytes / max(1, int(target_file_bytes))))
        if len(files) < max(_COMPACT_MIN_FILES, n_out + 1):
            return {
                "compacted": False,
                "files": len(files),
                "target_files": n_out,
            }

        t0 = time.monotonic()
        prev = self._entry(stage)["live"]
        current = self._read(spark, stage, prev)
        v = self._new_version(stage)
        path = self._data_path(stage, v)
        current.coalesce(n_out).write.parquet(str(path))
        # verify BEFORE the swap (count + xor content fingerprint).
        # Pre-upgrade manifests may lack output_fingerprint (same
        # tolerance append() has) — rescan the live files for it
        recorded = m.get("output_fingerprint") or stage_fingerprint(current)
        file_rows = _file_rows(path, _part_files(path))
        # an independent rescan of the new files, not an observation of
        # the write: this check is what makes the rewrite trustworthy
        out_fp = stage_fingerprint(
            spark.read.schema(current.schema).parquet(str(path))
        )
        if out_fp != recorded:
            raise RuntimeError(
                f"compaction of stage {stage!r} produced fingerprint "
                f"{out_fp} != recorded {recorded}; stage left untouched"
            )
        manifest = {k: val for k, val in m.items() if k != "appended"}
        manifest["output_fingerprint"] = out_fp  # backfills pre-upgrade
        manifest["schema"] = current.schema.jsonValue()
        manifest["partitions"] = _partitions(file_rows)
        manifest["wall_ms"] = int((time.monotonic() - t0) * 1000)
        manifest["written_at_unix"] = int(time.time())
        result = {
            "compacted": True,
            "files_before": len(files),
            "files_after": len(_part_files(path)),
            "bytes": total_bytes,
            "snapshot": prev,
        }
        manifest["compaction"] = result
        self._commit(stage, v, manifest)
        return result

    def get_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        compute,
        input_fingerprint: str | None = None,
        extra: dict | None = None,
        observe: dict | None = None,
    ) -> tuple[DataFrame, bool]:
        """(df, was_cached). ``compute`` is a thunk returning the stage
        DataFrame; only invoked on a manifest miss/mismatch. ``extra`` is
        read after ``compute`` returns, so ``compute`` may add the
        statistics it learned on the way to it."""
        if self.is_complete(stage, input_fingerprint):
            return self.load(spark, stage), True
        df = compute()
        return self.write(stage, df, input_fingerprint, extra, observe=observe), False
