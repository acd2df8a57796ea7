"""Benchmark inputs: seeded transcripts split into a base corpus and
arrival slices, written to parquet before anything is timed.

The load generator is ``poi_name_matching_spark.data.transcripts``. It
runs in this process (no Spark) and the rows go to parquet through
pyarrow, so the timed pipeline reads parquet, the production input
shape.

The generator decides per entity, at random, whether its conversations
lead with the hot token, so the hot block's size would vary with the
seed, and the cost of scoring it grows with the square of that size. To
keep the work equal across seeds, the base corpus takes exactly
``n_hot`` hot conversations and ``n_base - n_hot`` others, each the
lowest ``conv_id`` values of their kind. The next ``n_commits`` runs of
``commit_size`` ids of the remaining conversations arrive one
incremental commit each.

A fixture is generated once per (workload, sizes, seed) and reused by
later runs with the same seed.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

HOT_TOKEN = "order"


@dataclass(frozen=True)
class FixtureSpec:
    n_base: int
    n_hot: int  # base conversations whose first turn leads with HOT_TOKEN
    n_commits: int
    commit_size: int

    @property
    def n_total(self) -> int:
        return self.n_base + self.n_commits * self.commit_size


@dataclass(frozen=True)
class Fixture:
    base: str  # parquet path of the batch corpus
    slices: tuple[str, ...]  # parquet path of each commit, in arrival order
    truth: dict[str, str]  # conv_id -> planted entity id, every conversation


def _write_parquet(rows: list[tuple], path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            # UTC-adjusted so Spark reads it as TIMESTAMP, the generator
            # schema, not TIMESTAMP_NTZ
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, path)


def _split(rows: list[tuple], spec: FixtureSpec) -> list[list[str]]:
    """conv_ids of the base corpus, then of each commit."""
    first_turn = {r[0]: r[3] for r in rows if r[1] == 0}
    hot, cold = [], []
    for cid in sorted(first_turn):
        words = first_turn[cid].split()
        (hot if words and words[0].lower() == HOT_TOKEN else cold).append(cid)
    n_cold = spec.n_base - spec.n_hot
    if len(hot) < spec.n_hot or len(cold) < n_cold:
        raise ValueError(f"generated {len(hot)} hot / {len(cold)} other conversations, too few")
    rest = sorted(hot[spec.n_hot :] + cold[n_cold:])
    parts = [hot[: spec.n_hot] + cold[:n_cold]]
    for i in range(spec.n_commits):
        parts.append(rest[i * spec.commit_size : (i + 1) * spec.commit_size])
    if len(parts[-1]) < spec.commit_size:
        raise ValueError("generated too few conversations for the commits")
    return parts


def fixture_id(name: str, spec: FixtureSpec, seed: int) -> str:
    return f"{name}-n{spec.n_base}-h{spec.n_hot}-k{spec.n_commits}x{spec.commit_size}-s{seed}"


def ensure_fixture(cache_dir: Path, name: str, spec: FixtureSpec, seed: int) -> Fixture:
    """Generate (or reuse) the fixture for ``spec`` and ``seed``."""
    d = cache_dir / fixture_id(name, spec, seed)
    slices = tuple(str(d / f"commit_{i:02d}.parquet") for i in range(spec.n_commits))
    if not (d / "_SUCCESS").exists():
        from poi_name_matching_spark.data.transcripts import generate_transcripts

        # enough of each kind: about half the entities lead with the hot
        # token, and every conversation not selected is dropped
        gen = generate_transcripts(
            n_convs=2 * spec.n_total + 200,
            seed=seed,
            hot_fraction=0.5 if spec.n_hot else 0.0,
            hot_token=HOT_TOKEN,
        )
        parts = _split(gen.rows, spec)
        part_of = {cid: i for i, ids in enumerate(parts) for cid in ids}
        rows: list[list[tuple]] = [[] for _ in parts]
        for row in gen.rows:
            if row[0] in part_of:
                rows[part_of[row[0]]].append(row)
        truth = {cid: ent for cid, ent in gen.truth if cid in part_of}
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        _write_parquet(rows[0], tmp / "base.parquet")
        for i in range(spec.n_commits):
            _write_parquet(rows[i + 1], tmp / f"commit_{i:02d}.parquet")
        (tmp / "truth.json").write_text(json.dumps(truth))
        (tmp / "_SUCCESS").touch()
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    truth = json.loads((d / "truth.json").read_text())
    return Fixture(str(d / "base.parquet"), slices, truth)
