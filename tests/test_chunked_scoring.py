"""Chunked scoring (``PipelineConfig.scoring_chunks``) == unchunked
scoring, exactly, through the stage store.

Chunking exists because the scoring stage's wide pairs×signatures
exchange is the pipeline's dominant scratch-disk consumer (~1 KB/pair of
compressed shuffle — 64 GB measured at the 1 M-conversation endurance
run). It is only admissible if the output is BIT-identical: chunk
membership is a pure function of the pair and the df map is built once
over the full corpus, so every score is computed by the same arithmetic
on the same inputs either way. Each chunk is committed to the scores
stage (chunk 0 written, later chunks appended), so a crashed run
resumes at its first uncommitted chunk and no staging copy exists.
"""

import os
import shutil
import subprocess
import sys

import pytest

from poi_name_matching_spark.data import transcripts_df
from poi_name_matching_spark.operators.scoring import ScoringConfig
from poi_name_matching_spark.plans import pipeline as pipeline_mod
from poi_name_matching_spark.plans.incremental import incremental_update
from poi_name_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from poi_name_matching_spark.sources.checkpoint import StageCheckpoint

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N = 220
SEED = 33
K = 3

# native + UDF + df-map kernel coverage without the slowest semantic path
SCORING = ScoringConfig(
    kernels=("levenshtein", "jaccard", "emb_cosine", "tfidf", "softtfidf"),
    score_kernel="tfidf",
)


def _cfg(d, chunks=K, scoring=SCORING):
    return PipelineConfig(checkpoint_dir=d, scoring=scoring, scoring_chunks=chunks)


def _as_sorted_rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """One unchunked and one ``scoring_chunks=K`` run over the same
    transcripts, each in its own checkpoint."""
    root = tmp_path_factory.mktemp("chunked")
    tdf = transcripts_df(spark, n_convs=N, seed=SEED)
    plain = run_pipeline(spark, tdf, _cfg(root / "plain", chunks=1))
    chunked = run_pipeline(spark, tdf, _cfg(root / "chunked"))
    return tdf, root, plain, chunked


@pytest.fixture
def score_calls(monkeypatch):
    """Counts the pipeline's ``score_pairs`` calls (one per chunk);
    ``fail_at`` makes that call (0-based) raise, a crash in that chunk."""
    calls = {"n": 0, "fail_at": None}
    real = pipeline_mod.score_pairs

    def counted(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] - 1 == calls["fail_at"]:
            raise RuntimeError("injected chunk failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "score_pairs", counted)
    return calls


def _without_scores(src, dst):
    """A copy of checkpoint ``src`` whose scores must be recomputed: the
    upstream stages cache-hit, and so do the components once the scores
    come out the same."""
    shutil.copytree(src, dst)
    shutil.rmtree(dst / "scores")
    return dst


def _inodes(path):
    """{data file: inode} of one version's parquet directory."""
    return {f: os.stat(path / f).st_ino for f in os.listdir(path) if f.startswith("part-")}


def test_chunked_equals_unchunked_exactly(runs):
    _, root, plain, chunked = runs
    assert chunked.scores.columns == plain.scores.columns
    # bit-exact: same arithmetic on the same inputs per pair, so even the
    # float kernel columns must agree with NO tolerance
    assert _as_sorted_rows(chunked.scores) == _as_sorted_rows(plain.scores)
    assert _as_sorted_rows(chunked.components) == _as_sorted_rows(plain.components)
    # the composed fingerprint of K commits equals the single write's
    fp = [
        StageCheckpoint(root / d).read_manifest("scores")["output_fingerprint"]
        for d in ("plain", "chunked")
    ]
    assert fp[0] == fp[1]


def test_pipeline_scoring_chunks_same_clusters_and_no_staging_residue(spark, runs):
    """Each chunk is one commit of the scores stage: the K−1 partial
    versions are retained snapshots hard-linked into the final one, the
    final manifest carries the earlier chunks' walls, no staging copy
    exists, and a rerun cache-hits the completed stage."""
    tdf, root, _, _ = runs
    ck = StageCheckpoint(root / "chunked")
    final = ck.read_manifest("scores")
    assert "partial_chunks" not in final
    assert len(final["chunk_walls_s"]) == K - 1
    assert all(w >= 0 for w in final["chunk_walls_s"])
    partial = [m for m in ck.history("scores") if "partial_chunks" in m]
    assert [m["partial_chunks"] for m in partial] == [
        {"done": k, "of": K} for k in range(1, K)
    ]
    assert len(ck.history("scores")) == K
    # every file of the last partial version is the same inode in the final
    linked = _inodes(ck._data_path("scores", partial[-1]["version"]))
    assert linked and linked.items() <= _inodes(ck._data_path("scores")).items()
    assert not (root / "chunked" / "_scores_staging").exists()

    rerun = run_pipeline(spark, tdf, _cfg(root / "chunked"))
    assert "scores" in rerun.cached_stages


def test_n_chunks_one_is_plain_score_pairs(runs):
    """``scoring_chunks=1`` scores through one stage write, as before."""
    _, root, _, _ = runs
    ck = StageCheckpoint(root / "plain")
    m = ck.read_manifest("scores")
    assert "chunk_walls_s" not in m and "partial_chunks" not in m
    assert "appended" not in m
    assert len(ck.history("scores")) == 1


def test_chunked_resume_skips_committed_chunks(spark, runs, tmp_path, score_calls):
    """A failure in chunk k leaves k committed chunks behind a partial
    scores version, which incremental_update and retune refuse; the
    rerun scores only chunks k…K−1, hard-links the committed ones, and
    equals a fresh run."""
    tdf, root, plain, _ = runs
    d = _without_scores(root / "plain", tmp_path / "ck")
    score_calls["fail_at"] = 2
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, tdf, _cfg(d))
    ck = StageCheckpoint(d)
    assert ck.read_manifest("scores")["partial_chunks"] == {"done": 2, "of": K}
    committed = _inodes(ck._data_path("scores"))

    with pytest.raises(FileNotFoundError, match="'scores' is missing or unfinished"):
        incremental_update(spark, tdf, _cfg(d))
    proc = subprocess.run(
        [sys.executable, "scripts/retune.py", "--checkpoint", str(d), "--truth-n", str(N)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 3, proc.stderr[-2000:]
    assert "unfinished" in proc.stdout

    score_calls.update(n=0, fail_at=None)
    resumed = run_pipeline(spark, tdf, _cfg(d))
    assert score_calls["n"] == 1  # chunk 2 only
    assert committed.items() <= _inodes(ck._data_path("scores")).items()
    assert _as_sorted_rows(resumed.scores) == _as_sorted_rows(plain.scores)
    assert _as_sorted_rows(resumed.components) == _as_sorted_rows(plain.components)
    assert len(ck.read_manifest("scores")["chunk_walls_s"]) == K - 1
    assert not (d / "_scores_staging").exists()


def test_chunked_resume_rejects_stale_token(spark, runs, tmp_path, score_calls):
    """Partial chunks of another K or another scoring config are never
    reused: the loop restarts at chunk 0."""
    tdf, root, _, _ = runs
    d = _without_scores(root / "plain", tmp_path / "ck")
    cheap = ScoringConfig(kernels=("levenshtein",), score_kernel="levenshtein")
    score_calls["fail_at"] = 1
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, tdf, _cfg(d, scoring=cheap))
    ck = StageCheckpoint(d)
    assert ck.read_manifest("scores")["partial_chunks"] == {"done": 1, "of": K}

    # another K: the new loop starts at chunk 0 (a resume at chunk 1
    # would have committed two chunks before the failure)
    score_calls.update(n=0, fail_at=2)
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, tdf, _cfg(d, chunks=K + 1, scoring=cheap))
    assert ck.read_manifest("scores")["partial_chunks"] == {"done": 2, "of": K + 1}

    # another scoring config under the same K: restarts too
    other = ScoringConfig(kernels=("levenshtein", "jaccard"), score_kernel="levenshtein")
    score_calls.update(n=0, fail_at=None)
    out = run_pipeline(spark, tdf, _cfg(d, chunks=K + 1, scoring=other))
    assert score_calls["n"] == K + 1
    assert "jaccard" in out.scores.columns
    assert out.scores.count() == ck.read_manifest("candidate_pairs")["rows"]


def test_chunk_assignment_partitions_the_pairs(spark, tmp_path):
    """More chunks than pairs: the empty chunks commit zero-row versions
    and every pair still lands in exactly one chunk."""
    tdf = transcripts_df(spark, n_convs=12, seed=SEED)
    cheap = ScoringConfig(kernels=("levenshtein", "tfidf"), score_kernel="tfidf")
    plain = run_pipeline(spark, tdf, _cfg(tmp_path / "plain", chunks=1, scoring=cheap))
    chunked = run_pipeline(
        spark,
        tdf,
        PipelineConfig(
            checkpoint_dir=tmp_path / "chunked",
            scoring=cheap,
            scoring_chunks=16,
            expire_keep_last=None,  # keep every chunk's version to inspect
        ),
    )
    n_pairs = plain.scores.count()
    assert 0 < n_pairs < 16
    assert _as_sorted_rows(chunked.scores) == _as_sorted_rows(plain.scores)
    history = StageCheckpoint(tmp_path / "chunked").history("scores")
    appended = [m["appended"]["rows"] for m in history if "appended" in m]
    assert 0 in appended and sum(appended) + history[0]["rows"] == n_pairs
