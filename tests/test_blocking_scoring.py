"""Blocking + scoring stages over the planted-duplicate transcripts."""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.data import generate_transcripts, transcripts_df, truth_df
from poi_name_matching_spark.functions import kernels
from poi_name_matching_spark.operators.blocking import (
    BlockingConfig,
    block_keys,
    candidate_pairs,
    salt_oversized,
)
from poi_name_matching_spark.operators.scoring import (
    ScoringConfig,
    broadcast_df_map,
    score_pairs,
)
from poi_name_matching_spark.operators.signatures import build_signatures

N = 250
SEED = 11


@pytest.fixture(scope="module")
def sigs(spark):
    return build_signatures(transcripts_df(spark, n_convs=N, seed=SEED)).cache()


@pytest.fixture(scope="module")
def truth_pairs():
    res = generate_transcripts(n_convs=N, seed=SEED)
    clusters = defaultdict(list)
    for conv_id, ent in res.truth:
        clusters[ent].append(conv_id)
    pairs = set()
    for members in clusters.values():
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def test_blocking_recall(spark, sigs, truth_pairs):
    """Every planted duplicate pair must co-occur in >=1 block."""
    pairs = {
        (r["left_id"], r["right_id"])
        for r in candidate_pairs(block_keys(sigs)).collect()
    }
    missed = truth_pairs - pairs
    recall = 1 - len(missed) / max(len(truth_pairs), 1)
    assert recall >= 0.98, f"blocking recall {recall}: missed {sorted(missed)[:5]}"


def test_candidate_pairs_deduped_and_ordered(spark, sigs):
    rows = candidate_pairs(block_keys(sigs)).collect()
    seen = set()
    for r in rows:
        assert r["left_id"] < r["right_id"]
        key = (r["left_id"], r["right_id"])
        assert key not in seen
        seen.add(key)


def test_salting_bounds_block_size(spark, sigs):
    cfg = BlockingConfig(max_block_size=20)
    blocks = block_keys(sigs, cfg)
    salted = salt_oversized(blocks, cfg.max_block_size)
    max_sz = (
        salted.groupBy("block_key").count().agg(F.max("count").alias("m")).first()["m"]
    )
    # ceil-split: each sub-block <= 2 * max_block_size with hash skew slack
    assert max_sz <= 2 * cfg.max_block_size
    # salting must not change total block memberships
    assert salted.count() == blocks.count()


def test_hot_block_skew_recall(spark):
    """FIXTURES.md §4: 40% of convs share a hot first token; salted keys
    bound candidate counts and minhash keys keep duplicate recall."""
    tdf = transcripts_df(spark, n_convs=300, seed=13, hot_fraction=0.4)
    sigs = build_signatures(tdf).cache()
    cfg = BlockingConfig(max_block_size=50)
    blocks = block_keys(sigs, cfg)
    sizes = salt_oversized(blocks, cfg.max_block_size).groupBy("block_key").count()
    assert sizes.agg(F.max("count")).first()[0] <= 2 * cfg.max_block_size

    res = generate_transcripts(n_convs=300, seed=13, hot_fraction=0.4)
    clusters = defaultdict(list)
    for conv_id, ent in res.truth:
        clusters[ent].append(conv_id)
    truth_pairs = {
        (a, b)
        for ms in clusters.values()
        for i, a in enumerate(sorted(ms))
        for b in sorted(ms)[i + 1 :]
    }
    got = {
        (r["left_id"], r["right_id"])
        for r in candidate_pairs(block_keys(sigs, cfg), cfg).collect()
    }
    recall = len(truth_pairs & got) / max(len(truth_pairs), 1)
    assert recall >= 0.95, f"hot-block recall {recall}"


def test_scoring_equal_token_pairs_reference_semantics(spark, sigs):
    """Reference parity on equal-token pairs: ONLY the tfidf/soft-TFIDF
    family short-circuits to 1.0 (test_hybrid_func.py:58-60); char/token
    kernels are computed honestly on the raw texts
    (ml_similarity_metrics.py:55-59) — e.g. "Joe's Pizza" vs "joes pizza"
    has equal normalized tokens but levenshtein < 1.0."""
    pairs = candidate_pairs(block_keys(sigs))
    cfg = ScoringConfig(
        kernels=("levenshtein", "jaccard", "tfidf", "softtfidf", "emb_cosine")
    )
    scores = score_pairs(spark, pairs, sigs, cfg)
    attached = (
        scores.join(
            sigs.select(
                F.col("conv_id").alias("left_id"),
                F.col("tokens").alias("lt"),
                F.col("sig_text").alias("ltext"),
            ),
            "left_id",
        )
        .join(
            sigs.select(
                F.col("conv_id").alias("right_id"),
                F.col("tokens").alias("rt"),
                F.col("sig_text").alias("rtext"),
            ),
            "right_id",
        )
        .filter(F.col("lt") == F.col("rt"))
    )
    rows = attached.collect()
    for row in rows:
        # hybrid family: reference short-circuit on token equality
        assert row["tfidf"] == 1.0
        assert row["softtfidf"] == 1.0
        # char kernels: honest values on the raw texts
        exp_lev = kernels.levenshtein_similarity(row["ltext"], row["rtext"])
        exp_jac = kernels.jaccard_similarity(row["ltext"], row["rtext"])
        assert row["levenshtein"] == pytest.approx(exp_lev, abs=1e-12)
        assert row["jaccard"] == pytest.approx(exp_jac, abs=1e-12)
        if row["ltext"] == row["rtext"]:
            assert row["levenshtein"] == 1.0
            assert row["jaccard"] == 1.0


def test_scoring_matches_pure_python(spark, sigs):
    """Distributed scores == driver-side kernel math on a sample of pairs."""
    pairs = candidate_pairs(block_keys(sigs)).limit(40).cache()
    df_map_bc, cs_bc = broadcast_df_map(spark, sigs)
    cfg = ScoringConfig()
    scores = score_pairs(spark, pairs, sigs, cfg, df_map_bc, cs_bc).collect()
    sig_map = {
        r["conv_id"]: (r["sig_text"], list(r["tokens"])) for r in sigs.collect()
    }
    df_map, cs = df_map_bc.value, cs_bc.value
    for r in scores:
        lt, ltoks = sig_map[r["left_id"]]
        rt, rtoks = sig_map[r["right_id"]]
        exp_lev = kernels.levenshtein_similarity(lt, rt)
        exp_jac = kernels.jaccard_similarity(lt, rt)
        exp_jw = kernels.jaro_winkler_similarity(lt, rt)
        exp_soft = kernels.soft_tfidf_pair(
            ltoks, rtoks, df_map, cs, kernels.jaro_winkler_similarity, 0.9
        )
        # reference semantics: char kernels honest on raw text even for
        # equal-token pairs; only the hybrid family short-circuits (and
        # kernels.soft_tfidf_pair does so internally)
        assert r["levenshtein"] == pytest.approx(exp_lev, abs=1e-9)
        assert r["jaccard"] == pytest.approx(exp_jac, abs=1e-9)
        assert r["jaro_winkler"] == pytest.approx(exp_jw, abs=1e-9)
        assert r["softtfidf"] == pytest.approx(exp_soft, abs=1e-9)
        exp_tfidf = (
            1.0 if ltoks == rtoks else kernels.tfidf_pair(ltoks, rtoks, df_map, cs)
        )
        assert r["tfidf"] == pytest.approx(exp_tfidf, abs=1e-9)
        assert r["score"] == pytest.approx(r["tfidf"], abs=1e-12)


def test_duplicates_score_above_operating_point(spark, sigs):
    """Planted duplicate pairs should clear the pipeline operating point
    (tf-idf @ 0.425, the reference's evaluated best tf-idf threshold) for
    >=95% of pairs, with ~no false positives among non-duplicates."""
    truth = truth_df(spark, n_convs=N, seed=SEED)
    pairs = candidate_pairs(block_keys(sigs))
    cfg = ScoringConfig(kernels=("levenshtein", "jaccard", "tfidf"))
    scores = score_pairs(spark, pairs, sigs, cfg)
    lab = (
        scores.join(
            truth.select(F.col("conv_id").alias("left_id"), F.col("entity_id").alias("le")),
            "left_id",
        )
        .join(
            truth.select(F.col("conv_id").alias("right_id"), F.col("entity_id").alias("re")),
            "right_id",
        )
        .withColumn("is_dup", (F.col("le") == F.col("re")).cast("int"))
    )
    agg = lab.groupBy("is_dup").agg(
        F.count("*").alias("n"),
        F.sum((F.col("score") >= 0.425).cast("int")).alias("above"),
    )
    by = {r["is_dup"]: r for r in agg.collect()}
    dup_rate = by[1]["above"] / by[1]["n"]
    fp_rate = by[0]["above"] / by[0]["n"]
    assert dup_rate >= 0.95, f"duplicate pass rate {dup_rate}"
    # candidates are blocking-selected HARD negatives (shared first token
    # / colliding minhash band), so a few % clear the threshold; the
    # binding gate is cluster-level pairwise F1 in test_pipeline_e2e
    assert fp_rate <= 0.04, f"non-duplicate false-positive rate {fp_rate}"


def test_min_df_vocab_cap(spark, sigs):
    """Scores of pairs whose tokens ALL clear the min_df floor are
    bit-identical under a capped df map (dropped tokens get the
    reference's missing-token skip semantics, so nothing else shifts)."""
    from poi_name_matching_spark.operators.scoring import broadcast_df_map

    pairs = candidate_pairs(block_keys(sigs)).limit(60).cache()
    full_bc, cs_bc = broadcast_df_map(spark, sigs)
    capped_bc, cs2_bc = broadcast_df_map(spark, sigs, min_df=2)
    full, capped = full_bc.value, capped_bc.value
    assert cs_bc.value == cs2_bc.value  # corpus size unaffected
    assert set(capped) == {t for t, d in full.items() if d >= 2}
    assert len(capped) < len(full)  # the fixture has hapaxes

    cfg = ScoringConfig(kernels=("tfidf", "softtfidf"))
    s_full = {
        (r["left_id"], r["right_id"]): (r["tfidf"], r["softtfidf"])
        for r in score_pairs(spark, pairs, sigs, cfg, full_bc, cs_bc).collect()
    }
    s_capped = {
        (r["left_id"], r["right_id"]): (r["tfidf"], r["softtfidf"])
        for r in score_pairs(spark, pairs, sigs, cfg, capped_bc, cs2_bc).collect()
    }
    tok_map = {r["conv_id"]: set(r["tokens"]) for r in sigs.collect()}
    n_clear = 0
    for (l, r), v in s_full.items():
        if all(full.get(t, 0) >= 2 for t in tok_map[l] | tok_map[r]):
            n_clear += 1
            assert s_capped[(l, r)] == v
    assert n_clear > 0  # the invariant was actually exercised

    # max_vocab: hard size bound, deterministic tie-break
    top_bc, _ = broadcast_df_map(spark, sigs, max_vocab=10)
    assert len(top_bc.value) == 10
    floor = min(top_bc.value.values())
    assert all(d >= floor for d in top_bc.value.values())


def test_max_vocab_bounded_by_default(spark, sigs, caplog):
    """The driver-collect is bounded with NO configuration: the default
    ScoringConfig / broadcast_df_map carry a finite max_vocab, a binding
    cap logs a visible truncation warning, and a non-binding cap is
    silent — so an unknown 100 TB vocabulary cannot OOM the driver via
    the defaults."""
    import logging

    from poi_name_matching_spark.operators import scoring

    assert scoring.ScoringConfig().max_vocab == scoring.DEFAULT_MAX_VOCAB
    assert scoring.DEFAULT_MAX_VOCAB is not None

    full_bc, _ = broadcast_df_map(spark, sigs, max_vocab=None)
    vocab_n = len(full_bc.value)
    with caplog.at_level(logging.WARNING, logger="poi_name_matching_spark.operators.scoring"):
        capped_bc, _ = broadcast_df_map(spark, sigs, max_vocab=vocab_n - 1)
    assert len(capped_bc.value) == vocab_n - 1
    assert any("max_vocab" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="poi_name_matching_spark.operators.scoring"):
        uncapped_bc, _ = broadcast_df_map(spark, sigs, max_vocab=vocab_n)
    assert len(uncapped_bc.value) == vocab_n
    assert uncapped_bc.value == full_bc.value  # non-binding cap: identical map
    assert not caplog.records


@pytest.mark.parametrize("rows", [[], [("c1", "", []), ("c2", "the", [])]])
def test_df_map_of_a_corpus_without_tokens(spark, rows):
    """The corpus size is observed inside the df query; with no token to
    count, AQE drops that query's token stage and the observation with
    it, and the size must still come out right (0, or the 2 distinct
    texts)."""
    schema = "conv_id string, sig_text string, tokens array<string>"
    df_map_bc, n_bc = broadcast_df_map(spark, spark.createDataFrame(rows, schema))
    assert (df_map_bc.value, n_bc.value) == ({}, len(rows))


def test_udf_stage_parallelism_nested_scopes(spark):
    """Nested scopes: the advisory stays small until the OUTERMOST exit
    (an inner exit must not re-enable byte-coalescing under a running
    outer UDF stage), then the pre-entry session value comes back."""
    from poi_name_matching_spark.operators.scoring import udf_stage_parallelism

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "48m")
    try:
        with udf_stage_parallelism(spark):
            assert spark.conf.get(key) == "1m"
            with udf_stage_parallelism(spark):
                assert spark.conf.get(key) == "1m"
            # inner exit: still scoped
            assert spark.conf.get(key) == "1m"
        assert spark.conf.get(key) == "48m"
        # an exception inside a scope still restores the pre-entry value
        with pytest.raises(RuntimeError):
            with udf_stage_parallelism(spark):
                raise RuntimeError("stage failed")
        assert spark.conf.get(key) == "48m"
    finally:
        spark.conf.unset(key)


def _hot_fixture(spark):
    """200 boilerplate docs sharing one hot 2-token prefix/shingle set +
    5 planted near-dup pairs with distinctive text."""
    rows = []
    for i in range(200):
        rows.append((i, f"common prefix boilerplate header text junk filler {i % 7}"))
    planted = []
    for j in range(5):
        a, b = 1000 + 2 * j, 1001 + 2 * j
        base = f"unique signal document number {j} about topic alpha beta gamma delta"
        rows.append((a, base))
        rows.append((b, base + " extra"))
        planted.append((a, b))
    return spark.createDataFrame(rows, "doc_id long, text string"), planted


def test_ngram_hot_bucket_salted_bounds(spark):
    docs, planted = _hot_fixture(spark)
    toks = F.split(F.trim("text"), r"\s+")
    buckets = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("block_key"),
    )
    salted = salt_oversized(buckets, 20)
    sizes = salted.groupBy("block_key").count().collect()
    # ceil(200/20)=10 salts → expected ~20/bucket; hash unevenness bounded
    assert max(r["count"] for r in sizes) <= 40
    # membership preserved: salting moves rows, never drops them
    assert salted.count() == buckets.count()


class TestConfigValidation:
    """Misconfigurations must fail loudly at construction/entry, not as
    opaque analysis errors or silent selectivity collapse."""

    def test_bands_must_divide_num_hashes(self):
        with pytest.raises(ValueError, match="multiple of bands"):
            BlockingConfig(num_hashes=32, bands=64)  # rows_per_band = 0
        with pytest.raises(ValueError, match="multiple of bands"):
            BlockingConfig(num_hashes=64, bands=10)  # silent hash drop
        # disabled minhash doesn't care
        BlockingConfig(num_hashes=32, bands=64, use_minhash=False)

    def test_at_least_one_key_family(self):
        with pytest.raises(ValueError, match="key family"):
            BlockingConfig(
                use_first_token=False, use_prefix=False, use_minhash=False
            )

    def test_unknown_kernel_and_score_kernel_mismatch(self, spark, sigs):
        pairs = sigs.limit(0).select(
            F.col("conv_id").alias("left_id"), F.col("conv_id").alias("right_id")
        )
        with pytest.raises(ValueError, match="unknown kernel"):
            score_pairs(
                spark, pairs, sigs, ScoringConfig(kernels=("jarowinkler",))
            )
        with pytest.raises(ValueError, match="score_kernel"):
            score_pairs(
                spark,
                pairs,
                sigs,
                ScoringConfig(kernels=("levenshtein", "jaccard")),  # tfidf default
            )


def test_char_only_config_skips_df_map_build(spark, sigs, monkeypatch):
    """No selected kernel consumes the df map → score_pairs must not pay
    the full-corpus dedup + driver collect + broadcast."""
    from poi_name_matching_spark.operators import scoring as scoring_mod

    def boom(*a, **k):
        raise AssertionError("df map was built for a char-only config")

    monkeypatch.setattr(scoring_mod, "broadcast_df_map", boom)
    cfg = ScoringConfig(
        kernels=("levenshtein", "jaccard", "jaro_winkler"),
        score_kernel="jaro_winkler",
    )
    pairs = (
        sigs.select(F.col("conv_id").alias("left_id"))
        .limit(4)
        .crossJoin(sigs.select(F.col("conv_id").alias("right_id")).limit(4))
        .filter("left_id < right_id")
    )
    out = score_pairs(spark, pairs, sigs, cfg)
    rows = out.collect()
    assert rows and all(0.0 <= r["score"] <= 1.0 for r in rows)
    assert set(out.columns) == {
        "left_id", "right_id", "levenshtein", "jaccard", "jaro_winkler", "score",
    }


def test_null_turn_text_does_not_collapse_signatures(spark):
    """['a', NULL, 'b'] must not produce the same sig_text as ['a','b']:
    array_join's default null-dropping would treat per-turn-different
    conversations as exact duplicates while n_turns still counted the
    null turn."""
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("A", 0, "user", "a", "", ts), ("A", 1, "agent", None, "", ts),
        ("A", 2, "user", "b", "", ts),
        ("B", 0, "user", "a", "", ts), ("B", 1, "agent", "b", "", ts),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {r["conv_id"]: r for r in build_signatures(df).collect()}
    assert out["A"]["sig_text"] != out["B"]["sig_text"]
    assert out["A"]["n_turns"] == 3 and out["B"]["n_turns"] == 2
    # tokens still agree ('a' is stopword-filtered either way) — only
    # the per-turn identity (sig_text) differs
    assert out["A"]["tokens"] == out["B"]["tokens"] == ["b"]


def test_candidate_pairs_materialize_modes_identical(spark, sigs):
    """All three materialization strategies (speed/fault-tolerance/
    checkpoint-backed trade, see docstring) must produce the identical
    pair universe; unknown mode rejected."""
    blocks = block_keys(sigs)
    base = {
        (r["left_id"], r["right_id"])
        for r in candidate_pairs(blocks).collect()
    }
    for mode in ("persist", "none"):
        got = {
            (r["left_id"], r["right_id"])
            for r in candidate_pairs(blocks, materialize=mode).collect()
        }
        assert got == base, mode
    with pytest.raises(ValueError, match="materialize"):
        candidate_pairs(blocks, materialize="bogus")
