"""Similarity-kernel parity tests (FIXTURES.md §3 kernel_vectors).

Hand-computed expectations from the reference formulas:
levenshtein ``character_based_func.py:15-34``, jaro/jaro-winkler NLTK
formulas ``:60-96``, jaccard ``token_based_func.py:150-172``, count-cosine
``:174-222``, tf-idf ``test_hybrid_func.py:161-206``, soft-TFIDF
``:53-131``, haversine (mpu, R=6371km) ``label_data.py:105-128``.
"""

import math

import pytest

from poi_name_matching_spark.functions import kernels
from poi_name_matching_spark.functions.embedding import HashEmbedder
from poi_name_matching_spark.functions.tokenize import tokenize_name

APPROX = lambda x: pytest.approx(x, abs=1e-9)


class TestLevenshtein:
    def test_identical(self):
        assert kernels.levenshtein_similarity("abc", "abc") == 1.0

    def test_known_distance(self):
        assert kernels.levenshtein_distance("kitten", "sitting") == 3
        assert kernels.levenshtein_similarity("kitten", "sitting") == APPROX(1 - 3 / 7)

    def test_no_transpositions(self):
        # 'ab' -> 'ba' is 2 substitutions without transposition support
        assert kernels.levenshtein_distance("ab", "ba") == 2

    def test_case_sensitive(self):
        # kernels are NOT lowercased (character_based_func.py:13)
        assert kernels.levenshtein_similarity("Park", "park") == APPROX(0.75)

    def test_empty(self):
        assert kernels.levenshtein_distance("", "abc") == 3

    @pytest.mark.parametrize("sub_batch_bytes", [None, 1 << 16])
    def test_batched_equals_reference(self, monkeypatch, sub_batch_bytes):
        """spark_udfs.levenshtein_distances (bit-parallel, one call per
        batch) equals the dynamic program on every pair of one batch that
        mixes lengths: empty, whitespace-only and identical texts,
        non-ASCII BMP and supplementary-plane characters, patterns at and
        across the 64-bit word edges and over 700 characters, either side
        the longer; random texts and near copies (small distances). The
        second run cuts the batch into sub-batches of a few pairs."""
        import random

        from poi_name_matching_spark.functions import spark_udfs

        if sub_batch_bytes is not None:
            monkeypatch.setattr(spark_udfs, "_LEV_SUB_BATCH_BYTES", sub_batch_bytes)
        rng = random.Random(12)
        alphabet = "ab c\tdé\u00a0中\U0001F600\U0001F355"

        def text(n):
            return "".join(rng.choice(alphabet) for _ in range(n))

        def near(s):
            out = list(s)
            for _ in range(rng.randint(1, 6)):
                i = rng.randint(0, len(out))
                op = rng.randrange(3)
                if op == 0 or not out:
                    out.insert(i, rng.choice(alphabet))
                elif op == 1:
                    del out[min(i, len(out) - 1)]
                else:
                    out[min(i, len(out) - 1)] = rng.choice(alphabet)
            return "".join(out)

        lengths = (0, 1, 2, 63, 64, 65, 127, 128, 129, 700, 731)
        pairs = [("", ""), ("   ", "\t \n"), (" ", ""), ("same", "same"), ("\U0001F600", "x")]
        for la in lengths:
            a = text(la)
            pairs.append((a, a))
            pairs.append((a, near(a)))
            pairs += [(a, text(lb)) for lb in lengths]
        rng.shuffle(pairs)
        left, right = zip(*pairs)
        got = spark_udfs.levenshtein_distances(left, right)
        want = [kernels.levenshtein_distance(a, b) for a, b in pairs]
        assert got.tolist() == want

    def test_batch_columns_null_and_empty(self):
        """The scoring UDF's per-batch levenshtein and jaccard columns:
        NULL (NaN / None) when either text is NULL, 1.0 for two empty
        texts, otherwise the reference kernels exactly."""
        import pandas as pd

        from poi_name_matching_spark.functions.spark_udfs import (
            _jaccard_column,
            _levenshtein_column,
        )

        left = pd.Series(["", None, "a b", "park \U0001F600 pizza", "x", None], dtype=object)
        right = pd.Series(["", "a", None, "park pizza \U0001F600 ", "x y x", None], dtype=object)
        lev = _levenshtein_column(left, right)
        jac = _jaccard_column(left, right)
        for i, (a, b) in enumerate(zip(left, right)):
            if a is None or b is None:
                assert math.isnan(lev[i]) and jac[i] is None
            else:
                assert lev[i] == kernels.levenshtein_similarity(a, b)
                assert jac[i] == kernels.jaccard_similarity(a, b)
        assert lev[0] == jac[0] == 1.0


class TestJaro:
    def test_identical(self):
        assert kernels.jaro_similarity("MARTHA", "MARTHA") == 1.0

    def test_martha_marhta(self):
        # classic example: 6 matches, 2 transposed chars -> t = 1
        assert kernels.jaro_similarity("MARTHA", "MARHTA") == APPROX(
            (6 / 6 + 6 / 6 + 5 / 6) / 3
        )

    def test_dixon_dicksonx(self):
        assert kernels.jaro_similarity("DIXON", "DICKSONX") == APPROX(
            (4 / 5 + 4 / 8 + 4 / 4) / 3
        )

    def test_disjoint(self):
        assert kernels.jaro_similarity("abc", "xyz") == 0.0

    def test_empty(self):
        assert kernels.jaro_similarity("", "abc") == 0.0


class TestJaroWinkler:
    def test_martha_marhta(self):
        jaro = (6 / 6 + 6 / 6 + 5 / 6) / 3
        assert kernels.jaro_winkler_similarity("MARTHA", "MARHTA") == APPROX(
            jaro + 3 * 0.1 * (1 - jaro)
        )

    def test_prefix_capped_at_4(self):
        jaro = kernels.jaro_similarity("abcdefgh", "abcdefxy")
        assert kernels.jaro_winkler_similarity("abcdefgh", "abcdefxy") == APPROX(
            jaro + 4 * 0.1 * (1 - jaro)
        )

    def test_avenu_ave(self):
        # worked in the soft-TFIDF walkthrough below
        jaro = (3 / 5 + 3 / 3 + 3 / 3) / 3
        assert kernels.jaro_winkler_similarity("avenu", "ave") == APPROX(
            jaro + 3 * 0.1 * (1 - jaro)
        )


class TestJaccard:
    def test_space_tokens_default(self):
        # {"Park","Avenue","Pizza"} vs {"Park","Ave","Pizza"}: 2/4
        assert kernels.jaccard_similarity("Park Avenue Pizza", "Park Ave Pizza") == APPROX(0.5)

    def test_set_semantics(self):
        assert kernels.jaccard_similarity("a a b", "a b") == 1.0

    def test_disjoint(self):
        assert kernels.jaccard_similarity("x", "y") == 0.0


class TestCosineCount:
    def test_pair(self):
        # count vectors over whitespace tokens: dot=2, norms sqrt(3)
        assert kernels.cosine_count_similarity(
            "Park Avenue Pizza", "Park Ave Pizza"
        ) == APPROX(2 / 3)

    def test_repeated_tokens(self):
        # "a a b" -> (2,1); "a b" -> (1,1): dot=3, norms sqrt5, sqrt2
        assert kernels.cosine_count_similarity("a a b", "a b") == APPROX(
            3 / (math.sqrt(5) * math.sqrt(2))
        )


def _corpus_df(names):
    docs = [tokenize_name(n) for n in set(names)]
    return kernels.build_document_frequency(docs), len(docs)


class TestSoftTfIdf:
    def test_park_avenue_walkthrough(self):
        """Full hand-computation of the reference's own walkthrough input
        (test_hybrid_func.py:430) with jaro-winkler@0.9 over a 2-doc corpus."""
        names = ["Park Avenue Pizza", "Park Ave Pizza"]
        df_map, size = _corpus_df(names)
        assert df_map == {"park": 2, "avenu": 1, "pizza": 2, "ave": 1}
        jw = kernels.jaro_winkler_similarity
        score = kernels.soft_tfidf_pair(
            tokenize_name(names[0]), tokenize_name(names[1]), df_map, size, jw, 0.9
        )
        jw_av = (3 / 5 + 1 + 1) / 3
        jw_av += 3 * 0.1 * (1 - jw_av)  # 0.90666...
        expected = (1 * 1 * 1.0 + 2 * 2 * jw_av + 1 * 1 * 1.0) / (
            math.sqrt(1 + 4 + 1) * math.sqrt(1 + 4 + 1)
        )
        assert score == APPROX(expected)

    def test_exact_token_match_short_circuit(self):
        assert kernels.soft_tfidf_pair(
            ["a"], ["a"], {}, 0, kernels.jaro_winkler_similarity, 0.9
        ) == 1.0

    def test_empty_returns_zero(self):
        assert kernels.soft_tfidf_pair(
            [], ["a"], {"a": 1}, 1, kernels.jaro_winkler_similarity, 0.9
        ) == 0.0

    def test_below_threshold_no_contribution(self):
        df_map = {"abc": 1, "xyz": 1}
        score = kernels.soft_tfidf_pair(
            ["abc"], ["xyz"], df_map, 2, kernels.jaro_winkler_similarity, 0.9
        )
        assert score == 0.0

    def test_terms_missing_from_corpus_skipped(self):
        # 'zzz' not in df map: skipped in numerator and denominator
        df_map = {"park": 1}
        s = kernels.soft_tfidf_pair(
            ["park", "zzz"], ["park"], df_map, 1,
            kernels.jaro_winkler_similarity, 0.9,
        )
        assert s == APPROX(1.0)

    def test_dropped_matched_term_skipped_not_idf_inflated(self):
        """Truncated df map (min_df floor / max_vocab cap): a similarity
        WINNER missing from the map must be skipped like any other
        missing term — a df=1 fallback would give it the maximal idf in
        the numerator and nothing in the denominator, blowing the score
        to O(corpus_size) instead of <=~1. Regression: 'restaurnt' is a
        dropped hapax that wins jw('restaurant','restaurnt')~0.97."""
        jw = kernels.jaro_winkler_similarity
        df_map = {"acme": 3, "restaurant": 5}  # 'restaurnt' dropped
        cs = 1000
        s = kernels.soft_tfidf_pair(
            ["acme", "restaurant"], ["acme", "restaurnt"],
            df_map, cs, jw, 0.9,
        )
        # identical to the dropped term being absent from y entirely
        s_absent = kernels.soft_tfidf_pair(
            ["acme", "restaurant"], ["acme"], df_map, cs, jw, 0.9
        )
        assert s == APPROX(s_absent)
        assert s < 1.0  # not ~479
        # the fast-path twin applies the same skip
        from poi_name_matching_spark.functions.spark_udfs import (
            _assemble_soft_tfidf,
        )
        from collections import Counter

        tf_x = Counter(["acme", "restaurant"])
        tf_y = Counter(["acme", "restaurnt"])
        sim_map = {
            "acme": ("acme", "acme", 1.0),
            "restaurant": ("restaurant", "restaurnt",
                           jw("restaurant", "restaurnt")),
        }
        assert _assemble_soft_tfidf(tf_x, tf_y, sim_map, df_map, cs) == (
            APPROX(s)
        )
        # the semantic variant shares the skip (same fixture; orthogonal
        # embeddings keep the semantic path out, char path drives)
        basis = {
            "acme": [1.0, 0.0, 0.0],
            "restaurant": [0.0, 1.0, 0.0],
            "restaurnt": [0.0, 0.0, 1.0],
        }
        sem = kernels.semantic_soft_tfidf_pair(
            ["acme", "restaurant"], ["acme", "restaurnt"],
            df_map, cs,
            char_func=jw, char_threshold=0.85,
            embed_func=lambda t: basis[t], semantic_threshold=0.99,
        )
        assert sem == APPROX(s)


class TestTfIdf:
    def test_shared_tokens_with_idf_one_score_zero(self):
        # tokens shared by every doc have idf 1 -> log(1)=0 -> score 0
        names = ["Park Avenue Pizza", "Park Ave Pizza"]
        df_map, size = _corpus_df(names)
        s = kernels.tfidf_pair(
            tokenize_name(names[0]), tokenize_name(names[1]), df_map, size
        )
        assert s == 0.0

    def test_three_doc_corpus(self):
        docs = {
            "park avenu pizza": ["park", "avenu", "pizza"],
            "park ave pizza": ["park", "ave", "pizza"],
            "cedar fork school": ["cedar", "fork", "school"],
        }
        df_map = kernels.build_document_frequency(list(docs.values()))
        size = 3
        tx, ty = docs["park avenu pizza"], docs["park ave pizza"]
        v = lambda df: math.log(size / df) * math.log(2)
        num = v(2) * v(2) * 2  # park & pizza shared (df=2)
        den_x = math.sqrt(v(2) ** 2 + v(1) ** 2 + v(2) ** 2)
        den_y = math.sqrt(v(2) ** 2 + v(1) ** 2 + v(2) ** 2)
        assert kernels.tfidf_pair(tx, ty, df_map, size) == APPROX(num / (den_x * den_y))


class TestRestrictedSoftTfIdf:
    def test_restricted_corpus_changes_idf(self):
        score = kernels.restricted_soft_tfidf_pair(
            "Park Avenue Pizza",
            "Park Ave Pizza",
            ["Park Avenue Pizza", "Park Ave Pizza"],
            kernels.jaro_winkler_similarity,
            0.95,
        )
        # jw(avenu, ave) ~ 0.9067 < 0.95 -> only exact tokens contribute
        expected = 2.0 / 6.0
        assert score == APPROX(expected)


class TestSemanticSoftTfIdf:
    def test_semantic_path_admits_typo_terms(self):
        emb = HashEmbedder()
        names = ["cedar fork elementary", "cedar forc elementary"]
        df_map, size = _corpus_df(names)
        # char threshold impossible (2.0) -> only the semantic gate can admit
        s_semantic = kernels.semantic_soft_tfidf_pair(
            tokenize_name(names[0]), tokenize_name(names[1]), df_map, size,
            kernels.jaro_winkler_similarity, 2.0, emb, 0.5,
        )
        s_blocked = kernels.semantic_soft_tfidf_pair(
            tokenize_name(names[0]), tokenize_name(names[1]), df_map, size,
            kernels.jaro_winkler_similarity, 2.0, emb, 1.01,
        )
        assert s_semantic > s_blocked

    def test_reduces_to_char_when_semantic_gate_closed(self):
        emb = HashEmbedder()
        names = ["Park Avenue Pizza", "Park Ave Pizza"]
        df_map, size = _corpus_df(names)
        jw = kernels.jaro_winkler_similarity
        plain = kernels.soft_tfidf_pair(
            tokenize_name(names[0]), tokenize_name(names[1]), df_map, size, jw, 0.9
        )
        sem = kernels.semantic_soft_tfidf_pair(
            tokenize_name(names[0]), tokenize_name(names[1]), df_map, size,
            jw, 0.9, emb, 1.01,
        )
        # semantic gate closed and char scores >= semantic contribution
        # only if embedding cosine never exceeds the char score; with the
        # gate closed, accepted pairs come from the char path alone, but the
        # contribution is max(char, semantic) -- so sem >= plain.
        assert sem >= plain - 1e-12


class TestVecAndGeo:
    def test_cosine_vec(self):
        assert kernels.cosine_vec([1, 0], [0, 1]) == 0.0
        assert kernels.cosine_vec([1, 2], [2, 4]) == APPROX(1.0)
        assert kernels.cosine_vec([0, 0], [1, 1]) == 0.0

    def test_haversine_equator_degree(self):
        # 1 degree of longitude at the equator with R=6371km
        d = kernels.haversine_meters(0.0, 0.0, 0.0, 1.0)
        assert d == pytest.approx(6371.0 * 1000 * math.pi / 180, rel=1e-9)

    def test_haversine_symmetry(self):
        a = kernels.haversine_meters(42.35, -71.06, 42.36, -71.05)
        b = kernels.haversine_meters(42.36, -71.05, 42.35, -71.06)
        assert a == pytest.approx(b)
        assert 1000 < a < 2000  # ~1.4 km


class TestEmbedder:
    def test_deterministic(self):
        e1, e2 = HashEmbedder(), HashEmbedder()
        assert kernels.cosine_vec(e1("pizza"), e2("pizza")) == APPROX(1.0)

    def test_similar_words_higher_cosine(self):
        e = HashEmbedder()
        sim_typo = kernels.cosine_vec(e("elementary"), e("elementari"))
        sim_diff = kernels.cosine_vec(e("elementary"), e("pizza"))
        assert sim_typo > 0.6
        assert sim_typo > sim_diff

    def test_picklable_spec(self):
        import pickle

        e = HashEmbedder()
        e2 = pickle.loads(pickle.dumps(e))
        assert kernels.cosine_vec(e("school"), e2("school")) == APPROX(1.0)

    def test_from_weights_file_seam(self, tmp_path):
        """Loading a weight matrix from an npz file must (a) override the
        seeded matrix, (b) survive pickling (executor rebuild), and (c)
        produce cosines identical to direct lookups in the file matrix —
        the drop-in seam for real BPEmb/sBERT subword weights."""
        import pickle

        import numpy as np

        from poi_name_matching_spark.functions.embedding import subword_buckets

        rng = np.random.default_rng(123)
        w = rng.standard_normal((64, 8)).astype(np.float32)
        path = tmp_path / "tiny_model.npz"
        np.savez(path, weights=w)

        e = HashEmbedder.from_weights(str(path))
        assert e.dim == 8 and e.buckets == 64
        # (c) exact parity with a by-hand mean over the file's rows
        for word in ("pizza", "avenue", "x"):
            rows = subword_buckets(word, 64)
            expected = w[rows].mean(axis=0)
            assert np.array_equal(e(word), expected)
        # (a) differs from the seeded matrix of the same shape
        seeded = HashEmbedder(dim=8, buckets=64)
        assert not np.array_equal(e("pizza"), seeded("pizza"))
        # (b) pickle round-trip reloads the FILE weights, not the seed
        e2 = pickle.loads(pickle.dumps(e))
        assert np.array_equal(e2("pizza"), e("pizza"))
        # distinct cache namespaces (worker-level token caches must not
        # cross-contaminate file- and seed-backed configs)
        assert e.cache_key() != seeded.cache_key()
        # (d) overwriting the npz IN PLACE and re-loading must change the
        # cache namespace (file identity = mtime+size): a long-lived app
        # that swaps in a retrained same-shape matrix must not serve
        # per-token embeddings computed from the old one
        import os

        np.savez(path, weights=rng.standard_normal((64, 8)).astype(np.float32))
        os.utime(path, ns=(1, 1))  # force a distinct mtime deterministically
        e3 = HashEmbedder.from_weights(str(path))
        assert e3.cache_key() != e.cache_key()
        # pickle carries the identity (executors share the namespace)
        assert pickle.loads(pickle.dumps(e3)).cache_key() == e3.cache_key()

    def test_from_weights_drives_score_pairs(self, spark, tmp_path):
        """File-backed embedder through ``score_pairs``: the scoring
        UDF's cosine gives the driver-side emb_cosine on the same
        weights."""
        import numpy as np

        from poi_name_matching_spark.operators.scoring import (
            ScoringConfig,
            score_pairs,
        )

        rng = np.random.default_rng(9)
        path = tmp_path / "m.npz"
        np.savez(path, weights=rng.standard_normal((128, 12)).astype(np.float32))
        emb = HashEmbedder.from_weights(str(path))

        toks = {"a": ["park", "pizza"], "b": ["park", "pizzas"]}
        sigs = spark.createDataFrame(
            [(c, " ".join(t), t) for c, t in toks.items()],
            "conv_id string, sig_text string, tokens array<string>",
        )
        pairs = spark.createDataFrame([("a", "b")], "left_id string, right_id string")
        cfg = ScoringConfig(kernels=("emb_cosine",), score_kernel="emb_cosine")
        got = score_pairs(spark, pairs, sigs, cfg, embedder=emb).first()["emb_cosine"]
        expected = kernels.cosine_vec(
            *(np.asarray(emb.embed_text("", tokens=toks[c]), np.float64) for c in "ab")
        )
        # the scoring UDF multiplies the float32 components in float32
        # before summing in double
        assert got == pytest.approx(expected, abs=1e-6)

    def test_scoring_udf_refuses_unknown_kernel(self):
        """Asking the scoring UDF for a kernel it does not know raises."""
        from poi_name_matching_spark.functions.spark_udfs import (
            make_sim_scores_udf,
        )

        with pytest.raises(ValueError, match="unknown kernel"):
            make_sim_scores_udf(None, None, HashEmbedder(), fields=["tfidf", "nope"])


# ---------------------------------------------------------------------------
# K2: damerau-levenshtein (transpositions; reference marks it unused)
# ---------------------------------------------------------------------------


def test_damerau_transposition_counts_one():
    from poi_name_matching_spark.functions.kernels import (
        damerau_levenshtein_distance,
        damerau_levenshtein_similarity,
        levenshtein_distance,
    )

    assert damerau_levenshtein_distance("ab", "ba") == 1
    assert levenshtein_distance("ab", "ba") == 2
    assert damerau_levenshtein_distance("MARTHA", "MARHTA") == 1
    assert damerau_levenshtein_distance("", "abc") == 3
    assert damerau_levenshtein_distance("abc", "abc") == 0
    assert damerau_levenshtein_similarity("ab", "ba") == 0.5
    assert damerau_levenshtein_similarity("", "") == 1.0


def test_damerau_matches_levenshtein_without_transpositions():
    from poi_name_matching_spark.functions.kernels import (
        damerau_levenshtein_distance,
        levenshtein_distance,
    )

    for a, b in [("kitten", "sitting"), ("park", "part"), ("a", "xyz")]:
        assert damerau_levenshtein_distance(a, b) == levenshtein_distance(a, b)


# ---------------------------------------------------------------------------
# fast jaro == naive NLTK-formula jaro (property test)
# ---------------------------------------------------------------------------


def test_fast_jaro_matches_reference_random():
    import random

    from poi_name_matching_spark.functions.kernels import (
        _jaro_similarity_reference,
        jaro_similarity,
    )

    rng = random.Random(0)
    alphabet = "abcdef "
    for _ in range(3000):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 25)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 25)))
        assert jaro_similarity(a, b) == _jaro_similarity_reference(a, b), (a, b)


def test_fast_jaro_known_values():
    from poi_name_matching_spark.functions.kernels import jaro_similarity

    assert abs(jaro_similarity("MARTHA", "MARHTA") - 0.9444444444444445) < 1e-12
    assert jaro_similarity("", "abc") == 0.0
    # NLTK quirk preserved: match_bound = max//2 - 1 = -1 for 1-char
    # strings → zero matches even when identical (soft-TFIDF's
    # identical-term shortcut deliberately excludes 1-char terms for
    # exactly this reason — see TestSoftTfidfSingleCharParity)
    assert jaro_similarity("a", "a") == 0.0
    assert jaro_similarity("a", "b") == 0.0
    assert jaro_similarity("ab", "ab") == 1.0


# ---------------------------------------------------------------------------
# MinHash signature statistics (pure numpy, no Spark)
# ---------------------------------------------------------------------------


def test_minhash_estimates_jaccard():
    import numpy as np

    from poi_name_matching_spark.functions.embedding import fnv1a
    from poi_name_matching_spark.functions.spark_udfs import (
        _minhash_seeds,
        _splitmix64,
    )

    seeds = _minhash_seeds(256, 42)

    def sig(toks):
        h = np.fromiter((fnv1a(t.encode()) for t in set(toks)), dtype=np.uint64)
        return _splitmix64(h[None, :] ^ seeds[:, None]).min(axis=1)

    a = [f"t{i}" for i in range(20)]
    for shared in (15, 10, 5):
        b = a[:shared] + [f"u{i}" for i in range(20 - shared)]
        true_j = shared / (40 - shared)
        est = float((sig(a) == sig(b)).mean())
        assert abs(est - true_j) < 0.12, (shared, true_j, est)
    # determinism + order independence
    assert (sig(["x", "y", "z"]) == sig(["z", "x", "y"])).all()


# ---------------------------------------------------------------------------
# Identical-term shortcut parity on single-char shared tokens
# (regression: jw("7","7") = 0.1 under NLTK semantics, so a shared
#  1-char token must NOT be auto-matched at 1.0)
# ---------------------------------------------------------------------------


def _soft_tfidf_reference_loop(tokens_x, tokens_y, df, cs, func, threshold):
    """Literal transcription of the reference's per-term loops
    (test_hybrid_func.py:53-131) with no shortcuts — the parity oracle."""
    from collections import Counter

    tokens_x, tokens_y = list(tokens_x), list(tokens_y)
    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)
    sim_map = {}
    for tx in tf_x:
        max_score = 0.0
        for ty in tf_y:
            s = func(tx, ty)
            if s >= threshold and s > max_score:
                sim_map[tx] = (tx, ty, s)
                max_score = s
    result = vx2 = vy2 = 0.0
    for el in dict.fromkeys(list(tf_x) + list(tf_y)):
        d = df.get(el)
        if d is None:
            continue
        if el in sim_map:
            sm = sim_map[el]
            result += (
                (cs / df.get(sm[0], 1)) * tf_x.get(sm[0], 0)
                * (cs / df.get(sm[1], 1)) * tf_y.get(sm[1], 0)
                * sm[2]
            )
        idf = cs / d
        vx2 += (idf * tf_x.get(el, 0)) ** 2
        vy2 += (idf * tf_y.get(el, 0)) ** 2
    if vx2 == 0 or vy2 == 0:
        return result
    return result / (math.sqrt(vx2) * math.sqrt(vy2))


class TestSoftTfidfSingleCharParity:
    DF = {"7": 2, "elevn": 1, "eleven": 1}
    CS = 2

    def test_shared_single_char_token_matches_reference_loop(self):
        jw = kernels.jaro_winkler_similarity
        got = kernels.soft_tfidf_pair(
            ["7", "elevn"], ["7", "eleven"], self.DF, self.CS, jw, 0.9
        )
        exp = _soft_tfidf_reference_loop(
            ["7", "elevn"], ["7", "eleven"], self.DF, self.CS, jw, 0.9
        )
        assert got == pytest.approx(exp, abs=1e-12)
        # jw("7","7") = 0.1 < 0.9, so "7" contributes nothing: the naive
        # value is strictly below what the buggy 1.0-shortcut produced
        assert got < 0.9

    def test_multi_char_shortcut_still_exact(self):
        jw = kernels.jaro_winkler_similarity
        df = {"park": 2, "avenue": 1, "avenu": 1}
        args = (["park", "avenu"], ["park", "avenue"], df, 2, jw, 0.9)
        assert kernels.soft_tfidf_pair(*args) == pytest.approx(
            _soft_tfidf_reference_loop(*args), abs=1e-12
        )

    def test_semantic_shared_single_char_token(self):
        emb = HashEmbedder(dim=32, seed=7)
        jw = kernels.jaro_winkler_similarity
        got = kernels.semantic_soft_tfidf_pair(
            ["7", "elevn"], ["7", "eleven"], self.DF, self.CS,
            jw, 0.85, emb, 0.7,
        )
        # reference loop with the semantic OR-gate, no shortcuts
        from collections import Counter

        import numpy as np

        def cos(a, b):
            na, nb = np.linalg.norm(a), np.linalg.norm(b)
            if na == 0 or nb == 0:
                return 0.0
            return float(np.dot(a, b) / (na * nb))

        tf_x, tf_y = Counter(["7", "elevn"]), Counter(["7", "eleven"])
        sim_map = {}
        for tx in tf_x:
            ex = np.asarray(emb(tx), dtype=np.float64)
            max_score = 0.0
            for ty in tf_y:
                c = jw(tx, ty)
                s = cos(ex, np.asarray(emb(ty), dtype=np.float64))
                if c >= 0.85 or s >= 0.7:
                    sc = max(c, s)
                    if sc > max_score:
                        sim_map[tx] = (tx, ty, sc)
                        max_score = sc
        result = vx2 = vy2 = 0.0
        for el in dict.fromkeys(list(tf_x) + list(tf_y)):
            d = self.DF.get(el)
            if d is None:
                continue
            if el in sim_map:
                sm = sim_map[el]
                result += (
                    (self.CS / self.DF.get(sm[0], 1)) * tf_x.get(sm[0], 0)
                    * (self.CS / self.DF.get(sm[1], 1)) * tf_y.get(sm[1], 0)
                    * sm[2]
                )
            idf = self.CS / d
            vx2 += (idf * tf_x.get(el, 0)) ** 2
            vy2 += (idf * tf_y.get(el, 0)) ** 2
        exp = result / (math.sqrt(vx2) * math.sqrt(vy2))
        # note: "7"'s self-cosine is 1.0 >= 0.7 → the SEMANTIC gate admits
        # the identical 1-char pair even though jw("7","7")=0.1 — the
        # honest loop and the kernel must agree on that path
        assert got == pytest.approx(exp, abs=1e-12)


class TestSemanticFastPathParity:
    """spark_udfs._semantic_soft_tfidf_fast / _soft_tfidf_jw_fast (the
    paths the scoring UDF ships) must be value-identical to
    the pure kernels, including the adversarial cases: shared 1-char
    tokens and embedder cosine-1.0 collisions (anagrams under the
    char-count embedder)."""

    def test_semantic_fast_equals_kernel(self):
        from poi_name_matching_spark.functions.embedding import (
            CharCountEmbedder,
            HashEmbedder,
        )
        from poi_name_matching_spark.functions.spark_udfs import (
            _semantic_soft_tfidf_fast,
        )

        jw = kernels.jaro_winkler_similarity
        for emb in (HashEmbedder(dim=16, seed=3), CharCountEmbedder()):
            cases = [
                (["7", "elevn"], ["7", "eleven"]),
                (["listen", "x"], ["silent", "x"]),   # anagram collision
                (["ab"], ["ba", "ab"]),               # earlier-anagram first-wins
                ([], ["x"]),
                (["x", "y"], ["x", "y"]),
                (["park", "avenu"], ["park", "avenue"]),
            ]
            for tx, ty in cases:
                dfm = kernels.build_document_frequency([tx, ty])
                a = _semantic_soft_tfidf_fast(
                    tx, ty, dfm, 2, 0.85, 0.6, jw, emb, emb.cache_key()
                )
                b = kernels.semantic_soft_tfidf_pair(
                    tx, ty, dfm, 2, jw, 0.85, emb, 0.6
                )
                assert a == pytest.approx(b, abs=1e-12), (tx, ty, type(emb).__name__)

    def test_jw_fast_equals_kernel(self):
        from poi_name_matching_spark.functions.spark_udfs import _soft_tfidf_jw_fast

        jw = kernels.jaro_winkler_similarity
        cases = [
            (["7", "elevn"], ["7", "eleven"]),
            (["park", "avenu"], ["park", "avenue"]),
            (["a"], ["a", "b"]),
            ([], ["x"]),
            (["x", "y"], ["x", "y"]),
            (["cedar", "fork", "schl"], ["cedar", "fork", "school"]),
        ]
        for tx, ty in cases:
            dfm = kernels.build_document_frequency([tx, ty])
            a = _soft_tfidf_jw_fast(tx, ty, dfm, 2, 0.9)
            b = kernels.soft_tfidf_pair(tx, ty, dfm, 2, jw, 0.9)
            assert a == b, (tx, ty)


def _near_vocab(rng, n_base: int) -> list[str]:
    """Random short words over a 5-letter alphabet plus one-edit variants
    of some of them: dense in JW-near pairs, with 1-character terms."""
    alphabet = "abcde"
    words = {"".join(rng.choices(alphabet, k=rng.randint(1, 9))) for _ in range(n_base)}
    for w in sorted(words)[: n_base // 2]:
        i = rng.randrange(len(w))
        words.add(w[:i] + rng.choice(alphabet) + w[i + 1 :])
        words.add(w + rng.choice(alphabet))
    return sorted(words)


class TestJwNeighbourTable:
    """spark_udfs.JwNeighbours (the vocabulary's JW >= threshold table,
    filled a row at a time) and the table-backed _soft_tfidf_jw_fast:
    exact, with no tolerance, against brute force and
    kernels.soft_tfidf_pair."""

    THRESHOLDS = (0.41, 0.7, 0.9, 1.0, 1.01)

    def test_rows_equal_brute_force(self):
        import random

        from poi_name_matching_spark.functions.spark_udfs import JwNeighbours

        vocab = _near_vocab(random.Random(11), 200)[:300]
        assert len(vocab) >= 250
        # rows are asked for terms outside the vocabulary too, one with
        # a character no vocabulary term has
        queries = vocab + ["abcdz", "zz", "eeeeeeeeee", ""]
        jw = kernels.jaro_winkler_similarity
        scores = {(a, b): jw(a, b) for a in queries for b in vocab if a != b}
        for th in self.THRESHOLDS:
            table = JwNeighbours(vocab, th)
            want: dict = {a: {} for a in queries}
            for (a, b), s in scores.items():
                if s >= th:
                    want[a][b] = s
            assert {a: table(a) for a in queries} == want, th
        # the dense vocabulary does reach the lower thresholds
        assert any(s >= 0.9 for s in scores.values())

    def test_worker_table_kept_per_df_map_and_threshold(self):
        from poi_name_matching_spark.functions.spark_udfs import JwNeighbours, jw_neighbours

        with pytest.raises(ValueError, match="prunes nothing"):
            JwNeighbours(["ab", "abc"], 0.4)
        dfm = {"abcde": 1, "abcdx": 1}
        assert jw_neighbours(dfm, 0.3) is None
        table = jw_neighbours(dfm, 0.9)
        assert table("abcde") == {"abcdx": kernels.jaro_winkler_similarity("abcde", "abcdx")}
        assert jw_neighbours(dfm, 0.9) is table
        assert jw_neighbours(dfm, 0.95).threshold == 0.95
        assert jw_neighbours(dict(dfm), 0.95).threshold == 0.95
        assert jw_neighbours(dfm, 0.9) is not table

    def test_tie_goes_to_earliest_y_position(self):
        from poi_name_matching_spark.functions.spark_udfs import _soft_tfidf_jw_fast

        jw = kernels.jaro_winkler_similarity
        assert jw("abcde", "abcdx") == jw("abcde", "abcdy") >= 0.9
        # the tied y terms differ in df, so the winner shows in the score
        dfm = {"abcde": 1, "abcdx": 1, "abcdy": 2, "q": 2}
        tx = ["abcde", "q"]
        got = []
        for ty in (["abcdx", "abcdy", "q"], ["abcdy", "abcdx", "q"]):
            got.append(_soft_tfidf_jw_fast(tx, ty, dfm, 3, 0.9))
            assert got[-1] == kernels.soft_tfidf_pair(tx, ty, dfm, 3, jw, 0.9)
        assert got[0] != got[1]

    @pytest.mark.parametrize("threshold", (0.3, *THRESHOLDS))
    def test_fast_path_equals_kernel_random(self, threshold):
        import random

        from poi_name_matching_spark.functions.spark_udfs import _soft_tfidf_jw_fast

        rng = random.Random(int(threshold * 100))
        vocab = _near_vocab(rng, 60)
        docs = [rng.choices(vocab, k=rng.randint(0, 8)) for _ in range(120)]
        # identical lists, repeated terms, a shared 1-char term
        docs += [docs[1], docs[2] + docs[2], ["a", "abc"], ["a", "abd"]]
        full = kernels.build_document_frequency(docs)
        top = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[: len(full) // 2]
        # the production caps: min_df drops hapaxes, max_vocab keeps the
        # top-K by df; either leaves terms of both sides off the map
        maps = {
            "full": full,
            "min_df=2": {t: n for t, n in full.items() if n >= 2},
            "max_vocab": dict(top),
        }
        jw = kernels.jaro_winkler_similarity
        for name, dfm in maps.items():
            for i in range(len(docs)):
                for j in range(i, min(len(docs), i + 12)):
                    tx, ty = docs[i], docs[j]
                    got = _soft_tfidf_jw_fast(tx, ty, dfm, len(docs), threshold)
                    want = kernels.soft_tfidf_pair(tx, ty, dfm, len(docs), jw, threshold)
                    assert got == want, (name, tx, ty)


def test_jaro_winkler_from_jaro_bit_identical():
    """The fused winkler tail must be BIT-identical to the standalone
    kernel for any pair (the scoring UDF uses it when both jaro and
    jaro_winkler are requested)."""
    cases = [
        ("park avenue pizza", "park ave pizza"),
        ("MARTHA", "MARHTA"),
        ("abcdef", "abcdef"),
        ("a", "b"),
        ("", "x"),
        ("the same long prefix diverges later on", "the same long prefix but different"),
    ]
    for a, b in cases:
        j = kernels.jaro_similarity(a, b)
        assert kernels.jaro_winkler_from_jaro(j, a, b) == kernels.jaro_winkler_similarity(a, b)
