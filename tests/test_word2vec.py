"""K14 end-to-end: a REAL word2vec model trained in-Spark, exported
through the npz vocab seam, and consumed by the scoring path
(reference ``load_data/word_embeddings.py:73-91``: per-token
``get_vector`` → ``mean(axis=0)``)."""

import pickle

import numpy as np
import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.functions.embedding import (
    HashEmbedder,
    VocabEmbedder,
)
from poi_name_matching_spark.functions.word2vec import train_word2vec

CORPUS = [
    "grand central station",
    "grand central terminal",
    "joes pizza",
    "joes pizza shop",
    "city park north",
    "city park south",
    "central city library",
    "station road cafe",
]


@pytest.fixture(scope="module")
def trained(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("w2v") / "w2v.npz")
    df = spark.createDataFrame(
        [(i, t, t.split()) for i, t in enumerate(CORPUS)],
        "doc_id long, text string, tokens array<string>",
    )
    emb = train_word2vec(df, path, vector_size=16, min_count=1, seed=7)
    return emb, path, df


class TestTrainWord2Vec:
    def test_exports_full_vocab(self, trained):
        emb, path, _ = trained
        with np.load(path) as data:
            vocab = set(str(w) for w in data["vocab"])
            w = data["weights"]
        expected_vocab = {t for line in CORPUS for t in line.split()}
        assert vocab == expected_vocab  # minCount=1 keeps every token
        assert w.shape == (len(vocab), 16) and w.dtype == np.float32
        assert emb.dim == 16

    def test_mean_pooling_matches_reference_formula(self, trained):
        """embed_text == mean of the per-token learned vectors — the
        reference's exact pooling (word_embeddings.py:73-91)."""
        emb, path, _ = trained
        with np.load(path) as data:
            table = {
                str(w): v
                for w, v in zip(data["vocab"], data["weights"])
            }
        toks = ["grand", "central", "station"]
        expected = np.stack([table[t] for t in toks]).mean(axis=0)
        assert np.array_equal(emb.embed_text("", tokens=toks), expected)

    def test_oov_skipped_and_all_oov_zero(self, trained):
        emb, _, _ = trained
        in_vocab = emb.embed_text("", tokens=["pizza"])
        mixed = emb.embed_text("", tokens=["pizza", "zzzunknown"])
        assert np.array_equal(mixed, in_vocab)  # OOV dropped from mean
        assert not np.any(emb.embed_text("", tokens=["zzzunknown"]))
        assert not np.any(emb("zzzunknown"))

    def test_pickle_reload_and_content_identity(self, trained, tmp_path):
        emb, path, _ = trained
        e2 = pickle.loads(pickle.dumps(emb))
        assert e2.cache_key() == emb.cache_key()
        assert np.array_equal(e2("pizza"), emb("pizza"))
        # distinct namespace from a hash embedder of the same dim
        assert emb.cache_key() != HashEmbedder(dim=16).cache_key()
        # content mismatch after an in-place overwrite fails loudly on
        # lazy reload (executor safety), and a re-built embedder gets a
        # NEW cache namespace
        p2 = tmp_path / "w2v_copy.npz"
        with np.load(path) as data:
            np.savez(
                p2,
                vocab=data["vocab"],
                weights=data["weights"] + np.float32(1.0),
            )
        stale = pickle.loads(pickle.dumps(emb))
        stale.weights_path = str(p2)
        with pytest.raises(ValueError, match="sha256 mismatch"):
            stale("pizza")
        assert VocabEmbedder.from_weights(str(p2)).cache_key() != emb.cache_key()


class TestTrainedVectorsDriveOperators:
    def test_scoring_end_to_end_cosine_parity(self, spark, trained):
        """score_pairs with the trained embedder: emb_cosine equals a
        driver-side recomputation from the npz table, and the semantic
        soft-TFIDF column is produced (full suite runs on real trained
        vectors)."""
        from poi_name_matching_spark.functions import kernels
        from poi_name_matching_spark.operators.scoring import (
            ScoringConfig,
            score_pairs,
        )

        sig = spark.createDataFrame(
            [(str(i), t, t.split()) for i, t in enumerate(CORPUS)],
            "conv_id string, sig_text string, tokens array<string>",
        )
        pairs = spark.createDataFrame(
            [("0", "1"), ("2", "3"), ("4", "5")],
            "left_id string, right_id string",
        )
        emb, _, _ = trained
        out = score_pairs(
            spark,
            pairs,
            sig,
            ScoringConfig(
                kernels=("emb_cosine", "semantic_softtfidf"),
                score_kernel="emb_cosine",
            ),
            embedder=emb,
        ).collect()
        assert len(out) == 3
        for r in out:
            lt = CORPUS[int(r["left_id"])].split()
            rt = CORPUS[int(r["right_id"])].split()
            expected = kernels.cosine_vec(
                emb.embed_text("", tokens=lt), emb.embed_text("", tokens=rt)
            )
            assert r["emb_cosine"] == pytest.approx(expected, abs=1e-7)
            assert 0.0 <= r["semantic_softtfidf"] <= 1.0
        # near-paraphrase pairs on a trained model should score high
        cos = {(r["left_id"], r["right_id"]): r["emb_cosine"] for r in out}
        assert cos[("0", "1")] > 0.5  # shares 2 of 3 trained tokens

class TestTextVectorsToNpz:
    """Converter for published GloVe / word2vec-text model files → the
    npz seam (the dependency-free stand-in for gensim loading,
    word_embeddings.py:73-136)."""

    GLOVE = "the 0.1 0.2 0.3\ncentral -1.0 0.5 0.25\nstation 0 0 1\n"
    W2V = "3 3\nthe 0.1 0.2 0.3\ncentral -1.0 0.5 0.25\nstation 0 0 1\n"

    def _roundtrip(self, tmp_path, text, name):
        from poi_name_matching_spark.functions.word2vec import (
            text_vectors_to_npz,
        )

        src = tmp_path / f"{name}.txt"
        src.write_text(text, encoding="utf-8")
        out = text_vectors_to_npz(str(src), str(tmp_path / name))
        emb = VocabEmbedder.from_weights(out)
        return emb

    def test_glove_and_word2vec_headers_equivalent(self, tmp_path):
        g = self._roundtrip(tmp_path, self.GLOVE, "glove")
        w = self._roundtrip(tmp_path, self.W2V, "w2v")
        assert g.dim == w.dim == 3
        for tok in ("the", "central", "station"):
            assert np.allclose(g(tok), w(tok))
        assert np.allclose(g("central"), [-1.0, 0.5, 0.25])

    def test_mean_pooling_through_seam(self, tmp_path):
        emb = self._roundtrip(tmp_path, self.GLOVE, "glove2")
        got = emb.embed_text("central station")
        assert np.allclose(got, np.mean([[-1.0, 0.5, 0.25], [0, 0, 1]], axis=0))
        # OOV skipped in the mean (documented policy)
        assert np.allclose(emb.embed_text("central zzz"), [-1.0, 0.5, 0.25])

    def test_duplicate_words_keep_first_and_dim_mismatch_raises(self, tmp_path):
        from poi_name_matching_spark.functions.word2vec import (
            text_vectors_to_npz,
        )

        emb = self._roundtrip(
            tmp_path, "a 1 2 3\na 9 9 9\nb 4 5 6\n", "dup"
        )
        assert np.allclose(emb("a"), [1, 2, 3])
        bad = tmp_path / "bad.txt"
        bad.write_text("a 1 2 3\nb 4 5\n", encoding="utf-8")
        with pytest.raises(ValueError, match="expected 3"):
            text_vectors_to_npz(str(bad), str(tmp_path / "bad"))

    def test_crlf_files_parse_identically(self, tmp_path):
        """Published .vec/.txt files circulate with CRLF endings too: the
        'V N' header must still be detected (a trailing \\r used to defeat
        isdigit() and ingest the header as a bogus 1-dim word, rejecting
        the whole valid file) and vector values must match the LF parse."""
        lf = self._roundtrip(tmp_path, self.W2V, "w2v_lf")
        crlf = self._roundtrip(
            tmp_path, self.W2V.replace("\n", "\r\n"), "w2v_crlf"
        )
        g_crlf = self._roundtrip(
            tmp_path, self.GLOVE.replace("\n", "\r\n"), "glove_crlf"
        )
        assert lf.dim == crlf.dim == g_crlf.dim == 3
        for tok in ("the", "central", "station"):
            assert np.allclose(lf(tok), crlf(tok))
            assert np.allclose(lf(tok), g_crlf(tok))


class TestPublishedModelFileDrop:
    """A published-format model file drops into the FULL pipeline with
    zero code changes (K11–K13 hygiene): a GloVe-text file → converter →
    real signatures/blocking/scoring, every embedding-derived number
    re-derived driver-side from the RAW text file (an independent parse,
    not the converter under test)."""

    @pytest.fixture(scope="class")
    def dropped(self, spark, tmp_path_factory):
        from poi_name_matching_spark.data.transcripts import transcripts_df
        from poi_name_matching_spark.functions.word2vec import (
            text_vectors_to_npz,
        )
        from poi_name_matching_spark.operators.signatures import (
            build_signatures,
        )

        sigs = build_signatures(transcripts_df(spark, n_convs=60, seed=3))
        sigs = sigs.select("conv_id", "sig_text", "tokens").cache()
        vocab = sorted(
            r[0]
            for r in sigs.select(F.explode("tokens")).distinct().collect()
        )
        # deterministic "published" vectors, written in GloVe text format
        # (no header) exactly as glove.6B.*.txt circulates
        rng = np.random.default_rng(11)
        vecs = {t: rng.standard_normal(8).astype(np.float32) for t in vocab}
        tmp = tmp_path_factory.mktemp("glove")
        src = tmp / "glove.transcripts.8d.txt"
        src.write_text(
            "".join(
                t + " " + " ".join(f"{x:.6f}" for x in v) + "\n"
                for t, v in vecs.items()
            ),
            encoding="utf-8",
        )
        npz = text_vectors_to_npz(str(src), str(tmp / "glove"))
        emb = VocabEmbedder.from_weights(npz)

        # independent driver-side parse of the RAW file → pooling oracle
        raw = {}
        for line in src.read_text(encoding="utf-8").splitlines():
            parts = line.split(" ")
            raw[parts[0]] = np.array(parts[1:], dtype=np.float32)

        def pool(tokens):
            rows = [raw[t] for t in tokens if t in raw]
            if not rows:
                return np.zeros(8, dtype=np.float32)
            return np.stack(rows).mean(axis=0)

        return emb, sigs, pool

    def test_scoring_pipeline_parity_vs_raw_file(self, spark, dropped):
        from poi_name_matching_spark.functions import kernels
        from poi_name_matching_spark.operators.blocking import (
            block_keys,
            candidate_pairs,
        )
        from poi_name_matching_spark.operators.scoring import (
            ScoringConfig,
            score_pairs,
        )

        emb, sigs, pool = dropped
        pairs = candidate_pairs(block_keys(sigs))
        assert pairs.count() > 0
        out = score_pairs(
            spark,
            pairs,
            sigs,
            ScoringConfig(
                kernels=("emb_cosine", "jaro_winkler", "tfidf"),
                score_kernel="tfidf",
            ),
            embedder=emb,
        ).collect()
        toks = {r["conv_id"]: r["tokens"] for r in sigs.collect()}
        for r in out:
            expected = kernels.cosine_vec(
                pool(toks[r["left_id"]]), pool(toks[r["right_id"]])
            )
            assert r["emb_cosine"] == pytest.approx(expected, abs=1e-6)
