"""In-Spark Word2Vec training → the vocabulary-embedder file seam (K14).

The reference embeds POI names with pretrained word-level models —
word2vec / glove / fasttext via gensim ``get_vector`` + mean pooling
(``load_data/word_embeddings.py:73-136``). Those downloads are not
available here, but the word2vec *model itself* is trainable in-Spark:
``pyspark.ml.feature.Word2Vec`` is a distributed skip-gram implementation,
and its learned (word, vector) table exports through the same ``.npz``
seam every file-backed embedder uses (:class:`..embedding.VocabEmbedder`).
That makes K14 a real trained model end-to-end: train → export → broadcast
→ per-token lookup → mean pooling, with no stand-in anywhere.

Scale notes:

* Training is distributed (spark.ml); only the LEARNED table (vocabulary ×
  dim, bounded by ``min_count``) is collected to build the npz — the
  corpus itself never leaves the executors.
* At 100 TB, raise ``min_count`` so the vocabulary stays broadcast-sized
  (the same discipline as ``scoring.broadcast_df_map``), and ship the npz
  to executors with ``--files`` (content-hash verified on reload).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .embedding import VocabEmbedder


def _save_npz(vocab: np.ndarray, weights: np.ndarray, out_path: str) -> str:
    """Write the (vocab, weights) npz seam file. np.savez appends
    ``.npz`` when the name lacks it, which would strand the file at a
    path the reload never looks at — normalize up front and return the
    real path. Single writer shared by every exporter so the seam
    format cannot drift between them."""
    out_path = str(out_path)
    if not out_path.endswith(".npz"):
        out_path += ".npz"
    np.savez(out_path, vocab=vocab, weights=weights)
    return out_path


def train_word2vec(
    tokens_df: DataFrame,
    out_path: str,
    tokens_col: str = "tokens",
    vector_size: int = 64,
    min_count: int = 1,
    max_iter: int = 1,
    window_size: int = 5,
    seed: int = 42,
    num_partitions: int = 1,
) -> VocabEmbedder:
    """Train spark.ml Word2Vec on a tokens column and export the learned
    vectors as an npz (``vocab``, ``weights``) consumable by
    :class:`VocabEmbedder`.

    ``num_partitions=1`` + fixed ``seed`` keeps training deterministic for
    a given input order (spark.ml updates are merged per partition); raise
    it for throughput on big corpora at the cost of run-to-run vector
    identity (cosine structure is stable either way). The vocabulary
    collect is bounded by ``min_count`` — the 100 TB setting raises it
    until V × dim fits comfortably in a broadcast."""
    from pyspark.ml.feature import Word2Vec

    model = Word2Vec(
        vectorSize=int(vector_size),
        minCount=int(min_count),
        maxIter=int(max_iter),
        windowSize=int(window_size),
        seed=int(seed),
        numPartitions=int(num_partitions),
        inputCol=tokens_col,
        outputCol="_w2v",
    ).fit(tokens_df)
    # vocabulary-sized collect (NOT corpus-sized): V rows of dim floats,
    # sorted by word so the exported file is deterministic for a given
    # trained model
    vecs = model.getVectors().orderBy("word").collect()
    vocab = np.array([r["word"] for r in vecs], dtype=np.str_)
    weights = np.stack([r["vector"].toArray() for r in vecs]).astype(np.float32)
    return VocabEmbedder.from_weights(_save_npz(vocab, weights, out_path))


def text_vectors_to_npz(src_path: str, out_path: str) -> str:
    """Convert a published word-vector file in the standard TEXT formats
    to the engine's ``.npz`` seam — the dependency-free route for the
    reference's pretrained models (``load_data/word_embeddings.py:
    73-136`` loads word2vec / GloVe / fastText through gensim; gensim's
    own interchange formats are what this parses):

    * **GloVe text**: one ``word v1 v2 … vN`` line per word, no header
      (``glove.6B.300d.txt`` etc.);
    * **word2vec/fastText text**: same lines after a ``V N`` count
      header (``wiki-news-300d-1M.vec`` etc.) — autodetected and
      skipped.

    Duplicated words keep their FIRST vector (gensim's behavior).
    Returns the (``.npz``-normalized) output path; load the result with
    :class:`~poi_name_matching_spark.functions.embedding.VocabEmbedder.from_weights`
    and pass it anywhere an embedder goes (the ``emb_cosine`` and
    semantic soft-TFIDF scoring kernels) — no code change, which is the
    point of the seam."""
    vocab: list[str] = []
    rows: list[np.ndarray] = []
    seen: set[str] = set()
    dim: int | None = None
    with open(src_path, encoding="utf-8", errors="surrogateescape") as f:
        first = f.readline()
        # rstrip("\r\n"): published .vec/.txt files circulate with CRLF
        # endings too — a trailing \r would defeat isdigit() on the "V N"
        # header and corrupt the last vector component of every line
        parts = first.rstrip("\r\n").split(" ")
        if len(parts) == 2 and parts[0].isdigit() and parts[1].isdigit():
            pass  # word2vec-style "V N" header — consumed
        elif first:
            word = parts[0]
            vec = np.array([p for p in parts[1:] if p], dtype=np.float32)
            dim = vec.size
            vocab.append(word)
            rows.append(vec)
            seen.add(word)
        for line in f:
            parts = line.rstrip("\r\n").split(" ")
            word = parts[0]
            if word in seen:
                continue
            vec = np.array([p for p in parts[1:] if p], dtype=np.float32)
            if dim is None:
                dim = vec.size
            elif vec.size != dim:
                raise ValueError(
                    f"{src_path}: vector for {word!r} has {vec.size} "
                    f"components, expected {dim}"
                )
            vocab.append(word)
            rows.append(vec)
            seen.add(word)
    if not rows:
        raise ValueError(f"{src_path}: no vectors found")
    return _save_npz(np.array(vocab, dtype=np.str_), np.stack(rows), out_path)
