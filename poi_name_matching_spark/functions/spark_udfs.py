"""Spark bindings for the kernel library.

* **Arrow-vectorized pandas UDFs** (SURVEY.md §2.7) for the canonical
  tokenizer with stemming, the embeddings ``ml.assemble_features``
  reads, and the scoring suite: all nine kernels in one UDF pass. No
  per-row Python UDFs anywhere. Per Arrow batch, levenshtein is one
  bit-parallel edit distance over all its pairs, jaccard reads one
  token set per distinct text and the embedding cosine one vector per
  distinct token list; jaro/jaro-winkler, cosine and the tf-idf /
  soft-TFIDF family run per row.
* **Native Column expressions** for the contract queries only:
  haversine and the whitespace-token split.

The document-frequency map and embedder weights are shipped via
``SparkContext.broadcast`` (SURVEY.md §4.3) — never captured per-row.
"""

from __future__ import annotations

from array import array
from collections import Counter
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import kernels
from .embedding import HashEmbedder
from .tokenize import WS_CLASS, tokenize_name, tokenize_on_space

# --------------------------------------------------------------------------
# Native Column expressions (JVM, WholeStageCodegen)
# --------------------------------------------------------------------------


def whitespace_tokens(c: Column) -> Column:
    """F1 (``re.findall(r"\\S+", s)``) as a native expression.

    Splits on ``tokenize.WS_CLASS`` — the explicit Unicode set Python's
    ``\\s`` matches — NOT Java's ``\\s`` (ASCII-only), so the native
    path, the Python twin ``tokenize_on_space``, and the DuckDB oracles
    (which substitute the same class for RE2's differently-ASCII ``\\s``)
    agree on any input, incl. NBSP / U+2028 / vertical tab.

    The explicit empty-token filter is load-bearing: ``F.trim`` strips
    only SPACES (0x20), so a tab/newline-adjacent text would otherwise
    leave a leading/trailing ``''`` token after the split — diverging
    from ``\\S+`` semantics and from the DuckDB oracles' ``t <> ''``
    filters. With the filter, empty/whitespace-only input yields ``[]``
    with no special case."""
    return F.filter(F.split(F.trim(c), WS_CLASS + "+"), lambda t: t != F.lit(""))


def haversine_meters(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """K16 natively (R = 6371 km, matching mpu / ``label_data.py:105-128``)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    c = 2 * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a))
    return c * F.lit(6371.0 * 1000.0)


# --------------------------------------------------------------------------
# Pandas UDFs (Arrow-vectorized)
# --------------------------------------------------------------------------

# worker-process-lifetime kernel caches (bounded; shared across batches).
# The embedding cache is namespaced by embedder spec — two embedder
# configs in one worker process must not share per-token entries.
_EMB_CACHE: dict[tuple, dict[str, "np.ndarray"]] = {}


@lru_cache(maxsize=1 << 21)
def _jw_cached(a: str, b: str) -> float:
    """Term-pair jaro-winkler cache — soft-TFIDF inner-loop keys only.
    Full-signature pairs MUST NOT go through here: every candidate pair
    is a distinct text pair (near-zero hit rate) while each entry would
    pin two full signature strings — ~GBs of dead cache per worker at
    scale. ``_jw_full`` enforces the length gate."""
    return kernels.jaro_winkler_similarity(a, b)


#: term strings above this combined length bypass the cache (signature
#: texts are hundreds of chars; soft-TFIDF terms are single tokens)
_JW_CACHE_MAX_LEN = 64


def _jw_full(a: str, b: str) -> float:
    if len(a) + len(b) <= _JW_CACHE_MAX_LEN:
        return _jw_cached(a, b)
    return kernels.jaro_winkler_similarity(a, b)


# -- soft-TFIDF fast path: the vocabulary's JW >= θ neighbour table --------
#
# The kernel's secondary loop scores every (term_x, term_y) pair of
# every candidate pair, yet at θ = 0.9 only a few term pairs per
# thousand clear the threshold. The table holds exactly those pairs, so
# the per-pair winner is a lookup of term_x's neighbours among the y
# terms. Each worker fills the table's rows on first use, one per
# distinct term_x it scores, against a character index of the df map's
# vocabulary: a batch pays for the terms it scores, an incremental
# commit only for its new pairs' terms, and no driver builds or ships a
# vocabulary-squared table. Parity with kernels.soft_tfidf_pair(jw) is
# pinned by test_kernels::TestJwNeighbourTable and
# test_blocking_scoring::test_scoring_matches_pure_python.

#: Winkler's boost is jw = jaro + l·p·(1 − jaro) for a common prefix of
#: l <= 4 characters at p = 0.1, so it closes at most 0.4 of the gap to
#: 1. At or below a threshold of 0.4 the neighbour bound prunes nothing.
_JW_P, _JW_MAX_L = 0.1, 4
_JW_MAX_BOOST = _JW_P * _JW_MAX_L
#: slack on the float bound so it can only ever admit extra pairs
_BOUND_EPS = 1e-9


class JwNeighbours:
    """The JW >= ``threshold`` neighbour table of a vocabulary, one row
    per term, each computed on first use: ``table(a)`` is
    ``{b: jw(a, b)}`` for every vocabulary term ``b != a`` with
    ``jw(a, b) >= threshold``, where jw is
    ``kernels.jaro_winkler_similarity`` called in that argument order.
    ``a`` itself need not be in the vocabulary.

    A sound candidate filter picks the terms to score. jw >= θ needs
    jaro >= j(l) = (θ − 0.1·l)/(1 − 0.1·l) for the pair's common prefix
    l <= 4, so at least j* = j(4) = (θ − 0.4)/0.6; and jaro <=
    (M/la + M/lb + 1)/3 where M is the character-multiset overlap of the
    two terms (the matches cannot exceed it). The vocabulary is sorted
    by length and indexed by character (posting lists of term position
    and count), so a row sums M over the postings of its own characters
    only, within the length window that M <= min(la, lb) allows, and
    scores only the terms whose bound clears j* and then the j(l) of
    their own prefix. Memory is one posting entry per distinct
    character of each term."""

    def __init__(self, vocab, threshold: float):
        if threshold <= _JW_MAX_BOOST:
            raise ValueError(
                f"the neighbour bound prunes nothing at threshold {threshold} <= "
                f"{_JW_MAX_BOOST}; score with kernels.soft_tfidf_pair instead"
            )
        self.threshold = threshold
        self._j_need = [
            (threshold - _JW_P * l) / (1.0 - _JW_P * l) - _BOUND_EPS
            for l in range(_JW_MAX_L + 1)
        ]
        self._j_star = self._j_need[_JW_MAX_L]
        # jaro <= (2 + lo/hi)/3, so lo/hi >= 3·j* − 2
        self._ratio = 3.0 * self._j_star - 2.0
        # an empty term has jw 0 against anything
        self._terms = sorted((t for t in set(vocab) if t), key=lambda t: (len(t), t))
        self._lens = np.array([len(t) for t in self._terms], dtype=np.float64)
        postings: dict[str, tuple[array, array]] = {}
        for i, t in enumerate(self._terms):
            for c, k in Counter(t).items():
                at, n = postings.setdefault(c, (array("q"), array("i")))
                at.append(i)
                n.append(k)
        self._postings = {
            c: (np.frombuffer(at, dtype=np.int64), np.frombuffer(n, dtype=np.int32))
            for c, (at, n) in postings.items()
        }
        self.rows: dict[str, dict[str, float]] = {}

    def __call__(self, a: str) -> dict[str, float]:
        row = self.rows.get(a)
        if row is None:
            row = self.rows[a] = self._row(a)
        return row

    def _row(self, a: str) -> dict[str, float]:
        if not a or self._j_star > 1.0:
            return {}
        la = len(a)
        lens = self._lens
        if self._ratio > 0:
            lo = int(np.searchsorted(lens, la * self._ratio, "left"))
            hi = int(np.searchsorted(lens, la / self._ratio, "right"))
        else:
            lo, hi = 0, len(lens)
        overlap = np.zeros(hi - lo, dtype=np.int32)
        for c, k in Counter(a).items():
            posting = self._postings.get(c)
            if posting is None:
                continue
            at, n = posting
            s, e = np.searchsorted(at, (lo, hi))
            overlap[at[s:e] - lo] += np.minimum(n[s:e], k)
        bound = (overlap / la + overlap / lens[lo:hi] + 1.0) / 3.0
        jw = kernels.jaro_winkler_similarity
        row = {}
        for i in np.flatnonzero(bound >= self._j_star):
            b = self._terms[lo + i]
            prefix = next(
                (k for k, (x, y) in enumerate(zip(a, b[:_JW_MAX_L])) if x != y),
                min(la, len(b), _JW_MAX_L),
            )
            if b != a and bound[i] >= self._j_need[prefix]:
                s = jw(a, b)
                if s >= self.threshold:
                    row[b] = s
        return row


#: the worker's table: {"vocab": df map, "table": JwNeighbours}. Module
#: level like the caches above: a UDF's closure is unpickled afresh for
#: every task, and the rows must outlive tasks (python worker reuse).
_JW_TABLE: dict = {}


def jw_neighbours(df_map, threshold: float) -> JwNeighbours | None:
    """The worker's :class:`JwNeighbours` over ``df_map``'s terms, kept
    for as long as the same df map object (a broadcast value) and
    threshold come back, so its rows serve every batch, task and chunk
    scored under that map; a df map must not change in place. ``None``
    at a threshold of 0.4 or less, where soft-TFIDF runs the kernel."""
    if threshold <= _JW_MAX_BOOST:
        return None
    table = _JW_TABLE.get("table")
    if _JW_TABLE.get("vocab") is not df_map or table.threshold != threshold:
        table = JwNeighbours(df_map, threshold)
        _JW_TABLE.update(vocab=df_map, table=table)
    return table


def _soft_tfidf_jw_fast(
    tokens_x,
    tokens_y,
    df_map,
    corpus_size: int,
    threshold: float,
) -> float:
    """kernels.soft_tfidf_pair with the jaro-winkler secondary, served
    from :func:`jw_neighbours` — identical semantics: the winner is the
    highest score, ties to the earliest y position. With no table (a
    threshold of 0.4 or less) it runs the kernel.

    A term_x missing from the df map gets no winner (the assembly skips
    it); a y term missing from the df map has no row entry but can
    still win, so it is scored directly."""
    neighbours = jw_neighbours(df_map, threshold)
    if neighbours is None:
        return kernels.soft_tfidf_pair(
            tokens_x, tokens_y, df_map, corpus_size, kernels.jaro_winkler_similarity, threshold
        )
    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)
    y_pos = {t: p for p, t in enumerate(tf_y)}
    unseen = [t for t in tf_y if t not in df_map]
    similarity_map: dict[str, tuple] = {}
    for term_x in tf_x:
        if term_x not in df_map:
            continue
        # identical-term shortcut, multi-char only (jw("7","7")=0.1 —
        # see kernels.soft_tfidf_pair)
        if threshold <= 1.0 and len(term_x) > 1 and term_x in tf_y:
            similarity_map[term_x] = (term_x, term_x, 1.0)
            continue
        near = neighbours(term_x)
        if len(near) <= len(y_pos):
            hits = [(s, y_pos[ty], ty) for ty, s in near.items() if ty in y_pos]
        else:
            hits = [(near[ty], p, ty) for ty, p in y_pos.items() if ty in near]
        for ty in unseen:
            s = _jw_cached(term_x, ty)
            if s >= threshold:
                hits.append((s, y_pos[ty], ty))
        if hits:
            s, _, ty = min(hits, key=lambda h: (-h[0], h[1]))
            similarity_map[term_x] = (term_x, ty, s)

    return _assemble_soft_tfidf(tf_x, tf_y, similarity_map, df_map, corpus_size)


def _assemble_soft_tfidf(tf_x, tf_y, similarity_map, df_map, corpus_size) -> float:
    """The tf-idf weighting half of the soft-TFIDF formula, shared by
    the jw and semantic fast paths — byte-identical to the tail of
    kernels.soft_tfidf_pair."""
    from math import sqrt

    result = v_x_2 = v_y_2 = 0.0
    for element in dict.fromkeys(list(tf_x) + list(tf_y)):
        df_element = df_map.get(element)
        if df_element is None:
            continue
        if element in similarity_map:
            sim = similarity_map[element]
            # sim[0] IS element (the map is keyed by term_x = sim[0]),
            # so its df is the already-verified df_element; only the
            # MATCHED token sim[1] can be missing from a truncated df
            # map (min_df/max_vocab) — skip the term then; a get(tok, 1)
            # fallback would inflate the numerator with the maximal idf
            df_second = df_map.get(sim[1])
            if df_second is not None:
                idf_first = corpus_size / df_element
                idf_second = corpus_size / df_second
                # grouping mirrors the kernel EXACTLY (v_x, v_y
                # intermediates) — float multiplication is
                # non-associative, and the parity contract is
                # bit-identity, not approx
                v_x = idf_first * tf_x.get(sim[0], 0)
                v_y = idf_second * tf_y.get(sim[1], 0)
                result += v_x * v_y * sim[2]
        idf = corpus_size / df_element
        v_x = idf * tf_x.get(element, 0)
        v_x_2 += v_x * v_x
        v_y = idf * tf_y.get(element, 0)
        v_y_2 += v_y * v_y
    if v_x_2 == 0 or v_y_2 == 0:
        return result
    return result / (sqrt(v_x_2) * sqrt(v_y_2))


# -- semantic soft-TFIDF: per-(term_x, y-term-tuple) winner cache ----------
#
# The embedding gate can admit term pairs the character bound rejects,
# so this path keeps its O(|x|·|y|) loop. It repeats VERBATIM for every
# candidate pair that shares a right signature, and the winner for a
# given term_x against a given ordered y-term set depends only on
# (term_x, y_terms, thresholds, embedder) — never on tf/df. The scoring
# join is sort-merged on right_id when this kernel is selected, so pairs
# sharing a right signature meet on one worker.
_WINNER_CACHE: dict[tuple, dict] = {}
_WINNER_CACHE_MAX = 1 << 15  # outer = distinct y signatures per worker


def _semantic_winner(
    term_x: str,
    y_terms: tuple,
    char_threshold: float,
    semantic_threshold: float,
    char_func,
    emb,
):
    """Honest strictly-improving max of max(char, cosine) over y_terms
    in first-occurrence order with the OR acceptance gate
    (kernels.semantic_soft_tfidf_pair loop) — tf/df-independent, so
    cacheable per (term_x, y_terms). The identical-term shortcut and
    its embedder-collision guard are folded in: sems are computed
    vectorized first, and the char loop is skipped only when term_x
    itself is provably the first maximum."""
    e_x = np.asarray(emb(term_x), dtype=np.float64)
    x_norm = float(np.linalg.norm(e_x))
    y_mat = np.stack([np.asarray(emb(t), dtype=np.float64) for t in y_terms])
    y_norms = np.linalg.norm(y_mat, axis=1)
    if x_norm == 0.0:
        sems = np.zeros(len(y_terms))
    else:
        denom = y_norms * x_norm
        with np.errstate(divide="ignore", invalid="ignore"):
            sems = np.where(denom > 0, (y_mat @ e_x) / denom, 0.0)
    if (
        len(term_x) > 1
        and term_x in y_terms
        and (
            char_threshold <= 1.0
            or (semantic_threshold <= 1.0 and x_norm > 0.0)
        )
        and not bool(
            np.any((sems >= 1.0) & (np.array(y_terms, dtype=object) != term_x))
        )
    ):
        return term_x, 1.0
    best_ty, best_score = None, 0.0
    for j, term_y in enumerate(y_terms):
        char_score = char_func(term_x, term_y)
        semantic_score = float(sems[j])
        if char_score >= char_threshold or semantic_score >= semantic_threshold:
            score = max(char_score, semantic_score)
            if score > best_score:
                best_ty, best_score = term_y, score
    return best_ty, best_score


def _semantic_soft_tfidf_fast(
    tokens_x: list,
    tokens_y: list,
    df_map,
    corpus_size: int,
    char_threshold: float,
    semantic_threshold: float,
    char_func,
    emb,
    emb_key: tuple,
) -> float:
    """kernels.semantic_soft_tfidf_pair with the winner loop served from
    the worker-level cache (parity pinned by the scoring tests)."""
    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)
    y_terms = tuple(tf_y)
    if len(_WINNER_CACHE) > _WINNER_CACHE_MAX:
        _WINNER_CACHE.clear()
    y_cache = _WINNER_CACHE.setdefault(
        (y_terms, char_threshold, semantic_threshold, emb_key), {}
    )
    similarity_map: dict[str, tuple] = {}
    for term_x in tf_x:
        w = y_cache.get(term_x)
        if w is None:
            w = _semantic_winner(
                term_x, y_terms, char_threshold, semantic_threshold, char_func, emb
            )
            y_cache[term_x] = w
        if w[0] is not None:
            similarity_map[term_x] = (term_x, w[0], w[1])
    return _assemble_soft_tfidf(tf_x, tf_y, similarity_map, df_map, corpus_size)


@pandas_udf(ArrayType(StringType()))
def normalize_tokens(texts: pd.Series) -> pd.Series:
    """F2-F4: canonical normalizer (lower, ascii-fold, strip, stopword
    filter, Snowball stem). Stemmer results are lru-cached across rows."""
    return texts.map(lambda t: tokenize_name(t) if t is not None else None)


@pandas_udf(DoubleType())
def damerau_sim_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """K2: OSA damerau-levenshtein similarity (character_based_func.py:
    37-58). Note: the DuckDB oracle's damerau_levenshtein is the FULL DL
    variant; they agree except when an edit lands between two transposed
    chars — the driver pair sets are verified free of that case, and the
    OSA semantics themselves are pinned by test_kernels."""
    dls = kernels.damerau_levenshtein_similarity
    return pd.Series(
        [dls(a, b) if a is not None and b is not None else None for a, b in zip(s1, s2)],
        dtype="float64",
    )


def make_embed_udf(embedder: HashEmbedder):
    """embed(tokens array<string>) -> array<float>; weights are rebuilt
    deterministically per executor from the embedder spec (tiny closure)."""

    @pandas_udf(ArrayType(FloatType()))
    def embed_udf(tokens: pd.Series) -> pd.Series:
        out = []
        for toks in tokens:
            if toks is None or len(toks) == 0:
                out.append(np.zeros(embedder.dim, dtype=np.float32))
            else:
                out.append(embedder.embed_text("", tokens=list(toks)))
        return pd.Series(out)

    return embed_udf


# -- levenshtein and jaccard, once per Arrow batch -------------------------
#
# Levenshtein is Myers' bit-parallel edit distance (JACM 1999) in
# Hyyrö's multi-word form (2001): each 64-bit word holds the vertical
# deltas of 64 pattern rows, so a text character advances a column in
# ceil(m/64) word steps instead of m cells. numpy runs every step over
# all the pairs of a sub-batch at once. Pairs are sorted by text length,
# so the pairs still running are a suffix of the sub-batch and the
# finished ones keep their last column. The distance is then read off
# that column: D[m][n] = n + (+1 deltas) − (−1 deltas).

_U1, _U63 = np.uint64(1), np.uint64(63)
_ONES = np.uint64(0xFFFFFFFFFFFFFFFF)
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
#: bytes a sub-batch may spend on its match table and text index
_LEV_SUB_BATCH_BYTES = 16 << 20


def _code_points(texts) -> np.ndarray:
    return np.frombuffer("".join(texts).encode("utf-32-le"), dtype=np.uint32)


def _popcount(x: np.ndarray) -> np.ndarray:
    return _POPCOUNT8[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=-1)


def _myers(peq: np.ndarray, text: np.ndarray, m: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Edit distances of one sub-batch sorted by text length ``n``.
    ``peq[w, c]`` is the match mask of pattern word ``w`` for row ``c``
    of the flattened (pair, character) alphabet; ``text[j, i]`` is the
    row of pair ``i``'s ``j``-th text character."""
    N, W = len(m), peq.shape[0]
    words = (m + 63) // 64
    # words still needed once the pairs before k have finished
    w_left = np.maximum.accumulate(words[::-1])[::-1]
    first = np.searchsorted(n, np.arange(int(n[-1])), "right")
    vp = np.full((W, N), _ONES)
    vn = np.zeros((W, N), dtype=np.uint64)
    x, d0, hp, hn, cp, cn, op, on = (np.empty(N, dtype=np.uint64) for _ in range(8))
    for j in range(int(n[-1])):
        k = int(first[j])
        a = N - k
        tj = text[j, k:]
        xa, d, p, q = x[:a], d0[:a], hp[:a], hn[:a]
        in_p, in_n, out_p, out_n = cp[:a], cn[:a], op[:a], on[:a]
        w_end = int(w_left[k])
        for w in range(w_end):
            v, u = vp[w, k:], vn[w, k:]
            np.take(peq[w], tj, out=xa)
            if w:
                # a −1 horizontal delta out of the word below
                np.bitwise_or(xa, in_n, out=xa)
            np.bitwise_and(xa, v, out=d)
            np.add(d, v, out=d)
            np.bitwise_xor(d, v, out=d)
            np.bitwise_or(d, xa, out=d)
            np.bitwise_or(d, u, out=d)
            np.bitwise_or(d, v, out=p)
            np.invert(p, out=p)
            np.bitwise_or(p, u, out=p)
            np.bitwise_and(d, v, out=q)
            if w + 1 < w_end:
                np.right_shift(p, _U63, out=out_p)
                np.right_shift(q, _U63, out=out_n)
            np.left_shift(p, _U1, out=p)
            np.left_shift(q, _U1, out=q)
            if w:
                np.bitwise_or(p, in_p, out=p)
                np.bitwise_or(q, in_n, out=q)
            else:
                # row 0 of the matrix is 0, 1, 2, …: every column's top
                # horizontal delta is +1
                np.bitwise_or(p, _U1, out=p)
            np.bitwise_or(d, p, out=v)
            np.invert(v, out=v)
            np.bitwise_or(v, q, out=v)
            np.bitwise_and(p, d, out=u)
            in_p, out_p = out_p, in_p
            in_n, out_n = out_n, in_n
    bits = m[None, :] - 64 * np.arange(W)[:, None]
    mask = np.where(bits >= 64, _ONES, (_U1 << np.clip(bits, 0, 63).astype(np.uint64)) - _U1)
    return n + _popcount(vp & mask).sum(axis=0) - _popcount(vn & mask).sum(axis=0)


def levenshtein_distances(left, right) -> np.ndarray:
    """``kernels.levenshtein_distance`` of every pair ``(left[i],
    right[i])``, as int64, over code points like Spark's
    ``levenshtein``.

    The shorter text of a pair is the pattern. The pairs are sorted by
    the longer text's length and cut into sub-batches whose match table
    (pairs × alphabet × pattern words) and text index stay within
    ``_LEV_SUB_BATCH_BYTES``. The alphabet is the characters of the
    batch's patterns; a text character outside it matches nothing."""
    pats, texts = [], []
    for a, b in zip(left, right):
        if len(a) > len(b):
            a, b = b, a
        pats.append(a)
        texts.append(b)
    m = np.fromiter(map(len, pats), dtype=np.int64, count=len(pats))
    n = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    out = n.copy()  # an empty pattern is len(text) insertions
    order = np.flatnonzero(m)
    if not len(order):
        return out
    order = order[np.argsort(n[order], kind="stable")]
    pats = [pats[i] for i in order]
    texts = [texts[i] for i in order]
    m, n = m[order], n[order]
    pc, tc = _code_points(pats), _code_points(texts)
    in_alphabet = np.zeros(0x110000, dtype=np.int32)
    in_alphabet[pc] = 1
    tc_hit = in_alphabet[tc] == 1
    rank = np.cumsum(in_alphabet, dtype=np.int32) - 1
    size = int(rank[-1]) + 1
    pc, tc = rank[pc], rank[tc]
    W = int((m.max() + 63) // 64)
    step = max(1, _LEV_SUB_BATCH_BYTES // (8 * (W * size + int(n[-1]))))
    p_off = np.concatenate(([0], np.cumsum(m)))
    t_off = np.concatenate(([0], np.cumsum(n)))
    for s in range(0, len(order), step):
        e = min(s + step, len(order))
        sm, sn = m[s:e], n[s:e]
        pair = np.repeat(np.arange(e - s), sm)
        pos = np.arange(len(pair)) - np.repeat(p_off[s:e] - p_off[s], sm)
        miss = (e - s) * size
        peq = np.zeros((int((sm.max() + 63) // 64), miss + 1), dtype=np.uint64)
        np.bitwise_or.at(
            peq,
            (pos >> 6, pair * size + pc[p_off[s] : p_off[e]]),
            _U1 << (pos & 63).astype(np.uint64),
        )
        pair = np.repeat(np.arange(e - s), sn)
        pos = np.arange(len(pair)) - np.repeat(t_off[s:e] - t_off[s], sn)
        text = np.full((int(sn[-1]), e - s), miss, dtype=np.intp)
        text[pos, pair] = np.where(
            tc_hit[t_off[s] : t_off[e]], pair * size + tc[t_off[s] : t_off[e]], miss
        )
        out[order[s:e]] = _myers(peq, text, sm, sn)
    return out


def _levenshtein_column(left: pd.Series, right: pd.Series) -> np.ndarray:
    """K1 per Arrow batch: ``1 - d/max_len`` in double, 1.0 for two
    empty texts and NULL (NaN) when either text is NULL. Bit-identical
    to Spark's ``1 - levenshtein/greatest(length, length)`` over code
    points, which ``tests/test_blocking_scoring.py::
    test_batch_char_kernels_equal_native_expressions`` checks."""
    out = np.full(len(left), np.nan)
    ok = np.flatnonzero(left.notna().to_numpy() & right.notna().to_numpy())
    a, b = left.to_numpy()[ok], right.to_numpy()[ok]
    max_len = np.maximum(
        np.fromiter(map(len, a), dtype=np.int64, count=len(a)),
        np.fromiter(map(len, b), dtype=np.int64, count=len(b)),
    )
    dist = levenshtein_distances(a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = 1.0 - dist.astype(np.float64) / max_len.astype(np.float64)
    out[ok] = np.where(max_len == 0, 1.0, sims)
    return out


def _jaccard_column(left: pd.Series, right: pd.Series) -> list:
    """K5 per Arrow batch: ``|A ∩ B| / |A ∪ B|`` over the whitespace
    token sets of the raw texts (``kernels.jaccard_similarity``), 1.0
    when both are empty and NULL when either text is NULL. Each distinct
    text is split once per batch; the pairs arrive sorted by right_id,
    so a right signature recurs in a run."""
    sets: dict[str, frozenset] = {}

    def token_set(text: str) -> frozenset:
        s = sets.get(text)
        if s is None:
            s = sets[text] = frozenset(tokenize_on_space(text))
        return s

    out = []
    for a, b in zip(left, right):
        if a is None or b is None:
            out.append(None)
            continue
        x, y = token_set(a), token_set(b)
        inter = len(x & y)
        union = len(x) + len(y) - inter
        out.append(inter / union if union else 1.0)
    return out


def _emb_cosine_column(left: pd.Series, right: pd.Series, embedder) -> np.ndarray:
    """K15 per Arrow batch over the two token columns. Each distinct
    token list is embedded once and cast to float32, as
    :func:`make_embed_udf` writes it (zeros for NULL or no tokens).
    The cosine keeps the arithmetic of Spark's ``aggregate`` over
    ``zip_with``: float32 component products summed in order in double
    from 0.0, and 0.0 when either norm is 0."""
    index: dict[tuple, int] = {}
    vecs = []

    def row(toks) -> int:
        key = () if toks is None else tuple(toks)
        i = index.get(key)
        if i is None:
            i = index[key] = len(vecs)
            vecs.append(
                embedder.embed_text("", tokens=list(key))
                if key
                else np.zeros(embedder.dim, dtype=np.float32)
            )
        return i

    li = np.fromiter(map(row, left), dtype=np.intp, count=len(left))
    ri = np.fromiter(map(row, right), dtype=np.intp, count=len(right))
    v = np.array(vecs, dtype=np.float32).reshape(len(vecs), embedder.dim)

    def fold(products: np.ndarray) -> np.ndarray:
        # np.add.accumulate adds left to right, where sum() would pair;
        # + 0.0 is the fold's start, which turns a -0.0 sum into 0.0
        return np.add.accumulate(products.astype(np.float64), axis=1)[:, -1] + 0.0

    norms = fold(v * v)
    dot = fold(v[li] * v[ri])
    n1, n2 = norms[li], norms[ri]
    out = np.zeros(len(li))
    ok = (n1 != 0) & (n2 != 0)
    out[ok] = dot[ok] / (np.sqrt(n1[ok]) * np.sqrt(n2[ok]))
    return out


#: every kernel ``make_sim_scores_udf`` computes, in the scores stage's
#: column order
KERNELS = [
    "levenshtein",
    "jaccard",
    "emb_cosine",
    "jaro",
    "jaro_winkler",
    "cosine",
    "tfidf",
    "softtfidf",
    "semantic_softtfidf",
]
#: the text kernels computed per batch rather than per row
_BATCH_KERNELS = {"levenshtein": _levenshtein_column, "jaccard": _jaccard_column}


def make_sim_scores_udf(
    df_map_bc,
    corpus_size_bc,
    embedder: HashEmbedder,
    fields: list[str],
    softtfidf_threshold: float = 0.9,
    semantic_char_threshold: float = 0.85,
    semantic_threshold: float = 0.7,
):
    """The reference scoring suite as ONE pandas UDF pass
    (mirrors the feature build at ``ml_similarity_metrics.py:39-74``,
    thresholds from ``:61,:64``).

    Inputs per row: raw left/right signature text + pre-normalized token
    arrays (so the tokenizer runs once per side, not once per kernel).
    ``df_map_bc`` / ``corpus_size_bc`` are SparkContext broadcasts of the
    corpus document-frequency map (SURVEY.md A3) and distinct-doc count.

    ``fields`` selects which of :data:`KERNELS` to compute. Three are
    computed once per Arrow batch: ``levenshtein`` and ``jaccard``
    (:func:`levenshtein_distances` over all its pairs, one token set per
    distinct text), NULL when either text is NULL, and ``emb_cosine``
    (one embedding per distinct token list). The other kernels run per
    row and read a NULL text as empty.

    ``softtfidf`` looks its winners up in the worker's
    :func:`jw_neighbours` table of the df map's terms; at a threshold of
    0.4 or less there is no table and it runs ``kernels.soft_tfidf_pair``.
    Semantic soft-TFIDF keeps its own loop: its embedding gate can admit
    term pairs the table's character bound rejects.
    """
    unknown = [f for f in fields if f not in KERNELS]
    if unknown:
        raise ValueError(f"unknown kernel(s) {unknown}; available: {KERNELS}")
    fields = list(fields)
    schema = StructType([StructField(f, DoubleType()) for f in fields])
    want = set(fields)

    @pandas_udf(schema)
    def sim_scores_udf(
        left_text: pd.Series,
        right_text: pd.Series,
        left_tokens: pd.Series,
        right_tokens: pd.Series,
    ) -> pd.DataFrame:
        df_map = df_map_bc.value
        corpus_size = corpus_size_bc.value

        # module-level caches: semantic soft-TFIDF calls jw for every
        # term pair (~|x|·|y| per row); a per-batch cache would re-warm on
        # every Arrow batch, the worker-process-level one persists across
        # batches AND tasks (python worker reuse)
        jw = _jw_cached
        emb_cache = _EMB_CACHE.setdefault(embedder.cache_key(), {})

        def emb(tok: str) -> np.ndarray:
            v = emb_cache.get(tok)
            if v is None:
                v = embedder(tok)
                emb_cache[tok] = v
            return v

        n = len(left_text)
        cols: dict[str, list] = {f: [0.0] * n for f in fields}
        for f in want & _BATCH_KERNELS.keys():
            cols[f] = _BATCH_KERNELS[f](left_text, right_text)
        if "emb_cosine" in want:
            cols["emb_cosine"] = _emb_cosine_column(left_tokens, right_tokens, embedder)
        for i in range(n):
            lt, rt = left_text.iloc[i] or "", right_text.iloc[i] or ""
            ltoks = list(left_tokens.iloc[i]) if left_tokens.iloc[i] is not None else []
            rtoks = list(right_tokens.iloc[i]) if right_tokens.iloc[i] is not None else []
            if "jaro" in want:
                jaro_val = kernels.jaro_similarity(lt, rt)
                cols["jaro"][i] = jaro_val
                if "jaro_winkler" in want:
                    # one O(n+m) matcher pass serves both scores —
                    # bit-identical Winkler tail on the computed jaro
                    cols["jaro_winkler"][i] = kernels.jaro_winkler_from_jaro(
                        jaro_val, lt, rt
                    )
            elif "jaro_winkler" in want:
                # length-gated: full signatures never pollute the
                # term-pair cache (VERDICT r2 finding 1)
                cols["jaro_winkler"][i] = _jw_full(lt, rt)
            if "cosine" in want:
                cols["cosine"][i] = kernels.cosine_count_similarity(lt, rt)
            if "tfidf" in want:
                cols["tfidf"][i] = kernels.tfidf_pair(ltoks, rtoks, df_map, corpus_size)
            if "softtfidf" in want:
                cols["softtfidf"][i] = _soft_tfidf_jw_fast(
                    ltoks, rtoks, df_map, corpus_size, softtfidf_threshold
                )
            if "semantic_softtfidf" in want:
                # NO length gate here: a term pair rejected on the char
                # path can still be admitted by the embedding-cosine gate,
                # and the contribution is max(char, semantic) — the true
                # char score must be computed
                cols["semantic_softtfidf"][i] = _semantic_soft_tfidf_fast(
                    ltoks,
                    rtoks,
                    df_map,
                    corpus_size,
                    semantic_char_threshold,
                    semantic_threshold,
                    jw,
                    emb,
                    embedder.cache_key(),
                )
        return pd.DataFrame(cols)

    return sim_scores_udf


# --------------------------------------------------------------------------
# MinHash signatures (for LSH blocking)
# --------------------------------------------------------------------------

_MAX_HASH = (1 << 63) - 1


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain mixing constants) — full
    avalanche, vectorized in uint64 with natural wraparound."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _minhash_seeds(num_hashes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)


def make_minhash_udf(num_hashes: int = 32, seed: int = 42):
    """minhash(tokens array<string>) -> array<long>: MinHash over the
    token set; hash family i is splitmix64(token_fnv ^ seed_i) — each
    seed gives an independent full-avalanche permutation-like hash
    (unlike a bounded-coefficient linear hash, whose min is monotone in
    the token hash and breaks MinHash independence). Deterministic
    (seeded) — reproducible across runs, unlike a fitted MinHashLSH
    model (SURVEY.md §4.3). One (num_hashes × |set|) uint64 broadcast
    per row; token hashes dict-cached across the Arrow batch."""
    seeds = _minhash_seeds(num_hashes, seed)

    @pandas_udf(ArrayType(LongType()))
    def minhash_udf(tokens: pd.Series) -> pd.Series:
        from .embedding import fnv1a

        s = seeds[:, None]
        empty = [_MAX_HASH] * num_hashes
        hash_cache: dict[str, int] = {}

        def th(t: str) -> int:
            v = hash_cache.get(t)
            if v is None:
                v = fnv1a(t.encode("utf-8"))
                hash_cache[t] = v
            return v

        out = []
        for toks in tokens:
            if toks is None or len(toks) == 0:
                out.append(empty)
                continue
            h = np.fromiter((th(t) for t in set(toks)), dtype=np.uint64)
            sig = _splitmix64(h[None, :] ^ s).min(axis=1)
            # >> 1: fit signed int64 (Spark long) without sign wrap
            out.append((sig >> np.uint64(1)).astype(np.int64).tolist())
        return pd.Series(out)

    return minhash_udf
