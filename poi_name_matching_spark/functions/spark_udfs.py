"""Spark bindings for the kernel library.

Two tiers, chosen per SURVEY.md §2.7:

* **Native Column expressions** where Catalyst has a built-in — these stay
  inside WholeStageCodegen (levenshtein, token-set jaccard, haversine,
  threshold classify). Used on the hot path.
* **Arrow-vectorized pandas UDFs** for kernels with no JVM builtin
  (canonical tokenizer with stemming, jaro/jaro-winkler, tf-idf /
  soft-TFIDF family, embeddings). No per-row Python UDFs anywhere.

The document-frequency map and embedder weights are shipped via
``SparkContext.broadcast`` (SURVEY.md §4.3) — never captured per-row.
"""

from __future__ import annotations

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
from .tokenize import WS_CLASS, tokenize_name

# --------------------------------------------------------------------------
# Native Column expressions (JVM, WholeStageCodegen)
# --------------------------------------------------------------------------


def levenshtein_sim(c1: Column, c2: Column) -> Column:
    """K1 as a native expression: 1 - levenshtein/max(len); exact parity
    with ``character_based_func.py:15-34``."""
    dist = F.levenshtein(c1, c2)
    max_len = F.greatest(F.length(c1), F.length(c2))
    return F.when(max_len == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - dist.cast("double") / max_len.cast("double")
    )


def jaccard_tokens(a: Column, b: Column) -> Column:
    """K5 over token arrays: |A ∩ B| / |A ∪ B| with set semantics
    (``token_based_func.py:150-172``)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


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


def classify(score: Column, threshold: float) -> Column:
    """K20: pred = 1 iff score >= threshold (``evaluation_metrics.py:28-33``),
    as a pure expression instead of the reference's in-place mutation."""
    return (score >= F.lit(float(threshold))).cast("int")


def cosine_array(a: Column, b: Column) -> Column:
    """Embedding cosine over two array<float|double> columns, JVM-side via
    higher-order functions (K15 without leaving codegen)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    n2 = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
    return F.when((n1 == 0) | (n2 == 0), F.lit(0.0)).otherwise(
        dot / (F.sqrt(n1) * F.sqrt(n2))
    )


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


# -- soft-TFIDF fast path: per-(term_x, y-term-tuple) winner cache ---------
#
# The kernel's O(|x|·|y|) secondary loop repeats VERBATIM for every
# candidate pair that shares a right signature (blocking gives each
# signature ~several partners), and the winner for a given term_x
# against a given ordered y-term set depends only on (term_x, y_terms,
# threshold) — never on tf/df. Caching it turns the quadratic loop into
# |x| dict lookups for all but the first pair per signature. Parity with
# kernels.soft_tfidf_pair(+gated jw) is pinned by
# test_blocking_scoring::test_scoring_matches_pure_python and
# test_kernels parity cases (incl. shared 1-char tokens).
_WINNER_CACHE: dict[tuple, dict] = {}
_WINNER_CACHE_MAX = 1 << 15  # outer = distinct y signatures per worker


def _jw_winner(term_x: str, y_terms: tuple, threshold: float, ratio_bound: float):
    """Reference strictly-improving max over y_terms in first-occurrence
    order: best (term_y, score) with jw >= threshold, or (None, 0.0).
    The length-ratio gate only skips pairs PROVABLY below threshold
    (jaro <= (2 + min/max)/3 and jw <= 0.6*jaro + 0.4 at the full
    4-char boost), so skipping is semantics-preserving."""
    best_ty, best_score = None, 0.0
    lx = len(term_x)
    gate = ratio_bound > 0.0
    for ty in y_terms:
        if gate:
            ly = len(ty)
            lo, hi = (lx, ly) if lx < ly else (ly, lx)
            if hi and lo / hi < ratio_bound:
                continue
        s = _jw_cached(term_x, ty)
        if s >= threshold and s > best_score:
            best_ty, best_score = ty, s
    return best_ty, best_score


def _soft_tfidf_jw_fast(
    tokens_x: list,
    tokens_y: list,
    df_map,
    corpus_size: int,
    threshold: float,
    ratio_bound: float,
) -> float:
    """kernels.soft_tfidf_pair specialized for the (cached, length-
    gated) jaro-winkler secondary — identical semantics, winner loop
    served from the worker-level cache."""
    from collections import Counter
    from math import sqrt

    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)
    y_terms = tuple(tf_y)

    # two-level cache: ONE y-tuple hash per pair, then per-term_x string
    # gets (a flat (term_x, y_terms) key would re-hash the long y tuple
    # on every term_x lookup and cost more than the loop it replaces)
    if len(_WINNER_CACHE) > _WINNER_CACHE_MAX:
        _WINNER_CACHE.clear()
    y_cache = _WINNER_CACHE.setdefault((y_terms, threshold), {})
    similarity_map: dict[str, tuple] = {}
    for term_x in tf_x:
        # identical-term shortcut, multi-char only (jw("7","7")=0.1 —
        # see kernels.soft_tfidf_pair)
        if threshold <= 1.0 and len(term_x) > 1 and term_x in tf_y:
            similarity_map[term_x] = (term_x, term_x, 1.0)
            continue
        w = y_cache.get(term_x)
        if w is None:
            w = _jw_winner(term_x, y_terms, threshold, ratio_bound)
            y_cache[term_x] = w
        if w[0] is not None:
            similarity_map[term_x] = (term_x, w[0], w[1])

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
    the worker-level cache (same co-location argument as
    _soft_tfidf_jw_fast; parity pinned by the scoring tests)."""
    from collections import Counter

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
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    jw = kernels.jaro_winkler_similarity
    return pd.Series(
        [jw(a, b) if a is not None and b is not None else None for a, b in zip(s1, s2)],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def cosine_count_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    cc = kernels.cosine_count_similarity
    return pd.Series([cc(a, b) for a, b in zip(s1, s2)], dtype="float64")


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


SIM_SCORE_FIELDS = [
    "levenshtein",
    "jaro",
    "jaro_winkler",
    "jaccard",
    "cosine",
    "tfidf",
    "softtfidf",
    "semantic_softtfidf",
    "emb_cosine",
]

def make_sim_scores_udf(
    df_map_bc,
    corpus_size_bc,
    embedder: HashEmbedder,
    softtfidf_threshold: float = 0.9,
    semantic_char_threshold: float = 0.85,
    semantic_threshold: float = 0.7,
    fields: list[str] | None = None,
):
    """The reference scoring suite as ONE pandas UDF pass
    (mirrors the feature build at ``ml_similarity_metrics.py:39-74``,
    thresholds from ``:61,:64``).

    Inputs per row: raw left/right signature text + pre-normalized token
    arrays (so the tokenizer runs once per side, not once per kernel).
    ``df_map_bc`` / ``corpus_size_bc`` are SparkContext broadcasts of the
    corpus document-frequency map (SURVEY.md A3) and distinct-doc count.

    ``fields`` selects which kernels to compute (default: all). The hot
    path passes only the Python-only kernels and lets native expressions
    (levenshtein, jaccard, emb cosine) run JVM-side.
    """
    fields = list(SIM_SCORE_FIELDS) if fields is None else list(fields)
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

        # module-level caches: soft-TFIDF calls jw for every term pair
        # (~|x|·|y| per row); a per-batch cache would re-warm on every
        # Arrow batch, the worker-process-level one persists across
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
        for i in range(n):
            lt, rt = left_text.iloc[i] or "", right_text.iloc[i] or ""
            ltoks = list(left_tokens.iloc[i]) if left_tokens.iloc[i] is not None else []
            rtoks = list(right_tokens.iloc[i]) if right_tokens.iloc[i] is not None else []
            if "levenshtein" in want:
                cols["levenshtein"][i] = kernels.levenshtein_similarity(lt, rt)
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
            if "jaccard" in want:
                cols["jaccard"][i] = kernels.jaccard_similarity(lt, rt)
            if "cosine" in want:
                cols["cosine"][i] = kernels.cosine_count_similarity(lt, rt)
            if "tfidf" in want:
                cols["tfidf"][i] = kernels.tfidf_pair(ltoks, rtoks, df_map, corpus_size)
            if "softtfidf" in want:
                cols["softtfidf"][i] = _soft_tfidf_jw_fast(
                    ltoks,
                    rtoks,
                    df_map,
                    corpus_size,
                    softtfidf_threshold,
                    3.0 * (softtfidf_threshold - 0.4) / 0.6 - 2.0,
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
            if "emb_cosine" in want:
                le = embedder.embed_text(lt, tokens=ltoks)
                re_ = embedder.embed_text(rt, tokens=rtoks)
                cols["emb_cosine"][i] = kernels.cosine_vec(le, re_)
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
