"""Similarity kernels with exact parity to the reference formulas.

Pure Python/numpy — no Spark imports. These run inside Arrow-vectorized
pandas UDFs (see ``spark_udfs``) or serve as the parity oracle in tests
where the hot path has its own form: a native expression (embedding
cosine, haversine trig) or a per-batch one in ``spark_udfs``
(levenshtein's bit-parallel edit distance, jaccard's per-text token
sets).

Reference sources:
* levenshtein_similarity   — ``load_data/character_based_func.py:15-34``
* jaro / jaro_winkler      — ``load_data/character_based_func.py:60-96``
  (NLTK formulas; jaro_winkler defaults p=0.1, max_l=4)
* jaccard_similarity       — ``load_data/token_based_func.py:150-172``
  (space tokens by default)
* cosine count-vector      — ``load_data/token_based_func.py:174-222``
* tf-idf pair              — ``load_data/test_hybrid_func.py:161-206``
* soft-TFIDF pair          — ``load_data/test_hybrid_func.py:53-131``
* semantic soft-TFIDF pair — ``load_data/semantic_soft_tfidf.py:55-153``
* restricted soft-TFIDF    — ``load_data/restricted_softtfidf.py:61-138``
* haversine meters         — ``load_data/label_data.py:105-128`` (mpu
  semantics: R = 6371 km)
"""

from __future__ import annotations

import math
from collections import Counter, deque
from collections.abc import Callable, Mapping, Sequence

from .tokenize import tokenize_name, tokenize_on_space

# --------------------------------------------------------------------------
# Character-based kernels
# --------------------------------------------------------------------------


def levenshtein_distance(s1: str, s2: str) -> int:
    """Standard edit distance, substitution cost 1, no transpositions."""
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1, 1):
        cur = [i]
        for j, c2 in enumerate(s2, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


def levenshtein_similarity(s1: str, s2: str) -> float:
    """1 - dist/max(len); inputs are NOT lowercased (reference comment
    ``character_based_func.py:13``)."""
    max_len = max(len(s1), len(s2))
    if max_len == 0:
        return 1.0
    return 1.0 - levenshtein_distance(s1, s2) / max_len


def damerau_levenshtein_distance(s1: str, s2: str) -> int:
    """Optimal-string-alignment distance (adjacent transposition cost 1),
    matching textdistance's default used at ``character_based_func.py:
    37-58`` (kernel K2; the reference marks it unused)."""
    if s1 == s2:
        return 0
    n1, n2 = len(s1), len(s2)
    if not n1:
        return n2
    if not n2:
        return n1
    prev2: list[int] | None = None
    prev = list(range(n2 + 1))
    for i in range(1, n1 + 1):
        cur = [i] + [0] * n2
        for j in range(1, n2 + 1):
            cost = 0 if s1[i - 1] == s2[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and s1[i - 1] == s2[j - 2]
                and s1[i - 2] == s2[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[-1]


def damerau_levenshtein_similarity(s1: str, s2: str) -> float:
    """K2: 1 - damerau_dist/max(len) (``character_based_func.py:37-58``)."""
    max_len = max(len(s1), len(s2))
    if max_len == 0:
        return 1.0
    return 1.0 - damerau_levenshtein_distance(s1, s2) / max_len


def _jaro_similarity_reference(s1: str, s2: str) -> float:
    """Naive NLTK-formula jaro (O(n·m·matches)); kept as the parity
    oracle for the fast implementation below."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_bound = max(len1, len2) // 2 - 1
    flagged_1: list[int] = []
    flagged_2: list[int] = []
    for i in range(len1):
        upper = min(i + match_bound, len2 - 1)
        lower = max(0, i - match_bound)
        for j in range(lower, upper + 1):
            if s1[i] == s2[j] and j not in flagged_2:
                flagged_1.append(i)
                flagged_2.append(j)
                break
    matches = len(flagged_1)
    if matches == 0:
        return 0.0
    flagged_2.sort()
    transpositions = sum(1 for i, j in zip(flagged_1, flagged_2) if s1[i] != s2[j])
    return (
        matches / len1 + matches / len2 + (matches - transpositions // 2) / matches
    ) / 3


def jaro_similarity(s1: str, s2: str) -> float:
    """Jaro similarity, NLTK formula (match bound = max(len)//2 - 1,
    greedy first-unflagged matching, transpositions//2).

    O(n+m) amortized: NLTK's greedy rule picks, for each i, the SMALLEST
    unflagged j in [i-bound, i+bound] with s2[j]==s1[i]. Because the
    window's lower edge only moves right as i grows, a per-character
    queue of s2 positions consumed front-first reproduces that choice
    exactly without the quadratic rescan (the naive loop's `j not in
    flagged_2` list test made dissimilar long strings O(n·m·matches) —
    seconds per 350-char signature pair)."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_bound = max(len1, len2) // 2 - 1

    positions: dict[str, deque[int]] = {}
    for j, c in enumerate(s2):
        positions.setdefault(c, deque()).append(j)

    flagged_1: list[int] = []
    flagged_2: list[int] = []
    for i, c in enumerate(s1):
        q = positions.get(c)
        if not q:
            continue
        lower = i - match_bound
        upper = min(i + match_bound, len2 - 1)
        while q and q[0] < lower:
            q.popleft()
        if q and q[0] <= upper:
            flagged_1.append(i)
            flagged_2.append(q.popleft())
    matches = len(flagged_1)
    if matches == 0:
        return 0.0
    flagged_2.sort()
    transpositions = sum(1 for i, j in zip(flagged_1, flagged_2) if s1[i] != s2[j])
    return (
        matches / len1 + matches / len2 + (matches - transpositions // 2) / matches
    ) / 3


def jaro_winkler_from_jaro(
    jaro: float, s1: str, s2: str, p: float = 0.1, max_l: int = 4
) -> float:
    """The Winkler prefix boost applied to an already-computed jaro —
    bit-identical to :func:`jaro_winkler_similarity` (same expression),
    lets callers that need BOTH scores run the O(n+m) matcher once."""
    prefix = 0
    for c1, c2 in zip(s1, s2):
        if c1 != c2:
            break
        prefix += 1
        if prefix == max_l:
            break
    return jaro + prefix * p * (1 - jaro)


def jaro_winkler_similarity(s1: str, s2: str, p: float = 0.1, max_l: int = 4) -> float:
    return jaro_winkler_from_jaro(jaro_similarity(s1, s2), s1, s2, p, max_l)


# --------------------------------------------------------------------------
# Token-based kernels
# --------------------------------------------------------------------------


def jaccard_similarity(
    s1: str, s2: str, tokenizer: Callable[[str], list[str]] = tokenize_on_space
) -> float:
    """1 - jaccard_distance over token SETS; default tokenizer is
    whitespace split, NOT the canonical normalizer
    (``token_based_func.py:150``)."""
    t1, t2 = set(tokenizer(s1)), set(tokenizer(s2))
    union = t1 | t2
    if not union:
        return 1.0  # nltk.jaccard_distance raises on empty; both-empty -> equal
    return len(t1 & t2) / len(union)


def cosine_count_similarity(s1: str, s2: str) -> float:
    """Cosine of whitespace-token count vectors (CountVectorizer with
    lowercase=False, token_pattern=r"\\S+" — ``token_based_func.py:80``).
    Both names are rows of the document-term matrix, so the score reduces
    to the pairwise formula independent of the rest of the corpus."""
    c1, c2 = Counter(tokenize_on_space(s1)), Counter(tokenize_on_space(s2))
    dot = sum(v * c2.get(t, 0) for t, v in c1.items())
    n1 = math.sqrt(sum(v * v for v in c1.values()))
    n2 = math.sqrt(sum(v * v for v in c2.values()))
    if n1 == 0 or n2 == 0:
        return 0.0
    return dot / (n1 * n2)


# --------------------------------------------------------------------------
# Hybrid kernels (tf-idf / soft-TFIDF family)
#
# All take a precomputed corpus document-frequency map {token: n_docs} and
# the corpus size (number of distinct documents). In the engine the map is
# computed once with a groupBy and broadcast (SURVEY.md A3).
# --------------------------------------------------------------------------


def tfidf_pair(
    tokens_x: Sequence[str],
    tokens_y: Sequence[str],
    document_frequency: Mapping[str, int],
    corpus_size: int,
) -> float:
    """Log-dampened tf-idf cosine (``test_hybrid_func.py:161-206``):
    v = log(corpus_size/df) * log(tf+1); terms absent from the corpus df
    map are skipped; exact token-list match -> 1.0; empty -> 0.0."""
    tokens_x, tokens_y = list(tokens_x), list(tokens_y)
    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)
    v_x_y = v_x_2 = v_y_2 = 0.0
    for element in dict.fromkeys(list(tf_x) + list(tf_y)):
        df_element = document_frequency.get(element)
        if df_element is None:
            continue
        idf = corpus_size * 1.0 / df_element
        v_x = math.log(idf) * math.log(tf_x[element] + 1) if element in tf_x else 0.0
        v_y = math.log(idf) * math.log(tf_y[element] + 1) if element in tf_y else 0.0
        v_x_y += v_x * v_y
        v_x_2 += v_x * v_x
        v_y_2 += v_y * v_y
    if v_x_y == 0:
        return 0.0
    return v_x_y / (math.sqrt(v_x_2) * math.sqrt(v_y_2))


def soft_tfidf_pair(
    tokens_x: Sequence[str],
    tokens_y: Sequence[str],
    document_frequency: Mapping[str, int],
    corpus_size: int,
    secondary_func: Callable[[str, str], float],
    threshold: float,
) -> float:
    """Soft-TFIDF (Cohen et al. variant as implemented by the reference,
    ``test_hybrid_func.py:53-131``):

    * similarity_map: for each term_x, the best term_y with
      secondary_func(term_x, term_y) >= threshold, strictly-improving max
      (``> max_score`` after the >= threshold gate).
    * numerator uses RAW idf = corpus_size/df (no log), tf from each side.
    * denominator: per-element idf over the union of terms, idf * tf.
    * exact token-list match -> 1.0; empty -> 0.0; terms missing from the
      corpus df map are skipped (both numerator and denominator).
    """
    tokens_x, tokens_y = list(tokens_x), list(tokens_y)
    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)

    similarity_map: dict[str, tuple[str, str, float]] = {}
    for term_x in tf_x:
        # parity-preserving shortcut, multi-char terms only: for the
        # JW/jaro/lev kernel family, secondary_func(x,x)=1.0 when
        # len(x)>=2 and secondary_func(x,y)<1.0 for x!=y, so an identical
        # term_y is the unbeatable first maximum under the reference's
        # strictly-improving max. 1-char terms fall through to the honest
        # loop: NLTK's match bound makes jaro("7","7")=0 (jw=0.1), so the
        # identical term may NOT clear the threshold there.
        if threshold <= 1.0 and len(term_x) > 1 and term_x in tf_y:
            similarity_map[term_x] = (term_x, term_x, 1.0)
            continue
        max_score = 0.0
        for term_y in tf_y:
            score = secondary_func(term_x, term_y)
            if score >= threshold and score > max_score:
                similarity_map[term_x] = (term_x, term_y, score)
                max_score = score

    result = v_x_2 = v_y_2 = 0.0
    for element in dict.fromkeys(list(tf_x) + list(tf_y)):
        df_element = document_frequency.get(element)
        if df_element is None:
            continue
        if element in similarity_map:
            sim = similarity_map[element]
            # sim[0] IS element (similarity_map is keyed by term_x =
            # sim[0]), so its df is the already-verified df_element.
            # The MATCHED term sim[1] must be skipped when missing:
            # under a truncated df map (min_df floor / max_vocab cap) a
            # dropped winner with a get(tok, 1) fallback would take the
            # MAXIMAL idf in the numerator while contributing nothing to
            # the denominator — scores blow far past 1.0. With the full
            # map (reference semantics) the lookup always hits, so this
            # branch is parity-neutral.
            df_second = document_frequency.get(sim[1])
            if df_second is not None:
                idf_first = corpus_size / df_element
                idf_second = corpus_size / df_second
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
    return result / (math.sqrt(v_x_2) * math.sqrt(v_y_2))


def semantic_soft_tfidf_pair(
    tokens_x: Sequence[str],
    tokens_y: Sequence[str],
    document_frequency: Mapping[str, int],
    corpus_size: int,
    char_func: Callable[[str, str], float],
    char_threshold: float,
    embed_func: Callable[[str], "object"],
    semantic_threshold: float,
) -> float:
    """Semantic soft-TFIDF (``semantic_soft_tfidf.py:55-153``): a term pair
    is accepted when char_score >= char_threshold OR embedding cosine >=
    semantic_threshold; the contribution is max(char_score, semantic_score);
    tf-idf weighting identical to :func:`soft_tfidf_pair`."""
    tokens_x, tokens_y = list(tokens_x), list(tokens_y)
    if tokens_x == tokens_y:
        return 1.0
    if not tokens_x or not tokens_y:
        return 0.0
    tf_x, tf_y = Counter(tokens_x), Counter(tokens_y)

    # per-term_x semantic scores vectorized across all term_y: one
    # matrix-vector product replaces |y| python-loop cosines (the
    # reference's own cosine is sklearn/numpy, so numpy float math is
    # the faithful semantics here)
    import numpy as np

    y_terms = list(tf_y)
    y_arr = np.array(y_terms, dtype=object)
    y_mat = np.stack([np.asarray(embed_func(t), dtype=np.float64) for t in y_terms])
    y_norms = np.linalg.norm(y_mat, axis=1)

    similarity_map: dict[str, tuple[str, str, float]] = {}
    for term_x in tf_x:
        e_x = np.asarray(embed_func(term_x), dtype=np.float64)
        x_norm = float(np.linalg.norm(e_x))
        if x_norm == 0.0:
            sems = np.zeros(len(y_terms))
        else:
            denom = y_norms * x_norm
            with np.errstate(divide="ignore", invalid="ignore"):
                sems = np.where(denom > 0, (y_mat @ e_x) / denom, 0.0)
        # identical-term shortcut, multi-char terms only (char=1.0 — see
        # soft_tfidf_pair for the 1-char NLTK quirk). Additionally guarded
        # against embedder collisions: if any DISTINCT y-term scores
        # cosine >= 1.0 against term_x, the reference's first-wins /
        # strictly-improving order could pick it instead, so fall through
        # to the honest loop rather than assume term_x wins.
        if (
            len(term_x) > 1
            and term_x in tf_y
            and (
                char_threshold <= 1.0
                or (semantic_threshold <= 1.0 and x_norm > 0.0)
            )
            and not bool(np.any((sems >= 1.0) & (y_arr != term_x)))
        ):
            similarity_map[term_x] = (term_x, term_x, 1.0)
            continue
        max_score = 0.0
        for j, term_y in enumerate(y_terms):
            char_score = char_func(term_x, term_y)
            semantic_score = float(sems[j])
            if char_score >= char_threshold or semantic_score >= semantic_threshold:
                score = max(char_score, semantic_score)
                if score > max_score:
                    similarity_map[term_x] = (term_x, term_y, score)
                    max_score = score

    result = v_x_2 = v_y_2 = 0.0
    for element in dict.fromkeys(list(tf_x) + list(tf_y)):
        df_element = document_frequency.get(element)
        if df_element is None:
            continue
        if element in similarity_map:
            sim = similarity_map[element]
            # sim[0] IS element (see soft_tfidf_pair); matched term
            # sim[1] missing from a truncated df map ⇒ skip the whole
            # term — never fall back to df=1
            df_second = document_frequency.get(sim[1])
            if df_second is not None:
                idf_first = corpus_size / df_element
                idf_second = corpus_size / df_second
                # v_x / v_y intermediate grouping, matching the reference
                # (semantic_soft_tfidf.py:129-136) and soft_tfidf_pair /
                # _assemble_soft_tfidf — float multiplication is
                # non-associative and the fast path pins bit-identity
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
    return result / (math.sqrt(v_x_2) * math.sqrt(v_y_2))


def build_document_frequency(corpus_token_lists: Sequence[Sequence[str]]) -> dict[str, int]:
    """df[token] = number of corpus documents containing the token
    (set semantics per document — ``test_hybrid_func.py:27-32``)."""
    df: dict[str, int] = {}
    for doc in corpus_token_lists:
        for element in set(doc):
            df[element] = df.get(element, 0) + 1
    return df


def restricted_soft_tfidf_pair(
    name_x: str,
    name_y: str,
    restricted_corpus_names: Sequence[str],
    secondary_func: Callable[[str, str], float],
    threshold: float,
    tokenizer: Callable[[str], list[str]] = tokenize_name,
) -> float:
    """Soft-TFIDF where the corpus is only the distinct names from pairs
    sharing name_x on the left OR name_y on the right
    (``restricted_softtfidf.py:23-66``). ``restricted_corpus_names`` is
    that set of raw names; tokenization + df-map are computed locally.
    ``tokenizer`` defaults to the canonical normalizer; the driver-contract
    query passes a plain lower+whitespace split so the DuckDB oracle can
    reproduce it."""
    corpus = [tokenizer(n) for n in dict.fromkeys(restricted_corpus_names)]
    document_frequency = build_document_frequency(corpus)
    return soft_tfidf_pair(
        tokenizer(name_x),
        tokenizer(name_y),
        document_frequency,
        len(corpus),
        secondary_func,
        threshold,
    )


# --------------------------------------------------------------------------
# Embedding cosine & geo
# --------------------------------------------------------------------------


def cosine_vec(v1, v2) -> float:
    """Cosine of two 1-D vectors (sklearn.cosine_similarity semantics for
    single rows — ``word_embeddings_cosine.py:29``)."""
    dot = n1 = n2 = 0.0
    for a, b in zip(v1, v2):
        dot += a * b
        n1 += a * a
        n2 += b * b
    if n1 == 0.0 or n2 == 0.0:
        return 0.0
    return dot / math.sqrt(n1 * n2)


def haversine_meters(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Great-circle distance in meters; R = 6371 km to match the mpu
    library used at ``label_data.py:105-128``."""
    radius_km = 6371.0
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(dlon / 2) ** 2
    )
    c = 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    return radius_km * c * 1000.0
