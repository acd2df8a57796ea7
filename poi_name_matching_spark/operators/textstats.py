"""Text analysis for large-scale training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything is a native Column expression (WholeStageCodegen) except the
byte-level rolling-hash fingerprint, which is intentionally md5-based so
an independent SQL engine (the DuckDB oracle) reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.spark_udfs import whitespace_tokens
from ..functions.tokenize import WS_CLASS

#: Horner polynomial constants of the portable k-gram hash
#: ``h = (h*B1 + code) % M1`` (M1 = 2^31-1, a Mersenne prime): every
#: product stays below 2^62, so DuckDB's BIGINT arithmetic reproduces it
M1 = 2_147_483_647
B1 = 131

# Tiny frozen stopword profiles for the n-gram language heuristic: the
# relative frequency of these extremely common function words separates
# major Latin-script languages without a model. (Public-knowledge lists.)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "des", "pas", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "que", "por", "con", "para"],
    "it": ["il", "la", "che", "di", "non", "una", "per", "sono", "con", "del"],
}


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax over marker-word hit counts; 'und'
    when nothing matches. Pure expression — the per-language score is a
    sum of word-boundary regexp matches on the lowercased text."""
    lowered = F.lower(text)

    def score(lang: str) -> Column:
        toks = F.split(lowered, r"[^a-zà-ÿäöüß]+")
        markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))

    langs = list(_LANG_MARKERS)
    scores = F.array(*[F.struct(score(lg).alias("s"), F.lit(lg).alias("lg")) for lg in langs])
    best = F.array_max(scores)
    return F.when(best["s"] > 0, best["lg"]).otherwise(F.lit("und"))


def token_count(text: Column) -> Column:
    """Whitespace token count (reference F1 semantics: ``\\S+`` runs)."""
    return F.size(whitespace_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword count without a tokenizer model: count of runs
    matching letters / digits / single punctuation, each letter-run
    charged ceil(len/4) subwords (the ~4-chars-per-token rule)."""
    runs = F.split(text, WS_CLASS + "+")
    per_run = F.transform(
        runs,
        lambda r: F.ceil(F.length(F.regexp_replace(r, r"[^\p{L}\p{N}]", "")) / 4)
        + F.length(F.regexp_replace(r, r"[\p{L}\p{N}]", "")),
    )
    return F.aggregate(per_run, F.lit(0).cast("long"), lambda a, x: a + x.cast("long"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a single
    [0,1] quality score (monotone, deterministic)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    # explicit whitespace list (= Java \s) so the DuckDB oracle can use
    # the byte-identical class — \s itself differs between regex engines
    punct_chars = F.length(F.regexp_replace(t, "[A-Za-z0-9 \t\n\r\f\x0b]", ""))
    en_stop = F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]])
    stop_hits = F.size(
        F.filter(
            F.split(F.lower(t), r"[^a-z]+"), lambda w: F.array_contains(en_stop, w)
        )
    )
    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    out = (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "alpha_ratio",
            F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0, punct_chars / n_chars).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn("mean_word_len", mean_word_len)
    )
    score = (
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.3
        + (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0)) * 0.2
    )
    return out.withColumn(
        "quality_score",
        F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(score),
    )


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """Document fingerprint: md5 over the whitespace-normalized lowercase
    text — content-defined, order-sensitive, oracle-reproducible."""
    s = text
    if normalize:
        s = F.regexp_replace(F.lower(F.trim(s)), WS_CLASS + "+", " ")
    return F.md5(s)


def winnow_fingerprints(
    text: Column, k: int = 8, window: int = 4, hash_family: str = "fast"
) -> Column:
    """Winnowing (Schleimer et al., SIGMOD'03): k-gram hashes → min hash
    per sliding window → distinct fingerprints, all with higher-order
    array functions (no UDF). Returns array<long>.

    ``hash_family='fast'`` (default) hashes each k-gram with Spark's
    ``xxhash64`` — the production mixer, pure Column expression.
    ``'portable'`` swaps in the SQL-reproducible Horner polynomial over
    code points mod 2^31-1 as an Arrow-batched pandas UDF
    (:func:`make_portable_winnow_udf` — the nested
    Column spelling re-evaluates the normalized string per gram
    character, O(len²·k) per row), so an independent ANSI-SQL engine
    reproduces the full windowed-min pipeline bit-for-bit (the driver's
    DuckDB oracle uses this)."""
    if hash_family == "portable":
        return make_portable_winnow_udf(k=k, window=window)(text)
    if hash_family != "fast":
        raise ValueError(f"unknown hash_family {hash_family!r}")
    normalized = F.regexp_replace(F.lower(text), WS_CLASS + "+", " ")
    n_grams = F.greatest(F.length(normalized) - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.xxhash64(F.substring(normalized, i, k)),
    )
    n_windows = F.greatest(n_grams - (window - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(grams, i, window)),
    )
    return F.when(n_grams > 0, F.array_distinct(mins)).otherwise(
        F.array().cast("array<long>")
    )


def make_portable_winnow_udf(k: int = 8, window: int = 4):
    """winnow(text) -> array<long>: winnowing fingerprints (Schleimer et
    al., SIGMOD'03) over the portable family — gram hash = Horner
    polynomial ``(h*B1 + code) % M1`` over the k code points, then
    sliding-window min + distinct. Vectorized per row: Horner runs as k
    shifted numpy ops over the code array (mod applied each step, so
    arbitrary code points can't overflow int64). Whitespace is
    normalized with the SAME explicit class both engines split on.

    This is the oracle-parity twin of the HOF path in
    :func:`winnow_fingerprints`: the nested Column expression
    re-evaluates the normalized string per gram character (O(len²·k)
    per row in codegen), so the portable variant ships as an
    Arrow-batched UDF."""
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    ws_re = re.compile(WS_CLASS + "+")

    @pandas_udf(ArrayType(LongType()))
    def portable_winnow_udf(texts):
        out = []
        for s in texts:
            if s is None:
                out.append([])
                continue
            norm = ws_re.sub(" ", s.lower())
            n = len(norm)
            n_grams = n - (k - 1)
            if n_grams <= 0:
                out.append([])
                continue
            codes = np.fromiter((ord(c) for c in norm), dtype=np.int64, count=n)
            h = np.zeros(n_grams, dtype=np.int64)
            for j in range(k):
                h = (h * B1 + codes[j : j + n_grams]) % M1
            n_windows = max(n_grams - (window - 1), 1)
            win = min(window, n_grams)
            mins = np.lib.stride_tricks.sliding_window_view(
                h[: n_windows + win - 1], win
            ).min(axis=1)
            # preserve first-appearance order like array_distinct
            seen: dict[int, None] = dict.fromkeys(mins.tolist())
            out.append(list(seen))
        return pd.Series(out)

    return portable_winnow_udf
