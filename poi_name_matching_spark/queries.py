"""Driver-contract query registry: every query runs package code — the
pipeline stages, the similarity kernels and their UDFs, the evaluation
operators — as a (spark_fn, oracle_sql) pair over the driver's testdata
tables (TESTDATA.md; DuckDB pre-registers them as views). Each oracle
pins the reference's semantics of the code it checks.

Conventions (driver compare = row-count + schema + order-insensitive
value hash):
* every query has an oracle, and every computed column is aliased
  identically on both sides;
* floats are rounded to 6 decimals on BOTH sides so JVM/DuckDB float
  formatting differences don't break the value hash;
* queries are sized for sf0.01 (documents = hundreds of rows, events
  ~10k) but written scale-independent.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.spark_udfs import haversine_meters, whitespace_tokens
from .functions.tokenize import WS_CLASS
from .operators.signatures import build_signatures

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, sql: str):
    def deco(fn):
        # validate the oracle BEFORE registering so a rejected
        # registration leaves no oracle-less query behind.
        # RE2's ``\s`` (ASCII, no \x0b) disagrees with both Java's
        # (ASCII incl. \x0b) and Python's (Unicode). Every oracle is
        # written with ``\s`` for readability and rewritten here to the
        # explicit WS_CLASS character set — the same class the Spark side
        # splits on (functions/tokenize.py) — so both engines tokenize
        # bit-identically on ANY input. The rewrite is TEXTUAL, so guard
        # its blind spots loudly: a ``\S`` (not rewritten → keeps RE2's
        # ASCII meaning) or a ``\s`` inside a bracket class (``[^\s,]``
        # would nest into a different set) must fail registration, not
        # silently diverge.
        if r"\S" in sql:
            raise ValueError(
                f"oracle {name!r}: \\S is not rewritten to the "
                "portable class — use list_filter(regexp_split_to_"
                "array(.., '\\s+'), t -> t <> '') instead"
            )
        if re.search(r"\[[^\]]*\\s", sql):
            raise ValueError(
                f"oracle {name!r}: \\s inside a bracket class would "
                "nest after the WS_CLASS rewrite — spell the class "
                "out explicitly"
            )
        ORACLE[name] = sql.replace(r"\s", WS_CLASS)
        QUERIES[name] = fn
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r6(c) -> F.Column:
    return F.round(c, 6)


# =====================================================================
# §2.4 Aggregations
# =====================================================================


@_q(
    "a3_document_frequency",
    """SELECT token, count(*) AS df FROM (
           SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
           FROM documents WHERE length(trim(text)) > 0
       ) WHERE token <> '' GROUP BY token""",
)
def a3_document_frequency(spark, sf_dir):
    """A3: document frequency with per-doc set semantics
    (test_hybrid_func.py:27-32)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(whitespace_tokens(F.col("text")))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )


@_q(
    "a4_count_vectorize",
    """SELECT doc_id, token, count(*) AS tf FROM (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
           FROM documents WHERE length(trim(text)) > 0
       ) WHERE token <> '' GROUP BY doc_id, token""",
)
def a4_count_vectorize(spark, sf_dir):
    """A4: count-vectorizer document-term counts (token_based_func.py:64-95,
    CountVectorizer(lowercase=False, token_pattern=\\S+) semantics)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )


# =====================================================================
# §2.7 Similarity kernels (relational form)
# =====================================================================


def _with_sim_scores(
    pairs: DataFrame,
    texts: tuple,
    fields: list[str],
    tokens: tuple | None = None,
    corpus: DataFrame | None = None,
    embedder=None,
    **thresholds,
) -> DataFrame:
    """``pairs`` plus a struct column ``_s`` of ``fields``, computed by
    the pipeline's scoring UDF (``spark_udfs.make_sim_scores_udf``) over
    the two ``texts`` and ``tokens`` columns (names or Columns). Without
    ``tokens`` both token columns are NULL: only the tf-idf family and
    ``emb_cosine`` read them. The ``toks`` column of ``corpus`` gives
    the tf-idf family its df map and corpus size; without a corpus the
    map is empty and the size 0."""
    from .functions.embedding import HashEmbedder
    from .functions.kernels import build_document_frequency
    from .functions.spark_udfs import make_sim_scores_udf

    # CONTRACT-HARNESS ONLY: collect() mirrors the oracle's driver-side
    # df map over the query's small corpus so both engines weight
    # identically. The production path NEVER does this — it builds the
    # map with scoring.broadcast_df_map (min_df/max_vocab caps); do not
    # copy this shape into a pipeline.
    docs = [list(r["toks"]) for r in corpus.collect()] if corpus is not None else []
    sc = pairs.sparkSession.sparkContext
    suite = make_sim_scores_udf(
        sc.broadcast(build_document_frequency(docs)),
        sc.broadcast(len(docs)),
        embedder or HashEmbedder(),
        fields=fields,
        **thresholds,
    )
    null = F.lit(None).cast("array<string>")
    return pairs.withColumn("_s", suite(*texts, *(tokens or (null, null))))


def _part_name_pairs(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """The distinct part names with their lower/whitespace tokens
    ``toks``, and every pair of them with ``left_name < right_name``
    and the two sides' tokens as ``lt``/``rt``."""
    names = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("toks", whitespace_tokens(F.lower(F.trim(F.col("name")))))
    )
    a = names.select(F.col("name").alias("left_name"), F.col("toks").alias("lt"))
    b = names.select(F.col("name").alias("right_name"), F.col("toks").alias("rt"))
    return names, a.crossJoin(b).filter(F.col("left_name") < F.col("right_name"))


_NATION_PAIRS_SQL = """
    SELECT a.n_name AS left_name, b.n_name AS right_name
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
"""


@_q(
    "k_char_kernels_pairs",
    f"""SELECT left_name, right_name,
              round(1.0 - levenshtein(left_name, right_name) * 1.0 /
                    greatest(length(left_name), length(right_name)), 6) AS lev_sim,
              round(1.0 - damerau_levenshtein(left_name, right_name) * 1.0 /
                    greatest(length(left_name), length(right_name)), 6) AS dl_sim,
              round(j + p * 0.1 * (1.0 - j), 6) AS jw_sim
       FROM (
         SELECT left_name, right_name,
                CASE WHEN left_name = right_name AND length(left_name) = 1 THEN 0.0
                     ELSE jaro_similarity(left_name, right_name) END AS j,
                CASE WHEN substr(left_name,1,4) = substr(right_name,1,4) THEN 4
                     WHEN substr(left_name,1,3) = substr(right_name,1,3) THEN 3
                     WHEN substr(left_name,1,2) = substr(right_name,1,2) THEN 2
                     WHEN substr(left_name,1,1) = substr(right_name,1,1) THEN 1
                     ELSE 0 END AS p
         FROM ({_NATION_PAIRS_SQL})
       )""",
)
def k_char_kernels_pairs(spark, sf_dir):
    """K1 + K2 + K3/K4 in one scan over all nation-name pairs (merged
    from the former k1_levenshtein_pairs / k2_damerau_pairs /
    k4_jaro_winkler_pairs rows so the registry stays within the driver's
    query budget — every kernel column is still hash-verified):

    * ``lev_sim`` — normalized levenshtein, the scoring UDF's
      ``levenshtein`` (character_based_func.py:15-34);
    * ``dl_sim`` — damerau-levenshtein similarity (OSA variant, marked
      unused by the reference at character_based_func.py:37-58); the
      pair set is verified OSA==DL so DuckDB's full-DL builtin is a
      valid oracle;
    * ``jw_sim`` — the scoring UDF's ``jaro_winkler``, with NLTK
      semantics (p=0.1, max_l=4, boost applied unconditionally — unlike
      DuckDB's >0.7-gated builtin, so the oracle composes
      jaro_similarity + the explicit prefix boost)."""
    from .functions.spark_udfs import damerau_sim_udf

    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a = n.select(F.col("n_nationkey").alias("ak"), F.col("n_name").alias("left_name"))
    b = n.select(F.col("n_nationkey").alias("bk"), F.col("n_name").alias("right_name"))
    left, right = F.col("left_name"), F.col("right_name")
    pairs = a.crossJoin(b).filter(F.col("ak") < F.col("bk"))
    return _with_sim_scores(pairs, (left, right), ["levenshtein", "jaro_winkler"]).select(
        "left_name",
        "right_name",
        _r6(F.col("_s.levenshtein")).alias("lev_sim"),
        _r6(damerau_sim_udf(left, right)).alias("dl_sim"),
        _r6(F.col("_s.jaro_winkler")).alias("jw_sim"),
    )


@_q(
    "k6_count_cosine_pairs",
    r"""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
       tf AS (
         SELECT name, tok, count(*) AS tf
         FROM (SELECT name,
                      unnest(list_filter(regexp_split_to_array(trim(name), '\s+'), t -> t <> '')) AS tok
               FROM names)
         GROUP BY name, tok
       ),
       nrm AS (SELECT name, sqrt(sum(tf * tf * 1.0)) AS nrm FROM tf GROUP BY name),
       p AS (SELECT a.name AS left_name, b.name AS right_name
             FROM names a JOIN names b ON a.name < b.name),
       dot AS (
         SELECT p.left_name, p.right_name, sum(ta.tf * tb.tf * 1.0) AS dot
         FROM p
         JOIN tf ta ON ta.name = p.left_name
         JOIN tf tb ON tb.name = p.right_name AND tb.tok = ta.tok
         GROUP BY p.left_name, p.right_name
       )
       SELECT p.left_name, p.right_name,
              round(CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
                         ELSE coalesce(d.dot, 0.0) / (na.nrm * nb.nrm) END, 6) AS cosine
       FROM p
       LEFT JOIN dot d ON d.left_name = p.left_name AND d.right_name = p.right_name
       JOIN nrm na ON na.name = p.left_name
       JOIN nrm nb ON nb.name = p.right_name""",
)
def k6_count_cosine_pairs(spark, sf_dir):
    """K6: whitespace-token count-vector cosine
    (token_based_func.py:174-222; CountVectorizer lowercase=False,
    token_pattern=\\S+ reduces to the pairwise formula) over distinct
    part-name pairs; oracle = token-count dot/norm arithmetic."""
    _, pairs = _part_name_pairs(spark, sf_dir)
    texts = ("left_name", "right_name")
    return _with_sim_scores(pairs, texts, ["cosine"]).select(
        "left_name", "right_name", _r6(F.col("_s.cosine")).alias("cosine")
    )


@_q(
    "k5_jaccard_pairs",
    """WITH toks AS (
         SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
         FROM documents WHERE length(trim(text)) > 0
       )
       SELECT a.doc_id AS left_id, b.doc_id AS right_id,
              round(len(list_intersect(a.t, b.t)) * 1.0 /
                    len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
       FROM toks a JOIN toks b ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 10""",
)
def k5_jaccard_pairs(spark, sf_dir):
    """K5: token-set jaccard (token_based_func.py:150-172, whitespace
    tokens) over a banded document self-join (id distance <= 10 keeps the
    pair count linear)."""
    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    a = docs.select(F.col("doc_id").alias("left_id"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("right_id"), F.col("text").alias("tb"))
    pairs = a.crossJoin(b).filter(
        (F.col("left_id") < F.col("right_id"))
        & (F.col("right_id") - F.col("left_id") <= 10)
    )
    return _with_sim_scores(pairs, ("ta", "tb"), ["jaccard"]).select(
        "left_id", "right_id", _r6(F.col("_s.jaccard")).alias("jaccard")
    )


@_q(
    "k16_haversine",
    """SELECT event_id,
              round(2 * 6371000.0 * atan2(sqrt(a), sqrt(1 - a)), 6) AS dist_m
       FROM (
         SELECT event_id,
                pow(sin(radians(lat2 - lat1) / 2), 2)
                + cos(radians(lat1)) * cos(radians(lat2))
                  * pow(sin(radians(lon2 - lon1) / 2), 2) AS a
         FROM (
           SELECT event_id,
                  value % 80 AS lat1, user_id % 170 AS lon1,
                  (value + 1.5) % 80 AS lat2, (user_id + 2) % 170 AS lon2
           FROM events
         )
       )""",
)
def k16_haversine(spark, sf_dir):
    """K16: haversine meters, R=6371 km (mpu semantics,
    label_data.py:105-128), native trig expression over deterministic
    pseudo-coordinates derived from the events table."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("value") % 80).alias("lat1"),
        (F.col("user_id") % 170).cast("double").alias("lon1"),
        ((F.col("value") + 1.5) % 80).alias("lat2"),
        ((F.col("user_id") + 2) % 170).cast("double").alias("lon2"),
    )
    return ev.select(
        "event_id",
        _r6(
            haversine_meters(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
            )
        ).alias("dist_m"),
    )


@_q(
    "k17_token_features",
    """SELECT doc_id,
              len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tlen,
              n_chars
       FROM documents""",
)
def k17_token_features(spark, sf_dir):
    """K17: token-count features (ml_similarity_metrics.py:413-431)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(whitespace_tokens(F.col("text"))).alias("tlen"),
        "n_chars",
    )


# =====================================================================
# Pipeline stages over a transcripts view derived from documents
# (deterministic in both engines: conv_id = doc_id // 10,
#  turn_idx = doc_id % 10)
# =====================================================================


def _doc_transcripts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        (F.col("doc_id") / 10).cast("long").cast("string").alias("conv_id"),
        (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


@_q(
    "sig_signatures_stage",
    """SELECT CAST(doc_id // 10 AS VARCHAR) AS conv_id,
              string_agg(text, ' ' ORDER BY doc_id % 10) AS sig_text,
              count(*) AS n_turns
       FROM documents GROUP BY doc_id // 10""",
)
def sig_signatures_stage(spark, sf_dir):
    """Signature build (stable turn ordering) over a transcripts view
    derived from documents; oracle = ordered string_agg."""
    sig = build_signatures(_doc_transcripts(spark, sf_dir), with_tokens=False)
    return sig.select("conv_id", "sig_text", F.col("n_turns").cast("long").alias("n_turns"))


@_q(
    "block_first_token_pairs",
    """WITH k AS (
         SELECT CAST(doc_id // 10 AS VARCHAR) AS conv_id,
                split_part(string_agg(text, ' ' ORDER BY doc_id % 10), ' ', 1) AS key
         FROM documents GROUP BY doc_id // 10
       )
       SELECT a.conv_id AS left_id, b.conv_id AS right_id
       FROM k a JOIN k b ON a.key = b.key AND a.conv_id < b.conv_id""",
)
def block_first_token_pairs(spark, sf_dir):
    """First-token blocking self-join → deduped ordered pairs (the
    reference's box blocking, label_data.py:53-62, with a token key
    instead of a spatial cell)."""
    sig = build_signatures(_doc_transcripts(spark, sf_dir), with_tokens=False)
    keyed = sig.select(
        "conv_id", F.element_at(whitespace_tokens(F.col("sig_text")), 1).alias("key")
    )
    a = keyed.select(F.col("conv_id").alias("left_id"), "key")
    b = keyed.select(F.col("conv_id").alias("right_id"), "key")
    return (
        a.join(b, "key")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )


@_q(
    "score_block_pairs_lev",
    """WITH sig AS (
         SELECT CAST(doc_id // 10 AS VARCHAR) AS conv_id,
                string_agg(text, ' ' ORDER BY doc_id % 10) AS sig_text
         FROM documents GROUP BY doc_id // 10
       ), k AS (
         SELECT conv_id, sig_text, split_part(sig_text, ' ', 1) AS key FROM sig
       )
       SELECT a.conv_id AS left_id, b.conv_id AS right_id,
              round(1.0 - levenshtein(substr(a.sig_text, 1, 80), substr(b.sig_text, 1, 80)) * 1.0 /
                    greatest(length(substr(a.sig_text, 1, 80)), length(substr(b.sig_text, 1, 80))), 6) AS lev_sim
       FROM k a JOIN k b ON a.key = b.key AND a.conv_id < b.conv_id""",
)
def score_block_pairs_lev(spark, sf_dir):
    """Blocking + the scoring UDF's levenshtein end-to-end (prefix-80
    texts keep the O(n·m) DP bounded identically in both engines)."""
    sig = build_signatures(_doc_transcripts(spark, sf_dir), with_tokens=False)
    keyed = sig.select(
        "conv_id",
        F.col("sig_text"),
        F.element_at(whitespace_tokens(F.col("sig_text")), 1).alias("key"),
    )
    a = keyed.select(
        F.col("conv_id").alias("left_id"), F.col("sig_text").alias("la"), "key"
    )
    b = keyed.select(
        F.col("conv_id").alias("right_id"), F.col("sig_text").alias("lb"), "key"
    )
    pairs = a.join(b, "key").filter(F.col("left_id") < F.col("right_id"))
    texts = (F.substring(F.col("la"), 1, 80), F.substring(F.col("lb"), 1, 80))
    return _with_sim_scores(pairs, texts, ["levenshtein"]).select(
        "left_id", "right_id", _r6(F.col("_s.levenshtein")).alias("lev_sim")
    )


@_q(
    "er_components",
    """WITH RECURSIVE k AS (
         SELECT CAST(doc_id // 10 AS VARCHAR) AS conv_id,
                split_part(string_agg(text, ' ' ORDER BY doc_id % 10), ' ', 1) AS key
         FROM documents GROUP BY doc_id // 10
       ),
       e AS (
         SELECT a.conv_id AS src, b.conv_id AS dst
         FROM k a JOIN k b ON a.key = b.key AND a.conv_id <> b.conv_id
       ),
       walk(node, reach) AS (
         SELECT conv_id, conv_id FROM k
         UNION
         SELECT w.node, e.dst FROM walk w JOIN e ON w.reach = e.src
       )
       SELECT node AS conv_id, min(reach) AS component_id
       FROM walk GROUP BY node""",
)
def er_components(spark, sf_dir):
    """Connected components (driver union-find, or star contraction
    above ``DRIVER_MAX_EDGES``) over first-token blocking edges of the
    derived transcripts. Oracle:
    reachability closure via WITH RECURSIVE + min-label per node —
    component_id = lexicographic min conv_id in the component on BOTH
    engines (string ordering)."""
    from .operators.clustering import components

    pairs = block_first_token_pairs(spark, sf_dir)
    edges = pairs.select(F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    sig = build_signatures(_doc_transcripts(spark, sf_dir), with_tokens=False)
    return components(sig.select(F.col("conv_id")), edges)


# =====================================================================
# Additional §2 coverage: soft-TFIDF family (K7–K10), threshold sweep
# (A8), delta features (K18)
# =====================================================================


# shared CTE fragments for the soft-TFIDF oracles: tokenization must be
# byte-identical to whitespace_tokens(lower(trim(name))) on the Spark
# side. The identical-1-char CASE preserves the NLTK quirk the kernels
# implement (match bound max//2-1 = -1 → jaro("7","7") = 0, jw = 0.1)
# where DuckDB's jaro_similarity returns 1.0 — without it the oracle
# would diverge on any corpus with shared single-char tokens (initials,
# digits).
_JW_SQL = """
  SELECT tx, ty, j + pl * 0.1 * (1.0 - j) AS score
  FROM (
    SELECT tx, ty,
           CASE WHEN tx = ty AND length(tx) = 1 THEN 0.0
                ELSE jaro_similarity(tx, ty) END AS j,
           CASE WHEN substr(tx,1,4) = substr(ty,1,4) THEN 4
                WHEN substr(tx,1,3) = substr(ty,1,3) THEN 3
                WHEN substr(tx,1,2) = substr(ty,1,2) THEN 2
                WHEN substr(tx,1,1) = substr(ty,1,1) THEN 1
                ELSE 0 END AS pl
    FROM term_pairs
  )
  WHERE j + pl * 0.1 * (1.0 - j) >= 0.7
"""


@_q(
    "k8_softtfidf_pairs",
    r"""WITH names AS (
         SELECT DISTINCT p_name AS name,
                list_filter(regexp_split_to_array(lower(trim(p_name)), '\s+'), t -> t <> '') AS toks
         FROM part
       ),
       n AS (SELECT count(*) AS cs FROM names),
       df AS (
         SELECT token, count(*) AS df FROM (
           SELECT DISTINCT name, unnest(toks) AS token FROM names
         ) GROUP BY token
       ),
       p AS (
         SELECT a.name AS left_name, b.name AS right_name, a.toks AS lt, b.toks AS rt
         FROM names a JOIN names b ON a.name < b.name
       ),
       xt AS (
         SELECT left_name, right_name, tx, count(*) AS tfx
         FROM (SELECT left_name, right_name, unnest(lt) AS tx FROM p)
         GROUP BY left_name, right_name, tx
       ),
       yt AS (
         SELECT left_name, right_name, ty, count(*) AS tfy, min(pos) AS pos
         FROM (SELECT left_name, right_name, unnest(rt) AS ty,
                      unnest(range(1, len(rt)+1)) AS pos FROM p)
         GROUP BY left_name, right_name, ty
       ),
       term_pairs AS (SELECT DISTINCT xt.tx, yt.ty FROM xt JOIN yt USING (left_name, right_name)),
       scored_tp AS (%(jw)s),
       winner AS (
         SELECT left_name, right_name, tx, tfx, ty, tfy, score
         FROM (
           SELECT xt.left_name, xt.right_name, xt.tx, xt.tfx, yt.ty, yt.tfy, s.score,
                  row_number() OVER (PARTITION BY xt.left_name, xt.right_name, xt.tx
                                     ORDER BY s.score DESC, yt.pos ASC) AS rn
           FROM xt JOIN yt USING (left_name, right_name)
           JOIN scored_tp s ON s.tx = xt.tx AND s.ty = yt.ty
         ) WHERE rn = 1
       ),
       num AS (
         SELECT w.left_name, w.right_name,
                sum((n.cs * 1.0 / dx.df) * w.tfx
                    * (n.cs * 1.0 / coalesce(dy.df, 1)) * w.tfy * w.score) AS numerator
         FROM winner w
         JOIN df dx ON dx.token = w.tx
         LEFT JOIN df dy ON dy.token = w.ty
         CROSS JOIN n
         GROUP BY w.left_name, w.right_name
       ),
       union_terms AS (
         SELECT coalesce(x.left_name, y.left_name) AS left_name,
                coalesce(x.right_name, y.right_name) AS right_name,
                coalesce(x.tx, y.ty) AS token,
                coalesce(x.tfx, 0) AS tf_x, coalesce(y.tfy, 0) AS tf_y
         FROM xt x FULL JOIN yt y
           ON x.left_name = y.left_name AND x.right_name = y.right_name AND x.tx = y.ty
       ),
       den AS (
         SELECT u.left_name, u.right_name,
                sum(pow(n.cs * 1.0 / d.df * u.tf_x, 2)) AS den_x,
                sum(pow(n.cs * 1.0 / d.df * u.tf_y, 2)) AS den_y
         FROM union_terms u JOIN df d ON d.token = u.token CROSS JOIN n
         GROUP BY u.left_name, u.right_name
       ),
       tnum AS (
         SELECT u.left_name, u.right_name,
                sum((ln(n.cs * 1.0 / d.df) * CASE WHEN u.tf_x > 0 THEN ln(u.tf_x + 1.0) ELSE 0.0 END)
                  * (ln(n.cs * 1.0 / d.df) * CASE WHEN u.tf_y > 0 THEN ln(u.tf_y + 1.0) ELSE 0.0 END)) AS t_num,
                sum(pow(ln(n.cs * 1.0 / d.df) * CASE WHEN u.tf_x > 0 THEN ln(u.tf_x + 1.0) ELSE 0.0 END, 2)) AS t_den_x,
                sum(pow(ln(n.cs * 1.0 / d.df) * CASE WHEN u.tf_y > 0 THEN ln(u.tf_y + 1.0) ELSE 0.0 END, 2)) AS t_den_y
         FROM union_terms u JOIN df d ON d.token = u.token CROSS JOIN n
         GROUP BY u.left_name, u.right_name
       )
       SELECT p.left_name, p.right_name,
              round(CASE WHEN p.lt = p.rt THEN 1.0
                         WHEN len(p.lt) = 0 OR len(p.rt) = 0 THEN 0.0
                         WHEN coalesce(t.t_num, 0.0) = 0.0 THEN 0.0
                         ELSE t.t_num / (sqrt(t.t_den_x) * sqrt(t.t_den_y)) END, 6) AS tfidf,
              round(CASE WHEN p.lt = p.rt THEN 1.0
                         WHEN len(p.lt) = 0 OR len(p.rt) = 0 THEN 0.0
                         WHEN coalesce(d.den_x, 0.0) = 0.0 OR coalesce(d.den_y, 0.0) = 0.0
                           THEN coalesce(nm.numerator, 0.0)
                         ELSE coalesce(nm.numerator, 0.0) / (sqrt(d.den_x) * sqrt(d.den_y)) END, 6) AS softtfidf
       FROM p
       LEFT JOIN num nm USING (left_name, right_name)
       LEFT JOIN den d USING (left_name, right_name)
       LEFT JOIN tnum t USING (left_name, right_name)"""
    % {"jw": _JW_SQL},
)
def k8_softtfidf_pairs(spark, sf_dir):
    """K7/K8: tf-idf + soft-TFIDF (jw secondary @ 0.7) over all distinct
    part-name pairs with the part-name corpus df map. The oracle is the
    full relational decomposition of the reference loop
    (test_hybrid_func.py:53-131,161-206): distinct term pairs scored with
    composed jaro+prefix-boost, strictly-improving winner = (max score,
    earliest y-position), raw-idf numerator with df=1 fallback for the
    winner term_y, squared-idf denominators over the df-present union.
    Tokenizer here is lower+whitespace (SQL-expressible on both engines);
    the canonical stemmer path is pytest-covered (test_tokenize)."""
    names, pairs = _part_name_pairs(spark, sf_dir)
    scored = _with_sim_scores(
        pairs,
        ("left_name", "right_name"),
        ["tfidf", "softtfidf"],
        tokens=("lt", "rt"),
        corpus=names,
        softtfidf_threshold=0.7,
    )
    return scored.select(
        "left_name",
        "right_name",
        _r6(F.col("_s.tfidf")).alias("tfidf"),
        _r6(F.col("_s.softtfidf")).alias("softtfidf"),
    )


@_q(
    "a8_threshold_sweep",
    """WITH labeled AS (
         SELECT CASE WHEN value >= 50 THEN 1 ELSE 0 END AS match,
                value / 100.0 AS score
         FROM events
       ), thr AS (SELECT unnest([0.2, 0.35, 0.5, 0.65, 0.8]::DOUBLE[]) AS threshold),
       counts AS (
         SELECT threshold,
                CAST(sum(CASE WHEN match = 1 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN match = 0 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN match = 1 AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(sum(CASE WHEN match = 0 AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn
         FROM labeled, thr GROUP BY threshold
       ),
       pr AS (
         SELECT threshold, tp, fp, fn, tn,
                CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) ELSE 0.0 END AS p,
                CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) ELSE 0.0 END AS r,
                sqrt((tp + fp) * 1.0 * (tp + fn) * (tn + fp) * (tn + fn)) AS md
         FROM counts
       )
       SELECT threshold, tp, fp, fn, tn,
              round(p, 6) AS precision,
              round(r, 6) AS recall,
              round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 6) AS f1,
              round(CASE WHEN md > 0 THEN (tp * 1.0 * tn - fp * 1.0 * fn) / md ELSE 0.0 END, 6) AS mcc
       FROM pr""",
)
def a8_threshold_sweep(spark, sf_dir):
    """A8: one-pass P/R/F1 threshold sweep (evaluation_metrics.py:36-63
    looped over thresholds at baseline.py:31-89 — here a broadcast join +
    single grouped aggregate) over a deterministic labeling of events."""
    from .operators.evaluation import threshold_sweep

    labeled = _t(spark, sf_dir, "events").select(
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("match"),
        (F.col("value") / 100.0).alias("score"),
    )
    out = threshold_sweep(labeled, [0.2, 0.35, 0.5, 0.65, 0.8])
    return out.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        _r6(F.col("precision")).alias("precision"),
        _r6(F.col("recall")).alias("recall"),
        _r6(F.col("f1")).alias("f1"),
        _r6(F.col("mcc")).alias("mcc"),
    )


@_q(
    "k9_restricted_softtfidf_pairs",
    r"""WITH names AS (
         SELECT name, row_number() OVER (ORDER BY name) AS rn,
                list_filter(regexp_split_to_array(lower(trim(name)), '\s+'), t -> t <> '') AS toks
         FROM (SELECT DISTINCT p_name AS name FROM part)
       ),
       p AS (
         SELECT a.name AS left_name, b.name AS right_name, a.toks AS lt, b.toks AS rt
         FROM names a JOIN names b ON b.rn - a.rn BETWEEN 1 AND 5
       ),
       share_left AS (
         SELECT left_name AS k, left_name AS name FROM p
         UNION SELECT left_name, right_name FROM p
       ),
       share_right AS (
         SELECT right_name AS k, left_name AS name FROM p
         UNION SELECT right_name, right_name FROM p
       ),
       corpus AS (
         SELECT DISTINCT pr.left_name, pr.right_name, s.name
         FROM p pr JOIN share_left s ON s.k = pr.left_name
         UNION
         SELECT DISTINCT pr.left_name, pr.right_name, s.name
         FROM p pr JOIN share_right s ON s.k = pr.right_name
       ),
       cs AS (SELECT left_name, right_name, count(*) AS cs FROM corpus GROUP BY 1, 2),
       pair_df AS (
         SELECT c.left_name, c.right_name, t.token, count(*) AS df
         FROM corpus c
         JOIN (SELECT name, unnest(list_distinct(toks)) AS token FROM names) t
           ON t.name = c.name
         GROUP BY 1, 2, 3
       ),
       xt AS (
         SELECT left_name, right_name, tx, count(*) AS tfx
         FROM (SELECT left_name, right_name, unnest(lt) AS tx FROM p)
         GROUP BY 1, 2, 3
       ),
       yt AS (
         SELECT left_name, right_name, ty, count(*) AS tfy, min(pos) AS pos
         FROM (SELECT left_name, right_name, unnest(rt) AS ty,
                      unnest(range(1, len(rt)+1)) AS pos FROM p)
         GROUP BY 1, 2, 3
       ),
       term_pairs AS (SELECT DISTINCT xt.tx, yt.ty FROM xt JOIN yt USING (left_name, right_name)),
       scored_tp AS (%(jw)s),
       winner AS (
         SELECT left_name, right_name, tx, tfx, ty, tfy, score
         FROM (
           SELECT xt.left_name, xt.right_name, xt.tx, xt.tfx, yt.ty, yt.tfy, s.score,
                  row_number() OVER (PARTITION BY xt.left_name, xt.right_name, xt.tx
                                     ORDER BY s.score DESC, yt.pos ASC) AS rn
           FROM xt JOIN yt USING (left_name, right_name)
           JOIN scored_tp s ON s.tx = xt.tx AND s.ty = yt.ty
         ) WHERE rn = 1
       ),
       num AS (
         SELECT w.left_name, w.right_name,
                sum((c.cs * 1.0 / dx.df) * w.tfx
                    * (c.cs * 1.0 / coalesce(dy.df, 1)) * w.tfy * w.score) AS numerator
         FROM winner w
         JOIN cs c USING (left_name, right_name)
         JOIN pair_df dx ON dx.left_name = w.left_name AND dx.right_name = w.right_name AND dx.token = w.tx
         LEFT JOIN pair_df dy ON dy.left_name = w.left_name AND dy.right_name = w.right_name AND dy.token = w.ty
         GROUP BY 1, 2
       ),
       union_terms AS (
         SELECT coalesce(x.left_name, y.left_name) AS left_name,
                coalesce(x.right_name, y.right_name) AS right_name,
                coalesce(x.tx, y.ty) AS token,
                coalesce(x.tfx, 0) AS tf_x, coalesce(y.tfy, 0) AS tf_y
         FROM xt x FULL JOIN yt y
           ON x.left_name = y.left_name AND x.right_name = y.right_name AND x.tx = y.ty
       ),
       den AS (
         SELECT u.left_name, u.right_name,
                sum(pow(c.cs * 1.0 / d.df * u.tf_x, 2)) AS den_x,
                sum(pow(c.cs * 1.0 / d.df * u.tf_y, 2)) AS den_y
         FROM union_terms u
         JOIN cs c USING (left_name, right_name)
         JOIN pair_df d ON d.left_name = u.left_name AND d.right_name = u.right_name AND d.token = u.token
         GROUP BY 1, 2
       )
       SELECT p.left_name, p.right_name,
              round(CASE WHEN p.lt = p.rt THEN 1.0
                         WHEN len(p.lt) = 0 OR len(p.rt) = 0 THEN 0.0
                         WHEN coalesce(d.den_x, 0.0) = 0.0 OR coalesce(d.den_y, 0.0) = 0.0
                           THEN coalesce(nm.numerator, 0.0)
                         ELSE coalesce(nm.numerator, 0.0) / (sqrt(d.den_x) * sqrt(d.den_y)) END, 6)
                AS restricted_softtfidf
       FROM p
       LEFT JOIN num nm USING (left_name, right_name)
       LEFT JOIN den d USING (left_name, right_name)"""
    % {"jw": _JW_SQL},
)
def k9_restricted_softtfidf_pairs(spark, sf_dir):
    """K9: restricted soft-TFIDF (J3 corpus gather + per-pair local df
    map) over a banded part-name pair set — the band keeps per-pair
    restricted corpora genuinely different from the global corpus. The
    oracle reproduces the corpus-gather relationally (left-share ∪
    right-share per restricted_softtfidf.py:27-46) and the per-pair
    df/corpus-size soft-TFIDF. Tokenizer: lower+whitespace on both
    engines; canonical-normalizer path covered in test_restricted."""
    from pyspark.sql.window import Window

    from .operators.restricted import score_restricted

    names = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("name")))
    )
    a = names.select(F.col("name").alias("left_name"), F.col("rn").alias("arn"))
    b = names.select(F.col("name").alias("right_name"), F.col("rn").alias("brn"))
    pairs = (
        a.crossJoin(b)
        .filter((F.col("brn") - F.col("arn") >= 1) & (F.col("brn") - F.col("arn") <= 5))
        .select("left_name", "right_name")
    )
    tok = lambda s: [t for t in s.lower().strip().split() if t]  # noqa: E731
    out = score_restricted(pairs, secondary_threshold=0.7, tokenizer=tok)
    return out.select(
        "left_name",
        "right_name",
        _r6(F.col("restricted_softtfidf")).alias("restricted_softtfidf"),
    )


def _k10_oracle_sql() -> str:
    """Semantic soft-TFIDF oracle: the k8 relational decomposition with
    a term-pair score of max(jaro-winkler, char-count-vector cosine) and
    the reference's OR acceptance gate (semantic_soft_tfidf.py:55-153).
    The a-z count vectors are integer-valued, so the float64 cosine is
    bit-identical between numpy and DuckDB (exact dot/norm sums)."""
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def cnt(col: str, c: str) -> str:
        return f"(length({col}) - length(replace({col}, '{c}', '')))"

    dot = " + ".join(f"{cnt('tx', c)} * {cnt('ty', c)}" for c in alpha)
    nx = " + ".join(f"{cnt('tx', c)} * {cnt('tx', c)}" for c in alpha)
    ny = " + ".join(f"{cnt('ty', c)} * {cnt('ty', c)}" for c in alpha)
    scored_tp = f"""
  SELECT tx, ty, greatest(jw, sem) AS score
  FROM (
    SELECT tx, ty, j + pl * 0.1 * (1.0 - j) AS jw,
           CASE WHEN ({nx}) = 0 OR ({ny}) = 0 THEN 0.0
                ELSE ({dot}) * 1.0 / (sqrt({nx}) * sqrt({ny})) END AS sem
    FROM (
      SELECT tx, ty,
             CASE WHEN tx = ty AND length(tx) = 1 THEN 0.0
                  ELSE jaro_similarity(tx, ty) END AS j,
             CASE WHEN substr(tx,1,4) = substr(ty,1,4) THEN 4
                  WHEN substr(tx,1,3) = substr(ty,1,3) THEN 3
                  WHEN substr(tx,1,2) = substr(ty,1,2) THEN 2
                  WHEN substr(tx,1,1) = substr(ty,1,1) THEN 1
                  ELSE 0 END AS pl
      FROM term_pairs
    )
  )
  WHERE jw >= 0.85 OR sem >= 0.6
"""
    return r"""WITH names AS (
         SELECT DISTINCT p_name AS name,
                list_filter(regexp_split_to_array(lower(trim(p_name)), '\s+'), t -> t <> '') AS toks
         FROM part
       ),
       n AS (SELECT count(*) AS cs FROM names),
       df AS (
         SELECT token, count(*) AS df FROM (
           SELECT DISTINCT name, unnest(toks) AS token FROM names
         ) GROUP BY token
       ),
       p AS (
         SELECT a.name AS left_name, b.name AS right_name, a.toks AS lt, b.toks AS rt
         FROM names a JOIN names b ON a.name < b.name
       ),
       xt AS (
         SELECT left_name, right_name, tx, count(*) AS tfx
         FROM (SELECT left_name, right_name, unnest(lt) AS tx FROM p)
         GROUP BY left_name, right_name, tx
       ),
       yt AS (
         SELECT left_name, right_name, ty, count(*) AS tfy, min(pos) AS pos
         FROM (SELECT left_name, right_name, unnest(rt) AS ty,
                      unnest(range(1, len(rt)+1)) AS pos FROM p)
         GROUP BY left_name, right_name, ty
       ),
       term_pairs AS (SELECT DISTINCT xt.tx, yt.ty FROM xt JOIN yt USING (left_name, right_name)),
       scored_tp AS (%(tp)s),
       winner AS (
         SELECT left_name, right_name, tx, tfx, ty, tfy, score
         FROM (
           SELECT xt.left_name, xt.right_name, xt.tx, xt.tfx, yt.ty, yt.tfy, s.score,
                  row_number() OVER (PARTITION BY xt.left_name, xt.right_name, xt.tx
                                     ORDER BY s.score DESC, yt.pos ASC) AS rn
           FROM xt JOIN yt USING (left_name, right_name)
           JOIN scored_tp s ON s.tx = xt.tx AND s.ty = yt.ty
         ) WHERE rn = 1
       ),
       num AS (
         SELECT w.left_name, w.right_name,
                sum((n.cs * 1.0 / dx.df) * w.tfx
                    * (n.cs * 1.0 / coalesce(dy.df, 1)) * w.tfy * w.score) AS numerator
         FROM winner w
         JOIN df dx ON dx.token = w.tx
         LEFT JOIN df dy ON dy.token = w.ty
         CROSS JOIN n
         GROUP BY w.left_name, w.right_name
       ),
       union_terms AS (
         SELECT coalesce(x.left_name, y.left_name) AS left_name,
                coalesce(x.right_name, y.right_name) AS right_name,
                coalesce(x.tx, y.ty) AS token,
                coalesce(x.tfx, 0) AS tf_x, coalesce(y.tfy, 0) AS tf_y
         FROM xt x FULL JOIN yt y
           ON x.left_name = y.left_name AND x.right_name = y.right_name AND x.tx = y.ty
       ),
       den AS (
         SELECT u.left_name, u.right_name,
                sum(pow(n.cs * 1.0 / d.df * u.tf_x, 2)) AS den_x,
                sum(pow(n.cs * 1.0 / d.df * u.tf_y, 2)) AS den_y
         FROM union_terms u JOIN df d ON d.token = u.token CROSS JOIN n
         GROUP BY u.left_name, u.right_name
       )
       SELECT p.left_name, p.right_name,
              round(CASE WHEN p.lt = p.rt THEN 1.0
                         WHEN len(p.lt) = 0 OR len(p.rt) = 0 THEN 0.0
                         WHEN coalesce(d.den_x, 0.0) = 0.0 OR coalesce(d.den_y, 0.0) = 0.0
                           THEN coalesce(nm.numerator, 0.0)
                         ELSE coalesce(nm.numerator, 0.0) / (sqrt(d.den_x) * sqrt(d.den_y)) END, 6)
                AS semantic_softtfidf
       FROM p
       LEFT JOIN num nm USING (left_name, right_name)
       LEFT JOIN den d USING (left_name, right_name)""" % {"tp": scored_tp}


@_q("k10_semantic_softtfidf_pairs", _k10_oracle_sql())
def k10_semantic_softtfidf_pairs(spark, sf_dir):
    """K10: semantic soft-TFIDF — term pairs accepted when
    jaro-winkler >= 0.85 OR embedding cosine >= 0.6, contribution
    max(char, semantic) (semantic_soft_tfidf.py:55-153) — over distinct
    part-name pairs. The query embedder is the a-z char-count vector
    (integer-exact cosine ⇒ the whole kernel is oracle-verifiable); the
    hash-projection embedder path stays pytest-pinned
    (test_kernels::TestSemanticSoftTfIdf)."""
    from .functions.embedding import CharCountEmbedder

    names, pairs = _part_name_pairs(spark, sf_dir)
    scored = _with_sim_scores(
        pairs,
        ("left_name", "right_name"),
        ["semantic_softtfidf"],
        tokens=("lt", "rt"),
        corpus=names,
        embedder=CharCountEmbedder(),
        semantic_char_threshold=0.85,
        semantic_threshold=0.6,
    )
    return scored.select(
        "left_name",
        "right_name",
        _r6(F.col("_s.semantic_softtfidf")).alias("semantic_softtfidf"),
    )


def _k18_oracle_sql() -> str:
    """K18 delta features oracle: signatures from the derived
    transcripts, lower/whitespace tokens, the a-z char-count-mean
    embedder (integer sums / integer counts ⇒ IEEE-exact doubles in
    both engines — the k10 trick), first-token-blocked pairs, then the
    reference feature surface: token counts, max/min ratio, and the
    per-dimension embedding delta (right − left)."""
    alpha = "abcdefghijklmnopqrstuvwxyz"
    chars = ", ".join(f"'{c}'" for c in alpha)
    return rf"""WITH sig AS (
         SELECT CAST(doc_id // 10 AS VARCHAR) AS conv_id,
                string_agg(text, ' ' ORDER BY doc_id % 10) AS sig_text
         FROM documents GROUP BY doc_id // 10
       ),
       tok AS (
         SELECT conv_id,
                list_filter(regexp_split_to_array(lower(trim(sig_text)), '\s+'), t -> t <> '') AS toks,
                split_part(sig_text, ' ', 1) AS key
         FROM sig
       ),
       emb AS (
         SELECT conv_id, toks, key,
                list_transform([{chars}],
                  c -> CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE list_sum(list_transform(toks,
                              t -> length(t) - length(replace(t, c, '')))) * 1.0
                            / len(toks) END) AS e
         FROM tok
       ),
       p AS (
         SELECT a.conv_id AS left_id, b.conv_id AS right_id,
                len(a.toks) AS tlen_l, len(b.toks) AS tlen_r,
                a.e AS el, b.e AS er
         FROM emb a JOIN emb b ON a.key = b.key AND a.conv_id < b.conv_id
       )
       SELECT left_id, right_id, tlen_l, tlen_r,
              round(CASE WHEN least(tlen_l, tlen_r) > 0
                    THEN greatest(tlen_l, tlen_r) * 1.0 / least(tlen_l, tlen_r)
                    ELSE 0.0 END, 6) AS tlen_ratio,
              d.i - 1 AS dim,
              round(er[d.i] - el[d.i], 6) AS delta
       FROM p CROSS JOIN (SELECT unnest(generate_series(1, 26)) AS i) d"""


@_q("k18_delta_features", _k18_oracle_sql())
def k18_delta_features(spark, sf_dir):
    """K18: embedding delta features through operators/ml.py
    assemble_features (reference feature matrix,
    ml_similarity_metrics.py:413-478) — token counts + max/min ratio +
    the per-dimension emb_delta vector, posexploded so every dimension
    is hash-verified. The signature embedding is the a-z char-count
    MEAN vector computed natively (integer sum / integer count ⇒ exact
    float64 both engines); the UDF embedder path stays pytest-pinned."""
    from pyspark.ml.functions import vector_to_array

    from .operators.ml import assemble_features

    sig = build_signatures(_doc_transcripts(spark, sf_dir), with_tokens=False)
    toks = F.filter(
        whitespace_tokens(F.lower(F.trim(F.col("sig_text")))), lambda t: t != ""
    )
    sig = sig.select("conv_id", toks.alias("tokens"))
    alphabet = "abcdefghijklmnopqrstuvwxyz"

    def dim_mean(c: str) -> F.Column:
        total = F.aggregate(
            F.col("tokens"),
            F.lit(0).cast("long"),
            lambda a, t: a
            + (F.length(t) - F.length(F.replace(t, F.lit(c), F.lit("")))).cast("long"),
        )
        return (
            F.when(F.size("tokens") > 0, total.cast("double") / F.size("tokens"))
            .otherwise(F.lit(0.0))
        )

    sig = sig.withColumn("emb", F.array(*[dim_mean(c) for c in alphabet]))
    pairs = block_first_token_pairs(spark, sf_dir)
    out, _feats = assemble_features(pairs, sig)
    return out.select(
        "left_id",
        "right_id",
        "tlen_l",
        "tlen_r",
        _r6(F.col("tlen_ratio")).alias("tlen_ratio"),
        F.posexplode(vector_to_array(F.col("emb_delta"))).alias("dim", "delta"),
    ).select(
        "left_id",
        "right_id",
        "tlen_l",
        "tlen_r",
        "tlen_ratio",
        F.col("dim").cast("long").alias("dim"),
        _r6(F.col("delta")).alias("delta"),
    )


#: the round driver evaluates AT MOST this many queries, in registry
#: order — anything past the cap silently gets no correctness row
_DRIVER_QUERY_CAP = 50


def _check_driver_cap() -> None:
    """Fail registration loudly, naming the queries past the driver's
    evaluation cap, instead of letting them drop out of the sweep."""
    if len(QUERIES) > _DRIVER_QUERY_CAP:
        raise RuntimeError(
            f"{len(QUERIES)} queries registered but the correctness "
            f"driver evaluates only the first {_DRIVER_QUERY_CAP} — "
            "merge or remove a query instead of silently dropping "
            f"{list(QUERIES)[_DRIVER_QUERY_CAP:]} from the sweep"
        )


_check_driver_cap()
