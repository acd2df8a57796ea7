"""Scoring stage: candidate pairs → similarity feature matrix + score.

Reference semantics: ``calculate_similarity_score`` (``load_data/
baseline.py:91-115``) computes one kernel per pair via ``iterrows``; the
feature build at ``ml_similarity_metrics.py:39-74`` computes all kernels in
one pass. Our stage is the latter, distributed:

* The corpus **document-frequency map** (SURVEY.md A3, reference
  ``test_hybrid_func.py:27-32``) is computed once with an
  explode/groupBy and broadcast to executors — never recomputed per pair
  (the reference's restricted-softtfidf recomputes it per pair, an
  anti-pattern we must not port — SURVEY.md §4.2).
* **Embeddings are computed once per distinct token list of an Arrow
  batch**, not per pair, inside the scoring UDF; the pairs arrive sorted
  by right_id, so a right signature's pairs share one vector. The
  reference re-embeds per pair (``semantic_soft_tfidf.py:92-93``) —
  same anti-pattern class.
* **Exact-match short-circuit**: the reference returns 1.0 from the
  tfidf/soft-TFIDF family when the two token lists are equal
  (``test_hybrid_func.py:58-60``) — and ONLY from that family; the
  char/token kernels are computed on the raw names regardless
  (``ml_similarity_metrics.py:55-59``). Our kernels implement the same
  rule internally (an O(len) list compare before the O(|x|·|y|) term
  loop), so equal-token pairs are cheap without a structural bypass
  that would falsify the char-kernel features.
* Pair join strategy: candidate pairs carry only (left_id, right_id);
  signature attributes are attached with two equi-joins against the
  signatures table (shuffle on conv_id both times). At 100 TB the
  signatures side is the big one; the joins are sort-merge with AQE, and
  the scoring itself is a narrow map afterwards.

Every kernel runs in one Arrow-vectorized pandas UDF: levenshtein (a
bit-parallel edit distance over each Arrow batch), token-set jaccard
(one token set per distinct text) and the embedding cosine (one vector
per distinct token list) per batch, then jaro, jaro-winkler, count
cosine, tf-idf and the soft-TFIDF family per row.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.embedding import HashEmbedder
from ..functions.spark_udfs import KERNELS, make_embed_udf, make_sim_scores_udf

#: kernels whose formula consumes the corpus df map — only these make
#: score_pairs pay for the df-map build (full-corpus dedup + driver
#: collect + broadcast)
DF_MAP_KERNELS = frozenset({"tfidf", "softtfidf", "semantic_softtfidf"})

#: default hard cap on the driver-collected df-map vocabulary (top-K by
#: document frequency). 2^22 tokens ≈ a few hundred MB broadcast at
#: worst — safe on any driver; tokens beyond the cap get the reference's
#: missing-token kernel semantics. Pass ``max_vocab=None`` to opt out
#: when the vocabulary is known-bounded.
DEFAULT_MAX_VOCAB = 1 << 22

#: AQE advisory partition size inside ``udf_stage_parallelism``
UDF_ADVISORY_BYTES = "1m"


@dataclass(frozen=True)
class ScoringConfig:
    """Defaults: the full suite is computed; the *clustering* operating
    point is log-dampened tf-idf @ 0.425 — the reference's evaluated best
    tf-idf threshold (BASELINE.md, golden matrix sweep). Soft-TFIDF's raw
    idf (corpus_size/df, no log) lets a single hapax token (typo → df=1 →
    idf=corpus_size) dominate the cosine denominator, which is harmless
    on the reference's 2-6-token POI names but collapses scores on long
    filler-heavy transcript signatures; the log-dampened variant keeps
    the reference's semantics robust at signature length. Soft-TFIDF @
    0.4 (``semantic_soft_tfidf.py:324``) remains the operating point for
    name-like labeled pairs (parity tests)."""

    kernels: tuple[str, ...] = tuple(KERNELS)
    score_kernel: str = "tfidf"           # reference kernel suited to long signatures
    threshold: float = 0.425              # reference's evaluated tf-idf best-F1 threshold
    softtfidf_threshold: float = 0.9      # ml_similarity_metrics.py:61
    semantic_char_threshold: float = 0.85 # ml_similarity_metrics.py:64
    semantic_threshold: float = 0.7       # ml_similarity_metrics.py:64
    embed_dim: int = 64
    embed_seed: int = 42
    min_df: int = 1               # df-map floor (driver-broadcast bound)
    #: df-map hard top-K cap — bounded BY DEFAULT so an unknown 100 TB
    #: vocabulary cannot OOM the driver; None opts out explicitly
    max_vocab: int | None = DEFAULT_MAX_VOCAB


def broadcast_df_map(
    spark: SparkSession,
    signatures: DataFrame,
    min_df: int = 1,
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
):
    """Collect + broadcast the df map and corpus size.

    The map is vocabulary-sized (sublinear in corpus rows), but at
    10^11-conversation scale an uncapped vocabulary is driver-OOM
    territory, so the collect is bounded BEFORE it happens:

    * ``min_df`` drops tokens appearing in fewer than that many corpus
      documents. Dropped tokens get the reference's own missing-token
      semantics inside every kernel (skipped in numerator AND
      denominator — ``test_hybrid_func.py:88/105``), so scores of pairs
      whose tokens all clear the floor are bit-identical to the uncapped
      map (test_blocking_scoring::test_min_df_cap).
    * ``max_vocab`` keeps only the top-K tokens by df (ties broken by
      token for determinism) — a hard size guarantee when the df
      distribution is unknown. ON by default (:data:`DEFAULT_MAX_VOCAB`)
      so the default config can never OOM the driver; when the cap
      binds, a warning with the kept-vocabulary size is logged so the
      truncation is visible. ``None`` opts out explicitly.

    Corpus SIZE is unaffected by either cap (idf ratios of surviving
    tokens don't shift). It is observed while the df aggregation runs
    (the deduped corpus's row count), so the build is ONE query: no
    persist of the deduped corpus, no separate count. The common case
    collects the map unsorted: the ``max_vocab + 1`` sentinel row tells
    whether the cap binds. Only then does a second query keep the top-K
    by df, running the corpus dedup and df aggregation again and
    discarding the ``max_vocab + 1`` rows the first one collected (on
    2,000 conversations with a binding cap of 100, about as long as the
    earlier single sorted query over a persisted corpus)."""
    obs = Observation()
    corpus = signatures.select("sig_text", "tokens").dropDuplicates(["sig_text"])

    def doc_freq(docs: DataFrame) -> DataFrame:
        df = (
            docs.select(F.explode(F.array_distinct("tokens")).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("df"))
        )
        return df.filter(F.col("df") >= int(min_df)) if min_df > 1 else df

    counted = doc_freq(corpus.observe(obs, F.count("*").alias("n")))
    if max_vocab is None:
        table = counted.toArrow()
    else:
        table = counted.limit(int(max_vocab) + 1).toArrow()
    # with no token at all, AQE replaces the empty token shuffle (and the
    # observation inside it) by an empty relation: count the corpus then
    n = obs.get["n"] if table.num_rows else corpus.count()
    if max_vocab is not None and table.num_rows > int(max_vocab):
        table = (
            doc_freq(corpus)
            .orderBy(F.desc("df"), F.asc("token"))
            .limit(int(max_vocab))
            .toArrow()
        )
        import logging

        logging.getLogger(__name__).warning(
            "df-map vocabulary exceeds max_vocab=%d — keeping the "
            "top-%d tokens by document frequency; dropped tokens get "
            "missing-token kernel semantics (skipped in numerator "
            "and denominator). Raise max_vocab (or pass None) if "
            "full-vocabulary weighting is required.",
            int(max_vocab),
            int(max_vocab),
        )
    tokens, dfs = table.column("token").to_pylist(), table.column("df").to_pylist()
    df_map = dict(zip(tokens, dfs))
    sc = spark.sparkContext
    return sc.broadcast(df_map), sc.broadcast(n)


def attach_embeddings(signatures: DataFrame, embedder: HashEmbedder) -> DataFrame:
    """Add ``emb array<float>`` — once per signature, not per pair."""
    embed = make_embed_udf(embedder)
    return signatures.withColumn("emb", embed(F.col("tokens")))


def score_pairs(
    spark: SparkSession,
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: ScoringConfig = ScoringConfig(),
    df_map_bc=None,
    corpus_size_bc=None,
    embedder: HashEmbedder | None = None,
) -> DataFrame:
    """scores(left_id, right_id, <kernel columns...>, score).

    ``score`` is the configured operating kernel. Exact-match semantics
    live INSIDE the kernels (the tfidf/soft-TFIDF family short-circuits
    on token-list equality; the char/token kernels are computed honestly
    for every pair) — see the inline note below on why there is
    deliberately NO structural bypass here.

    The df map is built (and broadcast) only when a selected kernel
    actually consumes it (:data:`DF_MAP_KERNELS`) — a char-kernels-only
    config pays no full-corpus dedup, no driver collect, no broadcast.
    """
    if embedder is None:
        embedder = HashEmbedder(dim=cfg.embed_dim, seed=cfg.embed_seed)
    if df_map_bc is None or corpus_size_bc is None:
        if DF_MAP_KERNELS & set(cfg.kernels):
            df_map_bc, corpus_size_bc = broadcast_df_map(
                spark, signatures, min_df=cfg.min_df, max_vocab=cfg.max_vocab
            )
        else:
            # no selected kernel reads the df map — skip the
            # full-corpus df query and the broadcast entirely
            sc = spark.sparkContext
            df_map_bc, corpus_size_bc = sc.broadcast({}), sc.broadcast(0)
    # the UDF refuses an unknown kernel, before the score_kernel check
    suite = make_sim_scores_udf(
        df_map_bc,
        corpus_size_bc,
        embedder,
        softtfidf_threshold=cfg.softtfidf_threshold,
        semantic_char_threshold=cfg.semantic_char_threshold,
        semantic_threshold=cfg.semantic_threshold,
        fields=list(cfg.kernels),
    )
    if cfg.score_kernel not in cfg.kernels:
        raise ValueError(
            f"score_kernel {cfg.score_kernel!r} is not among the "
            f"selected kernels {list(cfg.kernels)} — the score column "
            "must be one of the computed kernel columns"
        )

    left = signatures.select(
        F.col("conv_id").alias("left_id"),
        F.col("sig_text").alias("l_text"),
        F.col("tokens").alias("l_tokens"),
    )
    right = signatures.select(
        F.col("conv_id").alias("right_id"),
        F.col("sig_text").alias("r_text"),
        F.col("tokens").alias("r_tokens"),
    )
    # the SECOND join is hinted sort-merge, whatever the kernels. Its
    # shuffle is what puts the UDF after an exchange, whose partitions
    # udf_stage_parallelism splits by its row budget: an unhinted plan
    # broadcasts the signatures up to ~40k conversations (~235 B a row
    # against the 10 MB threshold) and runs the UDF in the pair scan's
    # partitions, one per small pairs file. The shuffle also leaves the
    # input partitioned (and sorted) by right_id, co-locating every pair
    # that shares a right signature, so the semantic soft-TFIDF winner
    # cache computes each (signature, term) loop once per worker
    # REGARDLESS of worker count. At 100 TB both sides are big and this
    # is the plan Catalyst picks anyway.
    joined = pairs.join(left, "left_id").join(right.hint("merge"), "right_id")

    # Exact-match semantics (reference parity): ONLY the tfidf/soft-TFIDF
    # family short-circuits to 1.0 on token-list equality
    # (test_hybrid_func.py:58-60) — and that shortcut lives INSIDE the
    # kernels (an O(len) list compare), so equal-token pairs never pay
    # the O(|x|·|y|) term loop. The char/token kernels (levenshtein,
    # jaro, jaro-winkler, jaccard, cosine, emb_cosine) are computed
    # honestly on the raw texts for every pair, exactly as the reference
    # feature build does (ml_similarity_metrics.py:55-59): "Joe's Pizza"
    # vs "joes pizza" has equal tokens but levenshtein < 1.0. A previous
    # structural bypass here set every kernel to literal 1.0 for
    # equal-token pairs, corrupting the ML feature matrix. Jaccard splits
    # the RAW text on whitespace, not the canonical normalizer
    # (token_based_func.py:150); the UDF splits each distinct text once.
    scored = joined.withColumn(
        "_s", suite(F.col("l_text"), F.col("r_text"), F.col("l_tokens"), F.col("r_tokens"))
    )
    out = scored.select(
        "left_id", "right_id", *(F.col(f"_s.{k}").alias(k) for k in cfg.kernels)
    )
    return out.withColumn("score", F.col(cfg.score_kernel))


@contextmanager
def sql_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the scope, then restore each key
    to what it was on entry, also when the body raises: a key that was
    set gets its value back, a key that was not is unset, so the
    session's own default applies again. Nested scopes restore in
    order, so an inner exit puts back the outer scope's value.
    Concurrent use from several *threads* of one session shares the SQL
    conf by Spark's own design and is not supported here."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def udf_stage_parallelism(spark: SparkSession):
    """A ``sql_conf`` scope of a small AQE advisory partition size,
    around the ACTION that materializes a UDF-heavy stage (the config is
    read at execution time, so it must wrap the action, not the plan
    construction).

    Why: AQE's post-shuffle partition coalescing is BYTE-based and blind
    to per-row Python-UDF cost. The scoring stage's ~KB pair rows each
    cost ~ms in the kernel suite, so coalescing 128 shuffle partitions
    down to defaultParallelism leaves a handful of straggler tasks
    pinning the makespan with most cores idle — measured 58 s → 36.6 s
    (+59%) at local[16] on the 130k-pair fixture when scoped to 1 MB.
    At 100 TB the same rule holds: partition UDF stages by row/compute
    budget, not bytes; relational stages keep the session default.

    The scope splits only a shuffle larger than ``UDF_ADVISORY_BYTES``.
    Smaller ones are still coalesced into one partition: on the
    600-conversation perfbench workloads (up to ~2,600 pairs) the
    scoring UDF runs in one task per job, since a traced run shows
    ``stage.scores.tasks`` equal to ``stage.scores.jobs``.

    Inside ``run_pipeline`` and ``incremental_update`` this scope nests
    in the run's own ``sql_conf`` scope (interpreted execution and the
    run's shuffle partitions, see ``plans/pipeline.py``).
    """
    return sql_conf(
        spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": UDF_ADVISORY_BYTES}
    )


def edges_from_scores(scores: DataFrame, threshold: float) -> DataFrame:
    """edges(src, dst): pairs whose score clears the operating threshold
    (``evaluation_metrics.py:28-33``: ``score >= t``)."""
    return scores.filter(F.col("score") >= F.lit(float(threshold))).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
