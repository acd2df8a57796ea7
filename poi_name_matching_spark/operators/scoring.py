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
* **Embeddings are computed once per signature** (distinct conv), not per
  pair: a pandas-UDF projection on the signatures table, then carried
  through the pair join; pair-level cosine is a native JVM higher-order
  expression. The reference re-embeds per pair (``semantic_soft_tfidf.py:
  92-93``) — same anti-pattern class.
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

Native (WholeStageCodegen) kernels: levenshtein, token-set jaccard,
embedding cosine, count-cosine denominator-free guards. Python-only
kernels (jaro, jaro-winkler, tf-idf, soft-TFIDF family) run in one
Arrow-vectorized pandas UDF.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.embedding import HashEmbedder
from ..functions.spark_udfs import (
    cosine_array,
    jaccard_tokens,
    levenshtein_sim,
    make_embed_udf,
    make_sim_scores_udf,
    whitespace_tokens,
)

#: kernels with a native JVM expression (stay in codegen)
NATIVE_KERNELS = ["levenshtein", "jaccard", "emb_cosine"]
#: kernels that require the pandas UDF
UDF_KERNELS = ["jaro", "jaro_winkler", "cosine", "tfidf", "softtfidf", "semantic_softtfidf"]

ALL_KERNELS = NATIVE_KERNELS + UDF_KERNELS

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

    kernels: tuple[str, ...] = tuple(ALL_KERNELS)
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
    unknown = [k for k in cfg.kernels if k not in ALL_KERNELS]
    if unknown:
        raise ValueError(
            f"unknown kernel(s) {unknown}; available: {list(ALL_KERNELS)}"
        )
    if cfg.score_kernel not in cfg.kernels:
        raise ValueError(
            f"score_kernel {cfg.score_kernel!r} is not among the "
            f"selected kernels {list(cfg.kernels)} — the score column "
            "must be one of the computed kernel columns"
        )
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

    need_emb = "emb_cosine" in cfg.kernels
    sig = attach_embeddings(signatures, embedder) if need_emb else signatures
    sig_cols = ["conv_id", "sig_text", "tokens"] + (["emb"] if need_emb else [])
    sig = sig.select(*sig_cols)

    left = sig.select(
        F.col("conv_id").alias("left_id"),
        F.col("sig_text").alias("l_text"),
        F.col("tokens").alias("l_tokens"),
        *([F.col("emb").alias("l_emb")] if need_emb else []),
    )
    right = sig.select(
        F.col("conv_id").alias("right_id"),
        F.col("sig_text").alias("r_text"),
        F.col("tokens").alias("r_tokens"),
        *([F.col("emb").alias("r_emb")] if need_emb else []),
    )
    # the SECOND join is hinted sort-merge: its shuffle leaves the UDF
    # input partitioned (and sorted) by right_id, co-locating every pair
    # that shares a right signature — the soft-TFIDF winner caches then
    # compute each (signature, term) loop exactly once per worker
    # REGARDLESS of worker count (an unhinted plan may broadcast the
    # signature side at small scale, scattering same-signature pairs and
    # diluting hit rates as parallelism grows). At 100 TB both sides are
    # big and this is the plan Catalyst picks anyway.
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
    # equal-token pairs, corrupting the ML feature matrix.
    kernel_cols = list(cfg.kernels)
    udf_fields = [k for k in kernel_cols if k in UDF_KERNELS]
    scored = joined
    native_exprs: dict[str, F.Column] = {}
    if "levenshtein" in kernel_cols:
        native_exprs["levenshtein"] = levenshtein_sim(F.col("l_text"), F.col("r_text"))
    if "jaccard" in kernel_cols:
        # reference default tokenizer for jaccard is whitespace split of
        # the RAW text, not the canonical normalizer (token_based_func.py:150)
        native_exprs["jaccard"] = jaccard_tokens(
            F.array_distinct(whitespace_tokens(F.col("l_text"))),
            F.array_distinct(whitespace_tokens(F.col("r_text"))),
        )
    if "emb_cosine" in kernel_cols:
        native_exprs["emb_cosine"] = cosine_array(F.col("l_emb"), F.col("r_emb"))

    if udf_fields:
        suite = make_sim_scores_udf(
            df_map_bc,
            corpus_size_bc,
            embedder,
            softtfidf_threshold=cfg.softtfidf_threshold,
            semantic_char_threshold=cfg.semantic_char_threshold,
            semantic_threshold=cfg.semantic_threshold,
            fields=udf_fields,
        )
        scored = scored.withColumn(
            "_s",
            suite(
                F.col("l_text"), F.col("r_text"), F.col("l_tokens"), F.col("r_tokens")
            ),
        )

    select_cols = [F.col("left_id"), F.col("right_id")]
    for k in kernel_cols:
        if k in native_exprs:
            select_cols.append(native_exprs[k].alias(k))
        else:
            select_cols.append(F.col(f"_s.{k}").alias(k))
    out = scored.select(*select_cols)
    return out.withColumn("score", F.col(cfg.score_kernel))


def score_pairs_chunked(
    spark: SparkSession,
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: ScoringConfig,
    n_chunks: int,
    staging_dir: str,
    resume_token: str | None = None,
) -> DataFrame:
    """Bounded-scratch-disk scoring: identical output to
    :func:`score_pairs`, but computed as ``n_chunks`` independent Spark
    jobs so the stage's dominant disk consumer — the wide
    pairs×signatures exchange feeding the kernel UDF (~620 B/pair of
    zstd-compressed shuffle; measured 64 GB for the 103.3 M-pair
    1 M-conversation endurance corpus, enough to exhaust a single
    node's scratch volume) — exists for only ``|pairs| / n_chunks``
    rows at a time.

    Mechanics: chunk membership is ``pmod(xxhash64(left_id, right_id),
    n_chunks)`` — a pure function of the pair, independent of
    partitioning, so the union of chunk outputs is EXACTLY the unchunked
    relation (scores are per-pair pure functions given the corpus-level
    df map, which is built ONCE over the FULL corpus here and shared
    across chunks — chunking must not perturb idf). Each chunk's narrow
    scores relation is appended to ``staging_dir`` as its own write job;
    the returned DataFrame reads the staging directory back.

    Costs and knobs:

    * ``n_chunks`` extra scans of the pairs+signatures inputs — cheap
      when both are checkpoint-backed parquet (the batch pipeline's
      shape), wasteful if they are expensive un-materialized plans.
    * a finished chunk's shuffle files are reclaimed by the JVM's
      ContextCleaner only after the shuffle dependency is GC'd; this
      loop drops its references per-iteration, but on long chunks set
      ``spark.cleaner.periodicGC.interval`` below the per-chunk wall
      (e.g. ``5min``) so reclamation actually lands between chunks and
      peak scratch stays ~2 chunks' worth.
    * the scores relation is written twice (staging + the stage store's
      checkpoint write) — a few GB of narrow rows against the tens of
      wide GB this bounds.

    Crash resume: each chunk is written to its own ``chunk_<i>/``
    subdirectory (its ``_SUCCESS`` marker is the chunk's commit record),
    and ``staging_dir/_staging_meta.json`` pins the caller-supplied
    ``resume_token`` — an identity for (pairs, signatures, scoring
    config); the pipeline passes its scores cache key. On re-entry with
    a matching token and ``n_chunks``, committed chunks are skipped and
    only the in-flight/remaining ones run: a killed driver (the
    1 M-conversation run lost ~90 min of scoring to a machine restart)
    costs at most one chunk. Soundness: given identical inputs every
    chunk's output is deterministic (pure per-pair kernels under a df
    map that is itself a pure aggregate of the signatures), so resumed
    and fresh runs are bit-identical. A missing/mismatched token starts
    clean.
    """
    import json as _json
    import os as _os
    import shutil as _shutil

    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    if n_chunks == 1:
        return score_pairs(spark, pairs, signatures, cfg)

    meta_path = _os.path.join(staging_dir, "_staging_meta.json")
    done: set[int] = set()
    if resume_token is not None and _os.path.exists(meta_path):
        try:
            with open(meta_path) as f:
                meta = _json.load(f)
        except (OSError, ValueError):
            meta = None
        if (
            meta
            and meta.get("resume_token") == resume_token
            and meta.get("n_chunks") == n_chunks
        ):
            done = {
                i
                for i in range(n_chunks)
                if _os.path.exists(
                    _os.path.join(staging_dir, f"chunk_{i}", "_SUCCESS")
                )
            }
    if not done:
        # fresh start (or unverifiable residue): clear and re-pin identity
        _shutil.rmtree(staging_dir, ignore_errors=True)
        _os.makedirs(staging_dir, exist_ok=True)
        with open(meta_path, "w") as f:
            _json.dump({"resume_token": resume_token, "n_chunks": n_chunks}, f)

    todo = [i for i in range(n_chunks) if i not in done]
    if todo:
        # shared per-corpus state, built once (df map over the FULL corpus)
        if DF_MAP_KERNELS & set(cfg.kernels):
            df_map_bc, corpus_size_bc = broadcast_df_map(
                spark, signatures, min_df=cfg.min_df, max_vocab=cfg.max_vocab
            )
        else:
            sc = spark.sparkContext
            df_map_bc, corpus_size_bc = sc.broadcast({}), sc.broadcast(0)
        embedder = HashEmbedder(dim=cfg.embed_dim, seed=cfg.embed_seed)
        chunk_of = F.pmod(
            F.xxhash64(F.col("left_id"), F.col("right_id")), F.lit(n_chunks)
        )
        import time as _time

        for i in todo:
            t_chunk = _time.monotonic()
            scored = score_pairs(
                spark,
                pairs.filter(chunk_of == i),
                signatures,
                cfg,
                df_map_bc=df_map_bc,
                corpus_size_bc=corpus_size_bc,
                embedder=embedder,
            )
            # overwrite: a crashed chunk attempt left no _SUCCESS, so its
            # partial files are replaced wholesale on the retry
            scored.write.mode("overwrite").parquet(
                _os.path.join(staging_dir, f"chunk_{i}")
            )
            del scored  # release plan → chunk shuffle becomes GC-reclaimable
            # record the chunk's compute wall in the staging meta: the
            # stage manifest's wall_ms times only the staging→stage
            # promote (write() starts its clock AFTER compute() — i.e.
            # after this whole loop — returned), so without these the
            # scoring stage's real cost is invisible to reporting.
            # Atomic rewrite (tmp+rename), preserving the resume token.
            try:
                with open(meta_path) as f:
                    meta_now = _json.load(f)
            except (OSError, ValueError):
                meta_now = {"resume_token": resume_token, "n_chunks": n_chunks}
            walls = meta_now.setdefault("chunk_walls_s", {})
            walls[str(i)] = round(_time.monotonic() - t_chunk, 1)
            tmp_meta = meta_path + ".tmp"
            with open(tmp_meta, "w") as f:
                _json.dump(meta_now, f)
            _os.replace(tmp_meta, meta_path)
    # recursiveFileLookup: flat file listing under the chunk_<i> subdirs
    # (no partition-column inference; _staging_meta.json is `_`-prefixed
    # and therefore invisible to the file index)
    return spark.read.option("recursiveFileLookup", "true").parquet(staging_dir)


@contextmanager
def udf_stage_parallelism(spark: SparkSession, advisory_bytes: str = "1m"):
    """Scope a small AQE advisory partition size around the ACTION that
    materializes a UDF-heavy stage (the config is read at execution
    time, so it must wrap the action, not the plan construction).

    Why: AQE's post-shuffle partition coalescing is BYTE-based and blind
    to per-row Python-UDF cost. The scoring stage's ~KB pair rows each
    cost ~ms in the kernel suite, so coalescing 128 shuffle partitions
    down to defaultParallelism leaves a handful of straggler tasks
    pinning the makespan with most cores idle — measured 58 s → 36.6 s
    (+59%) at local[16] on the 130k-pair fixture when scoped to 1 MB.
    At 100 TB the same rule holds: partition UDF stages by row/compute
    budget, not bytes; relational stages keep the session default.

    Nested scopes: each scope saves the value it finds and restores it on
    exit, so an inner exit puts back the outer scope's advisory value and
    the outermost exit puts back the session's own. Concurrent use from
    multiple *threads* on one session shares the SQL conf by Spark's own
    design and is not supported here.
    """
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        saved = spark.conf.get(key)
    except Exception:
        saved = None
    spark.conf.set(key, advisory_bytes)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def edges_from_scores(scores: DataFrame, threshold: float) -> DataFrame:
    """edges(src, dst): pairs whose score clears the operating threshold
    (``evaluation_metrics.py:28-33``: ``score >= t``)."""
    return scores.filter(F.col("score") >= F.lit(float(threshold))).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
