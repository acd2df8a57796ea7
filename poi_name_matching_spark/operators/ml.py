"""ML ensemble over the similarity feature matrix (SURVEY.md §2.9).

Reference: ``load_data/ml_similarity_metrics.py:567-647`` trains THREE
models on the per-pair feature matrix with 5-fold CV:

* ``RandomForestClassifier(n_estimators=300, criterion="entropy",
  random_state=seed)`` (:645) → spark.ml ``RandomForestClassifier``
  with the same forest size / impurity / seed;
* ``xgboost.XGBClassifier(random_state=seed)`` (:646) → spark.ml
  ``GBTClassifier`` (the JVM gradient-boosted-tree analog; default 100
  rounds to match xgboost's default ``n_estimators=100``);
* ``MLPClassifier(hidden_layer_sizes=(100, 50, 30, 20))`` (:647) →
  spark.ml ``MultilayerPerceptronClassifier`` with layers
  ``[n_features, 100, 50, 30, 20, 2]``.

Feature matrix (``:413-478``): the kernel columns plus ``tlen_ratio``
(``add_tokencount_to_df``), the spatial ``distance`` when present
(``add_distance_df``), and the per-dimension embedding delta
``dim0..dimN`` (``add_we_to_df``: v = emb_right - emb_left).
:func:`assemble_features` builds the same matrix distributed — deltas
ride as ONE vector column (``array_to_vector``) instead of N scalar
columns, which VectorAssembler flattens identically.

Splits are by deterministic hash (reproducible on any partitioning,
unlike randomSplit); the threshold classifier remains the primary
operating point — this is the optional ensemble path, trained
distributed (no sklearn/xgboost dependency).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_FEATURES = [
    "levenshtein",
    "jaro",
    "jaro_winkler",
    "jaccard",
    "cosine",
    "tfidf",
    "softtfidf",
    "emb_cosine",
]

#: reference feature-matrix extras (ml_similarity_metrics.py:413-478)
EXTENDED_FEATURES = DEFAULT_FEATURES + ["tlen_l", "tlen_r", "tlen_ratio"]

MODEL_KINDS = ("rf", "gbt", "mlp")


def assemble_features(
    scores: DataFrame,
    signatures: DataFrame,
    include_deltas: bool = True,
    distance_col: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """scores(left_id, right_id, <kernels...>) + signatures(conv_id,
    tokens[, emb]) → (augmented DataFrame, feature column list).

    Adds the reference's non-kernel features: token counts + ratio
    (K17), optional spatial distance passthrough, and the embedding
    delta vector (K18) as column ``emb_delta`` (requires ``emb`` on the
    signatures — see ``scoring.attach_embeddings``)."""
    has_emb = include_deltas and "emb" in signatures.columns
    sig_cols = [
        F.col("conv_id"),
        F.size("tokens").alias("_tlen"),
    ] + ([F.col("emb").alias("_emb")] if has_emb else [])
    sig = signatures.select(*sig_cols)
    left = sig.select(
        F.col("conv_id").alias("left_id"),
        F.col("_tlen").alias("tlen_l"),
        *([F.col("_emb").alias("_emb_l")] if has_emb else []),
    )
    right = sig.select(
        F.col("conv_id").alias("right_id"),
        F.col("_tlen").alias("tlen_r"),
        *([F.col("_emb").alias("_emb_r")] if has_emb else []),
    )
    out = scores.join(left, "left_id").join(right, "right_id")
    # reference ratio = max/min (add_tokencount_to_df); guard min=0
    out = out.withColumn(
        "tlen_ratio",
        F.when(
            F.least("tlen_l", "tlen_r") > 0,
            F.greatest("tlen_l", "tlen_r").cast("double")
            / F.least("tlen_l", "tlen_r").cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    features = [c for c in EXTENDED_FEATURES if c in out.columns]
    if distance_col and distance_col in scores.columns:
        features.append(distance_col)
    if has_emb:
        from pyspark.ml.feature import VectorSizeHint
        from pyspark.ml.functions import array_to_vector

        delta = F.zip_with("_emb_r", "_emb_l", lambda y, x: y - x)
        out = out.withColumn("emb_delta", array_to_vector(delta)).drop(
            "_emb_l", "_emb_r"
        )
        # VectorAssembler(handleInvalid="keep") needs size metadata for
        # vector columns; the embedding dim is fixed per signatures table.
        # Filter nulls BEFORE first(): a bare first() reads one arbitrary
        # row, so a single null emb would abort the whole job
        # nondeterministically depending on which partition answered —
        # and unlike a max(size) aggregate, first() stops at the first
        # surviving row instead of scanning the table for a constant.
        # (size(NULL) is -1 under legacy sizeOfNull semantics — the < 0
        # guard keeps that spelling out too.)
        dim_row = (
            signatures.filter(F.col("emb").isNotNull())
            .select(F.size("emb"))
            .first()
        )
        if dim_row is None or dim_row[0] is None or dim_row[0] < 0:
            raise ValueError(
                "assemble_features: signatures table is empty (or emb is "
                "null in every row) — cannot derive the embedding "
                "dimension for VectorSizeHint; pass a signatures table "
                "with at least one non-null emb"
            )
        dim = dim_row[0]
        out = VectorSizeHint(
            inputCol="emb_delta", size=int(dim), handleInvalid="error"
        ).transform(out)
        features.append("emb_delta")
    return out, features


def make_classifier(
    kind: str,
    label_col: str = "match",
    seed: int = 0,
    n_trees: int = 300,
    gbt_iters: int = 100,
    mlp_layers: tuple[int, ...] = (100, 50, 30, 20),
    n_features: int | None = None,
):
    """One reference ensemble member as a spark.ml estimator. ``mlp``
    requires ``n_features`` (input layer width)."""
    if kind == "rf":
        from pyspark.ml.classification import RandomForestClassifier

        return RandomForestClassifier(
            numTrees=n_trees,
            impurity="entropy",
            labelCol=label_col,
            featuresCol="features",
            seed=seed,
        )
    if kind == "gbt":
        from pyspark.ml.classification import GBTClassifier

        return GBTClassifier(
            maxIter=gbt_iters,
            labelCol=label_col,
            featuresCol="features",
            seed=seed,
        )
    if kind == "mlp":
        from pyspark.ml.classification import MultilayerPerceptronClassifier

        if n_features is None:
            raise ValueError("mlp requires n_features for the input layer")
        return MultilayerPerceptronClassifier(
            layers=[int(n_features), *mlp_layers, 2],
            labelCol=label_col,
            featuresCol="features",
            seed=seed,
        )
    raise ValueError(f"unknown model kind {kind!r}; expected one of {MODEL_KINDS}")


def _assembled(labeled_scores: DataFrame, feature_cols: list[str] | None):
    from pyspark.ml.feature import VectorAssembler

    feature_cols = feature_cols or [
        c for c in DEFAULT_FEATURES if c in labeled_scores.columns
    ]
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="keep"
    )
    return assembler.transform(labeled_scores), feature_cols


def _vector_width(data: DataFrame) -> int:
    row = data.select("features").first()
    if row is None or row["features"] is None:
        raise ValueError(
            "empty feature table — MLP needs at least one row to size "
            "its input layer"
        )
    return len(row["features"])


def _fit(est, train: DataFrame):
    """``est.fit(train)`` without its training summary. The summary holds
    the SparkSession, and ``transform`` serializes the model into its
    task closure; under Spark 4.1 a session that has run
    ``DataFrame.observe`` (every checkpoint commit does) no longer
    serializes, because its ObservationManager is not Serializable.
    ``copy()`` drops the summary, which nothing here reads."""
    return est.fit(train).copy()


def hash_split(df: DataFrame, key_cols: list[str], test_fraction: float = 0.2):
    """Deterministic train/test split: pmod(xxhash64(keys), 100) —
    stable across runs and partitionings (reference uses
    train_test_split(seed=0), ml_similarity_metrics.py:644)."""
    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(100))
    test = df.filter(bucket < int(test_fraction * 100))
    train = df.filter(bucket >= int(test_fraction * 100))
    return train, test


def train_model(
    labeled_scores: DataFrame,
    kind: str = "rf",
    feature_cols: list[str] | None = None,
    label_col: str = "match",
    seed: int = 0,
    **estimator_kwargs,
):
    """Returns (model, test_predictions DataFrame) for one ensemble
    member. ``labeled_scores`` is the scores stage output joined with
    labels (labels 2/3 already dropped per baseline.py:124-125)."""
    data, _ = _assembled(labeled_scores, feature_cols)
    train, test = hash_split(data, ["left_id", "right_id"])
    n_features = _vector_width(train) if kind == "mlp" else None
    est = make_classifier(
        kind, label_col=label_col, seed=seed, n_features=n_features, **estimator_kwargs
    )
    model = _fit(est, train)
    preds = model.transform(test).select(
        "left_id",
        "right_id",
        label_col,
        F.col("prediction").cast("int").alias("pred"),
    )
    return model, preds


def train_random_forest(
    labeled_scores: DataFrame,
    feature_cols: list[str] | None = None,
    label_col: str = "match",
    n_trees: int = 300,
    seed: int = 0,
):
    """Back-compat wrapper: the RF member only."""
    return train_model(
        labeled_scores,
        kind="rf",
        feature_cols=feature_cols,
        label_col=label_col,
        seed=seed,
        n_trees=n_trees,
    )


def cross_validate(
    labeled_scores: DataFrame,
    feature_cols: list[str] | None = None,
    label_col: str = "match",
    n_folds: int = 5,
    kind: str = "rf",
    seed: int = 0,
    **estimator_kwargs,
) -> list[dict]:
    """k-fold CV (reference ``validateModel``, ml_similarity_metrics.py:
    76-154): deterministic hash folds, per-fold P/R/F1/MCC from the
    distributed confusion aggregate. Returns one metrics dict per fold."""
    from .evaluation import confusion_counts, metrics_from_counts

    data, _ = _assembled(labeled_scores, feature_cols)
    fold = F.pmod(F.xxhash64("left_id", "right_id"), F.lit(n_folds))
    data = data.withColumn("_fold", fold).cache()
    n_features = _vector_width(data) if kind == "mlp" else None
    out = []
    for k in range(n_folds):
        train = data.filter(F.col("_fold") != k)
        test = data.filter(F.col("_fold") == k)
        est = make_classifier(
            kind,
            label_col=label_col,
            seed=seed,
            n_features=n_features,
            **estimator_kwargs,
        )
        model = _fit(est, train)
        preds = model.transform(test).withColumn(
            "pred", F.col("prediction").cast("int")
        )
        row = confusion_counts(preds, label_col=label_col).first()
        out.append(
            {"fold": k, "model": kind, **metrics_from_counts(
                row["tp"], row["fp"], row["fn"], row["tn"]
            ).as_dict()}
        )
    data.unpersist()
    return out


def tree_feature_importances(
    model, data: DataFrame, feature_cols: list[str] | None = None
) -> list[dict]:
    """Per-feature importance mass from a fitted tree model — the
    distributed analog of the reference's SHAP bar plots for RF/GBT
    (``ml_similarity_metrics.py:209-287``: ``TreeExplainer`` →
    ``summary_plot(plot_type="bar")``, i.e. mean |SHAP| per feature).

    spark.ml tree models expose normalized split-gain importances per
    assembled vector SLOT (``model.featureImportances``); slots are
    mapped back to input columns via the assembler's ML-attribute
    metadata on ``data`` (a vector input like ``emb_delta`` occupies
    ``dim`` slots, which are summed back into one row — the same
    roll-up the reference's bar plot applies to its per-dim delta
    columns). Driver-side work is O(n_slots) — no data moves.

    Returns ``[{"feature", "importance"}, ...]`` sorted descending.
    """
    imp = model.featureImportances
    meta = data.schema["features"].metadata.get("ml_attr", {}).get("attrs", {})
    slot_names: dict[int, str] = {}
    for group in meta.values():
        for attr in group:
            slot_names[attr["idx"]] = attr["name"]
    if not slot_names and feature_cols:
        slot_names = dict(enumerate(feature_cols))
    vector_sources = [
        c for c in (feature_cols or []) if c not in slot_names.values()
    ]
    totals: dict[str, float] = {}
    for idx in range(imp.size):
        name = slot_names.get(idx, f"slot_{idx}")
        for src in vector_sources:
            if name.startswith(src + "_"):
                name = src
                break
        totals[name] = totals.get(name, 0.0) + float(imp[idx])
    return [
        {"feature": k, "importance": v}
        for k, v in sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))
    ]


def permutation_importance(
    model,
    test: DataFrame,
    feature_cols: list[str],
    label_col: str = "match",
    id_cols: tuple[str, ...] = ("left_id", "right_id"),
    metric: str = "f1",
    seed: int = 0,
    n_buckets: int = 64,
) -> list[dict]:
    """Model-agnostic feature importance by permutation — the analog of
    the reference's ``KernelExplainer`` path for the MLP
    (``ml_similarity_metrics.py:292-321``), which tree importances
    can't cover. Importance of a feature = drop in the held-out metric
    when that feature's column is shuffled across rows (breaking its
    relationship to the label while keeping its marginal distribution).

    Distributed permutation without a global sort: rows are salted into
    ``n_buckets`` hash buckets and the column is permuted WITHIN each
    bucket (two per-bucket ``row_number`` orderings joined on rank —
    each bucket sorts independently, so no single-partition bottleneck
    at web scale; within-bucket shuffling is a standard estimator of
    the full permutation). Deterministic in (``seed``, ``id_cols``) on
    any partitioning. Cost: one window pair + one join + one model pass
    per feature — an audit-time op over the (already small) held-out
    split, not a pipeline stage.

    Returns ``[{"feature", "importance", "baseline", "permuted"}, ...]``
    sorted by importance descending; ``metric`` is any field of
    :class:`~poi_name_matching_spark.operators.evaluation.Metrics`
    (f1 / precision / recall / mcc).
    """
    from pyspark.sql import Window

    from .evaluation import confusion_counts, metrics_from_counts

    def _score(df: DataFrame) -> float:
        assembled, _ = _assembled(df, list(feature_cols))
        preds = model.transform(assembled).withColumn(
            "pred", F.col("prediction").cast("int")
        )
        row = confusion_counts(preds, label_col=label_col).first()
        m = metrics_from_counts(row["tp"], row["fp"], row["fn"], row["tn"])
        return float(getattr(m, metric))

    test = test.cache()
    baseline = _score(test)
    bucket = F.pmod(F.xxhash64(*id_cols, F.lit(seed)), F.lit(n_buckets))
    w_orig = Window.partitionBy("_pb").orderBy(
        F.xxhash64(*id_cols, F.lit(seed + 1))
    )
    w_perm = Window.partitionBy("_pb").orderBy(
        F.xxhash64(*id_cols, F.lit(seed + 2))
    )
    out = []
    for col in feature_cols:
        donor = (
            test.withColumn("_pb", bucket)
            .select("_pb", F.row_number().over(w_perm).alias("_rn"),
                    F.col(col).alias("_donor"))
        )
        permuted = (
            test.drop(col)
            .withColumn("_pb", bucket)
            .withColumn("_rn", F.row_number().over(w_orig))
            .join(donor, ["_pb", "_rn"])
            .withColumnRenamed("_donor", col)
            .drop("_pb", "_rn")
        )
        score = _score(permuted)
        out.append(
            {
                "feature": col,
                "importance": baseline - score,
                "baseline": baseline,
                "permuted": score,
            }
        )
    test.unpersist()
    return sorted(out, key=lambda r: (-r["importance"], r["feature"]))
