"""Helpers shared by the recorded-evidence scripts in this directory.

``_mk_spark`` builds the local session the scripts measure on,
``_force`` materializes every column of a DataFrame, ``SCORING_KERNELS``
is the scoring suite the recorded figures use, and ``_ensure_fixture``
writes the synthetic transcripts to parquet once per (size, seed).
Scripts import them as ``from _common import ...``: running
``python scripts/<name>.py`` puts this directory first on ``sys.path``.
"""

from __future__ import annotations


def _mk_spark(cpus: str, app: str, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    sp = shuffle_partitions or max(int(cpus) * 2, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _force(df) -> None:
    """Materialize EVERY column. count() is not enough: Catalyst prunes
    columns a count doesn't need, which would silently skip the scoring
    UDF — the noop sink consumes full rows."""
    df.write.format("noop").mode("overwrite").save()


#: the north-rule scoring suite (BASELINE.json: jaro-winkler,
#: levenshtein, token-set jaccard, embedding cosine) + the operating
#: kernel (tfidf) + soft-TFIDF (the repo flagship)
SCORING_KERNELS = (
    "levenshtein",
    "jaccard",
    "jaro_winkler",
    "emb_cosine",
    "tfidf",
    "softtfidf",
)


def _fixture_path(n_convs: int, seed: int) -> str:
    return f"/tmp/poi_bench_transcripts_n{n_convs}_s{seed}.parquet"


def _ensure_fixture(spark, n_convs: int, seed: int = 42) -> str:
    """Materialize the synthetic transcripts to parquet ONCE (untimed).
    The generator builds rows driver-side (fine for a fixture, wrong
    inside a timed stage span): benchmarks must measure the stage
    reading parquet — the production input shape — not the generator."""
    import os as _os

    path = _fixture_path(n_convs, seed)
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        from poi_name_matching_spark.data import transcripts_df

        transcripts_df(spark, n_convs=n_convs, seed=seed).write.mode(
            "overwrite"
        ).parquet(path)
    return path
