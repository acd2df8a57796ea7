"""Local replica of the driver's DuckDB oracle check: run every
``queries()`` entry and its ``oracle_sql()`` twin at sf0.001, compare
row count + column names + order-insensitive value multiset."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # EXACT — no rounding: the driver hashes raw values, so a
        # float that differs past 6 decimals (e.g. a DuckDB round()
        # on REAL returning the widened float32) must fail here too,
        # not only in the round's CORRECTNESS file. Queries are
        # responsible for rounding on BOTH sides (_r6 / SQL round).
        return repr(v)
    if isinstance(v, bool):
        return int(v)
    return v


def _multiset(rows, cols):
    out = []
    for row in rows:
        d = dict(zip(cols, row)) if not hasattr(row, "asDict") else row.asDict()
        out.append(tuple(_norm(d[c]) for c in sorted(cols)))
    return sorted(out)


ORACLE = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(spark, ddb, name):
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = sdf.collect()

    res = ddb.execute(ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: columns {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: {len(spark_rows)} vs {len(duck_rows)} rows"
    )
    ms, md = _multiset(spark_rows, spark_cols), _multiset(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ms, md) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_registry_within_driver_cap_and_softtfidf_family_inside():
    """The correctness driver evaluates at most 50 queries in registry
    order; every registered query must sit inside that window (the
    registry module raises at import past the cap — this pins the cap
    value), the soft-TFIDF family (k8/k9/k10) included, and every query
    has an oracle."""
    from poi_name_matching_spark.queries import _DRIVER_QUERY_CAP

    names = list(ALL_QUERIES)
    assert len(names) <= _DRIVER_QUERY_CAP == 50
    assert {
        "k8_softtfidf_pairs",
        "k9_restricted_softtfidf_pairs",
        "k10_semantic_softtfidf_pairs",
    } <= set(names)
    assert set(ALL_QUERIES) == set(ORACLE)


@pytest.mark.parametrize(
    "name",
    [
        "k_char_kernels_pairs",
        "k5_jaccard_pairs",
        "k6_count_cosine_pairs",
        "score_block_pairs_lev",
        "k8_softtfidf_pairs",
        "k10_semantic_softtfidf_pairs",
    ],
)
def test_kernel_queries_run_the_scoring_udf(spark, name):
    """The kernel columns of these contract queries come from the
    pipeline's scoring UDF, so oracle parity checks the code that writes
    every scores stage, not a second implementation beside it."""
    plan = ALL_QUERIES[name](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
    assert "sim_scores_udf" in plan
    for twin in (
        "levenshtein(",
        "array_intersect(",
        "array_union(",
        "jaro_winkler_udf",
        "cosine_count_udf",
    ):
        assert twin not in plan, f"{name}: {twin} in the analyzed plan"


def test_registry_over_cap_raises_with_explicit_drop_list():
    """Adding a 51st query must FAIL LOUDLY at registration, naming
    exactly which tail queries would fall outside the driver's
    evaluation window — never silently evict an oracle row. (The
    eviction order is registration order: the tail past the cap.) The
    registry is first padded to the cap, so the check holds however
    many queries exist."""
    import pytest

    from poi_name_matching_spark import queries as qmod

    snapshot_q = dict(qmod.QUERIES)
    snapshot_o = dict(qmod.ORACLE)
    try:
        for i in range(qmod._DRIVER_QUERY_CAP - len(snapshot_q)):
            qmod.QUERIES[f"zz_pad_{i:02d}"] = lambda spark, sf_dir: None
        qmod.QUERIES["zz_one_past_the_cap"] = lambda spark, sf_dir: None
        qmod.ORACLE["zz_one_past_the_cap"] = "SELECT 1 AS x"
        with pytest.raises(RuntimeError, match="zz_one_past_the_cap"):
            qmod._check_driver_cap()
    finally:
        qmod.QUERIES.clear()
        qmod.QUERIES.update(snapshot_q)
        qmod.ORACLE.clear()
        qmod.ORACLE.update(snapshot_o)
    # the restore keeps the registry usable and at the cap
    assert list(qmod.QUERIES) == list(snapshot_q)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["component_id", "n_members"]
