"""Text statistics (``operators/textstats``), the Spark whitespace
tokenizer, embedding deltas and hot-block salting."""

import pytest
from pyspark.sql import functions as F

from poi_name_matching_spark.operators import textstats


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog near the river bank"),  # near dup
    (4, "a completely different document about database engines and spark"),
    (5, "spark structured streaming with watermarks and stateful operators"),
    (6, "the quick brown fox jumps over the lazy dog near the river"),  # near dup
    (7, "short"),
    (8, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_lang_id(spark):
    rows = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der Hund ist nicht in der Stadt und das ist gut"),
            (3, "le chat est dans la maison et il est pour les amis"),
            (4, "el perro es una mascota que vive con las personas"),
            (5, "zzz qqq xxx"),
        ],
        "id int, text string",
    )
    got = {
        r["id"]: r["lang"]
        for r in rows.select("id", textstats.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_features(spark, docs):
    out = {r["doc_id"]: r for r in textstats.quality_features(docs).collect()}
    assert out[1]["n_tokens"] == 13
    assert out[8]["n_tokens"] == 0 and out[8]["quality_score"] == 0.0
    assert out[1]["quality_score"] > out[7]["quality_score"]
    assert 0.0 <= out[1]["punct_ratio"] < 0.05
    assert abs(out[1]["stopword_ratio"] - 3 / 13) < 1e-9  # 'the' x3


def test_token_counts(spark, docs):
    out = docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("tc"),
        textstats.bpe_ish_token_count(F.col("text")).alias("bc"),
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by[1]["tc"] == 13
    assert by[8]["tc"] == 0
    assert by[1]["bc"] >= by[1]["tc"]  # subwords >= words


def test_fingerprint_and_winnowing(spark, docs):
    out = docs.select(
        "doc_id",
        textstats.fingerprint(F.col("text")).alias("fp"),
        textstats.winnow_fingerprints(F.col("text")).alias("wf"),
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by[1]["fp"] == by[2]["fp"]
    assert by[1]["fp"] != by[3]["fp"]
    # winnowing: near-dups share most fingerprints
    s1, s3, s4 = set(by[1]["wf"]), set(by[3]["wf"]), set(by[4]["wf"])
    overlap_near = len(s1 & s3) / len(s1 | s3)
    overlap_far = len(s1 & s4) / max(len(s1 | s4), 1)
    assert overlap_near > 0.6 > overlap_far


def test_winnowing_portable_matches_python_reference(spark, docs):
    """The portable winnow family (Arrow UDF, driver-oracle twin) must
    equal an independently-spelled pure-Python winnow over the same
    Horner/mod constants — including the short-text edge cases."""
    import re

    from poi_name_matching_spark.functions.tokenize import WS_CLASS
    from poi_name_matching_spark.operators.textstats import B1, M1

    k, window = 8, 4

    def ref_winnow(text: str) -> list[int]:
        s = re.sub(WS_CLASS + "+", " ", text.lower())
        grams = [s[i : i + k] for i in range(len(s) - k + 1)]
        if not grams:
            return []
        hs = []
        for g in grams:
            h = 0
            for ch in g:
                h = (h * B1 + ord(ch)) % M1
            hs.append(h)
        mins = [
            min(hs[i : i + window]) for i in range(max(len(hs) - window + 1, 1))
        ]
        return list(dict.fromkeys(mins))

    extra = spark.createDataFrame(
        [(100, "short"), (101, "exactly8"), (102, "nine char"), (103, "")],
        "doc_id long, text string",
    )
    out = (
        docs.select("doc_id", "text")
        .unionByName(extra)
        .select(
            "doc_id",
            "text",
            textstats.winnow_fingerprints(
                F.col("text"), hash_family="portable"
            ).alias("wf"),
        )
        .collect()
    )
    assert len(out) > 4
    for r in out:
        assert list(r["wf"]) == ref_winnow(r["text"]), r["doc_id"]


def test_embedding_deltas(spark):
    from poi_name_matching_spark.functions.spark_udfs import embedding_deltas

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.5, 1.0, 3.0])], "a array<double>, b array<double>"
    )
    r = df.select(embedding_deltas(F.col("a"), F.col("b")).alias("d")).first()
    assert r["d"] == [0.5, -1.0, 0.0]


def _hot_fixture(spark):
    """200 boilerplate docs sharing one hot 2-token prefix/shingle set +
    5 planted near-dup pairs with distinctive text."""
    rows = []
    for i in range(200):
        rows.append((i, f"common prefix boilerplate header text junk filler {i % 7}"))
    planted = []
    for j in range(5):
        a, b = 1000 + 2 * j, 1001 + 2 * j
        base = f"unique signal document number {j} about topic alpha beta gamma delta"
        rows.append((a, base))
        rows.append((b, base + " extra"))
        planted.append((a, b))
    return spark.createDataFrame(rows, "doc_id long, text string"), planted


def test_ngram_hot_bucket_salted_bounds(spark):
    docs, planted = _hot_fixture(spark)
    from poi_name_matching_spark.operators.blocking import salt_oversized

    toks = F.split(F.trim("text"), r"\s+")
    buckets = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("block_key"),
    )
    salted = salt_oversized(buckets, 20)
    sizes = salted.groupBy("block_key").count().collect()
    # ceil(200/20)=10 salts → expected ~20/bucket; hash unevenness bounded
    assert max(r["count"] for r in sizes) <= 40
    # membership preserved: salting moves rows, never drops them
    assert salted.count() == buckets.count()


def test_whitespace_tokens_matches_re_findall(spark):
    """whitespace_tokens must equal re.findall(r'\\S+', s) EXACTLY —
    F.trim strips only spaces, so without the empty-token filter a
    tab/newline-adjacent text leaks a '' token and diverges from every
    DuckDB oracle's `t <> ''` filter (round-3 review finding)."""
    import re

    from poi_name_matching_spark.functions.spark_udfs import whitespace_tokens

    rows = [
        (1, "foo bar baz\n"),
        (2, "\tlead tab"),
        (3, "a  b\t\nc d"),
        (4, "   "),
        (5, ""),
        (6, "\n\t \n"),
        (7, "plain words here"),
        # non-ASCII whitespace: Java \s would NOT split these — the
        # explicit WS_CLASS must (NBSP, line sep, ideographic space,
        # NEL, thin space) — plus \x0b, where Java and RE2 disagree
        (8, "cafe\xa0bar"),
        (9, "one\u2028two\u3000three"),
        (10, "a\x0bb\x85c\u2009d"),
        (11, "\u1680lead ogham\u202f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["t"])
        for r in df.select(
            "doc_id", whitespace_tokens(F.col("text")).alias("t")
        ).collect()
    }
    for i, s in rows:
        assert got[i] == re.findall(r"\S+", s), (i, got[i])
