"""Tokenizer parity with the reference normalizer (FIXTURES.md §3).

The canonical pin is the reference's own example sentence
(``load_data/tokenizer.py:117``), worked through its documented steps:
lower -> ';'->space -> ascii-fold -> strip non-[\\sa-zA-Z0-9] -> split ->
drop filtered stopwords -> Snowball stem.
"""

from poi_name_matching_spark.functions.stopwords import FILTERED_STOPWORDS
from poi_name_matching_spark.functions.tokenize import (
    concat_token_list,
    tokenize_name,
    tokenize_on_space,
)


def test_reference_example_sentence():
    sent = (
        "He'l\"l0 and hÄéj! is . & mouse mice it's tov its friends friendly "
        "fairs fairly cafes both above china chinese dave laspadas"
    )
    assert tokenize_name(sent) == [
        "hell0", "haej", "mous", "mice", "tov", "friend", "friend",
        "fair", "fair", "cafe", "both", "abov", "china", "chines",
        "dave", "laspada",
    ]


def test_tokenize_on_space():
    assert tokenize_on_space("  Park  Avenue\tPizza \n") == ["Park", "Avenue", "Pizza"]
    assert tokenize_on_space("") == []


def test_semicolon_to_space():
    assert tokenize_name("pizza;pasta") == ["pizza", "pasta"]


def test_stopword_filter_is_pre_stem():
    # 'its' is a stopword (from "it's"); 'both' (len 4) is not filtered
    assert "both" not in FILTERED_STOPWORDS
    assert "its" in FILTERED_STOPWORDS
    assert tokenize_name("its both") == ["both"]


def test_accent_folding():
    assert tokenize_name("Café Zürich") == ["cafe", "zurich"]


def test_park_avenue():
    # soft-TFIDF walkthrough input (test_hybrid_func.py:430)
    assert tokenize_name("Park Avenue Pizza") == ["park", "avenu", "pizza"]
    assert tokenize_name("Park Ave Pizza") == ["park", "ave", "pizza"]


def test_concat_token_list_trailing_space():
    assert concat_token_list(["a", "b"]) == "a b "


def test_ws_class_is_exactly_python_backslash_s():
    """WS_CHARS must equal the full set of code points Python re's \\s
    matches on str — exhaustively scanned. Java regex and RE2 both
    define \\s as ASCII-only (and disagree with each other on \\x0b),
    which is why every engine-side split uses this explicit class."""
    import re
    import sys

    from poi_name_matching_spark.functions.tokenize import WS_CHARS, WS_CLASS

    expected = {
        chr(i) for i in range(sys.maxunicode + 1) if re.match(r"\s", chr(i))
    }
    assert set(WS_CHARS) == expected
    assert len(WS_CHARS) == len(set(WS_CHARS))
    # the class form must be usable verbatim as a Python regex equal to \s
    cls = re.compile(WS_CLASS)
    assert all(cls.match(c) for c in expected)
    assert not cls.match("x") and not cls.match("\u200b")  # ZWSP is NOT \s


def test_ws_class_split_parity_python_vs_duckdb():
    """The same WS_CLASS split must tokenize identically in Python re
    and DuckDB RE2 on exotic-whitespace input (the Spark side is pinned
    in test_whitespace_tokens_matches_re_findall below)."""
    import re

    import duckdb

    from poi_name_matching_spark.functions.tokenize import WS_CLASS

    texts = [
        "cafe\xa0bar",
        "one\u2028two\u3000three",
        "a\x0bb\x85c\u2009d",
        "\u1680lead ogham\u202f",
        "plain ascii words",
        "",
        "\t\n 　",
    ]
    con = duckdb.connect()
    for t in texts:
        got = con.execute(
            "SELECT list_filter(regexp_split_to_array(?, ?), x -> x <> '')",
            [t, WS_CLASS + "+"],
        ).fetchone()[0]
        assert got == re.findall(r"\S+", t), repr(t)


def test_whitespace_tokens_matches_re_findall(spark):
    """whitespace_tokens must equal re.findall(r'\\S+', s) EXACTLY —
    F.trim strips only spaces, so without the empty-token filter a
    tab/newline-adjacent text leaks a '' token and diverges from every
    DuckDB oracle's `t <> ''` filter (round-3 review finding)."""
    import re

    from pyspark.sql import functions as F

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
