"""Unit tests: normalization (P1/P2), Levenshtein ratio (F6), hashing,
vector exprs — SURVEY.md §5 test plan item 1."""

import math

import pytest
from pyspark.sql import functions as F

from largeea_spark.functions.levenshtein import lcs_len, levenshtein_ratio, ratio_py
from largeea_spark.functions.names import (
    normalize_name,
    strip_uri_prefix,
    underscore_token_set,
)
from largeea_spark.functions.vectors import cosine_expr, dot_expr, l2_normalize_expr
from largeea_spark.functions.hashing import word_ngrams, char_shingles


# --- Levenshtein ratio: pinned values from python-Levenshtein semantics
# (FIXTURES.md §4: ratio = (len1+len2−dist₂)/(len1+len2), sub cost 2,
#  == 2·LCS/(len1+len2); `text_utils.py:277-279`).
PINNED = [
    ("abc", "abc", 1.0),
    ("abc", "", 0.0),
    ("", "", 1.0),
    ("ab", "ba", 0.5),
    ("kitten", "sitting", 2 * 4 / 13),
    ("Hello world", "Hello world", 1.0),
    ("Great_River_1", "Grèat_River_1", 2 * 12 / 26),
    ("abcd", "bcda", 2 * 3 / 8),  # LCS("abcd","bcda")=3 ("bcd")
    ("résumé", "resume", 2 * 4 / 12),
]


def test_ratio_py_pinned():
    for a, b, want in PINNED:
        assert math.isclose(ratio_py(a, b), want, abs_tol=1e-12), (a, b)


def test_lcs_len_basic():
    assert lcs_len("abcbdab", "bdcaba") == 4
    assert lcs_len("", "xyz") == 0
    assert lcs_len("same", "same") == 4


def test_levenshtein_ratio_udf(spark):
    df = spark.createDataFrame([(a, b) for a, b, _ in PINNED], "a string, b string")
    got = df.select(levenshtein_ratio("a", "b").alias("r")).collect()
    for row, (_, _, want) in zip(got, PINNED):
        assert math.isclose(row.r, want, abs_tol=1e-12)


# --- P1/P2 normalization parity (`text_utils.py:21,92-130`)
def test_strip_uri_prefix(spark):
    rows = [
        ("http://dbp.example/resource/Albert_Einstein", "Albert_Einstein"),
        ("https://fr.dbpedia.org/resource/Marie_Curie", "Marie_Curie"),
        ("no_prefix_here", "no_prefix_here"),
        ("http://a.b/x/y/z", "y/z"),  # prefix match ends after first path seg
    ]
    df = spark.createDataFrame(rows, "uri string, want string")
    got = df.select(strip_uri_prefix("uri").alias("g"), "want").collect()
    for r in got:
        assert r.g == r.want


def test_normalize_punct(spark):
    df = spark.createDataFrame(
        [("http://dbp.example/resource/A.B_(C)-D",)], "uri string"
    )
    got = df.select(normalize_name("uri", True).alias("n")).first().n
    # '.', '(', ')', '-' → space; '_' preserved; no collapsing/lowercase
    assert got == "A B_ C  D"


def test_underscore_token_set(spark):
    df = spark.createDataFrame([("Great_River_1",), ("Solo",)], "n string")
    got = [r.t for r in df.select(underscore_token_set("n").alias("t")).collect()]
    assert got[0] == ["Great", "River", "1"]
    assert got[1] == ["Solo"]


# --- vector exprs
def test_vector_exprs(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [1.0, 0.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dot_expr("a", "b").alias("dot"),
        cosine_expr("a", "b").alias("cos"),
        l2_normalize_expr("a").alias("an"),
    ).first()
    assert math.isclose(row.dot, 3.0)
    assert math.isclose(row.cos, 0.6)
    assert math.isclose(row.an[0], 0.6) and math.isclose(row.an[1], 0.8)


def test_ngrams_and_shingles(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"], "abcdef")],
                               "toks array<string>, s string")
    row = df.select(
        word_ngrams("toks", 3).alias("g"), char_shingles("s", 5).alias("sh")
    ).first()
    assert row.g == ["a b c", "b c d"]
    assert row.sh == ["abcde", "bcdef"]


# --- MinHash band keys: the one-SQL-text plan vs the Column-API build
def _band_keys_columns(df, id_col, tok_col, num_perm, bands, rows):
    """The Column-expression construction the SQL text replaced: explode
    distinct tokens, num_perm min(xxhash64(i, tok)) aggregates into an
    array signature, then one xxhash64(b, sig[b·rows..]) struct per band."""
    toks = df.select(F.col(id_col), F.explode(F.array_distinct(F.col(tok_col))).alias("tok"))
    wide = toks.groupBy(id_col).agg(
        *[F.min(F.xxhash64(F.lit(i), F.col("tok"))).alias(f"h{i}") for i in range(num_perm)]
    )
    sig = wide.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b), *[F.col("sig")[b * rows + r] for r in range(rows)]).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*entries)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


@pytest.mark.parametrize("id_col", ["id", "doc_id"])
@pytest.mark.parametrize("num_perm,bands,rows", [(128, 32, 4), (64, 16, 4)])
def test_explode_band_keys_matches_column_build(spark, id_col, num_perm, bands, rows):
    from largeea_spark.functions.hashing import explode_band_keys

    df = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "alpha", "beta"]),  # duplicate tokens
            (2, []),                                  # no signature
            (3, ["Łódź", "東京", "Zürich"]),          # non-ASCII
            (4, ["alpha", "beta"]),                   # same set as 1
            (5, ["x"]),
        ],
        f"{id_col} long, toks array<string>",
    )
    got = explode_band_keys(df, id_col, "toks", num_perm, bands, rows)
    want = _band_keys_columns(df, id_col, "toks", num_perm, bands, rows)
    assert got.columns == [id_col, "band", "key"]
    g = {tuple(r) for r in got.collect()}
    assert g == {tuple(r) for r in want.collect()}
    assert len(g) == 4 * bands  # doc 2 drops out; 1 and 4 share keys
    assert {k for i, _, k in g if i == 1} == {k for i, _, k in g if i == 4}
