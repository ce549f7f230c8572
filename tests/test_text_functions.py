"""Unit tests for the text/vector expression libraries (edge cases the
corpus-level oracle queries don't isolate)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    memo_col,
    quality_score,
    shingles,
    token_count,
    tokens,
)
from f1_data_engineering_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
)


def run1(spark, value, expr_builder, in_type="string"):
    df = spark.createDataFrame([(value,)], schema=f"x {in_type}")
    return df.select(expr_builder("x").alias("r")).collect()[0]["r"]


def test_tokens_and_counts(spark):
    assert run1(spark, "  Hello   WORLD  ", token_count) == 2
    assert run1(spark, "", token_count) == 0
    assert run1(spark, None, token_count) == 0
    assert run1(spark, "a b c d", token_count) == 4


def test_bpe_ish_counts(spark):
    # "it's 42 degrees!" -> it | 's | _42 | _degrees | !
    assert run1(spark, "it's 42 degrees!", bpe_ish_token_count) == 5
    assert run1(spark, "", bpe_ish_token_count) == 0


def test_language_id_votes(spark):
    assert run1(spark, "the cat and the dog is in that house", language_id) == "en"
    assert run1(spark, "der hund und die katze ist nicht hier", language_id) == "de"
    assert run1(spark, "zzz qqq xxx", language_id) == "und"
    # tie between en and de resolves to the earlier language (en)
    assert run1(spark, "the der", language_id) == "en"


def test_quality_score_bounds(spark):
    for text in ["", "x", "the quick brown fox jumps over the lazy dog " * 20,
                 "!!!! ???? ####"]:
        q = run1(spark, text, quality_score)
        assert 0.0 <= q <= 1.0
    assert run1(spark, "", quality_score) == 0.0
    good = run1(spark, "the quick brown fox jumps over the lazy dog and it is fine " * 10,
                quality_score)
    junk = run1(spark, "@@@@ #### $$$$ %%%%", quality_score)
    assert good > junk


def test_shingles(spark):
    got = run1(spark, "a b c d", lambda c: shingles(c, 3))
    assert got == ["a b c", "b c d"]
    # short docs -> single whole-text shingle
    assert run1(spark, "a b", lambda c: shingles(c, 3)) == ["a b"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("hello worlds",)],
        schema="x string",
    )
    fps = [r["r"] for r in df.select(doc_fingerprint("x").alias("r")).collect()]
    assert fps[0] == fps[1]  # whitespace/case-insensitive
    assert fps[0] != fps[2]


def test_vector_math(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], schema="a array<double>, b array<double>"
    )
    r = df.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()[0]
    assert r["d"] == pytest.approx(2 + 8 + 8)
    assert r["na"] == pytest.approx(3.0)
    assert r["cos"] == pytest.approx(1.0)
    # zero vector -> NULL similarity
    z = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], schema="a array<double>, b array<double>"
    )
    assert z.select(cosine_similarity("a", "b").alias("c")).collect()[0]["c"] is None


def test_stop_shingles_bounded_and_consistent(spark, sf_dir):
    from f1_data_engineering_spark.operators.textops import stop_shingle_stats
    from f1_data_engineering_spark.sources.registry import load_table

    rows = stop_shingle_stats(spark, sf_dir).collect()
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0 <= r["n_stop"] <= r["n_shingles"]
        assert 0.0 <= r["stop_fraction"] <= 1.0


def test_inverted_index_champions(spark, sf_dir):
    """Champion lists: df/total_tf consistent with a direct count, and
    champions are the top-K docs by (tf DESC, doc_id) for the term."""
    from f1_data_engineering_spark.operators import textops as TX
    from f1_data_engineering_spark.functions.text import tokens as tok_expr
    from f1_data_engineering_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = {r["term"]: r for r in TX.inverted_index(spark, sf_dir).collect()}
    assert rows
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tok_expr("text")).alias("term"))
        .groupBy("term", "doc_id")
        .count()
    )
    term = sorted(rows)[0]
    direct = tf.filter(F.col("term") == term).collect()
    r = rows[term]
    assert r["df"] == len(direct)
    assert r["total_tf"] == sum(d["count"] for d in direct)
    top = sorted(direct, key=lambda d: (-d["count"], d["doc_id"]))[: TX.CHAMPIONS_K]
    champs = [int(c) for c in r["champions"].split(",")] if r["champions"] else []
    assert sorted(champs) == sorted(d["doc_id"] for d in top)
    assert len(champs) <= TX.CHAMPIONS_K


def test_zipf_fit_slope_negative(spark, sf_dir):
    """Frequency must decay with rank: negative slope, intercept near
    the log of the top frequency, n_terms = vocabulary size."""
    from f1_data_engineering_spark.operators import textops as TX
    from f1_data_engineering_spark.functions.text import tokens as tok_expr
    from f1_data_engineering_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    r = TX.zipf_fit(spark, sf_dir).collect()[0]
    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tok_expr("text")).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert r["n_terms"] == vocab
    assert r["zipf_slope"] < 0


def test_source_overlap_reports_planted_mirror(spark, sf_dir):
    """Every (source, 'mirror') pair must report at least one shared
    content, and shared counts can never exceed the mirrored set."""
    from f1_data_engineering_spark.operators import textops as TX
    from f1_data_engineering_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = TX.source_overlap_matrix(spark, sf_dir).collect()
    assert rows, "planted mirror must produce overlap rows"
    sources = {
        r["source"]
        for r in load_table(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .collect()
    }
    mirror_pairs = [
        r for r in rows if "mirror" in (r["source_a"], r["source_b"])
    ]
    assert mirror_pairs
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 < r["shared_contents"] <= 25
        assert {r["source_a"], r["source_b"]} <= sources | {"mirror"}


def test_null_empty_text_parity_with_sql_twins(spark):
    """NULL / empty / whitespace-only documents must tokenize and
    shingle IDENTICALLY in the engine and its DuckDB SQL twins:
    all three → no tokens, no shingles (the '' shingle must never
    appear — it would alias every empty doc into one dedup bucket in
    one engine but not the other)."""
    import duckdb

    from f1_data_engineering_spark.functions.text import (
        shingles,
        token_count,
        tokens,
    )
    from f1_data_engineering_spark.operators.dedup import (
        _SQL_SHINGLES,
        _SQL_TOKS,
    )
    from pyspark.sql import functions as F

    cases = [(0, None), (1, ""), (2, "   "), (3, "one two"), (4, "a b c d")]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    sp = {
        r["doc_id"]: (list(r["t"]), list(r["sh"]), r["tc"])
        for r in df.select(
            "doc_id",
            tokens("text").alias("t"),
            shingles("text").alias("sh"),
            token_count("text").alias("tc"),
        ).collect()
    }
    vals = ", ".join(
        f"({i}, {'NULL' if t is None else repr(t)})" for i, t in cases
    )
    duck = duckdb.sql(
        f"WITH d AS (SELECT * FROM (VALUES {vals}) t(doc_id, text)), "
        f"tt AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM d) "
        f"SELECT doc_id, toks, {_SQL_SHINGLES} AS sh, len(toks) FROM tt"
    ).fetchall()
    for doc_id, toks, sh, tc in duck:
        assert sp[doc_id] == (list(toks), list(sh), tc), doc_id
    assert sp[0] == ([], [], 0) and sp[1] == ([], [], 0) and sp[2] == ([], [], 0)


def test_shingles_property_vs_reference(spark):
    """The zip_with-over-offset-slices shingle builder must match the
    obvious Python reference on arbitrary token streams (hypothesis) —
    guards the O(tokens)-per-row formulation against off-by-one drift
    at the array edges."""
    from hypothesis import given, settings, strategies as st

    tok = st.text(alphabet="abcxyz0", min_size=1, max_size=4)
    cases: list[list[str]] = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(tok, min_size=0, max_size=9), st.integers(2, 4))
    def collect(toks, n):
        cases.append((toks, n))

    collect()
    # batch all hypothesis-generated cases through ONE Spark job
    df = spark.createDataFrame(
        [(i, " ".join(t), n) for i, (t, n) in enumerate(cases)],
        schema="i long, x string, n int",
    )
    for n in sorted({n for _, n in cases}):
        got = {
            r["i"]: r["r"]
            for r in df.filter(F.col("n") == n)
            .select("i", shingles("x", n).alias("r"))
            .collect()
        }
        for i, (toks, cn) in enumerate(cases):
            if cn != n:
                continue
            if len(toks) >= n:
                want = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            elif toks:
                want = [" ".join(toks)]
            else:
                want = []
            assert got[i] == want, (toks, n, got[i], want)


def test_memo_col_keys_on_the_argument_type_not_its_name():
    """Two distinct ``str`` subclasses that share a class name (defined
    in different scopes) compare equal as values but must not share a
    cache entry; no Spark needed."""

    def tag_type():
        class Tag(str):
            pass

        return Tag

    a_type, b_type = tag_type(), tag_type()
    seen = []

    @memo_col
    def build(x):
        seen.append(type(x))
        return object()

    first = build(a_type("x"))
    assert build(a_type("x")) is first  # same type: one cached build
    assert build(b_type("x")) is not first
    assert seen == [a_type, b_type]
