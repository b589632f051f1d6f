"""n-gram kernels built from shifted slices: parity with the DuckDB
twins on edge-case text, agreement with a plain-Python reference, and
a plan guard that keeps the tokenizer out of every per-element lambda
(where Spark would re-run it once per window, O(tokens²) a row)."""

from __future__ import annotations

import re

import duckdb
import pytest

from bergloom_spark.functions import text as TX
from bergloom_spark.operators import classifier as CL
from bergloom_spark.operators import lm as LM
from bergloom_spark.operators import search as S

LONG = " ".join(f"w{i % 37}" for i in range(500))
TEXTS = [
    None,
    "",
    "   ",
    " \t\n ",
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "  a \t b\n\nc   d  ",
    "x\ty\nz\r\nx y z",
    LONG,
]
NS = (1, 2, 3, 5)
TAGS = {
    "uni": ["one", "w3"],
    "bi": ["one two", "w1 w2"],
    "tri": ["b c d", "w36 w0 w1"],
    "mixed": ["c", "c d", "x y z"],
}


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "i long, t string").cache()


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    con.execute("CREATE TABLE txts (i BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO txts VALUES (?, ?)", list(enumerate(TEXTS)))
    yield con
    con.close()


def _ref_ngrams(text: str | None, n: int) -> list[str]:
    toks = [t for t in re.split(r"\s+", text or "") if t]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _both(text_df, con, col_fn, sql_fn):
    got_spark = {
        r.i: r.v for r in text_df.select("i", col_fn("t").alias("v")).collect()
    }
    got_duck = dict(con.execute(f"SELECT i, {sql_fn('t')} FROM txts").fetchall())
    assert got_spark == got_duck
    return got_spark


@pytest.mark.parametrize("n", NS)
def test_shingles_twin_parity_and_semantics(text_df, con, n):
    got = _both(
        text_df, con, lambda c: TX.shingles(c, n), lambda e: TX.shingles_sql(e, n)
    )
    for i, t in enumerate(TEXTS):
        assert got[i] == _ref_ngrams(t, n), (n, t)
    assert got[0] == []  # NULL → [], not NULL
    assert got[1] == got[2] == got[3] == []
    assert len(got[TEXTS.index(LONG)]) == 500 - n + 1
    if n == 3:
        assert got[5] == []  # two tokens < n
        assert got[6] == ["one two three"]  # exactly n tokens → one shingle
        assert got[8] == ["a b c", "b c d"]  # whitespace runs collapse


def test_hashed_features_twin_parity(text_df, con):
    got = _both(text_df, con, CL.hashed_features, CL.hashed_features_sql)
    for i, t in enumerate(TEXTS):
        assert got[i] == _ref_ngrams(t, 1) + _ref_ngrams(t, 2), t
    assert got[0] == []


def test_bigram_logprob_twin_parity(text_df, con):
    got = sorted(tuple(r) for r in LM.bigram_logprob(text_df, "t", "i").collect())
    want = sorted(con.execute(LM.bigram_logprob_sql("txts", "t", "i")).fetchall())
    assert got == want
    n_trans = {r[0]: r[1] for r in got}
    for i, t in enumerate(TEXTS):
        assert n_trans[i] == len(_ref_ngrams(t, 2)), t


def test_keyword_tag_counts_twin_parity(text_df, con):
    got = sorted(
        tuple(r) for r in S.keyword_tag_counts(text_df, "t", "i", TAGS).collect()
    )
    want = sorted(
        con.execute(S.keyword_tag_counts_sql("txts", "t", "i", TAGS)).fetchall()
    )
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[9][4] == 2  # "x y z" across a tab, a newline and CRLF
    assert by_id[TEXTS.index(LONG)][3] == 13  # "w36 w0 w1" wraps 13 times


# ---------------------------------------------------------------------------
# plan guard
# ---------------------------------------------------------------------------
def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` span in a plan string, found by
    paren matching (the kernels' literals hold no parentheses)."""
    spans, start = [], 0
    while (at := plan.find("lambdafunction(", start)) >= 0:
        depth, j = 0, at + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
            if depth == 0:
                break
        spans.append(plan[at:j])
        start = at + 1
    return spans


def _assert_no_split_in_lambda(df):
    plan = df._jdf.queryExecution().analyzed().toString()
    bodies = _lambda_bodies(plan)
    assert bodies, "expected higher-order functions in the plan"
    bad = [b for b in bodies if "split(" in b]
    assert not bad, f"tokenizer inside a lambda body: {bad[0][:300]}"


@pytest.mark.parametrize(
    "build",
    [
        *[
            pytest.param(lambda df, n=n: df.select(TX.shingles("t", n)), id=f"shingles{n}")
            for n in NS
        ],
        pytest.param(lambda df: df.select(CL.hashed_features("t")), id="hashed_features"),
        pytest.param(lambda df: LM.bigram_logprob(df, "t", "i"), id="bigram_logprob"),
        pytest.param(
            lambda df: S.keyword_tag_counts(df, "t", "i", TAGS), id="keyword_tag_counts"
        ),
    ],
)
def test_no_tokenizer_inside_lambda(text_df, build):
    _assert_no_split_in_lambda(build(text_df))


def test_plan_guard_catches_quadratic_form(text_df):
    """The guard fails on the per-window form it exists to prevent."""
    from pyspark.sql import functions as F

    toks = TX.tokens("t")
    quadratic = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    with pytest.raises(AssertionError, match="tokenizer inside a lambda"):
        _assert_no_split_in_lambda(text_df.select(quadratic))
