"""Extended-SQL frontend (plans/sql_ext.py): grammar, lowering
semantics, and plan-shape checks beyond the registry parity tests."""

from __future__ import annotations

import datetime as dt

import pytest

from data_wrangling_openstreetmap_spark.plans import sql_ext
from data_wrangling_openstreetmap_spark.plans.sql_ext import SqlExtError, asof_join, sql


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def tiny_views(spark):
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:05"), 100.0),
            (1, _ts("2024-01-01T10:00:00"), 99.0),  # exact-tie with a quote
            (2, _ts("2024-01-01T09:00:00"), 50.0),  # before any quote
        ],
        "sym int, t timestamp, px double",
    )
    quotes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 98.5),
            (1, _ts("2024-01-01T10:00:04"), 98.9),
            (2, _ts("2024-01-01T12:00:00"), 49.0),
        ],
        "sym int, t timestamp, bid double",
    )
    trades.createOrReplaceTempView("xt_trades")
    quotes.createOrReplaceTempView("xt_quotes")
    return trades, quotes


def test_plain_sql_passes_through(spark):
    assert sql(spark, "SELECT 1 AS one").collect()[0].one == 1


def test_asof_inner_backward_and_inclusive(spark, tiny_views):
    rows = {
        r.px: r.bid
        for r in sql(
            spark,
            """SELECT tr.px AS px, q.bid AS bid
               FROM xt_trades tr ASOF JOIN xt_quotes q
                 ON tr.sym = q.sym AND tr.t >= q.t""",
        ).collect()
    }
    # 10:00:05 trade sees the 10:00:04 quote; the 10:00:00 trade sees
    # the EQUAL-timestamp quote (inclusive >=); sym 2's trade predates
    # every quote and is dropped (inner).
    assert rows == {100.0: 98.9, 99.0: 98.5}


def test_asof_left_keeps_unmatched(spark, tiny_views):
    rows = {
        r.px: r.bid
        for r in sql(
            spark,
            """SELECT tr.px AS px, q.bid AS bid
               FROM xt_trades tr ASOF LEFT JOIN xt_quotes q
                 ON tr.sym = q.sym AND tr.t >= q.t""",
        ).collect()
    }
    assert rows[50.0] is None and len(rows) == 3


def test_asof_remaining_clauses_run_on_lowered_result(spark, tiny_views):
    out = sql(
        spark,
        """SELECT tr.sym AS sym, count(*) AS n
           FROM xt_trades tr ASOF JOIN xt_quotes q
             ON tr.sym = q.sym AND tr.t >= q.t
           WHERE q.bid > 98.0
           GROUP BY tr.sym ORDER BY sym""",
    ).collect()
    assert [(r.sym, r.n) for r in out] == [(1, 2)]


def test_asof_malformed_raises_not_delegates(spark):
    with pytest.raises(SqlExtError, match="ASOF requires"):
        sql(spark, "SELECT * FROM xt_trades tr ASOF JOIN xt_quotes q ON tr.sym = q.sym")
    with pytest.raises(SqlExtError, match="backward"):
        sql(
            spark,
            """SELECT tr.px AS px FROM xt_trades tr ASOF JOIN xt_quotes q
               ON tr.sym = q.sym AND q.t >= tr.t""",
        )


def test_similarity_malformed_raises(spark):
    with pytest.raises(SqlExtError, match="SIMILARITY JOIN requires"):
        sql(spark, "SELECT 1 FROM d a SIMILARITY JOIN d b ON a.text = b.text")


def test_similarity_nonpositive_threshold_raises(spark):
    # Jaccard >= 0 is the cross product (token-less docs included),
    # which the token-set pair primitive cannot plan: refused up front
    for thr in ("0", "0.0"):
        with pytest.raises(SqlExtError, match="threshold must be > 0"):
            sql(
                spark,
                f"""SELECT a.id AS x FROM d a SIMILARITY JOIN d b
                    ON token_jaccard(a.text, b.text) >= {thr} AND a.id < b.id""",
            )


def test_similarity_requires_self_join(spark, tiny_views):
    with pytest.raises(SqlExtError, match="self-join"):
        sql(
            spark,
            """SELECT a.sym AS s FROM xt_trades a SIMILARITY JOIN xt_quotes b
               ON token_jaccard(a.px, b.px) >= 0.5 AND a.sym < b.sym""",
        )


def test_asof_helper_rejects_bad_args(spark, tiny_views):
    trades, quotes = tiny_views
    with pytest.raises(ValueError, match="how"):
        asof_join(trades, quotes, "sym", "t", "t", how="outer")
    with pytest.raises(ValueError, match="must exist"):
        asof_join(trades, quotes, "missing", "t", "t")


def test_asof_plan_shuffles_on_key_only(spark, tiny_views):
    df = sql(
        spark,
        """SELECT tr.px AS px, q.bid AS bid
           FROM xt_trades tr ASOF JOIN xt_quotes q
             ON tr.sym = q.sym AND tr.t >= q.t""",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only exchange is a hash partition on the as-of key — no
    # SinglePartition global sort, no Python crossing, no cross join
    assert "hashpartitioning(__k_0" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_qualify_rewrites_known_aliases_only():
    out = sql_ext._qualify(
        "SELECT p.a, q.b, z.c FROM x", {"p": "p", "q": "q"}
    )
    assert out == "SELECT p_a, q_b, z.c FROM x"


def test_bare_asof_word_passes_through(spark):
    """Only the ASOF [LEFT] JOIN construct is extended syntax; a column
    or literal merely CONTAINING the word asof is plain Spark SQL and
    must delegate untouched."""
    assert sql(spark, "SELECT 1 AS asof").collect()[0].asof == 1
    assert sql(spark, "SELECT 'ASOF' AS label").collect()[0].label == "ASOF"


def test_qualify_lowers_and_matches_window_form(spark):
    spark.range(0, 100).selectExpr(
        "id", "id % 5 AS grp", "(id * 37) % 100 AS score"
    ).createOrReplaceTempView("q_t")
    got = sql(
        spark,
        "SELECT grp, id FROM q_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, id) <= 2",
    )
    want = spark.sql(
        "SELECT grp, id FROM (SELECT grp, id, ROW_NUMBER() OVER "
        "(PARTITION BY grp ORDER BY score DESC, id) AS r FROM q_t) WHERE r <= 2"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.columns == ["grp", "id"]  # helper column dropped


def test_qualify_compiles_to_window_group_limit(spark):
    import contextlib
    import io

    spark.range(0, 10).selectExpr("id", "id % 2 AS g").createOrReplaceTempView("q_t2")
    df = sql(
        spark,
        "SELECT g, id FROM q_t2 "
        "QUALIFY RANK() OVER (PARTITION BY g ORDER BY id DESC) <= 3",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    assert "WindowGroupLimit" in buf.getvalue()


def test_qualify_bare_word_passes_through(spark):
    # `qualify` is NOT a reserved word in Spark SQL: as a bare alias or
    # column it must reach spark.sql untouched (the ASOF convention).
    got = sql(spark, "SELECT 1 AS qualify")
    assert [tuple(r) for r in got.collect()] == [(1,)]


def test_qualify_malformed_raises_not_delegates(spark):
    with pytest.raises(SqlExtError):
        # predicate must be a <= int literal
        sql(
            spark,
            "SELECT id FROM q_t QUALIFY ROW_NUMBER() OVER (ORDER BY id) = 1 OR true",
        )


def test_match_recognize_equals_handwritten_plan(spark):
    spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "x"), (1, 3, "y"), (1, 4, "y"),
         (1, 5, "x"), (1, 6, "y"), (2, 1, "y"), (2, 2, "x")],
        "pid int, seq int, kind string",
    ).createOrReplaceTempView("mr_t")
    got = sql(
        spark,
        "SELECT pid, MATCH_COUNT() AS n FROM mr_t MATCH_RECOGNIZE ("
        "PARTITION BY pid ORDER BY seq PATTERN ( X+ Y ) "
        "DEFINE X AS kind = 'x', Y AS kind = 'y')",
    )
    # pid 1: xxy|y|xy -> matches xxy and xy = 2; pid 2: yx -> 0
    assert {(r.pid, r.n) for r in got.collect()} == {(1, 2), (2, 0)}
    assert got.columns == ["pid", "n"]


def test_match_recognize_undefined_rows_break_matches(spark):
    spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "z"), (1, 3, "y")],
        "pid int, seq int, kind string",
    ).createOrReplaceTempView("mr_gap")
    got = sql(
        spark,
        "SELECT pid, MATCH_COUNT() AS n FROM mr_gap MATCH_RECOGNIZE ("
        "PARTITION BY pid ORDER BY seq PATTERN ( X Y ) "
        "DEFINE X AS kind = 'x', Y AS kind = 'y')",
    )
    # the undefined 'z' row sits between x and y: contiguity is broken
    assert [(r.pid, r.n) for r in got.collect()] == [(1, 0)]


def test_match_recognize_malformed_raises(spark):
    with pytest.raises(SqlExtError):
        sql(spark, "SELECT pid FROM t MATCH_RECOGNIZE (broken)")
    with pytest.raises(SqlExtError):
        # pattern symbol without a DEFINE binding
        sql(
            spark,
            "SELECT pid, MATCH_COUNT() AS n FROM mr_t MATCH_RECOGNIZE ("
            "PARTITION BY pid ORDER BY seq PATTERN ( Q ) "
            "DEFINE X AS kind = 'x')",
        )
    with pytest.raises(SqlExtError):
        # select column must be the partition column
        sql(
            spark,
            "SELECT seq, MATCH_COUNT() AS n FROM mr_t MATCH_RECOGNIZE ("
            "PARTITION BY pid ORDER BY seq PATTERN ( X ) "
            "DEFINE X AS kind = 'x')",
        )


def test_distinct_on_equals_window_form_and_raises_on_malformed(spark):
    spark.createDataFrame(
        [(1, 3, "a"), (1, 5, "b"), (2, 4, "c"), (2, 2, "d")],
        "k int, v int, tag string",
    ).createOrReplaceTempView("don_t")
    got = sql(
        spark,
        "SELECT DISTINCT ON (k) k, tag FROM don_t ORDER BY k, v DESC",
    )
    assert sorted((r.k, r.tag) for r in got.collect()) == [(1, "b"), (2, "c")]
    assert got.columns == ["k", "tag"]
    with pytest.raises(SqlExtError):
        sql(spark, "SELECT DISTINCT ON (k) k FROM don_t")  # no ORDER BY


def test_exclude_lowers_to_surviving_columns(spark):
    spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 3.0)], "id int, tag string, v double"
    ).createOrReplaceTempView("ex_t")
    got = sql(spark, "SELECT * EXCLUDE (tag) FROM ex_t WHERE id > 0")
    assert got.columns == ["id", "v"]  # original order, minus the excluded
    assert sorted((r.id, r.v) for r in got.collect()) == [(1, 2.0), (2, 3.0)]
    # multiple columns, case-insensitive
    got2 = sql(spark, "SELECT * EXCLUDE (TAG, V) FROM ex_t")
    assert got2.columns == ["id"]


def test_exclude_raises_on_unknown_or_total_exclusion(spark):
    spark.createDataFrame([(1,)], "id int").createOrReplaceTempView("ex_t2")
    with pytest.raises(SqlExtError, match="not in"):
        sql(spark, "SELECT * EXCLUDE (nope) FROM ex_t2")
    with pytest.raises(SqlExtError, match="every column"):
        sql(spark, "SELECT * EXCLUDE (id) FROM ex_t2")


def test_exclude_raises_on_multi_table_from(spark):
    """A JOIN or comma list after the FROM table would make the star
    span columns the lowering cannot resolve — must raise, never lower
    to the first table's columns silently."""
    spark.createDataFrame([(1, "x")], "id int, a string").createOrReplaceTempView(
        "ex_j1"
    )
    spark.createDataFrame([(1, "y")], "id int, b string").createOrReplaceTempView(
        "ex_j2"
    )
    with pytest.raises(SqlExtError, match="single FROM"):
        sql(spark, "SELECT * EXCLUDE (a) FROM ex_j1 JOIN ex_j2 ON ex_j1.id = ex_j2.id")
    with pytest.raises(SqlExtError, match="single FROM"):
        sql(spark, "SELECT * EXCLUDE (a) FROM ex_j1, ex_j2")


def test_exclude_raises_on_cte_prefix(spark):
    """A WITH prefix would make spark.table(<name>) resolve a catalog
    object while the rewritten SQL's CTE shadows it (wrong columns if a
    same-named temp view exists). The lowering is anchored to
    statement start and must raise on any prefixed form."""
    spark.createDataFrame([(1, "x")], "id int, a string").createOrReplaceTempView(
        "ex_cte"
    )
    with pytest.raises(SqlExtError, match="start the statement"):
        sql(
            spark,
            "WITH ex_cte AS (SELECT 1 AS only_col) "
            "SELECT * EXCLUDE (only_col) FROM ex_cte",
        )


def test_replace_lowers_in_place(spark):
    spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 3.5)], "id int, tag string, v double"
    ).createOrReplaceTempView("rp_t")
    got = sql(
        spark,
        "SELECT * REPLACE (upper(tag) AS tag, round((v * 2), 1) AS v) "
        "FROM rp_t WHERE id > 0",
    )
    # width and order preserved; replaced slots keep their names
    assert got.columns == ["id", "tag", "v"]
    assert sorted((r.id, r.tag, r.v) for r in got.collect()) == [
        (1, "A", 4.0),
        (2, "B", 7.0),
    ]


def test_replace_raises_on_bad_forms(spark):
    spark.createDataFrame([(1, "x")], "id int, a string").createOrReplaceTempView(
        "rp_t2"
    )
    with pytest.raises(SqlExtError, match="not in"):
        sql(spark, "SELECT * REPLACE (1 AS nope) FROM rp_t2")
    with pytest.raises(SqlExtError, match="AS"):
        sql(spark, "SELECT * REPLACE (id + 1) FROM rp_t2")
    # a CTE prefix means the ANCHORED dispatcher never fires (REPLACE is
    # a builtin function name, so mid-statement matches must fall
    # through) — the text reaches spark.sql, whose parser rejects the
    # star-REPLACE syntax it doesn't have.
    from pyspark.errors import ParseException

    with pytest.raises(ParseException):
        sql(
            spark,
            "WITH rp_t2 AS (SELECT 1 AS id) "
            "SELECT * REPLACE (id + 1 AS id) FROM rp_t2",
        )
    spark.createDataFrame([(1, "y")], "id int, b string").createOrReplaceTempView(
        "rp_j2"
    )
    with pytest.raises(SqlExtError, match="single FROM"):
        sql(
            spark,
            "SELECT * REPLACE (a AS a) FROM rp_t2 JOIN rp_j2 ON rp_t2.id = rp_j2.id",
        )


def test_replace_dispatch_does_not_intercept_builtin_replace(spark):
    """`expr * REPLACE(col, ...)` is plain Spark SQL using the builtin
    string function — the anchored dispatcher must fall through to
    spark.sql, not raise (review r5, confirmed by execution pre-fix)."""
    spark.createDataFrame([(2, "a1")], "v int, s string").createOrReplaceTempView(
        "rp_b"
    )
    got = sql(spark, "SELECT v * length(REPLACE (s, 'a', 'xx')) AS x FROM rp_b")
    assert got.collect()[0].x == 6


def test_replace_list_scanner_is_quote_aware(spark):
    """Commas and parens inside string literals in replacement
    expressions must not split items or unbalance the paren scan."""
    spark.createDataFrame(
        [(1, "a,b(c")], "id int, tag string"
    ).createOrReplaceTempView("rp_q")
    got = sql(
        spark,
        "SELECT * REPLACE (replace(tag, ',', ';') AS tag) FROM rp_q",
    )
    assert got.collect()[0].tag == "a;b(c"
    got2 = sql(
        spark,
        "SELECT * REPLACE (concat(tag, '(x)', ',') AS tag, id + 1 AS id) "
        "FROM rp_q",
    )
    r = got2.collect()[0]
    assert (r.id, r.tag) == (2, "a,b(c(x),")


def test_exclude_and_replace_quote_awkward_columns(spark):
    """Schema columns that need backticks (reserved words, spaces) must
    survive the star rewrite — the generated select list quotes every
    identifier (ADVICE r5)."""
    spark.createDataFrame(
        [(1, 2, 3)], "id int, `order` int, `a b` int"
    ).createOrReplaceTempView("ex_awkward")
    got = sql(spark, "SELECT * EXCLUDE (`order`) FROM ex_awkward")
    assert got.columns == ["id", "a b"]
    got2 = sql(spark, "SELECT * REPLACE (id + 10 AS id) FROM ex_awkward")
    assert got2.columns == ["id", "order", "a b"]
    assert got2.collect()[0][0] == 11


def test_replace_case_sensitive_session_matches_exactly(spark):
    """Under spark.sql.caseSensitive=true, REPLACE must substitute only
    the exactly-named column, never both of two case-distinct columns
    (ADVICE r5)."""
    old = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        spark.createDataFrame([(1, 2)], "v int, V int").createOrReplaceTempView(
            "ex_case"
        )
        got = sql(spark, "SELECT * REPLACE (v * 100 AS v) FROM ex_case")
        row = got.collect()[0]
        assert got.columns == ["v", "V"]
        assert (row[0], row[1]) == (100, 2)
        # and naming the wrong case must be a resolution error, not a
        # silent double substitution
        with pytest.raises(SqlExtError, match="not in"):
            sql(spark, "SELECT * REPLACE (1 AS vv) FROM ex_case")
    finally:
        spark.conf.set("spark.sql.caseSensitive", old)


def test_replace_targets_backticked_column(spark):
    """REPLACE must accept a backtick-quoted AS target — EXCLUDE does,
    so the quoting surface has to be symmetric (review r6)."""
    spark.createDataFrame([(1, 5)], "id int, `a b` int").createOrReplaceTempView(
        "rp_awkward"
    )
    got = sql(spark, "SELECT * REPLACE (`a b` * 2 AS `a b`) FROM rp_awkward")
    row = got.collect()[0]
    assert got.columns == ["id", "a b"]
    assert (row[0], row[1]) == (1, 10)


def test_exclude_list_split_is_backtick_aware(spark):
    """A quoted EXCLUDE name containing a comma must not mis-split the
    column list (review r6: the split is quote-aware)."""
    spark.createDataFrame(
        [(1, 2, 3)], "id int, `a,b` int, v int"
    ).createOrReplaceTempView("ex_comma")
    got = sql(spark, "SELECT * EXCLUDE (`a,b`) FROM ex_comma")
    assert got.columns == ["id", "v"]
