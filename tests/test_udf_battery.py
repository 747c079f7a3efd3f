"""Adversarial-input parity battery for every Python UDF body (the u18
class, machine-checked — VERDICT r10 §Next 2).

Three latent cross-engine divergences in two rounds (j17 window
carries, f28 folds, u18 UDF Unicode) shared one failure shape: a
Python body that is a PARAPHRASE of its oracle expression rather than
a mirror — green on the ASCII/NULL-free fixture, wrong on exotic
input. The first two classes got static checkers in round 10
(multi_carry_hazards, AGGREGATE_FOLD_SITES); this module closes the
third: every text- or value-transforming Python UDF body registered in
``UDF_BATTERY`` is fed an adversarial value battery (NULL, empty,
Kelvin sign U+212A, dotted İ, combining marks, NBSP/NEL/LSEP exotic
whitespace, Greek final-sigma, emoji, Unicode digits, trailing
newlines, negative/overflow integers, exact binary halves) through
BOTH the real Spark UDF (the production function object, through the
production transport) and the paired DuckDB expression, asserting
row-identical results.

The companion freeze lives in tests/test_plan_shapes.py::
UDF_CROSSING_SITES — a new JVM↔Python crossing without a battery
entry or an audited justification is a failing test there.

Round-11 origin story: building this battery found THREE live
divergences before it existed (u9 Python str.split() splits on all
Unicode whitespace vs RE2's ASCII '\\s'; u15's \\d/$-anchor/int64
overflow trio; u16 full-vs-simple Unicode lowercasing on dotted İ) —
all fixed in operators/udfs.py with probed-live documentation.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from data_wrangling_openstreetmap_spark.operators.udfs import (
    _cohort_of_py,
    _first_tokens_py,
    _half_away_cents,
    _make_first_tokens,
    _make_normalize_suffix,
    _make_tag_splitter,
    _median_float_pd,
    _normalize_suffix_py,
    _shape_key_py,
    _sigmoid_balance_iter_udf,
    _sigmoid_balance_udf,
    _signature_py,
    _skeleton_py,
    _split_space_words,
    _split_with_pos_py,
    _U16_SIGNATURE_SQL,
    _vowel_score_pd,
    _weighted_avg_pd,
)

# ---------------------------------------------------------------------------
# The adversarial value sets
# ---------------------------------------------------------------------------

ADV_TEXT = [
    None,
    "",
    " ",
    "   ",
    "abc",
    "Abc Def",
    "UPPER lower MiXeD words",
    "İstanbul İZMİR dotted",      # U+0130: full (.lower) vs simple (utf8proc) case mapping
    "\u212aelvin \u212a sign",    # Kelvin sign lowers INTO [a-z] in Python
    "café résumé",
    "cafe\u0301 combining acute",  # U+0301 combining mark
    "a\u0307\u0308 stacked marks",
    "nbsp\xa0separated\xa0words",  # U+00A0: Python whitespace, not RE2 \s
    "tab\tseparated",
    "vert\x0bseparated",           # \v: Python-ASCII \s member, NOT RE2 \s
    "form\x0cfeed",
    "cr\rreturn",
    "nel\x85line",                 # U+0085 NEL
    "lsep\u2028arated",            # U+2028 LINE SEPARATOR
    "multi   space   runs",
    " leading space",
    "trailing space ",
    "trailing\n",
    "mid\nnewline end123",
    "ends123",
    "123starts",
    "digits\u0663\u0664\u0665",   # Arabic-Indic digits: Python \d, not RE2 \d
    "over99999999999999999999999",          # > int64: TRY_CAST NULL vs Python int
    "max9223372036854775807",
    "just9223372036854775808",              # int64 max + 1
    "neg-5tail7",
    "a:b:c",
    ":leading",
    "trailing:",
    "::",
    ":",
    "St.",
    "Main St.",
    "Oak St",
    "Elm Ave",
    "River Rd.",
    "Rd. first",
    "🎉 emoji ☕ words",
    "ß ẞ sharp",
    "Ǆǅǆ titlecase digraph",
    "ΣΙΣΥΦΟΣ ΑΣ greek sigma",
    "中文 漢字 cjk",
    "x" * 300,
    ("word " * 40).strip(),
]

# Non-null word-shaped subset for bodies whose production input is a
# splitter's output (never NULL, never empty — the splitters skip both).
ADV_WORDS = [v for v in ADV_TEXT if v]

# Exactly-representable doubles (dyadic rationals) so float sums are
# order-independent and cross-engine exact; NULL rides along (probed:
# Arrow maps the pandas NaN back to SQL NULL). NaN itself is excluded —
# DuckDB keeps NaN where Arrow nulls it, a transport semantic outside
# the fixture domain (documented, not graded).
ADV_DOUBLES = [
    None, 0.0, 0.125, -0.125, 0.375, -0.375, 1.0, -1.0, 123.25, -123.25,
    999.5, -999.5, 1000.0, -1000.0, 8191.875, -8191.875, 100000.0, -100000.0,
]

# u11's money rule is applied to non-null values only (events.value NOT
# NULL is a pinned fixture precondition — test_fold_fixture_preconditions).
ADV_MONEY = [v for v in ADV_DOUBLES if v is not None] + [0.005, -0.005, 120.625, -120.615]

# int64 battery for the GROUPED_AGG median: negatives, ±2^50 (the
# documented exact-midpoint envelope), odd/even group sizes, singletons.
ADV_INTS = [
    (0, 0), (1, 7), (2, -7), (3, 1 << 50), (4, -(1 << 50)), (5, 3),
    (6, (1 << 50) + 2), (7, -3), (8, 1), (9, -1), (10, 2), (11, 999999999999),
]

# (price, weight) pairs, dyadic so Σ(p·w) and Σw are exact in double in
# any fold order; weights strictly positive (u4b's fixture contract:
# weight = o_orderkey % 10 + 1 ∈ [1, 10]).
ADV_WEIGHTED = [
    (0, 0.25, 1.0), (1, -0.25, 2.0), (2, 123.5, 3.0), (3, -8.125, 1.5),
    (4, 1000.0, 10.0), (5, 0.0, 4.0), (6, 55.75, 2.5),
]


# ---------------------------------------------------------------------------
# Harness
# ---------------------------------------------------------------------------


def _duck(values, sql, decls="rid BIGINT, v VARCHAR"):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE battery({decls})")
    width = decls.count(",") + 1
    slots = ", ".join("?" for _ in range(width))
    con.executemany(f"INSERT INTO battery VALUES ({slots})", values)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _norm(rows):
    out = []
    for r in rows:
        out.append(
            tuple(round(x, 6) if isinstance(x, float) else x for x in r)
        )
    return sorted(
        out,
        key=lambda t: tuple((v is None, type(v).__name__, v) for v in t),
    )


def _assert_parity(spark_df, values, duck_sql, decls="rid BIGINT, v VARCHAR"):
    got = _norm([tuple(r) for r in spark_df.collect()])
    want = _norm(_duck(values, duck_sql, decls))
    assert got == want, (
        f"Spark UDF vs DuckDB mirror diverge:\n spark={got}\n duck ={want}"
    )


def _text_values():
    return [(i, v) for i, v in enumerate(ADV_TEXT)]


def _word_values():
    return [(i, v) for i, v in enumerate(ADV_WORDS)]


def _text_df(spark, values=None):
    return spark.createDataFrame(values or _text_values(), "rid long, v string")


# ---------------------------------------------------------------------------
# The battery registry: one entry per Python-crossing body. `build`
# returns the Spark DataFrame (production function objects, production
# transport); `duck` is the DuckDB mirror over battery(rid, v).
# UDF_CROSSING_SITES (test_plan_shapes.py) references these names.
# ---------------------------------------------------------------------------

_NORMALIZE_SUFFIX_DUCK = """
SELECT rid,
       CASE WHEN v IS NULL THEN NULL ELSE
         array_to_string(
           list_append(
             parts[1:GREATEST(len(parts) - 1, 0)],
             CASE parts[-1]
               WHEN 'St.' THEN 'Street' WHEN 'St' THEN 'Street'
               WHEN 'Ave' THEN 'Avenue' WHEN 'Rd.' THEN 'Road'
               ELSE parts[-1] END),
           ' ')
       END AS out
FROM (SELECT rid, v, string_split(v, ' ') AS parts FROM battery)
"""


def _build_u1(spark):
    return _text_df(spark).select(
        "rid", _make_normalize_suffix()(F.col("v")).alias("out")
    )


def _build_u1b(spark):
    fn = F.udf(_normalize_suffix_py, "string", useArrow=True)
    return _text_df(spark).select("rid", fn(F.col("v")).alias("out"))


def _build_u5(spark):
    spark.udtf.register("battery_tag_splitter", _make_tag_splitter())
    _text_df(spark).createOrReplaceTempView("battery_u5")
    return spark.sql(
        "SELECT b.rid, s.part, s.position FROM battery_u5 b,"
        " LATERAL battery_tag_splitter(b.v) s"
    )


_U5_DUCK = """
WITH s AS (
  SELECT rid, string_split(v, ':') AS parts FROM battery WHERE v IS NOT NULL
)
SELECT rid, unnest(parts) AS part,
       CAST(unnest(generate_series(0, len(parts) - 1)) AS INT) AS position
FROM s
"""


def _build_u9(spark):
    spark.udtf.register("battery_first_tokens", _make_first_tokens())
    _text_df(spark).createOrReplaceTempView("battery_u9")
    return spark.sql(
        "SELECT b.rid, t.* FROM battery_u9 b,"
        " LATERAL battery_first_tokens(b.v, 3) t"
    )


_U9_DUCK = r"""
WITH t AS (
  SELECT rid,
         list_filter(string_split_regex(v, '\s+'), x -> x != '') AS toks
  FROM battery
)
SELECT rid, toks[1] AS tok_1, toks[2] AS tok_2, toks[3] AS tok_3 FROM t
"""


def _build_u14_words(spark):
    # Identical one-line passthrough to u14's production SplitWords —
    # the generator _split_space_words IS the shared production body.
    @udtf(returnType="word string", useArrow=True)
    class SplitWords:
        def eval(self, text: str):
            for w in _split_space_words(text):
                yield (w,)

    spark.udtf.register("battery_split_words", SplitWords)
    _text_df(spark).createOrReplaceTempView("battery_u14")
    return spark.sql(
        "SELECT b.rid, s.word FROM battery_u14 b,"
        " LATERAL battery_split_words(b.v) s"
    )


_U14_DUCK = """
WITH w AS (SELECT rid, unnest(string_split(v, ' ')) AS word FROM battery)
SELECT rid, word FROM w WHERE word <> ''
"""


def _build_u14_words_pickled(spark):
    # u18's SplitLangWords consumes the SAME _split_space_words body
    # through the PICKLED udtf transport (no useArrow) — pickled and
    # Arrow UDTFs convert values differently, so the shared body is
    # battery-pinned through BOTH transports (closure machine-checked
    # by test_plan_shapes.py::test_battery_covers_each_crossing_transport,
    # VERDICT r11 What's-missing #3).
    @udtf(returnType="word string")
    class SplitWordsPickled:
        def eval(self, text: str):
            for w in _split_space_words(text):
                yield (w,)

    spark.udtf.register("battery_split_words_pickled", SplitWordsPickled)
    _text_df(spark).createOrReplaceTempView("battery_u14p")
    return spark.sql(
        "SELECT b.rid, s.word FROM battery_u14p b,"
        " LATERAL battery_split_words_pickled(b.v) s"
    )


def _build_u16_pos(spark):
    # Same passthrough shape as u16/u17's production classes around the
    # shared _split_with_pos_py body.
    @udtf(returnType="word string, pos bigint")
    class SplitWithPos:
        def eval(self, text: str):
            yield from _split_with_pos_py(text)

    spark.udtf.register("battery_split_pos", SplitWithPos)
    _text_df(spark).createOrReplaceTempView("battery_u16")
    return spark.sql(
        "SELECT b.rid, s.word, s.pos FROM battery_u16 b,"
        " LATERAL battery_split_pos(b.v) s"
    )


_U16_POS_DUCK = """
WITH s AS (
  SELECT rid, string_split(v, ' ') AS parts FROM battery WHERE v IS NOT NULL
), w AS (
  SELECT rid, unnest(parts) AS word,
         unnest(generate_series(0, len(parts) - 1)) AS pos
  FROM s
)
SELECT rid, word, pos FROM w WHERE word <> ''
"""


def _build_u15(spark):
    return _text_df(spark).select(
        "rid", udf(_cohort_of_py, "long")(F.col("v")).alias("cohort")
    )


_U15_DUCK = r"""
SELECT rid,
       TRY_CAST(NULLIF(regexp_extract(v, '(\d+)$', 1), '') AS BIGINT) % 7
         AS cohort
FROM battery
"""


def _build_u16_sig(spark):
    return _text_df(spark).select(
        "rid", udf(_signature_py, "string")(F.col("v")).alias("signature")
    )


def _build_u17(spark):
    return _text_df(spark).select(
        "rid", udf(_shape_key_py, "string")(F.col("v")).alias("shape_key")
    )


_U17_DUCK = """
SELECT rid,
       CASE WHEN v IS NULL THEN NULL
            ELSE substring(lower(v), 1, 1)
                 || CAST(LEAST(length(v), 6) AS VARCHAR) END AS shape_key
FROM battery
"""


def _build_u18_skel(spark):
    return _text_df(spark).select(
        "rid", udf(_skeleton_py, "string")(F.col("v")).alias("norm")
    )


_U18_SKEL_DUCK = """
SELECT rid, lower(regexp_replace(v, '[^a-zA-Z]', '', 'g')) AS norm
FROM battery
"""


def _build_u18_chain(spark):
    # skeleton → filter non-empty → vectorized vowel score: the u18
    # pipeline's scalar stages composed, on raw adversarial words.
    @pandas_udf("long")
    def vowel_score(norm: pd.Series) -> pd.Series:
        return _vowel_score_pd(norm)

    return (
        _text_df(spark, _word_values())
        .select("rid", udf(_skeleton_py, "string")(F.col("v")).alias("norm"))
        .filter(F.col("norm") != "")
        .select("rid", vowel_score(F.col("norm")).alias("score"))
    )


_U18_CHAIN_DUCK = """
WITH n AS (
  SELECT rid, lower(regexp_replace(v, '[^a-zA-Z]', '', 'g')) AS norm
  FROM battery
)
SELECT rid,
       CAST(length(norm)
            + 2 * (length(norm)
                   - length(regexp_replace(norm, '[aeiou]', '', 'g')))
         AS BIGINT) AS score
FROM n WHERE norm <> ''
"""


def _double_values():
    return [(i, v) for i, v in enumerate(ADV_DOUBLES)]


def _build_u2(spark):
    df = spark.createDataFrame(_double_values(), "rid long, v double")
    return df.select(
        "rid", F.round(_sigmoid_balance_udf()(F.col("v")), 6).alias("score")
    )


def _build_u2b(spark):
    df = spark.createDataFrame(_double_values(), "rid long, v double")
    return df.select(
        "rid",
        F.round(_sigmoid_balance_iter_udf()(F.col("v")), 6).alias("score"),
    )


_U2_DUCK = """
SELECT rid, ROUND(1.0 / (1.0 + exp(-v / 1000.0)), 6) AS score FROM battery
"""


def _build_u11_cents(spark):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(ADV_MONEY)], "rid long, v double"
    )
    return df.select(
        "rid", udf(_half_away_cents, "long")(F.col("v")).alias("cents")
    )


_U11_DUCK = """
SELECT rid, CAST(round(v * 100) AS BIGINT) AS cents FROM battery
"""


def _build_median(spark):
    @pandas_udf("double")
    def median_v(s: pd.Series) -> float:
        return _median_float_pd(s)

    df = spark.createDataFrame(ADV_INTS, "rid long, v long")
    return (
        df.select((F.col("rid") % 3).alias("g"), "v")
        .groupBy("g")
        .agg(median_v("v").alias("med"))
    )


_MEDIAN_DUCK = """
SELECT rid % 3 AS g, CAST(median(v) AS DOUBLE) AS med
FROM battery GROUP BY 1
"""


def _build_weighted(spark):
    @pandas_udf("double")
    def weighted_avg(price: pd.Series, weight: pd.Series) -> float:
        return _weighted_avg_pd(price, weight)

    df = spark.createDataFrame(ADV_WEIGHTED, "rid long, p double, w double")
    return (
        df.select((F.col("rid") % 2).alias("g"), "p", "w")
        .groupBy("g")
        .agg(weighted_avg("p", "w").alias("wavg"))
    )


_WEIGHTED_DUCK = """
SELECT rid % 2 AS g, ROUND(SUM(p * w) / SUM(w), 6) AS wavg
FROM battery GROUP BY 1
"""


# name → (builder, duck_sql, values_fn, duck_decls)
UDF_BATTERY = {
    "u1_normalize_suffix_pickled": (
        _build_u1, _NORMALIZE_SUFFIX_DUCK, _text_values, None),
    "u1b_normalize_suffix_arrow": (
        _build_u1b, _NORMALIZE_SUFFIX_DUCK, _text_values, None),
    "u5_tag_splitter_udtf": (_build_u5, _U5_DUCK, _text_values, None),
    "u9_first_tokens_udtf": (_build_u9, _U9_DUCK, _text_values, None),
    "u14_split_space_words_udtf": (
        _build_u14_words, _U14_DUCK, _text_values, None),
    "u14_split_space_words_udtf_pickled": (
        _build_u14_words_pickled, _U14_DUCK, _text_values, None),
    "u16_split_with_pos_udtf": (
        _build_u16_pos, _U16_POS_DUCK, _text_values, None),
    "u15_cohort_of_scalar": (_build_u15, _U15_DUCK, _text_values, None),
    "u16_signature_scalar": (
        _build_u16_sig,
        f"SELECT rid, {_U16_SIGNATURE_SQL.format(col='v')} AS signature"
        " FROM battery",
        _text_values, None),
    "u17_shape_key_scalar": (_build_u17, _U17_DUCK, _text_values, None),
    "u18_skeleton_scalar": (_build_u18_skel, _U18_SKEL_DUCK, _text_values, None),
    "u18_skeleton_vowel_chain": (
        _build_u18_chain, _U18_CHAIN_DUCK, _word_values, None),
    "u2_sigmoid_pandas": (
        _build_u2, _U2_DUCK, _double_values, "rid BIGINT, v DOUBLE"),
    "u2b_sigmoid_iter": (
        _build_u2b, _U2_DUCK, _double_values, "rid BIGINT, v DOUBLE"),
    "u11_half_away_cents": (
        _build_u11_cents, _U11_DUCK,
        lambda: [(i, v) for i, v in enumerate(ADV_MONEY)],
        "rid BIGINT, v DOUBLE"),
    "u_median_grouped_agg": (
        _build_median, _MEDIAN_DUCK, lambda: ADV_INTS,
        "rid BIGINT, v BIGINT"),
    "u4b_weighted_avg_grouped_agg": (
        _build_weighted, _WEIGHTED_DUCK, lambda: ADV_WEIGHTED,
        "rid BIGINT, p DOUBLE, w DOUBLE"),
}


@pytest.mark.parametrize("name", sorted(UDF_BATTERY))
def test_udf_adversarial_parity(spark, name):
    build, duck_sql, values_fn, decls = UDF_BATTERY[name]
    df = build(spark)
    _assert_parity(
        df, values_fn(), duck_sql, decls or "rid BIGINT, v VARCHAR"
    )


def test_battery_carries_the_verdicts_adversarial_classes():
    """The value set must keep covering the named adversarial classes —
    someone trimming ADV_TEXT must not silently drop a class."""
    joined = " ".join(v for v in ADV_TEXT if v)
    assert None in ADV_TEXT and "" in ADV_TEXT
    assert "\u212a" in joined, "Kelvin sign"
    assert "\u0130" in joined, "dotted İ"
    assert "\u0301" in joined, "combining mark"
    assert "\xa0" in joined and "\u2028" in joined and "\x85" in joined, (
        "exotic whitespace")
    assert "\u0663" in joined, "Unicode digits"
    assert any(v and "99999999999999999999" in v for v in ADV_TEXT), (
        "int64 overflow digits")
    assert any(v and v.endswith("\n") for v in ADV_TEXT), "trailing newline"
    assert "Σ" in joined, "Greek casing"
    assert "🎉" in joined, "astral plane"
    assert None in ADV_DOUBLES
    assert 0.125 in ADV_MONEY and -0.125 in ADV_MONEY, "exact binary halves"
    assert any(v >= (1 << 50) for _, v in ADV_INTS), "large int64 midpoints"


def _round6_values():
    """Adversarial doubles for the Arrow score kernels' rounder: every
    exact binary half (k + 0.5)/1e6 for k in [-2000, 2000), both
    nextafter neighbours of each, signed zeros, the largest double
    below 0.5, ±1, magnitudes whose ×1e6 stays finite (±1e300) or
    overflows (±1.7e308, the return-the-input branch), subnormals, and
    uniform randoms."""
    import numpy as np

    h = (np.arange(-2000, 2000, dtype=np.float64) + 0.5) / 1e6
    special = [0.0, -0.0, 0.49999999999999994, -0.49999999999999994,
               1.0, -1.0, 1e300, -1e300, 1.7e308, -1.7e308, 5e-324, -5e-324]
    rand = np.random.RandomState(13).uniform(-1.0, 1.0, 20000)
    return np.concatenate(
        [h, np.nextafter(h, np.inf), np.nextafter(h, -np.inf), special, rand]
    )


def test_round6_matches_duckdb_round_bitwise():
    """operators/llm.py::_round6 IS DuckDB's round(double, 6) — compared
    elementwise on the raw 64-bit patterns, so the sign of zero counts.
    np.round (half to even) misses ~2k of the exact halves here."""
    import numpy as np

    from data_wrangling_openstreetmap_spark.operators.llm import _round6

    vals = _round6_values()
    battery = pd.DataFrame({"rid": np.arange(len(vals)), "v": vals})
    con = duckdb.connect()
    try:
        want = con.execute(
            "SELECT round(v, 6) AS r FROM battery ORDER BY rid"
        ).fetchdf()["r"].to_numpy(dtype=np.float64)
    finally:
        con.close()
    got = _round6(vals)
    bad = np.flatnonzero(got.view(np.int64) != want.view(np.int64))
    assert not len(bad), [(vals[i], got[i], want[i]) for i in bad[:10]]
    assert np.signbit(got[vals == 0.0]).sum() == 1  # -0.0 stays -0.0
    with np.errstate(over="ignore"):
        assert (np.round(vals, 6) != want).sum() > 1000  # the battery bites


# ---------------------------------------------------------------------------
# Per-TRANSPORT coverage closure (round 12, VERDICT r11 What's-missing
# #3): a battery entry pins a BODY through the transport its builder
# constructs — but a production crossing that reuses a pinned body
# through a DIFFERENT transport (pickled vs Arrow UDTF, pickled vs
# Arrow scalar) crosses a different serialization boundary with its own
# conversion semantics. TRANSPORTS declares what each entry exercises;
# the declarations are kept honest by classifying each builder's (and
# production factory's) actual source below, and
# test_plan_shapes.py::test_battery_covers_each_crossing_transport
# closes the loop: every battery:/shared: crossing line's transport
# must be exercised by its referenced entry.
# ---------------------------------------------------------------------------

import inspect
import re as _re

from data_wrangling_openstreetmap_spark.operators import udfs as _udfs_mod


def classify_transports(src: str) -> frozenset:
    """Transport(s) a source fragment constructs. Understands decorator
    and constructor forms; `spark.udtf.register(...)` lines classify
    EMPTY on purpose — registration reuses a function object whose
    transport was decided (and is separately frozen) at its decorator."""
    out = set()
    if "applyInPandasWithState" in src or "transformWithStateInPandas" in src:
        out.add("stateful")
    if "applyInArrow" in src or "mapInArrow" in src:
        out.add("arrow-batch")
    if _re.search(r"applyInPandas\b", src) or "mapInPandas" in src:
        out.add("pandas-batch")
    if "pandas_udf" in src:
        out.add("pandas-udf")
    if "udtf(" in src:  # "@udtf(" / "udtf(Cls)" — NOT ".udtf.register("
        out.add("arrow-udtf" if "useArrow=True" in src else "pickled-udtf")
    if _re.search(r"(?<![a-z_])udf\(", src):  # excludes pandas_udf(/udtf(
        out.add("arrow-udf" if "useArrow=True" in src else "pickled-udf")
    return frozenset(out)


TRANSPORTS = {
    "u1_normalize_suffix_pickled": frozenset({"pickled-udf"}),
    "u1b_normalize_suffix_arrow": frozenset({"arrow-udf"}),
    "u5_tag_splitter_udtf": frozenset({"pickled-udtf"}),
    "u9_first_tokens_udtf": frozenset({"pickled-udtf"}),
    "u14_split_space_words_udtf": frozenset({"arrow-udtf"}),
    "u14_split_space_words_udtf_pickled": frozenset({"pickled-udtf"}),
    "u16_split_with_pos_udtf": frozenset({"pickled-udtf"}),
    "u15_cohort_of_scalar": frozenset({"pickled-udf"}),
    "u16_signature_scalar": frozenset({"pickled-udf"}),
    "u17_shape_key_scalar": frozenset({"pickled-udf"}),
    "u18_skeleton_scalar": frozenset({"pickled-udf"}),
    "u18_skeleton_vowel_chain": frozenset({"pickled-udf", "pandas-udf"}),
    "u2_sigmoid_pandas": frozenset({"pandas-udf"}),
    "u2b_sigmoid_iter": frozenset({"pandas-udf"}),
    "u11_half_away_cents": frozenset({"pickled-udf"}),
    "u_median_grouped_agg": frozenset({"pandas-udf"}),
    "u4b_weighted_avg_grouped_agg": frozenset({"pandas-udf"}),
}

# Builders that construct through a production FACTORY — the transport
# lives in the factory's source, not the builder's.
_FACTORY_SOURCES = {
    "u1_normalize_suffix_pickled": (_udfs_mod._make_normalize_suffix,),
    "u5_tag_splitter_udtf": (_udfs_mod._make_tag_splitter,),
    "u9_first_tokens_udtf": (_udfs_mod._make_first_tokens,),
    "u2_sigmoid_pandas": (_udfs_mod._sigmoid_balance_udf,),
    "u2b_sigmoid_iter": (_udfs_mod._sigmoid_balance_iter_udf,),
}


def test_battery_transport_declarations_match_builders():
    """TRANSPORTS is load-bearing for the crossing-closure test, so it
    must not drift from what the builders actually construct: classify
    each builder's (plus production factory's) real source."""
    assert set(TRANSPORTS) == set(UDF_BATTERY)
    for name, (build, _sql, _vals, _decls) in UDF_BATTERY.items():
        src = inspect.getsource(build)
        for factory in _FACTORY_SOURCES.get(name, ()):
            src += inspect.getsource(factory)
        assert classify_transports(src) == TRANSPORTS[name], (
            name, classify_transports(src), TRANSPORTS[name])
