"""Extended-SQL frontend queries (SURVEY §4.2 optional polish, built).

These grade ``plans/sql_ext.sql`` — the documented Spark-SQL superset
with ``ASOF JOIN`` and ``SIMILARITY JOIN`` keywords — against DuckDB's
NATIVE implementations of the same constructs: DuckDB 1.x ships a real
``ASOF [LEFT] JOIN``, so x1/x1b are an engine-vs-engine comparison of
the as-of keyword itself (not a hand-derived reformulation), and x2's
oracle is the exact pairwise-Jaccard SQL the frontend's inverted-index
lowering must reproduce.

Scale notes live on the lowering (plans/sql_ext.py): as-of = one
shuffle on the join key via the union-timeline window carry;
similarity = token-blocked inverted-index join, never the O(n²) cross
product the user-facing predicate implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..plans import sql_ext
from ..registry import register

# ---------------------------------------------------------------------------
# X1 — ASOF JOIN keyword (inner): purchase → latest preceding click.
# Output is the µs gap, not the click id: among clicks tied on
# (user_id, ts) an as-of engine may pick either row, and the gap is
# identical for every choice — the hash cannot depend on tie luck.
# ---------------------------------------------------------------------------

_X1_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS us_since_click
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _asof_views(spark: SparkSession, sf_dir: str) -> None:
    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    ).createOrReplaceTempView("x1_purchases")
    events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    ).createOrReplaceTempView("x1_clicks")


@register("x1_asof_sql", oracle=_X1_ORACLE, tags=("J7",))
def x1_asof_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ASOF JOIN`` keyword end-to-end: the extended-SQL text below is
    lowered by plans/sql_ext.py to the union-timeline window plan and
    graded against DuckDB's native ASOF JOIN on the same views.

    Scale: the lowering shuffles once on user_id — the 100 TB as-of
    shape (operators/windows.py::j7_asof_join); the keyword adds no
    driver work and no extra exchange.
    """
    _asof_views(spark, sf_dir)
    return sql_ext.sql(
        spark,
        """
        SELECT p.event_id AS purchase_id,
               p.user_id AS user_id,
               CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', p.ts)
                    - timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', c.ts) AS BIGINT) AS us_since_click
        FROM x1_purchases p ASOF JOIN x1_clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
    )


_X1B_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       CAST(c.ts IS NOT NULL AS BIGINT) AS matched,
       CAST(coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS BIGINT) AS us_since_click
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("x1b_asof_left_sql", oracle=_X1B_ORACLE, tags=("J7", "J2"))
def x1b_asof_left_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ASOF LEFT JOIN`` keyword: purchases with no preceding click
    survive with a null match (surfaced as matched=0 / gap −1 so the
    graded output carries no nullable-vs-coalesced dtype ambiguity).
    Same lowering and oracle engine as x1; only the join mode differs.
    """
    _asof_views(spark, sf_dir)
    return sql_ext.sql(
        spark,
        """
        SELECT p.event_id AS purchase_id,
               p.user_id AS user_id,
               CAST(c.ts IS NOT NULL AS BIGINT) AS matched,
               CAST(coalesce(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', p.ts)
                    - timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', c.ts), -1) AS BIGINT) AS us_since_click
        FROM x1_purchases p ASOF LEFT JOIN x1_clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
    )


# ---------------------------------------------------------------------------
# X2 — SIMILARITY JOIN keyword: the user writes the pairwise predicate,
# the plan that runs is the token-set pair primitive's (inverted-index
# join, or the mask pair scan on a ≤ 64-token vocabulary). Oracle is the
# exact pairwise form (integer-ratio Jaccard — bit-identical doubles).
# ---------------------------------------------------------------------------

_X2_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS ts
  FROM documents
)
SELECT
  a.doc_id AS doc_a,
  b.doc_id AS doc_b,
  CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
    / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS similarity
FROM toks a JOIN toks b ON a.doc_id < b.doc_id
WHERE similarity >= 0.9
"""


@register("x2_similarity_sql", oracle=_X2_ORACLE, tags=("L2", "J8"))
def x2_similarity_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SIMILARITY JOIN`` keyword end-to-end: the O(n²) predicate the
    SQL expresses is lowered to the token-set pair primitive
    (plans/sql_ext.py → functions/text.py::token_set_pairs) — the §4.2
    "similarity-join rewrite" delivered at the SQL surface. On this
    fixture's 31-word vocabulary the primitive runs the broadcast mask
    pair scan; an open vocabulary gets the token-blocked inverted-index
    join. Jaccard is exact integer-ratio math; no
    rounding needed for cross-engine hashing.

    Scale: shuffle by token; df-capped / MinHash-LSH variants
    (operators/llm.py) are the declared paths when token frequencies
    are zipfian-hot — the lowering here keeps the same exact semantics
    as the user's predicate.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("x2_docs")
    return sql_ext.sql(
        spark,
        """
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, similarity
        FROM x2_docs a SIMILARITY JOIN x2_docs b
          ON token_jaccard(a.text, b.text) >= 0.9 AND a.doc_id < b.doc_id
        """,
    )


# ---------------------------------------------------------------------------
# X1c — multi-key ASOF JOIN: same-day attribution, keyed on
# (user_id, day). The composite-key form real as-of workloads use
# (symbol+venue, user+session, device+metric …).
# ---------------------------------------------------------------------------

_X1C_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS us_since_click
FROM (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id
      FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id
           FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts
"""


@register("x1c_asof_multikey_sql", oracle=_X1C_ORACLE, tags=("J7", "J1"))
def x1c_asof_multikey_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key ``ASOF JOIN``: latest same-user click at-or-before
    each purchase AND on the same calendar day (an N-conjunct equality
    list ahead of the inequality — the grammar's multi-key form).
    Purchases whose nearest click is yesterday's get no match (inner).
    Graded against DuckDB's native multi-condition ASOF JOIN.

    Scale: the lowering shuffles once on the COMPOSITE key (user_id,
    day) — adding keys only narrows partitions, never widens state.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    events.filter(F.col("event_type") == "purchase").select(
        "user_id", day.alias("day"), "ts", "event_id"
    ).createOrReplaceTempView("x1c_purchases")
    events.filter(F.col("event_type") == "click").select(
        "user_id", day.alias("day"), "ts", "event_id"
    ).createOrReplaceTempView("x1c_clicks")
    return sql_ext.sql(
        spark,
        """
        SELECT p.event_id AS purchase_id,
               p.user_id AS user_id,
               CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', p.ts)
                    - timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', c.ts) AS BIGINT) AS us_since_click
        FROM x1c_purchases p ASOF JOIN x1c_clicks c
          ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts
        """,
    )


# ---------------------------------------------------------------------------
# X3 — QUALIFY keyword: window filtering without a subquery, graded
# engine-vs-engine against DuckDB's NATIVE QUALIFY on the same text.
# ---------------------------------------------------------------------------

_X3_STMT = """
SELECT o_orderpriority,
       o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
FROM x3_orders
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY o_orderpriority
  ORDER BY round(o_totalprice * 100) DESC, o_orderkey
) <= 3
"""

_X3_ORACLE = _X3_STMT.replace("x3_orders", "orders")


@register("x3_qualify_sql", oracle=_X3_ORACLE, tags=("W1", "W2", "O2"))
def x3_qualify_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``QUALIFY`` keyword end-to-end: the top-3 orders per priority
    class, written as Snowflake/DuckDB-style window filtering with no
    subquery. The SAME statement text runs on both engines — Spark via
    the frontend's lowering (plans/sql_ext.py), DuckDB via its native
    QUALIFY — so the grade is engine-vs-engine on the keyword itself.
    Ranking key is exact integer cents with the orderkey tiebreak
    (unique → deterministic under ties).

    Scale: the lowering's rank-filter compiles to WindowGroupLimit —
    per-group top-k runs map-side BEFORE the shuffle (asserted in
    tests/test_sql_frontend.py), so each partition forwards at most
    3 rows per priority class instead of its whole slice.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x3_orders")
    return sql_ext.sql(spark, _X3_STMT)


# ---------------------------------------------------------------------------
# X4 — MATCH_RECOGNIZE subset: row-pattern matching as a first-class
# SQL construct (Flink/Trino/Snowflake surface; Spark has none),
# lowered to the symbol-string + regex plan and graded against the
# hand-built equivalent SQL in DuckDB.
# ---------------------------------------------------------------------------

_X4_STMT = """
SELECT user_id, MATCH_COUNT() AS n_conversions
FROM x4_events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  PATTERN ( B+ P )
  DEFINE B AS event_type IN ('click', 'view'),
         P AS event_type = 'purchase'
)
"""

_X4_ORACLE = """
WITH j AS (
  SELECT user_id,
         string_agg(CASE WHEN event_type IN ('click', 'view') THEN 'a'
                         WHEN event_type = 'purchase' THEN 'b'
                         ELSE '-' END, '' ORDER BY ts, event_id) AS journey
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(regexp_extract_all(journey, 'a+b')) AS BIGINT) AS n_conversions
FROM j
"""


@register("x4_match_recognize_sql", oracle=_X4_ORACLE, tags=("W3", "F2", "A8"))
def x4_match_recognize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MATCH_RECOGNIZE`` end-to-end: browse-then-buy conversions per
    user written as a row-pattern clause (PARTITION BY / ORDER BY /
    PATTERN / DEFINE — the Flink/Trino surface), parsed and lowered by
    plans/sql_ext.py to the q30 symbol-string plan: first-matching
    DEFINE classifies each row to one character, the ordered journey
    string concatenates per partition, and the PATTERN compiles to a
    regex counted with non-overlapping leftmost matches. The oracle is
    the hand-derived equivalent SQL — DuckDB has no MATCH_RECOGNIZE,
    which is rather the point of shipping one.

    Scale: identical to q30 — one shuffle to assemble each bounded
    per-user journey, then projection-only matching; the construct
    adds zero plan weight over the hand-written form.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("x4_events")
    return sql_ext.sql(spark, _X4_STMT)


# ---------------------------------------------------------------------------
# X5 — DISTINCT ON: "latest row per key" as one clause, graded
# engine-vs-engine against DuckDB's NATIVE DISTINCT ON.
# ---------------------------------------------------------------------------

_X5_STMT = """
SELECT DISTINCT ON (user_id) user_id, event_id, event_type
FROM x5_events ORDER BY user_id, ts DESC, event_id
"""

_X5_ORACLE = _X5_STMT.replace("x5_events", "events")


@register("x5_distinct_on_sql", oracle=_X5_ORACLE, tags=("O6", "W1", "A9"))
def x5_distinct_on_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTINCT ON`` end-to-end: each user's most recent event in one
    clause — the SAME statement text runs through the frontend's
    row_number()=1 lowering on Spark and natively on DuckDB, so the
    grade is engine-vs-engine on the construct. The ORDER BY ends in
    the unique event_id, pinning ties (DISTINCT ON without a total
    order is arrival luck on both engines).

    Scale: the lowering is the w-family top-1 window — partitioned by
    the ON key, compiled to WindowGroupLimit (per-key top-1 before the
    shuffle), the scale-safe "latest per key" plan.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("x5_events")
    return sql_ext.sql(spark, _X5_STMT)


# ---------------------------------------------------------------------------
# X6 — SQL PIVOT construct, engine vs engine (round 4): Spark's native
# `PIVOT (agg FOR col IN (...))` clause against DuckDB's native
# `PIVOT ... ON ... USING ... GROUP BY` statement — the same relational
# rotate expressed in each engine's own dialect, graded for identical
# values. a12_pivot grades the DataFrame `.pivot()` API; this grades
# the SQL surface.
# ---------------------------------------------------------------------------

_X6_ORACLE = """
SELECT o_orderpriority,
       "O" AS n_open, "F" AS n_filled, "P" AS n_pending
FROM (
  PIVOT orders ON o_orderstatus IN ('O', 'F', 'P')
  USING COUNT(*) GROUP BY o_orderpriority
)
"""


@register("x6_pivot_sql", oracle=_X6_ORACLE, tags=("A1", "P6"))
def x6_pivot_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT: order counts rotated into one column per order
    status. The frontend passes the native construct through to Spark
    untouched (it only rewrites the extended keywords); missing
    (priority, status) combos are NULL in Spark's pivot and 0 in
    DuckDB's, so both sides pin the absent-combo count with an explicit
    coalesce/native-zero — the semantic the construct comparison is
    meant to surface.

    Scale: Spark compiles PIVOT to a single hash aggregate whose
    grouping key is the non-pivot columns and whose agg list is one
    conditional count per IN-value — map-side partials, one shuffle on
    o_orderpriority, no explode.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x6_orders")
    return sql_ext.sql(
        spark,
        """
        SELECT o_orderpriority,
               CAST(coalesce(n_open, 0) AS BIGINT) AS n_open,
               CAST(coalesce(n_filled, 0) AS BIGINT) AS n_filled,
               CAST(coalesce(n_pending, 0) AS BIGINT) AS n_pending
        FROM (
          SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM x6_orders)
          PIVOT (COUNT(*) FOR o_orderstatus IN ('O' AS n_open, 'F' AS n_filled, 'P' AS n_pending))
        )
        """,
    )


# ---------------------------------------------------------------------------
# X7 — SELECT * EXCLUDE, engine vs engine (round 4): DuckDB runs its
# native EXCLUDE clause; the frontend lowers the same text for Spark by
# resolving the view schema at plan time and rewriting the star to the
# surviving column list.
# ---------------------------------------------------------------------------

_X7_ORACLE = """
SELECT * EXCLUDE (text) FROM documents WHERE doc_id < 100
"""


@register("x7_exclude_sql", oracle=_X7_ORACLE, tags=("P1", "F8"))
def x7_exclude_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCLUDE (text)`` — the wide-table idiom for "all the
    metadata, not the payload". Column order must match DuckDB's native
    EXCLUDE exactly (original schema order minus the named columns),
    which is what the lowering's schema-resolved rewrite guarantees.

    Scale: lowers to a plain projection — column pruning reaches the
    parquet scan, so the excluded payload column is never read.
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("x7_docs")
    return sql_ext.sql(
        spark,
        "SELECT * EXCLUDE (text) FROM x7_docs WHERE doc_id < 100",
    )


# ---------------------------------------------------------------------------
# X8 — SELECT * REPLACE, engine vs engine (round 5): DuckDB runs its
# native REPLACE clause; the frontend lowers the same text for Spark by
# resolving the view schema and rewriting the star to the full column
# list with the named slots substituted in place (order and width
# preserved). The replacement expressions deliberately nest parens —
# the lowering's top-level paren scanner, not a bracket-free regex,
# must find the list's end.
# ---------------------------------------------------------------------------

_X8_ORACLE = """
SELECT * REPLACE (CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice,
                  lower(o_orderpriority) AS o_orderpriority)
FROM orders WHERE o_orderkey < 2000
"""


@register("x8_replace_sql", oracle=_X8_ORACLE, tags=("P1", "F8"))
def x8_replace_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * REPLACE (...)`` — the wide-table idiom for "all the
    columns, but fix these two in place": totalprice re-typed to exact
    cents and priority lower-cased, WITHOUT enumerating the other
    columns. Column order and names must match DuckDB's native REPLACE
    exactly (original schema order, replaced slots keeping their
    names), which the schema-resolved rewrite guarantees; both engines
    evaluate the identical cents/lower expressions.

    Scale: lowers to a plain projection over one scan — pushdown and
    pruning unaffected; the construct is pure plan-time sugar.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x8_orders")
    return sql_ext.sql(
        spark,
        """
        SELECT * REPLACE (CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice,
                          lower(o_orderpriority) AS o_orderpriority)
        FROM x8_orders WHERE o_orderkey < 2000
        """.strip(),
    )


# ---------------------------------------------------------------------------
# X9 — GROUP BY ALL / ORDER BY ALL, engine vs engine: both engines ship
# the clause natively (Spark 3.4+/DuckDB), so the oracle is the SAME
# text — grading that the inference (group on every non-aggregate
# select item, order on every output column) picks identical columns.
# ---------------------------------------------------------------------------

_X9_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE) AS revenue
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


@register("x9_group_by_all_sql", oracle=_X9_ORACLE, tags=("A1", "O1"))
def x9_group_by_all_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` — the analyst shorthand both
    engines now parse natively: the grouping key set is inferred from
    the non-aggregate select items (status, priority) and the ordering
    from the full output row. One text, two engines, hash-identical
    result INCLUDING row order semantics (the driver sorts anyway, but
    the inferred grouping must agree or counts split).

    Scale: identical plan to the explicit GROUP BY — inference is
    analysis-time sugar; one low-cardinality shuffle.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x9_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE) AS revenue
        FROM x9_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# X10 — IDENTIFIER() clause: SQL-injection-safe dynamic table/column
# references (Spark 3.5+). DuckDB has no IDENTIFIER; the oracle is the
# statically-spelled equivalent — the point graded is that the dynamic
# reference resolves to exactly the static plan.
# ---------------------------------------------------------------------------

_X10_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n, MIN(c_custkey) AS min_key
FROM customer GROUP BY c_mktsegment
"""


@register("x10_identifier_sql", oracle=_X10_ORACLE, tags=("S6", "P1"))
def x10_identifier_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:tbl)``-style dynamic references: the table name
    and the grouping column arrive as STRINGS (the multi-tenant /
    metadata-driven pipeline case) and resolve through IDENTIFIER()
    instead of f-string splicing — Spark validates them as identifiers,
    closing the SQL-injection hole string formatting leaves open.

    Scale: resolution happens at analysis time; the plan is byte-for-
    byte the static query's.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("x10_customer")
    view, col = "x10_customer", "c_mktsegment"
    return spark.sql(
        "SELECT IDENTIFIER(:col), COUNT(*) AS n, MIN(c_custkey) AS min_key "
        "FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:col)",
        args={"tbl": view, "col": col},
    )


# ---------------------------------------------------------------------------
# X11 — SQL session variables (Spark 4 DECLARE / SET VAR): the
# procedural-script surface. The oracle spells the final variable
# values as literals — grading that the variable reads see the SET
# value, not the DEFAULT.
# ---------------------------------------------------------------------------

_X11_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big
FROM orders
WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority
"""


@register("x11_sql_variables", oracle=_X11_ORACLE, tags=("P2", "A1"))
def x11_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables: DECLARE a threshold with one DEFAULT, SET VAR
    it to the real value, and filter through the variable — the Spark 4
    scripting surface that replaces client-side string splicing for
    tunable thresholds. The DEFAULT (1e9, which would match nothing)
    proves the read happens after SET, not at declaration.

    Scale: variables fold to literals at analysis time — the filter
    pushes down to the scan exactly as a hand-written constant would.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x11_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE x11_threshold DOUBLE DEFAULT 1000000000.0"
    )
    spark.sql("SET VAR x11_threshold = 150000.0")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_big
        FROM x11_orders
        WHERE o_totalprice > x11_threshold
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# X12 — parameterized SQL (named parameter markers): the typed,
# plan-cache-friendly way to pass values into spark.sql (3.4+). Oracle
# spells the parameters as literals.
# ---------------------------------------------------------------------------

_X12_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events
WHERE value BETWEEN 25.0 AND 75.0 AND event_type <> 'error'
GROUP BY event_type
"""


@register("x12_parameterized_sql", oracle=_X12_ORACLE, tags=("P2", "A1"))
def x12_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named parameter markers (:lo, :hi, :skip) bound through
    ``spark.sql(..., args=...)`` — typed substitution at parse time
    (no quoting bugs, no injection), the API every driver-side
    application should use instead of f-strings.

    Scale: parameters arrive as foldable literals, so BETWEEN pushes
    down to the scan; the plan is identical to the literal query's.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("x12_events")
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n_events,
               SUM(CAST(round(value * 100) AS BIGINT)) / CAST(100 AS DOUBLE) AS total_value
        FROM x12_events
        WHERE value BETWEEN :lo AND :hi AND event_type <> :skip
        GROUP BY event_type
        """,
        args={"lo": 25.0, "hi": 75.0, "skip": "error"},
    )


# ---------------------------------------------------------------------------
# X13 — aggregate FILTER clause, engine vs engine: per-aggregate
# predicates without CASE scaffolding; both engines parse the standard
# syntax, so one text grades both.
# ---------------------------------------------------------------------------

_X13_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE value > 50.0) AS n_big,
       SUM(CAST(round(value * 100) AS BIGINT)) FILTER (WHERE user_id % 2 = 0)
         / CAST(100 AS DOUBLE) AS even_user_value
FROM events
GROUP BY event_type
"""


@register("x13_filter_clause_sql", oracle=_X13_ORACLE, tags=("A1", "P2"))
def x13_filter_clause_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard aggregate ``FILTER (WHERE …)``: three aggregates
    over one pass, each with its own predicate — the declarative form
    of the CASE-WHEN-inside-SUM idiom, run from the identical text on
    both engines (a FILTERed exact-cents SUM included, so null-vs-zero
    handling of empty filter sets is graded too).

    Scale: one partial+final aggregate; FILTER compiles to the same
    conditional accumulation the CASE spelling produces.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("x13_events")
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE value > 50.0) AS n_big,
               SUM(CAST(round(value * 100) AS BIGINT)) FILTER (WHERE user_id % 2 = 0)
                 / CAST(100 AS DOUBLE) AS even_user_value
        FROM x13_events
        GROUP BY event_type
        """
    )


# ---------------------------------------------------------------------------
# X14 — SQL pipe syntax (round 5+): Spark 4's |> operator chain (the
# SQL:2023-era "pipe SQL" Google/BigQuery popularized). Each stage
# consumes the previous relation top-to-bottom — the way people read
# queries. Spark parses it natively; the oracle is the equivalent
# nested ANSI form in DuckDB, grading that the staged semantics
# (filter → join → aggregate → post-filter → projection) really are
# the classic ones.
# ---------------------------------------------------------------------------

_X14_ORACLE = """
SELECT o_orderpriority, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority, c_mktsegment
HAVING COUNT(*) >= 5
"""


@register("x14_pipe_syntax_sql", oracle=_X14_ORACLE, tags=("A1", "J1", "A5"))
def x14_pipe_syntax_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The open-order revenue rollup written as a |> pipe chain:
    ``FROM orders |> WHERE … |> JOIN … |> AGGREGATE … GROUP BY … |>
    WHERE n ≥ 5 |> SELECT`` — each stage transforms the previous
    relation in reading order; the post-aggregation ``|> WHERE`` plays
    HAVING without the keyword. Spark 4 parses this natively (no
    frontend rewrite involved); the oracle is the equivalent nested
    ANSI statement, so the grade is pipe-semantics vs classic-semantics.

    Scale: pure parse-time surface — the pipe chain plans to the
    identical join/aggregate tree as the ANSI form (broadcast dim,
    partial agg, pushed filter), so every optimizer behavior is
    unchanged.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x14_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "x14_customer"
    )
    return spark.sql(
        """
        FROM x14_orders
        |> WHERE o_orderstatus = 'O'
        |> JOIN x14_customer ON o_custkey = c_custkey
        |> AGGREGATE COUNT(*) AS n_orders,
                     SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS revenue_cents
           GROUP BY o_orderpriority, c_mktsegment
        |> WHERE n_orders >= 5
        |> SELECT o_orderpriority, c_mktsegment, n_orders, revenue_cents
        """
    )


# ---------------------------------------------------------------------------
# X15 — lateral column aliases (round 5+): referencing a select-list
# alias from a LATER item in the same select list (Spark 3.4+ native,
# DuckDB native) — the surface that kills the "nest three subqueries
# to name an expression" pattern. Same text runs on both engines.
# ---------------------------------------------------------------------------

_X15_ORACLE = """
SELECT o_orderpriority,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100 AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(revenue / n_orders, 2) + 0 AS avg_order,
       ROUND(avg_order / 1000, 4) + 0 AS avg_korder
FROM orders
GROUP BY o_orderpriority
"""


@register("x15_lateral_alias_sql", oracle=_X15_ORACLE, tags=("A1", "F4"))
def x15_lateral_alias_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases in aggregate position: ``avg_order``
    consumes the ``revenue``/``n_orders`` aliases defined earlier in
    the SAME select list, and ``avg_korder`` chains one further — the
    oracle is the IDENTICAL text (DuckDB resolves lateral aliases
    natively too), so the grade proves both engines bind the chain
    the same way. Money rides the integer-cents recipe before the
    divisions; rounds carry ``+ 0``.

    Scale: parse-time sugar — the bound plan is the same single
    hash aggregation the nested-subquery spelling produces.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_x15")
    return spark.sql(_X15_ORACLE.replace("FROM orders", "FROM orders_x15"))


# ---------------------------------------------------------------------------
# X16 — native UNPIVOT clause (round 5+): the SQL-standard spelling of
# a13's wide→long melt, parsed natively by BOTH engines. Wide per-year
# revenue columns fold back into (year, revenue) rows; the oracle
# recomputes the long form directly from the base table, so a wrong
# column→row mapping in either engine's UNPIVOT breaks the hash.
# ---------------------------------------------------------------------------

_X16_ORACLE = """
SELECT o_orderpriority,
       CAST(date_part('year', o_orderdate) AS INT) AS yr,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2
"""


@register("x16_unpivot_sql", oracle=_X16_ORACLE, tags=("O3", "A1"))
def x16_unpivot_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot 1995–1997 revenue into wide year columns, then fold them
    back with Spark's native SQL ``UNPIVOT`` clause — the roundtrip
    must reproduce exactly the long-form rollup the oracle computes
    directly (column-name → year mapping, NULL cells for empty years
    dropped per UNPIVOT's default EXCLUDE NULLS).

    Scale: UNPIVOT is a zero-shuffle projection (each wide row emits
    ≤3 long rows in place); the preceding pivot is the only
    aggregation. The wide intermediate keys on 5 priorities — tiny at
    any corpus size.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_x16")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(substr(yr_col, 2) AS INT) AS yr,
               revenue_cents
        FROM (
          SELECT * FROM (
            SELECT o_orderpriority,
                   concat('y', year(o_orderdate)) AS yr,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders_x16
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
          )
          PIVOT (SUM(cents) FOR yr IN ('y1995', 'y1996', 'y1997'))
        )
        UNPIVOT (revenue_cents FOR yr_col IN (`y1995`, `y1996`, `y1997`))
        """
    )
