"""Replicates the driver's DuckDB-oracle comparison for every registered
query, at sf0.001 by default (fast; set DWOS_TEST_SF_DIR=/root/testdata/sf0.01
to run the exact graded scale).

Execution model (round-11 suite-time lever): all ~490 checks run once
inside a session-scoped fixture on a small thread pool — Spark job
submission and DuckDB both release the GIL, so the per-query latency
(job scheduling + Arrow collect + oracle run) overlaps across workers
while the local[$SPARK_GRAFT_CPUS] session keeps the cores busy. Each
per-query test then asserts its own cached verdict, so pytest
granularity and failure messages are unchanged. DWOS_SUITE_THREADS=1
restores strictly sequential checking.
Thread-safety audit: every temp view / temp function / UDTF / variable
name in the package is query-unique (grepped, round 11); the two
catalog writers (Derby DDL is the one shared mutable resource) are
serialized on a lock; s13's table name is per-construction since the
round-11 ADVICE fix.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import __spark_entry__ as entrymod
from data_wrangling_openstreetmap_spark import oracle as orc
from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()
QUERY_NAMES = sorted(REGISTRY)

_THREADS = max(1, int(os.environ.get("DWOS_SUITE_THREADS", "6")))

# Queries whose construction issues catalog DDL (embedded Derby
# metastore — the one resource concurrent constructions share).
_CATALOG_WRITERS = {"s6_table_roundtrip", "s13_sink_relay"}
_CATALOG_LOCK = threading.Lock()


def _check_one(spark, sf_dir: str, name: str):
    """The exact per-query driver-strict check; returns None on parity,
    else the failure message. Mirrors the historical test body."""
    spec = REGISTRY[name]
    try:
        if name in _CATALOG_WRITERS:
            with _CATALOG_LOCK:
                df = spec.fn(spark, sf_dir)
        else:
            df = spec.fn(spark, sf_dir)
        if spec.oracle is None:
            spark_rows = [tuple(r) for r in df.collect()]
            assert len(spark_rows) >= 0  # rows-only check, as the driver
            return None
        # Driver-strict comparison: toPandas() vs duckdb .df(),
        # dtype-family equality + stringified-cell equality + array-cell
        # rejection — strictly stronger than the value-level compare,
        # which therefore runs only on failure for its friendlier
        # message (the round-9 single-execution trim).
        pdf = df.toPandas()
        odf = orc.run_oracle_df(spec.oracle, sf_dir)
        strict = orc.strict_compare_frames(pdf, odf)
        if strict:
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
            o_cols, o_rows = orc.run_oracle(spec.oracle, sf_dir)
            problems = orc.compare(spark_cols, spark_rows, o_cols, o_rows)
            if problems:
                return f"{name}: " + "; ".join(problems)
            return f"{name} [driver-strict]: " + "; ".join(strict)
        return None
    except Exception as ex:  # surface construction/compare crashes per query
        return f"{name}: raised {type(ex).__name__}: {ex}"


def _selected_names(request, test_name: str) -> list:
    """Only the names pytest actually collected for `test_name` — so a
    `-k one_query` run pays for one query, not the whole registry.

    The fixture can only have been instantiated BY a collected
    instance of `test_name`, so an empty pick means the hardcoded
    prefix drifted from the actual test name — fail loudly instead of
    silently running the full registry (ADVICE r11)."""
    picked = set()
    for item in request.session.items:
        callspec = getattr(item, "callspec", None)
        if callspec is None or not item.name.startswith(test_name):
            continue
        name = callspec.params.get("name")
        if name is not None:
            picked.add(name)
    assert picked, (
        f"no collected test item matches prefix {test_name!r} — the "
        "test was renamed without updating _selected_names callers"
    )
    return sorted(picked)


def _bind_active_session(spark):
    """JVM-side SparkSession.getActiveSession is a THREAD-LOCAL, and
    py4j's pinned-thread mode maps each Python thread to its own JVM
    thread — so a worker thread has NO active session, and any code
    path that resolves through it (the Python DataSource registry
    lookup in DataFrameWriter.save, observed live: DATA_SOURCE_NOT_
    FOUND for dwos_jsonl_sink right after its own registration) fails.
    Each pool worker binds the test session once."""
    jvm = spark.sparkContext._jvm
    jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
        spark._jsparkSession
    )


@pytest.fixture(scope="session")
def parity_verdicts(request, spark, sf_dir):
    names = _selected_names(request, "test_query_matches_oracle")
    if _THREADS == 1:
        return {n: _check_one(spark, sf_dir, n) for n in names}
    with ThreadPoolExecutor(
        max_workers=_THREADS, initializer=_bind_active_session, initargs=(spark,)
    ) as ex:
        futs = {n: ex.submit(_check_one, spark, sf_dir, n) for n in names}
        return {n: f.result() for n, f in futs.items()}


def test_contract_shape():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(os_) <= set(qs), "every oracle key must have a query"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(parity_verdicts, name):
    verdict = parity_verdicts[name]
    assert verdict is None, verdict
