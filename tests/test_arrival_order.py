"""Dynamic arrival-order-independence probe over the graded window.

The static order-determinism sweep (tests/test_window_orders.py)
PROVES tie-safety from the plan + fixture; this module attacks from
the other side: run every DRIVER_WINDOW query twice — once normally,
once with every table's rows adversarially re-partitioned and
intra-partition-scrambled — and demand the result multisets be
IDENTICAL. This is exactly the failure mode w36 exhibited in round 7
(shuffle-arrival order flipped under load), reproduced deliberately
instead of waiting for a loaded machine, and it also validates the
static checker's safe-by-shape exemptions (rank-like, RANGE-frame
aggregates) empirically: an exemption that were wrong would flip here.

Scramble mechanics: each operator module binds ``load_table`` by name
(``from ..io import load_table``), so the patch must rebind the symbol
in every module, not in io. The scramble is deterministic
(seeded rand) so a failure reproduces.

Exact equality is demanded, not tolerance: the repo's money recipe
makes aggregate folds integer-exact, and the float-bearing queries
already survive partition-count churn (the hostile-config probe), so
any difference here is a real arrival-order dependence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark import io as dwos_io
from data_wrangling_openstreetmap_spark.operators import ALL_MODULES, DRIVER_WINDOW
from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded

SF = "/root/testdata/sf0.01"


def _scrambling_load_table(spark, sf_dir, name):
    df = dwos_io.load_table(spark, sf_dir, name)
    # new partitioning + scrambled intra-partition order; the scramble
    # key is a DETERMINISTIC hash of the whole row (not rand()) so the
    # probe reproduces exactly AND stays legal inside lateral
    # subqueries, which reject non-deterministic inputs
    return (
        df.withColumn(
            "__shuf", F.xxhash64(*[F.col(c) for c in df.columns])
        )
        .repartition(11, F.col("__shuf"))
        .sortWithinPartitions("__shuf")
        .drop("__shuf")
    )


def _cell_key(v):
    """Total order over collected cells (ADVICE r8 #3): map cells come
    back as Python dicts, which raise TypeError on '<', and struct
    cells as Rows whose elements can themselves be maps — canonicalize
    recursively (dicts → sorted item tuples, sequences element-wise,
    scalars → repr, which is deterministic for equal values) so the
    probe reports a DIFF instead of crashing when a window query
    returns a non-orderable type. Two equal cells always get equal
    keys, so cross-run positions of equal rows stay aligned."""
    if isinstance(v, dict):
        return ("map", tuple(sorted((_cell_key(k), _cell_key(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):  # includes Row (a tuple subclass)
        return ("seq", tuple(_cell_key(x) for x in v))
    return ("scalar", v is None, str(type(v)), repr(v))


def _rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda t: tuple(_cell_key(v) for v in t),
    )


@pytest.mark.timeout(1800)
def test_driver_window_is_arrival_order_independent(spark, monkeypatch):
    _ensure_loaded()
    failures = []
    for name in DRIVER_WINDOW:
        spec = REGISTRY[name]
        monkeypatch.undo()
        baseline = _rows(spec.fn(spark, SF))
        for mod in ALL_MODULES:
            if hasattr(mod, "load_table"):
                monkeypatch.setattr(mod, "load_table", _scrambling_load_table)
        scrambled = _rows(spec.fn(spark, SF))
        if baseline != scrambled:
            diff = [
                (b, s) for b, s in zip(baseline, scrambled) if b != s
            ][:3]
            failures.append(f"{name}: {len(baseline)} vs {len(scrambled)} rows, first diffs {diff}")
    monkeypatch.undo()
    assert not failures, "\n".join(failures)


def test_ann_ivf_is_arrival_order_independent(spark, monkeypatch):
    """l3_ann_ivf is outside DRIVER_WINDOW (no oracle; rows-only
    graded), so it gets its own scramble: the quantizer's training set is
    chosen and ordered by (xxhash64(vec_id, 7), vec_id), never by
    partition layout, so the neighbor rows must not move."""
    _ensure_loaded()
    fn = REGISTRY["l3_ann_ivf"].fn
    baseline = _rows(fn(spark, SF))
    for mod in ALL_MODULES:
        if hasattr(mod, "load_table"):
            monkeypatch.setattr(mod, "load_table", _scrambling_load_table)
    assert _rows(fn(spark, SF)) == baseline
