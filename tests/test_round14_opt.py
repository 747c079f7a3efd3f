"""Focused tests for the driver-side IVF quantizer of l3_ann_ivf.

The coarse quantizer trains in numpy on the driver
(operators/llm.py::_train_quantizer) from a bounded, hash-ordered
sample; these tests pin:

- the trainer's determinism, its recovery of planted centres, and its
  edge inputs (fewer rows than cells, all-identical rows, no rows);
- the build cost as a count: constructing l3_ann_ivf fires exactly ONE
  Spark job (the bounded training collect);
- the empty-table path: a zero-row embeddings table yields the typed
  empty (vec_id, neighbor_id, cosine) frame;
- the lint: no package module imports pyspark.ml.
"""

from __future__ import annotations

import ast
import os

import numpy as np

from data_wrangling_openstreetmap_spark.io import load_table
from data_wrangling_openstreetmap_spark.operators.llm import (
    _train_quantizer,
    l3_ann_ivf,
)
from tools.query_loop import job_group

SF_SMALL = "/root/testdata/sf0.001"
SF_BUILD = "/root/testdata/sf0.01"


def _unit_rows(n, d, seed):
    X = np.random.default_rng(seed).standard_normal((n, d))
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def test_train_quantizer_is_deterministic():
    X = _unit_rows(500, 16, seed=3)
    a = _train_quantizer(X, 32)
    b = _train_quantizer(X.copy(), 32)
    assert a.shape == (32, 16)
    np.testing.assert_array_equal(a, b)
    # list-of-lists input (the collected Row cells) trains the same
    np.testing.assert_array_equal(a, _train_quantizer([list(r) for r in X], 32))


def test_train_quantizer_recovers_planted_centres():
    rng = np.random.default_rng(11)
    planted = np.eye(6)[:4] * 10.0  # pairwise distance ≈ 14, noise 0.05
    X = np.concatenate([c + 0.05 * rng.standard_normal((60, 6)) for c in planted])
    C = _train_quantizer(X, 4)
    # every planted centre has exactly one trained centroid next to it
    dist = np.linalg.norm(C[:, None, :] - planted[None, :, :], axis=2)
    assert sorted(dist.argmin(axis=1).tolist()) == [0, 1, 2, 3]
    assert dist.min(axis=1).max() < 0.05


def test_train_quantizer_fewer_rows_than_cells():
    X = _unit_rows(5, 8, seed=4)
    C = _train_quantizer(X, 32)
    assert C.shape == (5, 8)
    # k-means++ with k = n picks every row once; Lloyd then keeps them
    assert sorted(map(tuple, C)) == sorted(map(tuple, X))


def test_train_quantizer_identical_rows():
    # integer rows: every squared distance is exactly 0.0, so k-means++
    # has zero total weight after the first seed (no 0/0 probabilities)
    X = np.tile(np.arange(8.0), (40, 1))
    C = _train_quantizer(X, 4)
    assert C.shape == (4, 8)
    assert np.isfinite(C).all()
    np.testing.assert_array_equal(C, np.tile(X[0], (4, 1)))


def test_train_quantizer_no_rows():
    assert len(_train_quantizer([], 32)) == 0


def test_ivf_build_fires_one_job(spark):
    # the table scan is resolved first (its schema read is a job of its
    # own, shared by every query over the table and cached per session)
    load_table(spark, SF_BUILD, "embeddings")
    with job_group(spark, "test-ivf-build-jobs") as jobs:
        l3_ann_ivf(spark, SF_BUILD)
    assert len(jobs) == 1, f"l3_ann_ivf build fired {len(jobs)} Spark jobs"


def test_ivf_empty_embeddings_returns_typed_empty_frame(spark, tmp_path):
    sf = str(tmp_path / "sf_empty")
    (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .limit(0)
        .write.parquet(f"{sf}/embeddings.parquet")
    )
    df = l3_ann_ivf(spark, sf)
    assert df.dtypes == [
        ("vec_id", "bigint"),
        ("neighbor_id", "bigint"),
        ("cosine", "double"),
    ]
    assert df.collect() == []


def test_no_package_module_imports_pyspark_ml():
    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                else:
                    continue
                if any(m == "pyspark.ml" or m.startswith("pyspark.ml.") for m in mods):
                    rel = os.path.relpath(path, root)
                    offenders.append((rel, node.lineno))
    assert not offenders, f"pyspark.ml imported in package source: {offenders}"
