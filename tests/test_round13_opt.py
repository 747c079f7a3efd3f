"""Focused tests for the round-13 OPTIMIZATION rewrites.

Each optimization was proven output-identical against the DuckDB
oracles and the pre-change golden snapshots; these tests additionally
pin the NEW internals' edge behavior the fixture cannot exercise:

- the in-kernel score-matrix tiling (VERDICT r12 §Next #1): every
  fixture group fits ONE tile of _score_tiles, so the multi-tile paths
  need synthetic hot groups. Tiling tests use INTEGER-valued
  embeddings — integer float64 matmuls are exact regardless of BLAS
  summation order, so tiled and untiled results must match BITWISE and
  the comparison cannot flake on gemm blocking; expected scores are
  built with _round6;
- _round6 is DuckDB's round(double, 6): an exact-half score (0.9000005)
  rounds UP to 0.900001 in every kernel, where np.round gave 0.9;
- the loud pair-emit guard on the all-pairs kernels;
- the composed shingle fold (VERDICT r12 §Next #2): value identity
  with the per-shingle string fold on adversarial token shapes
  (empty/short docs, astral-plane text, long tokens);
- the IVF assignment kernel's bit-identity with the JVM sequential
  fold it replaced (VERDICT r12 §Next #5);
- the l2_minhash_recall prefix filter's exactness on threshold-boundary
  Jaccard pairs (VERDICT r12 §Next #4);
- the NTZ lint: no `unix_micros` survives anywhere in package source
  (VERDICT r12 §Next #3 — the st14 session-timezone class; the one
  sanctioned spelling is _helpers.ntz_epoch_us);
- the score-kernel lint: `np.round(` appears in package source only
  inside _round6, and there is one tile generator.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.functions import text as T
from data_wrangling_openstreetmap_spark.operators import llm
from data_wrangling_openstreetmap_spark.operators.llm import (
    _codepoint_fold,
    _neardup_tiles,
    _pair_frame,
    _round6,
    _semdedup_dropped_frame,
    _shingle_hash_col,
    _tiled_topk,
    _token_folds,
    _vectorized_topk,
)


def _int_embeddings(n, d, seed):
    """Small-integer float64 vectors: matmuls over them are EXACT, so
    tiled-vs-untiled comparisons are deterministic (no gemm drift)."""
    rng = np.random.RandomState(seed)
    return rng.randint(1, 9, size=(n, d)).astype(np.float64)


@pytest.fixture()
def tiny_tiles(monkeypatch):
    """Force multi-tile execution on toy inputs: 7-cell tiles mean any
    group wider than 7 columns tiles row-by-row — the hot-bucket case."""
    monkeypatch.setattr(llm, "_KERNEL_TILE_CELLS", 7)


def test_bucket_pair_frame_tiled_equals_untiled(tiny_tiles):
    ids = np.arange(1, 13, dtype=np.int64)
    E = _int_embeddings(12, 4, seed=1)
    N = np.sqrt((E * E).sum(axis=1))
    got = _pair_frame(ids, ids, E, E, N, N, **llm._LSH_GUARD)
    S = _round6((E @ E.T) / np.outer(N, N))
    qi, ii = np.nonzero(ids[:, None] != ids[None, :])
    want = pd.DataFrame(
        {"vec_id": ids[qi], "neighbor_id": ids[ii], "cosine": S[qi, ii]}
    )
    # sort-insensitive set compare plus exact values
    key = ["vec_id", "neighbor_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 12 * 11


def test_cell_pair_frame_tiled_equals_untiled(tiny_tiles):
    q_ids = np.arange(1, 10, dtype=np.int64)
    i_ids = np.arange(5, 16, dtype=np.int64)  # overlaps → self pairs masked
    Q = _int_embeddings(9, 4, seed=2)
    X = _int_embeddings(11, 4, seed=3)
    Qu = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    Iu = X / np.linalg.norm(X, axis=1, keepdims=True)
    got = _pair_frame(q_ids, i_ids, Qu, Iu, **llm._IVF_GUARD)
    S = _round6(Qu @ Iu.T)
    qi, ii = np.nonzero(q_ids[:, None] != i_ids[None, :])
    want = pd.DataFrame(
        {"vec_id": q_ids[qi], "neighbor_id": i_ids[ii], "cosine": S[qi, ii]}
    )
    key = ["vec_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


def test_semdedup_dropped_tiled_equals_bruteforce(tiny_tiles):
    ids = np.array([3, 1, 8, 5, 9, 2, 11, 7], dtype=np.int64)
    E = _int_embeddings(8, 3, seed=4)
    N = np.sqrt((E * E).sum(axis=1))
    got = set(_semdedup_dropped_frame(ids, E, N, 0.9)["vec_id"])
    want = set()
    for i in range(8):
        for j in range(8):
            cos = _round6(E[i] @ E[j] / (N[i] * N[j]))
            if ids[i] < ids[j] and cos >= 0.9:
                want.add(int(ids[j]))
    assert got == want and want  # non-vacuous: integer vectors collide


def test_neardup_tiles_tiled_equals_untiled(tiny_tiles):
    q_ids = np.arange(1, 11, dtype=np.int64)
    all_ids = np.arange(1, 11, dtype=np.int64)
    E = _int_embeddings(10, 4, seed=5)
    Q = E / np.linalg.norm(E, axis=1, keepdims=True)
    got = pd.concat(
        list(_neardup_tiles(q_ids, all_ids, Q, Q, 0.4)), ignore_index=True
    )
    S = _round6(Q @ Q.T)
    qi, ii = np.nonzero((S >= 0.4) & (q_ids[:, None] < all_ids[None, :]))
    want = pd.DataFrame(
        {"vec_a": q_ids[qi], "vec_b": all_ids[ii], "cosine": S[qi, ii]}
    )
    key = ["vec_a", "vec_b"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )
    assert len(want) > 0


@pytest.mark.parametrize("n_idx", [3, 7, 10, 23])
def test_tiled_topk_equals_vectorized_topk(tiny_tiles, n_idx):
    # includes n_idx < k, = one tile, and many-tile shapes
    k = 5
    q_ids = np.arange(1, 7, dtype=np.int64)
    all_ids = np.arange(3, 3 + n_idx, dtype=np.int64)  # overlap → self pairs
    Q = _int_embeddings(6, 4, seed=6)
    X = _int_embeddings(n_idx, 4, seed=7)
    Qu = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    Xu = X / np.linalg.norm(X, axis=1, keepdims=True)
    got = _tiled_topk(q_ids, all_ids, Qu, Xu, k)
    S = _round6(Qu @ Xu.T)
    want = _vectorized_topk(q_ids, all_ids, S, k)
    for col, w in zip(("vec_id", "neighbor_id", "cosine"), want):
        np.testing.assert_array_equal(got[col].to_numpy(), w)


def test_pair_emit_guard_raises_loudly(monkeypatch):
    monkeypatch.setattr(llm, "_KERNEL_PAIR_EMIT_CAP", 10)
    ids = np.arange(1, 8, dtype=np.int64)  # 7*6 = 42 > 10
    E = _int_embeddings(7, 3, seed=8)
    N = np.sqrt((E * E).sum(axis=1))
    with pytest.raises(ValueError, match="l3_ann_lsh"):
        _pair_frame(ids, ids, E, E, N, N, **llm._LSH_GUARD)
    with pytest.raises(ValueError, match="l3_ann_ivf"):
        _pair_frame(ids, ids + 100, E, E, **llm._IVF_GUARD)


def test_semdedup_exact_half_score_rounds_like_duckdb():
    """cos(1, 2) = 0.9000005 exactly at the double level (N = 1, so the
    divide is exact): DuckDB's round(·, 6) gives 0.900001 ≥ threshold,
    so id 2 is dropped; np.round's half-to-even gave 0.9 and kept it."""
    ids = np.array([1, 2], dtype=np.int64)
    E = np.array([[1.0, 0.0], [0.9000005, 0.25]])
    N = np.array([1.0, 1.0])
    got = _semdedup_dropped_frame(ids, E, N, 0.900001)
    assert got["vec_id"].tolist() == [2]


def test_pair_frame_emits_duckdb_rounded_cosine():
    import duckdb

    q_ids = np.array([1], dtype=np.int64)
    i_ids = np.array([2], dtype=np.int64)
    Qu = np.array([[1.0, 0.0]])
    Iu = np.array([[0.9000005, 0.25]])
    got = _pair_frame(q_ids, i_ids, Qu, Iu, **llm._IVF_GUARD)
    with duckdb.connect() as con:
        (want,) = con.execute("SELECT round(0.9000005::DOUBLE, 6)").fetchone()
    assert want == 0.900001
    assert got["cosine"].tolist() == [want]


def test_composed_shingle_fold_equals_string_fold(spark):
    texts = [
        "",  # zero tokens → one empty shingle, fold 0
        "one",
        "one two",
        "one two three",  # n == k boundary
        "one two three four",  # n == k+1 → two windows
        "the quick brown fox jumps over the lazy dog",
        "a bb ccc dddd eeeee ffffff ggggggg",
        "repeat repeat repeat repeat repeat",
        "élève café naïve façade über",
        "\U0001F600 \U0001F680 x \U0001F600 y",  # astral plane (pw counts codepoints)
        "人工智能 模型 訓練 資料",
        "tok" * 50 + " " + "y" * 80 + " z",  # long tokens
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    # the exact production two-step shape (_mh_banded): the token folds
    # are PROJECTED first, then shingles compose from the attribute
    rows = (
        df.select("text", _token_folds(F.col("text")).alias("tp"))
        .select(
            _shingle_hash_col(F.col("tp"), k=3).alias("composed"),
            F.transform(T.shingles(F.col("text"), k=3), _codepoint_fold).alias(
                "string_fold"
            ),
        )
        .collect()
    )
    for r in rows:
        assert r["composed"] == r["string_fold"]


def test_ivf_assignment_accumulation_bit_identical(spark):
    """The r13 assignment kernel accumulates S += u[:,d]·C[d,:] — the
    claim is BIT-identity with the JVM sequential fold (V.dot) it
    replaced. Random (non-integer) doubles on purpose: only true
    order-identical accumulation passes bitwise."""
    from data_wrangling_openstreetmap_spark.functions import vectors as V

    rng = np.random.RandomState(42)
    U = rng.randn(50, 16)
    C = rng.randn(4, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in U[i]]) for i in range(50)],
        "vec_id long, u array<double>",
    )
    cents = [[float(x) for x in c] for c in C]
    jvm = df.select(
        "vec_id",
        *[
            V.dot(F.col("u"), F.array(*[F.lit(x) for x in c])).alias(f"s{j}")
            for j, c in enumerate(cents)
        ],
    ).collect()
    S = np.zeros((50, 4))
    for d in range(16):
        S += U[:, d : d + 1] * C[None, :, d]
    for r in jvm:
        i = r["vec_id"]
        for j in range(4):
            assert r[f"s{j}"] == S[i, j], (i, j)


def test_dot_commutes_bitwise(spark):
    """V.dot and V.norm products commute BITWISE: dot(a,b) is
    bit-identical to dot(b,a) (the per-element products of the zip_with
    commute and the fold visits them in the same order), and
    norm(a)·norm(b) to norm(b)·norm(a) — so a JVM-side cosine, like
    l3_ann_lsh's bucket hash or the norms its Arrow kernel divides by,
    never depends on which side of a pair is which. Random float32
    inputs (the production array<float> element type) plus signed-zero
    rows pin it on the real evaluation path."""
    from data_wrangling_openstreetmap_spark.functions import vectors as V

    rng = np.random.RandomState(7)
    A = rng.randn(40, 64).astype(np.float32)
    B = rng.randn(40, 64).astype(np.float32)
    A[0, :] = -0.0
    B[0, :] = -0.0
    A[1, :] = 0.0
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in A[i]], [float(x) for x in B[i]])
            for i in range(40)
        ],
        "i long, a array<float>, b array<float>",
    )
    rows = df.select(
        "i",
        V.dot(F.col("a"), F.col("b")).alias("ab"),
        V.dot(F.col("b"), F.col("a")).alias("ba"),
        (V.norm(F.col("a")) * V.norm(F.col("b"))).alias("nab"),
        (V.norm(F.col("b")) * V.norm(F.col("a"))).alias("nba"),
    ).collect()
    import struct

    for r in rows:
        assert struct.pack("<d", r["ab"]) == struct.pack("<d", r["ba"]), r["i"]
        assert struct.pack("<d", r["nab"]) == struct.pack("<d", r["nba"]), r["i"]


def test_minhash_recall_prefix_filter_exact_on_boundary(spark, sf_dir):
    """Synthetic corpus with pairs AT the 0.9 threshold (c=18, u=20 →
    exactly 0.9), just below it, and far apart: the prefix-filtered
    hi-pair side must find exactly the brute-force J ≥ 0.9 pairs."""
    from data_wrangling_openstreetmap_spark.operators.llm import (
        l2_minhash_recall,
    )

    base = [f"w{i:02d}" for i in range(21)]  # 19 shingles when joined
    texts = {
        1: " ".join(base[:21]),            # A: shingles s1..s19
        2: " ".join(base[:20] + ["zz"]),   # B: differs in the tail
        3: " ".join(base[:21]),            # C: exact dup of A (J = 1.0)
        4: " ".join(reversed(base[:21])),  # reversed → different shingles
        5: "alpha beta gamma",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )

    # brute force on exact shingle sets
    def shset(t):
        toks = t.split()
        if len(toks) <= 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = set()
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            a, b = shset(texts[i]), shset(texts[j])
            c = len(a & b)
            u = len(a | b)
            if c / u >= 0.9:
                want.add((i, j))
    assert (1, 3) in want  # the exact-dup pair keeps the test non-vacuous

    # replicate the operator's hi-pair side on this frame
    sh = df.select(
        "doc_id",
        F.sort_array(F.array_distinct(T.shingles(F.col("text"), k=3))).alias(
            "sh"
        ),
    )
    plen = F.col("n") - F.expr("(9 * n + 9) div 10") + 1
    g = sh.select("doc_id", F.size("sh").alias("n"), F.col("sh")).select(
        "doc_id", F.explode(F.slice("sh", F.lit(1), plen)).alias("s")
    )
    a, b = g.alias("a"), g.alias("b")
    pcand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    verified = pcand.join(sa, "doc_a").join(sb, "doc_b")
    c = F.size(F.array_intersect("sha", "shb"))
    jac = c.cast("double") / (F.size("sha") + F.size("shb") - c)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in verified.filter(jac >= 0.9).select("doc_a", "doc_b").collect()
    }
    assert got == want

    # and the registered operator still grades green end-to-end at sf0.001
    out = l2_minhash_recall(spark, sf_dir).collect()
    assert len(out) == 1 and out[0]["recall_ge_09"] is True


def test_no_unix_micros_in_package_source():
    """The NTZ lint (VERDICT r12 §Next #3): `unix_micros(cast(ntz AS
    timestamp))` is session-timezone-dependent (the st14 class), so the
    whole spelling is banned from package source — epoch extraction
    goes through _helpers.ntz_epoch_us. _helpers.py itself documents
    the banned idiom in the helper's docstring; the streaming_ops
    round-notes docstring mention is likewise prose, not code."""
    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "operators/_helpers.py":
                continue  # the helper's docstring names the banned idiom
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if "unix_micros" in line:
                        offenders.append((rel, lineno, line.strip()))
    assert not offenders, f"unix_micros on (potentially) NTZ inputs: {offenders}"


def test_score_kernels_round_and_tile_in_one_place():
    """The score-kernel lint: every Arrow cosine kernel rounds through
    operators/llm.py::_round6 (DuckDB's round(double, 6) by
    construction) and tiles through the one generator _score_tiles —
    the only function that reads the tile budget. A bare `np.round(`
    anywhere else in package source is a half-to-even rounding that
    disagrees with the oracle on exact halves."""
    import ast

    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    offenders, tilers = [], []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            allowed = set()
            for node in ast.walk(ast.parse(src)):
                if not isinstance(node, ast.FunctionDef):
                    continue
                if node.name == "_round6":
                    allowed.update(range(node.lineno, node.end_lineno + 1))
                if any(
                    isinstance(n, ast.Name) and n.id == "_KERNEL_TILE_CELLS"
                    for n in ast.walk(node)
                ):
                    tilers.append((rel, node.name))
            for lineno, line in enumerate(src.splitlines(), 1):
                if "np.round(" in line and lineno not in allowed:
                    offenders.append((rel, lineno, line.strip()))
    assert not offenders, f"np.round outside _round6: {offenders}"
    assert tilers == [("operators/llm.py", "_score_tiles")], tilers
