"""Focused tests for the round-12 OPTIMIZATION rewrites.

Each optimization was proven output-identical against the DuckDB
oracles and the pre-change golden snapshots; these tests additionally
pin the NEW internals' edge behavior that the fixture cannot exercise:

- the dense/sparse regime split of the token-set pair primitive
  (the fixture's 31-word vocabulary always takes the dense branch, so
  each caller's regime EQUIVALENCE, duplicate ids, the real 64/65
  vocabulary boundary and the >64-vocab refusal need synthetic
  corpora), and the dense build's cost as a job count;
- the vectorized top-k kernel's boundary semantics (blocks with fewer
  than k non-self candidates — the case where the -inf self-masking
  could diverge from the old remove-then-slice loop).
"""

from __future__ import annotations

import numpy as np
import pytest

from data_wrangling_openstreetmap_spark.functions import text as T
from data_wrangling_openstreetmap_spark.io import load_table
from data_wrangling_openstreetmap_spark.operators import llm
from data_wrangling_openstreetmap_spark.operators.llm import _vectorized_topk
from data_wrangling_openstreetmap_spark.plans import sql_ext
from tools.query_loop import job_group


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_dense_token_masks_refuses_large_vocab(spark):
    texts = [" ".join(f"w{i}" for i in range(start, start + 40)) for start in (0, 33)]
    df = _docs(spark, texts)  # vocab = 73 distinct tokens > 64
    assert T.dense_token_masks(df, "doc_id") is None


def test_dense_token_masks_counts_match_distinct_tokens(spark):
    texts = ["a b b a c", "c c c", "a  a\t a", ""]
    df = _docs(spark, texts)
    masks = T.dense_token_masks(df, "doc_id").collect()
    got = {r["doc_id"]: r["__n"] for r in masks}
    # empty doc emits no mask row — mirrors explode in the sparse plan
    assert got == {1: 3, 2: 1, 3: 1}


def _similarity_sql(spark, sf_dir):
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("pair_docs")
    return sql_ext.sql(
        spark,
        """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, similarity
           FROM pair_docs a SIMILARITY JOIN pair_docs b
             ON token_jaccard(a.text, b.text) >= 0.5 AND a.doc_id < b.doc_id""",
    )


# T.token_set_pairs itself and every caller, as a function of the table dir.
_PAIR_CALLERS = {
    "pairs": lambda spark, sf_dir: T.token_set_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", spark
    ),
    "jaccard": llm.l2_jaccard_pairs,
    "containment": llm.l2_containment_join,
    "sql": _similarity_sql,
}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _brute_force_pairs(rows):
    sets = [(i, set(t.split())) for i, t in rows if t]
    return sorted(
        (a, b, len(sa), len(sb), len(sa & sb))
        for a, sa in sets
        for b, sb in sets
        if a < b and sa & sb
    )


@pytest.mark.parametrize("caller", sorted(_PAIR_CALLERS))
def test_dense_regime_equals_sparse_regime(spark, tmp_path, monkeypatch, caller):
    # small closed vocabulary: empty and NULL text, duplicate tokens,
    # exact/near/disjoint pairs, contained sets and two EQUAL-size sets
    # (containment must exclude them) — run each caller in BOTH
    # regimes of the pair primitive and compare the full result sets
    texts = [
        "red green blue yellow",
        "red green blue yellow",          # exact dup of 1
        "red green blue yellow purple",    # jac 4/5; contains 1
        "purple orange",                    # far
        "red red red green green blue yellow",  # dup tokens → same set as 1
        "cyan",
        "",
        None,
        "cyan magenta",                     # contains 6
        "red green blue black",             # same size as 1, jac 3/5
        "orange purple",                    # same set as 4
    ]
    # a second row under doc_id 2 with its own token set: each row
    # pairs on its own tokens in both regimes, never on their union;
    # the two rows under doc_id 13 also share their token count
    rows = [(i + 1, t) for i, t in enumerate(texts)] + [
        (2, "orange cyan black"),
        (12, "a b c"),
        (13, "a b d"),
        (13, "a x y"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    run = _PAIR_CALLERS[caller]
    dense = run(spark, str(tmp_path))
    monkeypatch.setattr(T, "DENSE_VOCAB_CAP", 0)
    sparse = run(spark, str(tmp_path))
    assert "BroadcastNestedLoopJoin" in _executed_plan(dense)
    assert "BroadcastNestedLoopJoin" not in _executed_plan(sparse)
    assert dense.schema.simpleString() == sparse.schema.simpleString()
    d, s = sorted(map(tuple, dense.collect())), sorted(map(tuple, sparse.collect()))
    assert d == s
    if caller == "pairs":
        # every pair sharing a token, none that share nothing
        assert (1, 10, 4, 4, 3) in d and (4, 11, 2, 2, 2) in d
        assert (1, 2, 4, 4, 4) in d and (2, 4, 3, 2, 1) in d  # both id-2 rows
        assert (12, 13, 3, 3, 2) in d and (12, 13, 3, 3, 1) in d  # both id-13 rows
        assert not any(a == 4 and b == 6 for a, b, *_ in d)
        assert not any({a, b} & {7, 8} for a, b, *_ in d)  # token-less docs
    elif caller == "containment":
        assert (1, 3, 1.0) in d and (6, 9, 1.0) in d
        # docs 1, 2 and 5 hold the same set: equal sizes never qualify
        assert not any({a, b} <= {1, 2, 5} for a, b, _ in d)
    else:
        assert (1, 2, 1.0) in d and (1, 5, 1.0) in d and (4, 11, 1.0) in d


def test_vocab_of_exactly_cap_tokens_takes_dense_plan(spark, monkeypatch):
    # "t00".."t63": the cap exactly, and "t63" sorts last, so it owns
    # bit 63 — the BIGINT sign bit
    vocab = [f"t{i:02d}" for i in range(T.DENSE_VOCAB_CAP)]
    rows = [
        (1, " ".join(vocab[:32])),
        (2, " ".join(vocab[32:])),
        (3, "t63 t00"),
        (4, "t62 t63 t63"),
        (5, "t63"),
        (6, ""),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    masks = T.dense_token_masks(df, "doc_id").collect()
    masks = {r["doc_id"]: (r["__mask"], r["__n"]) for r in masks}
    assert sorted(masks) == [1, 2, 3, 4, 5]  # empty and NULL text: no mask row
    assert masks[5] == (-(2**63), 1)
    dense = T.token_set_pairs(df, "doc_id", "text", spark)
    assert "BroadcastNestedLoopJoin" in _executed_plan(dense)
    d = sorted(map(tuple, dense.collect()))
    assert d == _brute_force_pairs(rows)
    assert (3, 5, 2, 1, 1) in d and (4, 5, 2, 1, 1) in d  # shared only in bit 63
    monkeypatch.setattr(T, "DENSE_VOCAB_CAP", 0)
    sparse = T.token_set_pairs(df, "doc_id", "text", spark)
    assert sorted(map(tuple, sparse.collect())) == d


def test_vocab_of_cap_plus_one_tokens_is_sparse(spark):
    vocab = [f"t{i:02d}" for i in range(T.DENSE_VOCAB_CAP + 1)]
    rows = [(1, " ".join(vocab[:40])), (2, " ".join(vocab[30:])), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert T.dense_token_masks(df, "doc_id") is None
    pairs = T.token_set_pairs(df, "doc_id", "text", spark)
    assert "BroadcastNestedLoopJoin" not in _executed_plan(pairs)
    assert sorted(map(tuple, pairs.collect())) == _brute_force_pairs(rows)


@pytest.mark.parametrize("caller", sorted(_PAIR_CALLERS))
def test_dense_build_fires_at_most_two_jobs(spark, sf_dir, monkeypatch, caller):
    # the build's only action is the capped vocabulary probe (a distinct
    # exchange and its limited collect); the table scan is resolved
    # first, since its schema read is a job shared per session
    monkeypatch.delenv("DWOS_FULL_PLAN", raising=False)
    load_table(spark, sf_dir, "documents")
    with job_group(spark, f"test-token-set-build-{caller}") as jobs:
        _PAIR_CALLERS[caller](spark, sf_dir)
    assert len(jobs) <= 2, f"{caller} build fired {len(jobs)} Spark jobs"
    # the masks are a per-row projection of the scan: no aggregate below
    # the pair scan, even with checkpoints neutralized
    monkeypatch.setenv("DWOS_FULL_PLAN", "1")
    plan = _executed_plan(_PAIR_CALLERS[caller](spark, sf_dir))
    bnlj = plan[plan.index("BroadcastNestedLoopJoin"):]
    assert "HashAggregate" not in bnlj


def _loop_topk(q_ids, all_ids, S, k):
    """The r1–r11 per-row loop form, kept here as the reference."""
    out_q, out_n, out_c = [], [], []
    for i in range(S.shape[0]):
        mask = all_ids != q_ids[i]
        cand_ids, cand = all_ids[mask], S[i][mask]
        order = np.lexsort((cand_ids, -cand))[:k]
        out_q.extend([q_ids[i]] * len(order))
        out_n.extend(cand_ids[order])
        out_c.extend(cand[order])
    return (
        np.array(out_q, dtype=np.int64),
        np.array(out_n, dtype=np.int64),
        np.array(out_c, dtype=np.float64),
    )


@pytest.mark.parametrize("n_cand", [3, 5, 6, 9])
def test_vectorized_topk_matches_loop_incl_small_blocks(n_cand):
    # n_cand spans fewer-than-k, exactly-k-with-self, and larger blocks;
    # scores engineered with heavy ties so the (score desc, id asc)
    # tiebreak is load-bearing, and every query id present in the
    # candidate set so self-exclusion fires.
    rng = np.random.RandomState(7)
    k = 5
    q_ids = np.arange(1, 8, dtype=np.int64)
    all_ids = np.arange(1, n_cand + 1, dtype=np.int64)  # overlaps q_ids
    S = np.round(rng.choice([0.1, 0.5, 0.9], size=(len(q_ids), n_cand)), 6)
    got = _vectorized_topk(q_ids, all_ids, S.copy(), k)
    want = _loop_topk(q_ids, all_ids, S, k)
    for g, w in zip(got, want):
        assert np.array_equal(g, w)
