"""Plan-shape guards: the physical plans behind the scale claims.

These are the assertions that keep 100 TB posture honest — a filter
that stops pushing down or a dimension that stops broadcasting would
still pass value checks at sf0.01 while regressing 10× at scale.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.plans import (
    assert_in_plan,
    assert_no_python_eval,
    plan_string,
)
from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()
SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def full_plan_visibility(monkeypatch):
    """Disable the round-6 single-shot lineage truncations
    (_helpers.ckpt) for every plan assertion in this module: a
    localCheckpoint hides its prefix subplan from explain(), so a bad
    construct (single-partition sort, unallowlisted Python crossing,
    lost broadcast) inside a checkpointed prefix would otherwise pass
    the sweeps vacuously — the lineage-truncation twin of the
    formatted-plan blindness gotcha. Value tests keep the truncation;
    only the plan auditors need full visibility."""
    monkeypatch.setenv("DWOS_FULL_PLAN", "1")

# Queries allowed to cross the JVM↔Python boundary (vectorized by
# design: broadcast-matmul k-NN, Arrow-batched multimodal decode, and
# the §2.8 U-surface whose point is the crossing).
PYTHON_ALLOWED = {
    "q10_cosine_topk",
    "l2_embedding_neardup",  # optimization r12: q10's guarded broadcast-matmul
    # kernel (was a 2M-pair BNLJ × interpreted HOF dot fold, 35.6 s at sf0.1)
    "l3_knn_block_matmul",  # distributed exact kNN: Arrow matmul per block cell
    "l3_mmr_rerank",  # intentional driver-side crossing: collects a BOUNDED
    # candidate pool (size-capped by construction) and runs the greedy MMR
    # loop on the driver; the returned LocalTableScan has no Python eval
    # nodes, so the plan sweep can't see it — listed here so the allowlist
    # documents the crossing instead of the sweep passing vacuously.
    "l3_ann_recall_contract",  # grades ANN recall against q10's matmul
    "l3_ann_lsh",  # optimization r12: per-(table, bucket) Arrow matmul scoring
    # (was a bucket self-join × interpreted HOF dot fold, 40 s at sf0.1)
    "l3_ann_ivf",  # optimization r12: per-cell Arrow matmul scoring (was an
    # equi-join × interpreted HOF dot fold, 27 s at sf0.1); r13 adds the
    # assignment kernel (bit-identical sequential-fold dots, in-kernel rank)
    "l2_semdedup",  # optimization r13: within-cell Arrow matmul marks dropped
    # ids (was a cell self-join × interpreted HOF dot fold, 3.9 s at sf0.1)
    "m1_multimodal_decode",
    "m1b_decode_parity",  # m1's crossing minus the crc32 column — the graded twin
    "m5_decode_parity",
    "m2_frame_sample",
    "m6_scene_cuts",  # Arrow decode stage feeding a JVM lag window — the temporal m-op
    "m7_audio_vad",  # Arrow PCM framing feeding JVM gaps-and-islands — the audio m-op
    "m2b_frame_parity",
    "m3_image_resize",
    "m3b_resize_parity",  # m3's crossing minus the crc32 column — the graded twin
    "m4_feature_extract",
    "m4b_feature_parity",
    "u1_scalar_udf_normalize",
    "u1b_arrow_udf_normalize",  # same U1 surface, Arrow-batched transport
    "u2_pandas_udf_score",
    "u2b_pandas_iter_udf",  # SCALAR_ITER rung — same crossing as u2, by design
    "u3_grouped_map_zscore",
    "u10_apply_in_arrow",  # grouped-map over bare Arrow tables — the crossing is the rung
    "u4b_grouped_agg_udaf",  # GROUPED_AGG pandas UDAF — the U4 expression form
    "u5_udtf_tag_split",
    "u9_polymorphic_udtf",  # analyze()-schema UDTF — the crossing is the surface
    "u12_cogrouped_asof",  # cogrouped applyInPandas — the two-sided crossing IS the surface
    "u13_cogrouped_arrow",  # cogrouped applyInArrow — the Arrow twin of u12
    "u14_arrow_udtf",  # Arrow-optimized UDTF — the u5 rung on the Arrow transport
    # Python Data Source scans ((Python)-tagged BatchScan — the source
    # API is the surface being graded):
    "s27_python_datasource",
    "s28_pushdown_datasource",
    "st24_python_stream_source",
    "st25_partitioned_stream_source",
    "u11_udtf_table_arg",  # TABLE-argument UDTF consuming whole partitions —
    # the row-streamed Python aggregation surface is the thing graded
    "u6_map_in_arrow",  # top rung of the §2.8 transport ladder: bare
    # pyarrow RecordBatches via mapInArrow — the crossing is the point.
    "u15_udf_keyed_median_udaf",  # round-7 U1+U4 twin: pickled scalar
    # UDF derives the group key, GROUPED_AGG UDAF computes the median —
    # both crossings are the graded surface.
    "s17_python_datasource",  # the crossing IS the operator: a Spark 4
    # Python Data Source scan ("BatchScan synthetic_ledger … (Python)");
    # everything above the scan is ordinary JVM partial+final hash agg.
    "u16_udtf_signature_rollup",  # round-8 U5+U1 twin: UDTF fan-out
    # feeding a scalar-UDF-derived aggregation key — both crossings are
    # the graded surface.
    "u17_udtf_keyed_median_chain",  # round-9 U5+U1+U4 twin: all three
    # crossings chained (UDTF fan-out → scalar-UDF key → GROUPED_AGG
    # median) — the Python boundary pipeline IS the graded surface.
    "u18_five_crossing_bridge",  # round-10 U1+U2+U3+U4+U5 twin: all
    # FIVE crossings chained (UDTF → scalar UDF → pandas scalar →
    # applyInPandas → GROUPED_AGG) — the full bridge IS the surface.
}
# Driver-side generators (XML demo) — plan built over generated input.
SLOW_BUILD = {"osm_wrangle_demo"}
# Documented driver-side BOUNDED work at plan-construction time (not
# Python eval nodes, so the sweeps keep covering their plans; listed so
# the crossings are declared, not discovered): l3_mmr_rerank collects a
# size-capped candidate pool (also in PYTHON_ALLOWED); q24_hierarchy_
# closure runs one scalar MAX agg to fix its loop depth; m0_binary_
# ingest stages |docs|/50 sample files (it IS the external filesystem
# in this environment); s4/s5/s12/s13/s14/s6/s8/d1/d2 write scratch
# roundtrip dirs; dq4_observed_metrics runs its observed noop pass and
# returns the 4-row metrics table; a16_freq_items_contract collects the
# one-row freqItems sketch (O(1/support) items); l6_kmeans_step
# collects its k·d centroid table (512 values — the per-iteration
# broadcast every Lloyd implementation performs). Each is O(bounded)
# by construction and commented in its docstring.
DRIVER_SIDE_BOUNDED = {
    "l3_mmr_rerank",
    "q24_hierarchy_closure",
    "m0_binary_ingest",
    "dq4_observed_metrics",
    "a16_freq_items_contract",
    "l6_kmeans_step",
    "dq5_schema_contract",  # parquet-footer metadata only; bounded
    # LocalTableScan of the star schema's column list.
}


def test_q1_pushdown_and_pruning(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    plan = assert_in_plan(df, "PushedFilters", "LessThanOrEqual(l_shipdate")
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_partkey" not in read_schema  # column pruning reached the scan
    assert "l_quantity" in read_schema


def test_q2_broadcasts_dimensions(spark):
    df = REGISTRY["q2_join_chain"].fn(spark, SF)
    assert_in_plan(df, "BroadcastHashJoin")


def test_topk_compiles_to_take_ordered(spark):
    df = REGISTRY["o2_top_k"].fn(spark, SF)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_word_freq_partial_aggregates_before_shuffle(spark):
    plan = plan_string(REGISTRY["l4_word_freq"].fn(spark, SF))
    # partial_count before the exchange = map-side combine of exploded tokens
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_j10_lateral_decorrelates_to_window_group_limit(spark):
    """The correlated ORDER BY+LIMIT lateral subquery must decorrelate:
    partial per-key top-k (WindowGroupLimit) before the shuffle feeding
    an equi-join — never a per-outer-row nested-loop probe."""
    df = REGISTRY["j10_lateral_topk"].fn(spark, SF)
    plan = plan_string(df, "simple")
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_semi_and_anti_joins_stay_joins(spark):
    assert_in_plan(REGISTRY["q4_semi_join"].fn(spark, SF), "LeftSemi")
    assert_in_plan(REGISTRY["j4_anti_join"].fn(spark, SF), "LeftAnti")


def test_whole_stage_codegen_covers_flagship(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    df.collect()  # AQE reveals codegen spans only in the executed final plan
    assert_in_plan(df, "== Final Plan ==", "codegen id :")


@pytest.mark.parametrize(
    "name", sorted(set(REGISTRY) - PYTHON_ALLOWED - SLOW_BUILD)
)
def test_graded_queries_never_cross_into_python(spark, built_smoke, name):
    # pre-execution plan snapshot from the shared construction memo
    # (conftest SmokeBuilds) — simple mode, per the formatted-plan
    # blindness gotcha and the "(Python)" data-source tag
    plan = built_smoke.plan(name)
    from data_wrangling_openstreetmap_spark.plans import PYTHON_EVAL_MARKERS

    hits = [m for m in PYTHON_EVAL_MARKERS if m in plan]
    assert not hits, f"{name}: Python-boundary operators {hits} in plan:\n{plan}"


def test_q14_broadcasts_part_and_pushes_date_filter(spark):
    df = REGISTRY["q14_promo_share"].fn(spark, SF)
    plan = assert_in_plan(df, "BroadcastHashJoin")
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_q15_argmax_avoids_single_partition_window(spark):
    df = REGISTRY["q15_top_supplier"].fn(spark, SF)
    plan = assert_in_plan(df, "BroadcastHashJoin")
    assert "Window" not in plan  # agg + broadcast max, not a global window


def test_q18_having_side_broadcasts_and_topk_pushes_down(spark):
    df = REGISTRY["q18_large_volume_customers"].fn(spark, SF)
    assert_in_plan(df, "BroadcastHashJoin", "TakeOrderedAndProject")


def test_q22_anti_join_survives(spark):
    assert_in_plan(REGISTRY["q22_dormant_customers"].fn(spark, SF), "LeftAnti")


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """A selective dimension-side filter injects a runtime Bloom filter
    (`might_contain(xxhash64(key))`) into the fact-side scan — Spark's
    semi-join reduction, which at 100 TB drops most fact rows at the
    scan instead of carrying them to the shuffle. Enabled by default
    (spark.sql.optimizer.runtime.bloomFilter.enabled); only the
    size thresholds are lowered here because the test tables are far
    below the 10 GB application-side default that production data
    exceeds naturally."""
    from data_wrangling_openstreetmap_spark.io import load_table

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        li = load_table(spark, SF, "lineitem")
        j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = plan_string(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # Semantics unchanged: bloom is a may-contain pre-filter; the
        # join still returns exactly the matching lineitems.
        expected = (
            li.join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .filter(F.col("o_totalprice") > 400000)
            .count()
        )
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )


# Plan nodes that PROVE the rows entering a single-partition exchange
# are bounded: an aggregation emits O(groups) rows (the scalable_row_
# number offsets table, presentation re-aggs), and limits are bounded
# by construction (TakeOrderedAndProject pre-truncation, RRF's top-k).
_BOUNDED_FEEDERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "LocalTableScan",  # literal/collected constants, bounded by definition
)

# One plan STRING per registered query, shared by every structural
# sweep below via the session-wide built_smoke memo (conftest), also
# shared with the golden module and the never-cross sweep — one build
# per query per suite (building a plan executes any in-operator
# convergence loops, so rebuilding per sweep would multiply the
# suite's cost).


def _simple_plan(built_smoke, name: str) -> str:
    # the shared memo's PRE-EXECUTION snapshot (conftest SmokeBuilds)
    return built_smoke.plan(name)


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - SLOW_BUILD))
def test_no_unpartitioned_window_over_unbounded_input(spark, built_smoke, name):
    """Hard scale invariant (VERDICT r2 #3): no query may funnel
    UNBOUNDED input through a single-partition exchange — the shape
    that serializes the whole dataset through one task at 100 TB.

    Detection is structural, on the simple-mode plan (round-3 fix: the
    original sweep grepped the formatted plan, where Spark prints the
    exchange's 'SinglePartition' argument on a separate detail line —
    the pattern never matched and the test passed vacuously): every
    `Exchange SinglePartition` node's DIRECT CHILD must be an
    aggregation or a limit, which bounds the exchanged rows to
    O(groups) / O(k) regardless of input size. The four round-2 global
    sorts (s3, s10, deciles, RRF) were rewritten so their only
    single-partition exchanges are over post-aggregation bucket-offset
    tables — which is exactly what this structural rule admits."""
    plan = _simple_plan(built_smoke, name)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert any(tok in child for tok in _BOUNDED_FEEDERS), (
            f"{name}: Exchange SinglePartition over a non-aggregated, "
            f"non-limited child — unbounded single-task funnel:\n"
            f"  {line}\n  {child}\n\nfull plan:\n{plan}"
        )


# Any registered query whose physical plan carries more than this many
# exchange nodes (shuffle + broadcast + reuse markers) is treated as a
# planning-cost regression. Non-iterative composites top out around
# 20–30; the pre-fix unrolled label-propagation loop in l2_dup_clusters
# carried 810 (VERDICT r4 finding #1) — iterative operators must
# localCheckpoint per round so the returned plan is a leaf scan of the
# final round, not the unrolled history.
_MAX_PLAN_EXCHANGES = 100


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - SLOW_BUILD))
def test_plan_exchange_count_bounded(spark, built_smoke, name):
    """Plan-size guard (VERDICT r4 next-round #3): no registered
    query's physical plan may exceed _MAX_PLAN_EXCHANGES exchange
    nodes. Value checks can't see this failure mode — an unrolled
    iterative lineage still computes the right answer while Catalyst
    walks a ~900-node tree, and the planning cost scales with rounds
    (which scale with data diameter at 100 TB)."""
    plan = _simple_plan(built_smoke, name)
    n = plan.count("Exchange")
    assert n <= _MAX_PLAN_EXCHANGES, (
        f"{name}: {n} exchange nodes in one plan (cap "
        f"{_MAX_PLAN_EXCHANGES}) — unrolled iterative lineage? "
        f"localCheckpoint per round (see l2_dup_clusters / "
        f"g3_shortest_hops) truncates it."
    )


def test_q10_index_build_is_size_guarded(spark):
    """q10's broadcast-index build must refuse loudly past the row cap
    instead of collecting an unbounded table to the driver (VERDICT r2
    finding #1). Probe with a cap of 1: the sf0.001 embeddings table
    exceeds it, so the guarded builder must raise and name the
    distributed/ANN alternatives."""
    from data_wrangling_openstreetmap_spark.io import load_table
    from data_wrangling_openstreetmap_spark.operators.llm import (
        _guarded_index_arrays,
    )

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="l3_knn_block_matmul"):
        _guarded_index_arrays(e, cap_rows=1)


def test_q10_has_no_unconditional_collect():
    """Source-level guard: the graded q10 path may only build its index
    through the size-guarded helper — a bare .collect()/.toArrow()
    reappearing in its body is the 100 TB driver-OOM regression."""
    import inspect

    src = inspect.getsource(REGISTRY["q10_cosine_topk"].fn)
    assert "_guarded_index_arrays" in src
    assert ".collect()" not in src
    assert ".toArrow()" not in src  # only the guarded helper may collect


def test_block_matmul_knn_is_distributed():
    """The distributed exact-kNN twin must stay driver-free: no collect
    in its source, and its final top-k window is partitioned by vec_id
    (never a global sort)."""
    import inspect

    src = inspect.getsource(REGISTRY["l3_knn_block_matmul"].fn)
    assert ".collect()" not in src and ".toArrow()" not in src
    assert "partitionBy" in src


# Every driver-side materialization in package source, as (relative
# path, exact stripped source line). Each entry must be provably
# BOUNDED — a scalar aggregate, a limit(k), a pool/centroid-sized
# relation with a docstring size argument — per the standing "no
# driver-side loops over unbounded collects" rule. A new `.collect()`
# (or toPandas/collectAsList/toLocalIterator) anywhere in the package
# fails this test until the site is justified here; editing a listed
# line re-opens its justification. (Round 9: VERDICT r8 audited these
# by hand — "all .collect() sites are bounded and documented" — this
# freezes that audit as a machine check, the same closure the window /
# sort-limit / aggregate order conventions got.)
BOUNDED_COLLECT_SITES = {
    # plan checkers: witness reporting capped by limit(...)
    ("plans/window_orders.py", "bad = ties.limit(max_report).collect()", 1),
    ("plans/window_orders.py", ".collect()", 1),  # boundary probe, .limit(3) above
    ("plans/window_orders.py", "bad = grouped.filter(cond).limit(3).collect()", 1),
    # carry-desync probe: ONE row (count aggregates per argument pair)
    ("plans/window_orders.py", "row = child_df.agg(*aggs).collect()[0]", 1),
    # MMR rerank: pool + pool² rows, quadratic in the POOL never the
    # corpus (llm.py docstring carries the size argument)
    ("operators/llm.py", 'pool = cand.select("id", "rel").collect()', 1),
    ("operators/llm.py", "sim_rows = sims.collect()", 1),
    # Lloyd step: k·d centroid rows (l6_kmeans_step)
    ("operators/llm.py", "rows = dims.collect()", 1),
    # IVF quantizer training sample: ≤ 256·n_cells unit rows by the
    # .limit(256 * n_cells) two lines above (l3_ann_ivf)
    ("operators/llm.py", ".collect()", 1),
    # q10 broadcast-matmul index: cap+1 rows by the limit on the same
    # line; the docstring line above it states that bound
    ("operators/llm.py", "tbl = e.limit(cap_rows + 1).toArrow()", 1),
    ("operators/llm.py", "Guard and collect are ONE bounded job: ``limit(cap+1).toArrow()``", 1),
    # bounded staging sample for the binaryFile demo input
    ("operators/multimodal.py", "for r in sample.collect():  # bounded staging: |docs|/50 small files", 1),
    # ONE scalar max (synthetic-key ceiling)
    ("operators/composites.py", 'max_key = cust.agg(F.max("c_custkey")).collect()[0][0]', 1),
    # OSM demo XML generator: .limit(max_nodes) two lines above
    ("sources/osm_gen.py", ".collect()", 1),
    # OSM audits, collected once each: tag_keys has at most 4 rows (one
    # per bucket of the when-chain); street_types has one row per
    # distinct street-type word — the reference's audit dict
    (
        "sources/osm_pipeline.py",
        "collects = [df.toArrow for df in audits.values()]",
        1,
    ),
    # token-set regime probe, the build's only action: cap+1 rows by
    # the limit() in `probe` (functions/text.py::dense_token_masks);
    # ≤ cap rows are the exact vocabulary, cap+1 means sparse
    (
        "functions/text.py",
        "vocab = sorted(r[0] for r in probe.collect())  # bounded: limit(cap+1) above",
        1,
    ),
}
# (.first()/.head(n)/.take(n) are bounded by construction — ≤ n rows —
# so they are not scanned; a16's freqItems .first() is the one site.)

# ".toArrow" without parentheses: a bound ``df.toArrow`` handed to a
# thread pool materializes on the driver as surely as a call does.
_DRIVER_MATERIALIZERS = (".collect()", ".toPandas()", ".toArrow", "collectAsList", "toLocalIterator")


def test_bounded_collect_allowlist():
    """Every driver-side materialization in the package must be in
    BOUNDED_COLLECT_SITES (see its header). Catches both a NEW unbounded
    collect and an edit to a justified line. ADVICE r9 #2 hardening:
    (a) collect_list/collect_set SUBSTRINGS are stripped before the
    materializer test rather than skipping the whole line, so
    ``df.agg(F.collect_list(x)).collect()`` cannot evade the scan;
    (b) entries carry an occurrence COUNT, so a second identical bare
    '.collect()' continuation line is a new-site failure, not silently
    absorbed by the existing justification."""
    import collections

    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    counts: collections.Counter = collections.Counter()
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    stripped = line.strip()
                    if stripped.startswith("#"):
                        continue
                    cleaned = stripped.replace("collect_list(", "").replace(
                        "collect_set(", ""
                    )
                    if any(m in cleaned for m in _DRIVER_MATERIALIZERS):
                        counts[(rel, stripped)] += 1
    found = {(rel, line, n) for (rel, line), n in counts.items()}
    new = found - BOUNDED_COLLECT_SITES
    gone = BOUNDED_COLLECT_SITES - found
    assert not new, f"unjustified driver-side materializations: {sorted(new)}"
    assert not gone, f"stale allowlist entries (update/remove): {sorted(gone)}"


# Round-10 latent-NULL audit (VERDICT r9 §Next #2): every HOF fold
# (F.aggregate / F.reduce) in package source, audited for the
# fold-vs-SQL-aggregate divergence class that bit j17 and f28 — a fold
# returns its INIT on an empty array and poisons on NULL elements,
# where SQL SUM/AVG return NULL and skip NULLs. Each site is frozen as
# (path, stripped first line, occurrence count); editing or adding a
# fold re-opens its justification here. Categories:
#   guarded    — exists()/when() NULL-guard mirrors SQL semantics
#   mirrored   — the oracle computes the SAME fold/recurrence (or
#                CASE…ELSE 0), so empty/NULL behavior matches BY TEXT
#   total      — array provably non-empty with non-null elements by
#                construction (sequence(1,n), fixed-dim embeddings,
#                collect_list of non-null aggregates over a non-empty
#                group, fake_feature_batch's fixed-width output)
#   precond    — empty array reachable only for empty/sub-k-token
#                text, excluded by the fixture invariants pinned in
#                test_fold_fixture_preconditions
AGGREGATE_FOLD_SITES = {
    # simhash bit votes: fold is the DEFINITION (oracle mirrors the
    # same vote recurrence); empty shingle set needs precond
    ("functions/text.py", 'vote = F.aggregate(th, F.lit(0), vote_for_bit(b))', 1),  # mirrored+precond
    # dense token-set masks: the rows are filtered to size(toks) > 0, so
    # no empty or NULL array reaches the fold, and split() never yields
    # a NULL token
    ("functions/text.py", 'mask = F.aggregate(', 1),  # guarded
    ("functions/vectors.py", 'F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)', 1),  # total (fixed-dim)
    ("functions/vectors.py", 'return F.aggregate(', 1),  # total (fixed-dim dot)
    ("operators/composites.py", 'F.aggregate(', 1),  # total: items = collect over non-empty order group, qty non-null
    ("operators/composites.py", 'F.aggregate(F.col("cells"), F.lit(0.0), lambda acc, x: acc + term(x))', 1),  # total: chi2 cells collect non-empty
    ("operators/composites.py", 'harmonic = F.aggregate(', 1),  # total: sequence(1, n_days), n_days >= 1
    ("operators/functions_sweep.py", 'F.aggregate(', 1),  # guarded: f28's exists() NULL-guard (the r9 fix)
    ("operators/llm.py", 'F.aggregate(', 2),  # total: fixed-dim zip_with (ann seed + l6 slices)
    ("operators/llm.py", 'fold = F.aggregate(', 1),  # guarded: size()==0 -> NULL by design (documented at site)
    ("operators/llm.py", 'lsum = F.aggregate(', 1),  # mirrored: empty fold = 0.0 sentinel documented at site
    ("operators/llm.py", 'return F.aggregate(', 5),  # total ×2 (_pq_sqdist/_int_dot fixed-dim) + mirrored+precond (rolling hash: oracle same recurrence, empty -> 0 both) + mirrored ×2 (r13 composed shingle fold: _token_fold_pow over non-empty tokens, init = packed identity; _compose_shingle_hash finish maps empty -> 0 = fold('') — value identity with the oracle's string fold pinned in test_round13_opt + MinHash parity at 3 SFs)
    ("operators/llm.py", 'sq_sum = lambda arr: F.aggregate(  # noqa: E731', 1),  # total (fixed-dim)
    ("operators/llm.py", 'sum_len = F.aggregate(', 1),  # precond: n>=1 tokens (0/0 under ANSI otherwise)
    ("operators/llm.py", 'vote = F.aggregate(F.col(lane_col), F.lit(0), vote_for_bit(b))', 1),  # mirrored+precond (simhash lanes)
    ("operators/multimodal.py", 'F.aggregate(', 2),  # total: fake_feature_batch fixed-width feat
    ("operators/multimodal.py", 'l1 = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x)', 1),  # total (same)
    ("operators/quality.py", 'F.aggregate(F.col("cells"), F.lit(0.0), lambda acc, x: acc + term(x))', 1),  # total: psi cells collect non-empty
    ("operators/relational.py", 'F.aggregate(', 1),  # mirrored: f6d oracle CASE..ELSE 0 — empty map folds to 0 on BOTH sides
    ("operators/windows.py", 'F.aggregate(F.col("xs"), acc0, step).alias("hw"),', 1),  # total: xs collect of non-null cents over non-empty group
    ("operators/windows.py", 'F.aggregate(F.col("xs"), acc0, step).alias("w"),', 1),  # total (same)
    ("operators/windows.py", 'return F.aggregate(', 1),  # total (w35 fixed window arrays)
    ("operators/windows.py", 's = F.aggregate(', 1),  # total: entropy cs = collect of count(*) >= 1
    ("operators/windows.py", 'wsum = F.aggregate(', 1),  # total: gini xs = collect of non-null sums
}


def test_aggregate_fold_allowlist():
    """Every F.aggregate/F.reduce fold in the package must be frozen in
    AGGREGATE_FOLD_SITES with its audited justification — the
    fold-vs-SUM NULL/empty divergence class produced two latent bugs in
    round 9 (j17, f28); this makes the third one a failing test at the
    moment it is written instead of a driver surprise later."""
    import collections

    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    counts: collections.Counter = collections.Counter()
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    stripped = line.strip()
                    if stripped.startswith("#"):
                        continue
                    if "F.aggregate(" in stripped or "F.reduce(" in stripped:
                        counts[(rel, stripped)] += 1
    found = {(rel, line, n) for (rel, line), n in counts.items()}
    new = found - AGGREGATE_FOLD_SITES
    gone = AGGREGATE_FOLD_SITES - found
    assert not new, f"unaudited HOF fold sites (see header): {sorted(new)}"
    assert not gone, f"stale fold allowlist entries: {sorted(gone)}"


# Every JVM↔Python crossing constructor in the package, frozen with an
# audited justification — the u18-class analogue of AGGREGATE_FOLD_SITES
# (VERDICT r10 §Next 2). Categories:
#   battery:<name>   — adversarial-input parity vs the DuckDB mirror in
#                      tests/test_udf_battery.py::UDF_BATTERY[<name>]
#                      (the REAL production function object)
#   shared:<name>    — the line is a passthrough around a module-level
#                      body that battery entry <name> pins
#   numeric-exact    — exact integer/dyadic recipe or 6-dp-rounded float
#                      documented at the site, value-graded vs DuckDB at
#                      two SFs (text semantics n/a)
#   count            — len(series)/nunique mirror of COUNT(*)/COUNT
#                      (DISTINCT) — no transform to diverge
#   codec-parity     — deterministic byte-level fake codec, value-graded
#                      via the m1b/m2b/m3b/m5 Arrow-crossing parity twins
#   stateful         — streaming state kernel (integer accumulation),
#                      graded via st7/st16; transformWithState env-gated
UDF_CROSSING_SITES = {
    ("operators/llm.py", 'partials = tagged.groupBy("qb", "ib").applyInPandas(', 1): "numeric-exact",  # l3 block matmul: float32 matmul + local top-k, graded + benched
    ("operators/llm.py", '.applyInPandas(', 2): "numeric-exact",  # l3_ann_lsh bucket / l3_ann_ivf cell matmul scoring (opt r12, tiled r13): 6-dp rounded doubles, recall contract driver-graded
    ("operators/llm.py", 'dropped = cells.groupBy("cell").applyInPandas(drop_kernel, "vec_id bigint")', 1): "numeric-exact",  # l2_semdedup within-cell matmul (opt r13): 6-dp rounded threshold vs DuckDB oracle at 3 SFs, golden unchanged
    ("operators/llm.py", 'ranked = unit.mapInPandas(', 1): "numeric-exact",  # l3_ann_ivf assignment kernel (opt r13): bit-identical sequential-fold dots (test_round13_opt), recall contract driver-graded
    ("operators/llm.py", 'return e.mapInPandas(topk, "vec_id bigint, neighbor_id bigint, cosine double")', 1): "numeric-exact",  # q10 broadcast matmul, 6-dp both sides
    ("operators/llm.py", 'return e.mapInPandas(', 1): "numeric-exact",  # l2_embedding_neardup: same guarded broadcast matmul, 6-dp, value-graded vs DuckDB at 3 SFs
    ("operators/multimodal.py", 'feats = payload.mapInPandas(fake_feature_batch, FEATURE_SCHEMA)', 2): "codec-parity",
    ("operators/multimodal.py", 'frames = payload.mapInPandas(fake_pcm_frames_batch, VAD_SCHEMA)', 1): "codec-parity",
    ("operators/multimodal.py", 'frames = payload.mapInPandas(fake_scene_frames_batch, SCENE_SCHEMA)', 1): "codec-parity",
    ("operators/multimodal.py", 'return payload.mapInPandas(_decode_resize_batch, M5_SCHEMA)', 1): "codec-parity",
    ("operators/multimodal.py", 'return payload.mapInPandas(fake_decode_batch, DECODED_SCHEMA)', 1): "codec-parity",
    ("operators/multimodal.py", 'return payload.mapInPandas(fake_frame_sample_batch, FRAME_SCHEMA)', 1): "codec-parity",
    ("operators/multimodal.py", 'return payload.mapInPandas(fake_resize_batch, RESIZE_SCHEMA)', 1): "codec-parity",
    ("operators/udfs.py", '.applyInArrow(', 1): "numeric-exact",  # u13 cogrouped cents reconcile (half_towards_infinity rule, graded)
    ("operators/udfs.py", '.applyInPandas(_asof_match_cogroup, _U12_SCHEMA)', 1): "numeric-exact",  # u12 merge_asof vs DuckDB native ASOF, tie-invariant
    ("operators/udfs.py", '@pandas_udf("double")', 6): "battery:u2_sigmoid_pandas",  # + u2b/u4b/median×3 — all six bodies battery-pinned (u2b_sigmoid_iter, u4b_weighted_avg_grouped_agg, u_median_grouped_agg)
    ("operators/udfs.py", '@pandas_udf("long")', 6): "battery:u18_skeleton_vowel_chain",  # vowel_score battery-pinned; the other five are len()/nunique count mirrors
    ("operators/udfs.py", '@udtf(returnType="doc_id bigint, word string, pos bigint")', 1): "shared:u16_split_with_pos_udtf",  # u17 passthrough around _split_with_pos_py
    ("operators/udfs.py", '@udtf(returnType="lang string, word string")', 1): "shared:u14_split_space_words_udtf_pickled",  # u18 passthrough around _split_space_words
    ("operators/udfs.py", '@udtf(returnType="part string, position int")', 1): "battery:u5_tag_splitter_udtf",
    ("operators/udfs.py", '@udtf(returnType="word string", useArrow=True)', 1): "shared:u14_split_space_words_udtf",
    ("operators/udfs.py", '@udtf(returnType="word string, pos bigint")', 1): "shared:u16_split_with_pos_udtf",
    ("operators/udfs.py", 'centered = scored.groupBy("lang").applyInPandas(', 1): "numeric-exact",  # u18 integer centering score·n − Σscore
    ("operators/udfs.py", 'cohort_of = udf(_cohort_of_py, "long")', 1): "battery:u15_cohort_of_scalar",
    ("operators/udfs.py", 'fn = F.udf(_normalize_suffix_py, "string", useArrow=True)', 1): "battery:u1b_normalize_suffix_arrow",
    ("operators/udfs.py", 'mapped = li.mapInArrow(kernel, "l_returnflag string, disc_cents long")', 1): "numeric-exact",  # u6 pyarrow cents (half_towards_infinity rule documented)
    ("operators/udfs.py", 'return customer.groupBy("c_mktsegment").applyInArrow(', 1): "numeric-exact",  # u10 exact-integer-moment z-score
    ("operators/udfs.py", 'return customer.groupBy("c_mktsegment").applyInPandas(', 1): "numeric-exact",  # u3 same recipe
    ("operators/udfs.py", 'return udf(_normalize_suffix_py, "string")', 1): "battery:u1_normalize_suffix_pickled",
    ("operators/udfs.py", 'return udtf(', 1): "numeric-exact",  # u11 TypeStats: order-independent sums/min/max; cents rule battery-pinned (u11_half_away_cents)
    ("operators/udfs.py", 'return udtf(FirstTokens)', 1): "battery:u9_first_tokens_udtf",
    ("operators/udfs.py", 'shape_key = udf(_shape_key_py, "string")', 1): "battery:u17_shape_key_scalar",
    ("operators/udfs.py", 'signature = udf(_signature_py, "string")', 1): "battery:u16_signature_scalar",
    ("operators/udfs.py", 'skeleton = udf(_skeleton_py, "string")', 1): "battery:u18_skeleton_scalar",
    ("operators/udfs.py", 'spark.udtf.register("first_tokens", ft)', 1): "shared:u9_first_tokens_udtf",
    ("operators/udfs.py", 'spark.udtf.register("tag_splitter", TagSplitter)', 1): "shared:u5_tag_splitter_udtf",
    ("operators/udfs.py", 'spark.udtf.register("type_stats", _make_type_stats())', 1): "numeric-exact",  # u11 registration line
    ("operators/udfs.py", 'spark.udtf.register("u14_split_words", SplitWords)', 1): "shared:u14_split_space_words_udtf",
    ("operators/udfs.py", 'spark.udtf.register("u16_split_pos", SplitWithPos)', 1): "shared:u16_split_with_pos_udtf",
    ("operators/udfs.py", 'spark.udtf.register("u17_split_doc_words", SplitDocWords)', 1): "shared:u16_split_with_pos_udtf",
    ("operators/udfs.py", 'spark.udtf.register("u18_split_lang_words", SplitLangWords)', 1): "shared:u14_split_space_words_udtf_pickled",
    ("streaming/stateful.py", 'return events.groupBy("user_id").applyInPandasWithState(', 1): "stateful",
    ("streaming/stateful.py", 'return events.groupBy("user_id").transformWithStateInPandas(', 1): "stateful",
}

_UDF_CROSSING_PATTERNS = (
    r"(?<![\w.])udf\(",
    r"\bF\.udf\(",
    r"\bpandas_udf\(",
    r"(?<![\w.])udtf\(",
    r"\.applyInPandas\(",
    r"\.applyInArrow\(",
    r"\.mapInPandas\(",
    r"\.mapInArrow\(",
    r"\.applyInPandasWithState\(",
    r"\.transformWithStateInPandas\(",
    r"\.udtf\.register\(",
)


def test_udf_crossing_allowlist():
    """Every JVM↔Python crossing constructor in the package must be
    frozen in UDF_CROSSING_SITES with an audited justification — the
    u18 class (a Python body that paraphrases its oracle instead of
    mirroring it) produced three latent divergences in two rounds;
    this makes the fourth a failing test the moment it is written.
    A new crossing fails here until it is audited and (for any text
    or value transform) given a UDF_BATTERY entry."""
    import collections
    import re as _re

    import data_wrangling_openstreetmap_spark as pkg

    pats = [_re.compile(p) for p in _UDF_CROSSING_PATTERNS]
    root = os.path.dirname(os.path.abspath(pkg.__file__))
    counts: collections.Counter = collections.Counter()
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    stripped = line.strip()
                    if stripped.startswith("#"):
                        continue
                    if any(p.search(stripped) for p in pats):
                        counts[(rel, stripped)] += 1
    found = {(rel, line, n) for (rel, line), n in counts.items()}
    frozen = set(UDF_CROSSING_SITES)
    new = found - frozen
    gone = frozen - found
    assert not new, f"unaudited Python-crossing sites (see header): {sorted(new)}"
    assert not gone, f"stale crossing allowlist entries: {sorted(gone)}"


def test_udf_crossing_battery_refs_resolve():
    """Every battery:/shared: category must name a real UDF_BATTERY
    entry — a renamed or deleted battery entry must not leave a
    crossing claiming coverage it no longer has."""
    from tests.test_udf_battery import UDF_BATTERY

    for site, cat in UDF_CROSSING_SITES.items():
        if cat.startswith(("battery:", "shared:")):
            name = cat.split(":", 1)[1]
            assert name in UDF_BATTERY, f"{site} references missing battery entry {name}"
    # and the named adversarial classes stay covered (the inline
    # annotations above claim these specific entries exist)
    for required in (
        "u2b_sigmoid_iter",
        "u4b_weighted_avg_grouped_agg",
        "u_median_grouped_agg",
        "u11_half_away_cents",
    ):
        from tests.test_udf_battery import UDF_BATTERY as _b

        assert required in _b, required


def _transport_violations(transports_map):
    """(site, line-transports, entry) triples where a battery:/shared:
    crossing line constructs a transport its referenced battery entry
    does not exercise. Registration lines classify empty (their
    transport is decided at the decorator, itself frozen) and are
    skipped."""
    from tests.test_udf_battery import classify_transports

    out = []
    for (path, line, n), cat in UDF_CROSSING_SITES.items():
        if not cat.startswith(("battery:", "shared:")):
            continue
        name = cat.split(":", 1)[1]
        site_t = classify_transports(line)
        if not site_t:
            continue
        if not site_t <= transports_map[name]:
            out.append(((path, line), sorted(site_t), name))
    return out


def test_battery_covers_each_crossing_transport():
    """Round 12 (VERDICT r11 What's-missing #3): battery coverage is
    per-(body, TRANSPORT), not just per-body — a pinned body reused
    through a new transport (pickled vs Arrow UDTF/scalar) crosses a
    different serialization boundary with its own conversion semantics
    and must be battery-exercised through THAT path. Each
    battery:/shared: crossing line's constructed transport must be in
    its referenced entry's TRANSPORTS set (declarations are themselves
    machine-checked against the builders' source in
    test_udf_battery.py). Building this check surfaced the one real
    gap: u18's SplitLangWords consumes _split_space_words through the
    PICKLED udtf while the battery exercised only u14's Arrow form —
    closed by u14_split_space_words_udtf_pickled."""
    from tests.test_udf_battery import TRANSPORTS

    violations = _transport_violations(TRANSPORTS)
    assert not violations, violations


def test_battery_transport_closure_mutation():
    """The closure must actually bite: with u14's pickled variant
    stripped back to Arrow-only (the pre-round-12 state), the u18
    SplitLangWords pickled decorator line must surface."""
    from tests.test_udf_battery import TRANSPORTS

    doctored = dict(TRANSPORTS)
    doctored["u14_split_space_words_udtf_pickled"] = frozenset(
        {"arrow-udtf"}
    )
    violations = _transport_violations(doctored)
    assert any(
        'returnType="lang string, word string"' in site[1]
        for site, _t, _n in violations
    ), violations


def test_spark_regex_mirrors_re2_ast():
    """The u18 class at the EXPRESSION level: Spark compiles
    java.util.regex while the oracles compile RE2, and the two
    disagree on \\s (Java adds \\x0B), on `$` (Java matches BEFORE a
    final line terminator; RE2 means end-of-text — probed live:
    regexp_extract('Brand#12\\n', '#(\\d+)$') is '12' in Spark and ''
    in DuckDB), and on `.` (Java additionally excludes \\r/NEL/LSEP).

    Round 11's lint only saw double-quoted literals on the same
    physical line as a recognized call token; patterns held in
    variables, built by concatenation, f-strings, single quotes, or
    multi-line calls escaped it — and the round-12 AST rewrite
    (tests/regex_lint.py) immediately found FIVE live latent sites
    (l4_html_extract's `.*?`/`\\s+` constants, osm_pipeline's two
    `$`-anchored key triages). This test keeps the class extinct at
    the AST level: every statically-resolvable pattern reaching a
    Spark regex call is screened, and every NON-resolvable site must
    be enumerated below with its justification — silence is never
    success."""
    from tests.regex_lint import lint_package

    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    violations, unresolved = lint_package(root)
    assert not violations, "Java-vs-RE2 divergent regex patterns:\n" + "\n".join(
        str(v) for v in violations
    )
    # Frozen allowlist of dynamic-pattern sites. Adding one requires a
    # written justification of why the pattern cannot diverge (or is
    # never mirrored in RE2).
    DYNAMIC_REGEX_ALLOWLIST = {
        # MATCH_RECOGNIZE lowering: the pattern is the query author's
        # symbol regex over the bounded journey alphabet [A-Za-z] the
        # extension itself emits — no \s/$/. can reach it because
        # x14's grammar only admits symbol names and regex
        # quantifiers, and the x14 oracle mirrors the SAME author
        # pattern in RE2.
        ("plans/sql_ext.py", "_lower_match_recognize", "regexp_extract_all"),
    }
    got = {u.key() for u in unresolved}
    assert got == DYNAMIC_REGEX_ALLOWLIST, (
        "unresolved regex sites changed:\n"
        f"  new: {sorted(got - DYNAMIC_REGEX_ALLOWLIST)}\n"
        f"  stale allowlist: {sorted(DYNAMIC_REGEX_ALLOWLIST - got)}"
    )


def test_regex_lint_mutation_evidence():
    """The lint detects what it claims to detect (the battery's 4/4
    mutation-evidence convention): each planted source is one evasion
    route the round-11 line-lint missed; each must be flagged."""
    from tests.regex_lint import lint_sources

    def flagged(source: str) -> bool:
        v, _u = lint_sources({"planted/mod.py": source})
        return bool(v)

    # 1. variable-held bare-$ pattern
    assert flagged(
        'PAT = r"(\\d+)$"\n'
        "def q(df, F):\n"
        '    return df.where(df.x.rlike(PAT))\n'
    )
    # 2. concatenation with \s shorthand
    assert flagged(
        'WS = "\\\\s" + "+"\n'
        "def q(df, F):\n"
        '    return df.select(F.split(df.x, WS))\n'
    )
    # 3. single-quoted literal, multi-line call, naked dot
    assert flagged(
        "def q(df, F):\n"
        "    return df.select(\n"
        "        F.regexp_extract(\n"
        "            df.x,\n"
        "            'a.c',\n"
        "            1,\n"
        "        )\n"
        "    )\n"
    )
    # 4. f-string carrying a bare $ through a resolvable part
    assert flagged(
        'TAIL = "$"\n'
        "def q(df, F):\n"
        '    return df.where(df.x.rlike(f"[0-9]+{TAIL}"))\n'
    )
    # 5. one-level inter-procedural: pattern is a helper parameter
    assert flagged(
        "def helper(df, F, pat):\n"
        "    return df.where(df.x.rlike(pat))\n"
        "def q(df, F):\n"
        '    return helper(df, F, "end$")\n'
    )
    # 6. cross-module constant through an import alias
    v, _u = lint_sources(
        {
            "pkg/__init__.py": "",
            "pkg/consts.py": 'BAD = "[a-z]$"\n',
            "pkg/use.py": (
                "from . import consts as C\n"
                "def q(df, F):\n"
                "    return df.where(df.x.rlike(C.BAD))\n"
            ),
        }
    )
    assert v, "cross-module constant resolution failed"
    # 7. caller-environment resolution (round-12 self-review false
    # negative, confirmed by execution pre-fix): the callee's module
    # holds a CLEAN constant under the same name the caller passes —
    # the dirty caller-side value must still be flagged.
    v, _u = lint_sources(
        {
            "pkg/__init__.py": "",
            "pkg/helper.py": (
                'PAT = r"clean[a-z]+"\n'
                "def scrub(df, F, pat):\n"
                "    return df.where(df.x.rlike(pat))\n"
            ),
            "pkg/caller.py": (
                'PAT = "end$"\n'
                "from .helper import scrub\n"
                "def q(df, F):\n"
                "    return scrub(df, F, PAT)\n"
            ),
        }
    )
    assert v, "caller-env parameter resolution failed"
    # 8. same-named functions in two modules poison parameter
    # resolution to UNRESOLVED (never a silent pass via the other
    # function's clean call sites).
    _v, u = lint_sources(
        {
            "pkg/__init__.py": "",
            "pkg/a.py": (
                "def scrub(df, F, pat):\n"
                "    return df.where(df.x.rlike(pat))\n"
            ),
            "pkg/b.py": (
                "def scrub(df, F, pat):\n"
                '    return df.where(df.y.rlike("[0-9]+"))\n'
                "def q(df, F):\n"
                '    return scrub(df, F, "[a-z]+")\n'
            ),
        }
    )
    assert any(s.key() == ("pkg/a.py", "scrub", "rlike") for s in u), u
    # 9. non-F spellings are in scope: a functions-module alias and a
    # bare from-import (both were silently out of scope pre-fix).
    v, _u = lint_sources(
        {
            "planted/alias.py": (
                "from pyspark.sql import functions as sf\n"
                "def q(df):\n"
                "    return df.select(sf.regexp_extract(df.x, 'a.c', 1))\n"
            )
        }
    )
    assert v, "sf-alias call escaped the lint"
    v, _u = lint_sources(
        {
            "planted/bare.py": (
                "from pyspark.sql.functions import regexp_replace as rr\n"
                "def q(df):\n"
                '    return df.select(rr(df.x, "\\\\s+", " "))\n'
            )
        }
    )
    assert v, "bare from-import call escaped the lint"
    # and the clean forms stay clean (PAT resolves to the REAL \\z
    # anchor — '(\\d+)\\z' — not a literal backslash-z)
    clean_v, clean_u = lint_sources(
        {
            "planted/clean.py": (
                'PAT = "(\\\\d+)\\\\z"\n'
                'WS = "[\\\\t\\\\n\\\\f\\\\r ]+"\n'
                "def q(df, F):\n"
                "    a = df.where(df.x.rlike(PAT))\n"
                "    return a.select(F.split(a.x, WS))\n"
            )
        }
    )
    assert not clean_v and not clean_u, (clean_v, clean_u)
    # dynamic patterns are REPORTED, not silently passed
    _v, u = lint_sources(
        {
            "planted/dyn.py": (
                "def q(df, F, user_pat):\n"
                "    return df.select(F.regexp_extract_all(df.x, F.lit(user_pat), 0))\n"
            )
        }
    )
    assert u and u[0].key() == ("planted/dyn.py", "q", "regexp_extract_all")


def test_fold_fixture_preconditions():
    """The 'precond'-class fold sites above rely on these fixture
    invariants; if the generator ever emits empty/NULL text, NULL event
    values, or NULL lineitem measures, this fails BEFORE a latent
    fold-vs-SUM divergence can grade green (the j17/f28 lesson: green
    on a NULL-free fixture proves nothing about NULL semantics)."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        con = duckdb.connect()
        n_bad_text, min_tokens = con.execute(
            f"""SELECT sum(CASE WHEN text IS NULL OR length(trim(text)) = 0
                             THEN 1 ELSE 0 END),
                       min(length(string_split(text, ' ')))
                FROM read_parquet('/root/testdata/sf{sf}/documents.parquet')"""
        ).fetchone()
        assert n_bad_text == 0, f"sf{sf}: NULL/empty documents.text"
        assert min_tokens >= 1, f"sf{sf}: token-less document"
        n_null = con.execute(
            f"""SELECT sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                FROM read_parquet('/root/testdata/sf{sf}/events.parquet')"""
        ).fetchone()[0]
        assert n_null == 0, f"sf{sf}: NULL events.value"
        n_null_li = con.execute(
            f"""SELECT sum(CASE WHEN l_quantity IS NULL
                                  OR l_extendedprice IS NULL
                             THEN 1 ELSE 0 END)
                FROM read_parquet('/root/testdata/sf{sf}/lineitem.parquet')"""
        ).fetchone()[0]
        assert n_null_li == 0, f"sf{sf}: NULL lineitem measures"
        n_bad_emb = con.execute(
            f"""SELECT sum(CASE WHEN embedding IS NULL
                                  OR len(embedding) <> 64
                             THEN 1 ELSE 0 END)
                FROM read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"""
        ).fetchone()[0]
        assert n_bad_emb == 0, f"sf{sf}: ragged/NULL embeddings"


def test_no_direct_local_checkpoint():
    """Operators must truncate lineage ONLY through _helpers.ckpt
    (env-neutralizable) or _helpers.iter_ckpt (pre-checkpoint frame
    captured for the order sweeps) — a direct DataFrame.localCheckpoint
    call would mint a LogicalRDD leaf the plan walkers can neither
    neutralize nor capture, silently re-opening the round-8/9
    checkpoint blind spot. This scan is what upgrades 'every LogicalRDD
    is a walked capture or a bounded literal frame' from convention to
    machine-checked invariant (VERDICT r9 §Next #3)."""
    import data_wrangling_openstreetmap_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "operators/_helpers.py":  # the two sanctioned wrappers
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    stripped = line.strip()
                    if stripped.startswith("#"):
                        continue
                    if ".localCheckpoint(" in stripped:
                        offenders.append(f"{rel}:{lineno}: {stripped}")
    assert not offenders, (
        "direct localCheckpoint calls (use _helpers.ckpt / iter_ckpt):\n"
        + "\n".join(offenders)
    )


def test_tag_vocabulary():
    """Every @register tag must be a SURVEY §2 row id or a documented
    extension id (registry.EXTENSION_TAGS) — undocumented ids silently
    corrupt the window-rotation tag arithmetic (VERDICT r8: A11 drifted
    for five rounds before being pinned down as an extension row)."""
    from data_wrangling_openstreetmap_spark.registry import (
        EXTENSION_TAGS,
        SURVEY_TAGS,
    )

    used = {t for s in REGISTRY.values() for t in s.tags}
    unknown = used - SURVEY_TAGS - EXTENSION_TAGS
    assert not unknown, f"undocumented tag ids: {sorted(unknown)}"


def test_driver_window_covers_all_tags():
    """The driver grades only the first 50 registry entries
    (operators/__init__.DRIVER_WINDOW); every SURVEY §2 capability tag
    that exists anywhere in the registry must have a representative
    with DRIVER correctness signal — either inside the current window,
    or among names the driver has already hash-graded GREEN in a prior
    round (the checked-in CORRECTNESS_r*.json ledgers, latest grade
    wins). Rounds 1–10 rotated never-graded names through the window;
    round 11 exhausts that pool, so a 50-slot window drawn from it can
    no longer span every tag by itself — the invariant that was always
    the point (no tag silently loses its driver signal, round 1's
    biggest coverage hole) is now enforced against window ∪ graded-
    green directly."""
    import glob
    import json

    names = list(REGISTRY)[:50]
    covered = {t for n in names for t in REGISTRY[n].tags}
    all_tags = {t for s in REGISTRY.values() for t in s.tags}
    # latest driver grade per name, from the checked-in ledgers
    latest: dict[str, dict] = {}
    ledgers = sorted(
        glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))
    )
    assert ledgers, "no CORRECTNESS_r*.json ledgers at the repo root"
    for path in ledgers:
        with open(path) as fh:
            latest.update(json.load(fh))
    graded_green = {
        n
        for n, res in latest.items()
        if n in REGISTRY and res.get("hash_match") and res.get("schema_match")
    }
    green_tags = {t for n in graded_green for t in REGISTRY[n].tags}
    uncovered = all_tags - covered - green_tags
    assert not uncovered, f"§2 tags with no driver signal at all: {sorted(uncovered)}"
    # and every windowed slot must carry a full oracle — no rows-only
    # entries inside the graded window
    rows_only = [n for n in names if REGISTRY[n].oracle is None]
    assert not rows_only, f"rows-only queries in the driver window: {rows_only}"


def test_broadcast_hint_survives_threshold_off(spark):
    """Dimension broadcasts must come from EXPLICIT hints, not
    autoBroadcastJoinThreshold luck: with the threshold disabled, q2's
    plan still broadcasts its dims. A cluster operator tuning the
    threshold down (common on memory-tight fleets) must not silently
    turn the star joins into sort-merge shuffles."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["q2_join_chain"].fn(spark, SF)
        assert "BroadcastHashJoin" in plan_string(df, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_global_sort_uses_range_partitioning(spark):
    """An unbounded global ORDER BY must plan as a range-partitioned
    parallel sort (sample → range exchange → per-partition sort), never
    a SinglePartition funnel — the property that makes large ordered
    writes scale."""
    from data_wrangling_openstreetmap_spark.io import load_table

    df = load_table(spark, SF, "events").orderBy("ts", "event_id")
    plan = plan_string(df, "simple")
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_j14_exploded_self_join_is_sort_merge(spark):
    """The (custkey, cell) interval self-join joins two copies of the
    SAME exploded fact-sized relation. Catalyst cannot size through
    explode(sequence(...)) and (observed at sf0.1 in a default-heap
    session) may estimate the build side under the broadcast threshold
    — broadcasting a fact-sized side OOMs. The merge hint pins the
    spill-safe sort-merge strategy; this guard keeps it pinned."""
    df = REGISTRY["j14_interval_overlap_join"].fn(spark, SF)
    plan = plan_string(df, "simple")
    assert "SortMergeJoin" in plan
