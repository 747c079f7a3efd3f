"""Structural window order-tie determinism sweep (VERDICT r7 §Next #2).

Round 7's sf0.1 sweep caught w36_anchored_vwap emitting load-dependent
prefix sums because its window ORDER BY was not unique on lineitem and
one sf0.1 tie class carried different values — a hazard class that had
survived six rounds of hand-auditing. This module makes the class
structurally extinct: it walks every registered query's OPTIMIZED plan,
extracts each Window node, and asserts against the real fixture that
every order-sensitive window either has a unique (partition, order) or
only value-identical tie classes (see plans/window_orders.py for the
exact invariant and the order-insensitive shapes that are exempt).

The revert-evidence test rebuilds w36's PRE-FIX window spec inline and
asserts the checker flags it with the known supplier-707 witness tie —
so the sweep is proven to FAIL if the w36 fix (or the checker itself)
ever regresses, without actually reverting anything.

The sweep runs at sf0.1 because that is the smallest fixture containing
a differing-value tie within a supplier partition (sf0.001 has zero tie
classes; sf0.01's eight global ties never share a partition) — graded
scale cannot see this hazard, which is exactly why it lived six rounds.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.io import load_table
from data_wrangling_openstreetmap_spark.operators._helpers import cents
from data_wrangling_openstreetmap_spark.plans import (
    SweepStats,
    window_order_hazards,
)
from data_wrangling_openstreetmap_spark.registry import REGISTRY, _ensure_loaded

SWEEP_SF = os.environ.get("DWOS_WINDOW_SWEEP_SF", "/root/testdata/sf0.1")

# osm_wrangle_demo generates its own XML extract in a temp dir (no
# fixture tables, no Window nodes in its summary plan) — same skip as
# tools/gen_plan_audit.py.
SKIP = {"osm_wrangle_demo"}


def _w36_prefix_vwap(spark, order_cols) -> DataFrame:
    """w36's shape with a parameterized ORDER BY — ``order_cols``
    without the value columns reproduces the pre-fix hazard."""
    li = load_table(spark, SWEEP_SF, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    num = F.sum(cents("l_extendedprice") * F.col("l_quantity").cast("bigint")).over(w)
    den = F.sum(F.col("l_quantity").cast("bigint")).over(w)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        num.alias("num"),
        den.alias("den"),
    ).select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        (F.expr("(num * 100) div den") / 10000.0).alias("vwap"),
    )


def test_checker_flags_reverted_w36(spark):
    """Executable revert-evidence: the pre-fix w36 ORDER BY (key triple
    only, no value columns) must be flagged as a tie violation on the
    sf0.1 fixture — the exact defect the round-7 sweep caught live."""
    bad = _w36_prefix_vwap(spark, ["l_shipdate", "l_orderkey", "l_linenumber"])
    hazards = window_order_hazards(bad)
    assert len(hazards) == 1, [str(h) for h in hazards]
    assert hazards[0].kind == "tie-violation", str(hazards[0])
    # the round-7 witness: supplier 707's duplicated line pair
    assert "707" in hazards[0].detail, str(hazards[0])


def test_checker_passes_fixed_w36(spark):
    """The shipped w36 (value columns appended to the ORDER BY) has
    only value-identical ties — zero hazards."""
    _ensure_loaded()
    df = REGISTRY["w36_anchored_vwap"].fn(spark, SWEEP_SF)
    hazards = window_order_hazards(df)
    assert not hazards, [str(h) for h in hazards]


def test_float_fold_checker_classes(spark):
    """Mutation evidence for the 5th checker (float_fold_sites): each
    hazard class is seen, each exact-arithmetic shape is NOT — so the
    freeze can neither silently miss a raw-double fold nor drown the
    review in exact integer/decimal noise."""
    from data_wrangling_openstreetmap_spark.plans.window_orders import (
        float_fold_sites,
    )

    df = spark.createDataFrame(
        [(1, 10, 1.5), (1, 20, 2.5), (2, 30, 3.5)], "k int, i long, d double"
    )

    # raw double SUM / AVG in a group-by: flagged
    sites = float_fold_sites(df.groupBy("k").agg(F.sum("d"), F.avg("d")))
    assert any(s.startswith("agg:Sum[double]") for s in sites), sites
    assert any(s.startswith("agg:Average[double]") for s in sites), sites

    # integral SUM (LongType buffer, exact): clean
    assert float_fold_sites(df.groupBy("k").agg(F.sum("i"), F.count("d"))) == ()

    # moment family flags REGARDLESS of input type (double M2 buffers)
    sites = float_fold_sites(df.groupBy("k").agg(F.stddev("i")))
    assert any("StddevSamp" in s for s in sites), sites

    # merge-order-sensitive sketch: flagged
    sites = float_fold_sites(
        df.groupBy("k").agg(F.expr("approx_percentile(d, 0.5)"))
    )
    assert any("ApproximatePercentile" in s for s in sites), sites

    # ORDERED window, RANGE (default) frame: checker #1 skips this
    # shape WITHOUT a tie probe (commutative agg, frame contents
    # order-value-determined), so the double fold still combines in
    # physical tie order — flagged (round-12 self-review finding #1:
    # the first version skipped every ordered window)
    w_ord = Window.partitionBy("k").orderBy("i")
    sites = float_fold_sites(df.select(F.sum("d").over(w_ord)))
    assert any(s.startswith("window-ordered:Sum[double]") for s in sites), sites
    # same RANGE shape over a long: exact arithmetic, clean
    assert float_fold_sites(df.select(F.sum("i").over(w_ord))) == ()

    # ORDERED window, ROWS prefix frame: order-SENSITIVE, so checker
    # #1 probes its tie classes (value-identical ties ⇒ equal values
    # fold bit-identically in any tie order) — the one window shape
    # legitimately out of scope here
    w_rows = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    assert float_fold_sites(df.select(F.sum("d").over(w_rows))) == ()

    # ORDERLESS window fold over a double: arrival-order combine, flagged
    w_bare = Window.partitionBy("k")
    sites = float_fold_sites(df.select(F.sum("d").over(w_bare)))
    assert any(s.startswith("window-unordered:Sum[double]") for s in sites), sites
    # same orderless frame over a long: exact, clean
    assert float_fold_sites(df.select(F.sum("i").over(w_bare))) == ()


def test_float_fold_hazard_is_real(spark):
    """Executable evidence that the 5th checker's hazard class exists
    (the w36 revert-evidence pattern): the SAME double multiset folded
    under two partition layouts produces sums that differ at the
    ROUND(…, 6) decision level — catastrophic cancellation makes the
    combine order observable. [1e16, 1, -1e16] in one partition folds
    (1e16 + 1) − 1e16 = 0.0 (the +1 is absorbed: 1e16 + 1 == 1e16 in
    double); pre-aggregated per element it folds (1e16 − 1e16) + 1 =
    1.0. Every value, partial, and total is exactly representable, so
    both outcomes are deterministic PER LAYOUT — which is precisely
    why the freeze forces raw float folds through the integer-unit /
    rounded-6-with-magnitude-bound review."""
    # layout A: physical row order [1e16, 1, −1e16] — folds
    # (1e16 + 1) − 1e16; the +1 is absorbed into 1e16, sum = 0.0
    one = (
        spark.createDataFrame(
            [(0, 1e16), (1, 1.0), (2, -1e16)], "id long, d double"
        )
        .repartition(1)
        .sortWithinPartitions("id")
        .agg(F.round(F.sum("d"), 6).alias("s"))
        .collect()[0]
        .s
    )
    # layout B: the cancellation pair arrives FIRST (coalesced union
    # legs pin the physical order [1e16, −1e16, 1]) — folds
    # (1e16 − 1e16) + 1 = 1.0 exactly, whether the legs stay separate
    # partitions (exact partials 0.0 and 1.0) or concatenate
    legA = spark.createDataFrame([(1e16,), (-1e16,)], "d double").coalesce(1)
    legB = spark.createDataFrame([(1.0,)], "d double").coalesce(1)
    spread = (
        legA.union(legB)
        .agg(F.round(F.sum("d"), 6).alias("s"))
        .collect()[0]
        .s
    )
    assert (one, spread) == (0.0, 1.0), (one, spread)


# Per-query justification for every float_fold_freeze.json entry —
# keys must exactly match the freeze (asserted in the registry sweep),
# so a new frozen query forces an explicit audit, not just a regen:
# - "rounded-6": the fold feeds outputs rounded to 6 dp on BOTH
#   engines, with fixture magnitudes keeping absolute FP error orders
#   of magnitude below the 0.5e-6 decision boundary (and the arrival
#   audit's layout scramble re-hashes them bit-stable every round);
# - "integer-valued-exact": the summed doubles are integer-valued and
#   all partials stay ≪ 2^53, so the fold is EXACT in any order;
# - "dyadic-exact": the summed doubles are dyadic rationals (k·2^-m,
#   e.g. quarter-degree grid coordinates) with bounded exponent
#   spread — sums are exact in any order, the final divide is one
#   correctly-rounded op;
# - "contract": graded as an accuracy contract (exact value + in-band
#   verdict), so low-bit drift cannot flip the hash by design.
FLOAT_FOLD_JUSTIFICATIONS = {
    "a10b_approx_percentile_contract": "contract",
    "a11_stats_agg": "rounded-6",
    "a41_weighted_median": "integer-valued-exact",  # l_quantity weights
    "a43_user_entropy": "rounded-6",
    "f9d_bbox_grid_density": "dyadic-exact",  # quarter-degree lat/lon
    "g2_triangle_count": "integer-valued-exact",  # d(d−1)/2 wedges
    "l0_clean_pipeline": "rounded-6",
    "l3_bm25_topk": "rounded-6",
    "l3_hybrid_rrf": "rounded-6",
    "l4_bigram_logprob": "rounded-6",
    "l4_corpus_report": "rounded-6",
    "l4_dsir_selection": "rounded-6",
    "l4_lexicon_sentiment": "rounded-6",
    "l4_quality_deciles": "rounded-6",
    "l4_unigram_logprob": "rounded-6",
    "l4_zipf_slope": "rounded-6",
    "l5_multimodal_join": "rounded-6",
    "l6_centroid_distances": "rounded-6",
    "l6_centroids": "rounded-6",
    "l6_covariance_matrix": "rounded-6",
    "l6_feature_standardize": "rounded-6",
    "l6_power_iteration": "rounded-6",
    "l6_prefix_energy": "rounded-6",
    "s21_orc_roundtrip": "integer-valued-exact",  # l_quantity rollup
    "s9_temperature_resample": "rounded-6",
    "w11_ewma": "rounded-6",
    "w13_time_weighted_avg": "rounded-6",
}
_FOLD_CATEGORIES = {"rounded-6", "integer-valued-exact", "dyadic-exact", "contract"}


# collect_list/collect_set sites allowed to stay UNSORTED inside an
# Aggregate, each with its consumed-order-insensitively justification
# (the machine check replaces ROUND8_NOTES §10's grep convention; a
# NEW unsorted collect site fails the sweep unless argued here):
COLLECT_ALLOWLIST = {
    # the map is consumed ONLY order-insensitively — size(),
    # array_max(map_keys()), element_at() — and never leaves the query
    # as a column; map_from_entries ignores entry order up to the
    # (guaranteed-unique) keys.
    "f6c_map_from_entries",
}

# Queries whose optimized plan contains LogicalRDD leaves EVEN under
# DWOS_FULL_PLAN=1 with NO captured pre-checkpoint frames (round 10,
# VERDICT r9 §Next #3 shrank this from 16: iterative-fixpoint loops
# now route through _helpers.iter_ckpt, which hands every round's
# PRE-checkpoint plan to this sweep for walking, so truncation is no
# longer a blind spot — g1/g3/g9/l2_dup_clusters left the list). The
# one benign cause left: driver-local LITERAL frames —
# spark.createDataFrame of bounded lookup tables / collected scalars
# (each bounded per BOUNDED_COLLECT_SITES or literal data). Such a
# LogicalRDD is a TRUE leaf: there is no hidden subplan below it to
# walk. Any NEW opaque query fails the sweep until argued here;
# test_plan_shapes.py::test_no_direct_local_checkpoint guarantees no
# operator can mint an uncaptured truncation outside the helpers.
CKPT_OPAQUE_ALLOWLIST = {
    # bounded pooled literal frames (collected rows →
    # createDataFrame; sizes: pool+pool² sims, k·d vocab dims).
    # l3_ann_ivf / l3_ann_recall_contract left r13: the centroid literal
    # frame became a numpy broadcast into the assignment kernel.
    "l3_mmr_rerank",
    "l4_vocab_coverage",
    # driver-local literal frames (bounded createDataFrame inputs):
    "l2_bbit_minhash",  # 64-row (j, a, b) seed table (r13 long-format build)
    "m9_modality_quota_mixer",
    "l0_multimodal_curation",
    "dq4_observed_metrics",
    "dq5_schema_contract",
    "dq7_benford_audit",
    "p5_dict_normalize",
    "j6_range_join",
    "d11_retention_sweep",
}


@pytest.mark.timeout(2400)
def test_registry_order_determinism(spark, monkeypatch):
    """The full sweep, ALL FIVE checkers in one pass over the registry
    (each query is constructed at sf0.1 exactly once): every Window
    node is tie-safe, every global Sort+LIMIT cuts at a class edge or
    inside a value-identical tie class, every Aggregate's collect_* is
    sort-wrapped / first-last-any_value argument is constant per
    group, every ≥2-pick ignorenulls carry is provably NULL-synced,
    and every layout-order-sensitive numeric fold is enumerated in the
    reviewed freeze. 'skipped' entries fail too — a site the checker
    cannot evaluate is a hole, not a pass.

    Runs under DWOS_FULL_PLAN=1 (ADVICE r8 #1): _helpers.ckpt
    truncates lineage to a LogicalRDD leaf, so windows computed below
    a single-shot checkpoint (w22's row_number, w33's running-sum
    internals, the composites ckpt sites) were invisible to the round-8
    sweep. Round 10 (VERDICT r9 §Next #3): the UNCONDITIONAL iterative
    checkpoints are walked too — _helpers.PRECKPT_CAPTURE collects each
    round's pre-checkpoint frame during construction and every captured
    frame runs through all three checkers, so g1/g3/g9/l2_dup_clusters'
    loop internals stop being statically invisible. The residual opaque
    plans (bounded createDataFrame literal frames — true leaves with
    nothing below) are asserted against CKPT_OPAQUE_ALLOWLIST so the
    remaining set is enumerated, not silent."""
    from data_wrangling_openstreetmap_spark.operators import _helpers
    from data_wrangling_openstreetmap_spark.plans.window_orders import (
        aggregate_order_hazards,
        float_fold_sites,
        logical_rdd_ids,
        multi_carry_hazards,
        sort_limit_hazards,
    )

    monkeypatch.setenv("DWOS_FULL_PLAN", "1")
    _ensure_loaded()
    # in-run probe cache shared by the checkers: identical (child, spec)
    # probes run once per sweep, and every probe runs in every session
    cache: dict = {}
    wstats = SweepStats()
    lstats = SweepStats()
    astats = SweepStats()
    cstats = SweepStats()
    fstats = SweepStats()
    failures = []
    opaque = []
    captured_frames = 0
    float_sites: dict[str, set] = {}

    def check(name, frame):
        for hz in window_order_hazards(frame, cache=cache, stats=wstats):
            failures.append(f"{name}: {hz}")
        for hz in sort_limit_hazards(frame, cache=cache, stats=lstats):
            failures.append(f"{name}: {hz}")
        for hz in aggregate_order_hazards(frame, cache=cache, stats=astats):
            if hz.kind == "unsorted-collect" and name in COLLECT_ALLOWLIST:
                continue
            failures.append(f"{name}: {hz}")
        # 4th class (round 10): multi-column ignorenulls carry desync —
        # the j17 shape, STATICALLY checked (latent instances flag even
        # on the NULL-free fixture)
        for hz in multi_carry_hazards(frame, cache=cache, stats=cstats):
            failures.append(f"{name}: {hz}")
        # 5th class (round 12): layout-order-sensitive numeric folds,
        # frozen per query below (purely static — no fixture probe)
        float_sites.setdefault(name, set()).update(
            float_fold_sites(frame, stats=fstats)
        )

    for name, spec in REGISTRY.items():
        if name in SKIP:
            continue
        _helpers.PRECKPT_CAPTURE = []
        _helpers.CKPT_RESULTS = []
        try:
            df = spec.fn(spark, SWEEP_SF)
            caps = _helpers.PRECKPT_CAPTURE
            ckpt_ids = {
                rid
                for post in _helpers.CKPT_RESULTS
                for rid in logical_rdd_ids(post)
            }
        finally:
            _helpers.PRECKPT_CAPTURE = None
            _helpers.CKPT_RESULTS = None
        # Classify every LogicalRDD leaf of the FINAL plan by identity
        # (ADVICE r10: `opaque and not caps` conflated the two causes —
        # a query that both iterates through iter_ckpt AND carries a
        # literal frame hid its literal leaf from this enumeration).
        # A leaf whose rdd-id matches a captured checkpoint RESULT is a
        # walked truncation (its pre-frame is hazard-checked below);
        # any other LogicalRDD leaf is — by
        # test_no_direct_local_checkpoint — a bounded createDataFrame
        # literal frame and must be allowlisted.
        if any(rid not in ckpt_ids for rid in logical_rdd_ids(df)):
            opaque.append(name)
        check(name, df)
        captured_frames += len(caps)
        for pre in caps:
            # each iterative round's pre-checkpoint plan, walked like
            # any other query plan (its own leaf is the PREVIOUS
            # round's checkpoint, whose pre-plan was captured earlier)
            check(name, pre)
    assert not failures, "\n".join(failures)
    unexplained = set(opaque) - CKPT_OPAQUE_ALLOWLIST
    assert not unexplained, (
        f"plan walkers are blind below these queries' LogicalRDD leaves; "
        f"justify in CKPT_OPAQUE_ALLOWLIST or remove the truncation: "
        f"{sorted(unexplained)}"
    )
    stale = CKPT_OPAQUE_ALLOWLIST - set(opaque)
    assert not stale, f"allowlist entries no longer opaque (remove): {sorted(stale)}"
    # 5th class: compare the per-query float-fold site sets against the
    # reviewed freeze (tests/float_fold_freeze.json). The sites are
    # LEGAL — each is justified by the module-docstring argument
    # (integer-unit recipe for values, ROUND(…,6) both engines,
    # arrival-audit layout scramble) — but the SET is frozen so a new
    # raw-double fold, a new moment aggregate, or a sketch in a new
    # query must be reviewed against those defenses before it lands.
    # Regenerate with DWOS_REGEN_FLOAT_FOLD=1 and review the diff.
    import json

    freeze_path = os.path.join(os.path.dirname(__file__), "float_fold_freeze.json")
    actual = {k: sorted(v) for k, v in sorted(float_sites.items()) if v}
    if os.environ.get("DWOS_REGEN_FLOAT_FOLD") == "1":
        tmp = freeze_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(actual, fh, indent=1, sort_keys=True)
        os.replace(tmp, freeze_path)
    with open(freeze_path, encoding="utf-8") as fh:
        frozen = json.load(fh)
    fold_diffs = []
    for name in sorted(set(actual) | set(frozen)):
        a, f = set(actual.get(name, ())), set(frozen.get(name, ()))
        if a != f:
            fold_diffs.append(
                f"{name}: +{sorted(a - f)} -{sorted(f - a)}"
            )
    assert not fold_diffs, (
        "float-fold site sets changed — audit each new site against the "
        "integer-unit/ROUND(…,6)/arrival-audit defenses (see "
        "plans/window_orders.py module docstring), then regenerate the "
        "freeze with DWOS_REGEN_FLOAT_FOLD=1 and review the diff:\n"
        + "\n".join(fold_diffs)
    )
    # every frozen query carries an explicit per-query justification —
    # a regen alone cannot admit a new fold without its audit category
    assert set(actual) == set(FLOAT_FOLD_JUSTIFICATIONS), (
        "FLOAT_FOLD_JUSTIFICATIONS drifted from the freeze: "
        f"missing={sorted(set(actual) - set(FLOAT_FOLD_JUSTIFICATIONS))} "
        f"stale={sorted(set(FLOAT_FOLD_JUSTIFICATIONS) - set(actual))}"
    )
    assert set(FLOAT_FOLD_JUSTIFICATIONS.values()) <= _FOLD_CATEGORIES
    # the walker must have actually enumerated the known surface — a
    # silently-broken expression walk would freeze an empty map
    assert fstats.windows_checked >= 50, fstats
    assert sum(len(v) for v in actual.values()) >= 30, len(actual)
    # the capture path must have actually fired (4 iterative queries,
    # ≥1 pre-checkpoint frame each round) — a broken hook would
    # silently regress to the round-9 blind spot
    assert captured_frames >= 8, captured_frames
    # the sweep must have actually inspected the surface, not vacuously
    # passed because plan walking broke
    assert wstats.windows_seen > 150, wstats
    assert wstats.windows_checked > 100, wstats
    assert lstats.windows_seen >= 20, lstats  # sort+limit sites walked
    assert astats.windows_seen > 500, astats  # Aggregate nodes walked
    # multi-carry groups: w8/w9's synced fill pairs must have been seen
    # and proven safe by shape (static null-pattern equality)
    assert cstats.windows_seen + cstats.windows_safe_by_shape >= 2, cstats


# ---------------------------------------------------------------------------
# Top-k boundary ties — the repo's other hand-enforced order invariant
# ("every ORDER BY under a LIMIT carries a unique tiebreak"), checked
# with the same machinery (plans/window_orders.sort_limit_hazards).
# ---------------------------------------------------------------------------

from pyspark.sql import functions as _F  # noqa: E402

from data_wrangling_openstreetmap_spark.plans.window_orders import (  # noqa: E402
    sort_limit_hazards,
)


def test_sort_limit_checker_flags_boundary_tie(spark):
    """A limit whose cut falls inside a tie class with differing rows
    must be flagged; adding the unique tiebreak clears it."""
    df = spark.range(100).select(_F.col("id"), (_F.col("id") % 7).alias("g"))
    bad = df.orderBy(_F.col("g").desc()).limit(5)
    hz = sort_limit_hazards(bad)
    assert len(hz) == 1 and hz[0].kind == "tie-violation", [str(h) for h in hz]
    good = df.orderBy(_F.col("g").desc(), "id").limit(5)
    assert not sort_limit_hazards(good)
    # a cut landing exactly on a class edge is safe even without the
    # tiebreak: ids 0..97 % 7 gives 14 rows per class, limit 14 takes
    # the whole g=6 class
    edge = (
        spark.range(98)
        .select(_F.col("id"), (_F.col("id") % 7).alias("g"))
        .orderBy(_F.col("g").desc())
        .limit(14)
    )
    assert not sort_limit_hazards(edge)


# (the registry-wide sort+limit sweep runs inside
# test_registry_order_determinism above, sharing one construction pass
# with the window sweep — 23 sites on the current tree, all
# unique-tiebreak; the Project-peel review fix surfaced 3 sites the
# first cut missed: w28_max_drawdown, a29_ks_test, l4_oov_rate)


# ---------------------------------------------------------------------------
# Aggregate-order checker (round 9, VERDICT r8 §Next #2): the third
# order-nondeterminism class — GROUP BY collect_*/first/last — made
# machine-checkable, with revert evidence for both sub-checks.
# ---------------------------------------------------------------------------

from data_wrangling_openstreetmap_spark.plans.window_orders import (  # noqa: E402
    aggregate_order_hazards,
)


def test_aggregate_checker_flags_bare_collect(spark):
    """A collect_list with no sort_array/array_sort above it must be
    flagged; the a8 idiom (inline sort wrap) clears it — the grep
    convention from ROUND8_NOTES §10, now executable."""
    df = spark.range(100).select(
        _F.col("id"), (_F.col("id") % 7).alias("g"), (_F.col("id") % 3).alias("v")
    )
    bad = df.groupBy("g").agg(_F.collect_list("v").alias("xs"))
    hz = aggregate_order_hazards(bad)
    assert len(hz) == 1 and hz[0].kind == "unsorted-collect", [str(h) for h in hz]
    good = df.groupBy("g").agg(_F.sort_array(_F.collect_list("v")).alias("xs"))
    assert not aggregate_order_hazards(good)
    # collect_set is arrival-ordered too
    bad_set = df.groupBy("g").agg(_F.collect_set("v").alias("xs"))
    assert [h.kind for h in aggregate_order_hazards(bad_set)] == ["unsorted-collect"]


def test_aggregate_checker_rejects_custom_comparator_sort(spark):
    """array_sort with a CUSTOM comparator must NOT count as a sort
    wrapper — a comparator that ignores element fields (here: always
    0) leaves comparator-ties in arrival order; only the default
    full-element total order is a proof of determinism."""
    df = spark.range(100).select(
        _F.col("id"), (_F.col("id") % 7).alias("g"), (_F.col("id") % 3).alias("v")
    )
    bad = df.groupBy("g").agg(
        _F.array_sort(
            _F.collect_list("v"), lambda a, b: _F.lit(0).cast("int")
        ).alias("xs")
    )
    hz = aggregate_order_hazards(bad)
    assert [h.kind for h in hz] == ["unsorted-collect"], [str(h) for h in hz]
    # the default comparator (and default over structs) still passes
    good = df.groupBy("g").agg(
        _F.array_sort(_F.collect_list(_F.struct("v", "id"))).alias("xs")
    )
    assert not aggregate_order_hazards(good)


def test_aggregate_checker_sees_through_outer_array_nesting(spark):
    """A sort over an OUTER constructed array does not order the
    nested collect — sort_array(array(collect_list(x))) must flag."""
    df = spark.range(100).select(
        _F.col("id"), (_F.col("id") % 7).alias("g"), (_F.col("id") % 3).alias("v")
    )
    bad = df.groupBy("g").agg(
        _F.sort_array(_F.array(_F.collect_list("v"))).alias("xs")
    )
    hz = aggregate_order_hazards(bad)
    assert [h.kind for h in hz] == ["unsorted-collect"], [str(h) for h in hz]


def test_multi_carry_checker_flags_latent_desync(spark):
    """Round-10 revert evidence for the FOURTH order class (the j17
    shape): two ignorenulls carries whose NULL patterns are not
    statically tied must flag EVEN when the probe data has zero
    diverging rows — latency is the defining property of this class.
    Here `x` is SCHEMA-nullable but never null in the data (the j7
    shape: event ids are nullable in the parquet schema, never null in
    the fixture): `when(kind==0, x)` cannot be proven NULL-synced with
    `when(kind==0, t)` because a NULL x on a kind=0 row would desync
    them — yet the probe data has ZERO diverging rows."""
    from data_wrangling_openstreetmap_spark.plans.window_orders import (
        multi_carry_hazards,
    )
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(i % 5, i, i % 2, i * 10) for i in range(100)],
        "u long, t long, kind long, x long",  # x nullable, never null
    )
    w = W.partitionBy("u").orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    bad = df.select(
        "u",
        "t",
        _F.last(_F.when(_F.col("kind") == 0, _F.col("x")), ignorenulls=True)
        .over(w)
        .alias("last_id"),
        _F.last(_F.when(_F.col("kind") == 0, _F.col("t")), ignorenulls=True)
        .over(w)
        .alias("last_ts"),
    )
    hz = multi_carry_hazards(bad)
    assert [h.kind for h in hz] == ["carry-desync"], [str(h) for h in hz]
    assert "LATENT" in hz[0].detail, hz[0].detail

    # the j17/j7/j15 discipline — ONE struct carry — passes (single
    # distinct argument, no group to desync)
    rec = _F.when(
        _F.col("kind") == 0,
        _F.struct(_F.col("x").alias("i"), _F.col("t").alias("ts")),
    )
    good = df.select(
        "u", "t", _F.last(rec, ignorenulls=True).over(w).alias("rec")
    )
    assert not multi_carry_hazards(good)


def test_multi_carry_checker_passes_synced_pair(spark):
    """Two carries gated on the SAME condition with non-nullable
    branches are provably NULL-synced — the static resolver (including
    the look-through of Catalyst's pre-projection) must pass them with
    NO empirical job, the w8/w9 gap-fill idiom."""
    from data_wrangling_openstreetmap_spark.plans.window_orders import (
        SweepStats,
        multi_carry_hazards,
    )
    from pyspark.sql import Window as W

    df = spark.range(100).select(
        (_F.col("id") % 5).alias("u"),
        _F.col("id").alias("t"),
        (_F.col("id") % 2).alias("kind"),
    )
    w = W.partitionBy("u").orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    cond = _F.col("kind") == 0
    synced = df.select(
        "u",
        "t",
        _F.last(_F.when(cond, _F.col("t") * 10), ignorenulls=True)
        .over(w)
        .alias("c_a"),
        _F.last(_F.when(cond, _F.col("t") + 1), ignorenulls=True)
        .over(w)
        .alias("c_b"),
    )
    stats = SweepStats()
    assert not multi_carry_hazards(synced, stats=stats)
    assert stats.windows_safe_by_shape == 1, stats
    assert stats.windows_checked == 0, stats  # no Spark job ran

    # the w8 idiom: a bare carried column + its isNotNull-gated
    # companion resolve to the SAME pattern
    df2 = spark.range(100).select(
        (_F.col("id") % 5).alias("u"),
        _F.col("id").alias("t"),
        _F.when(_F.col("id") % 3 == 0, _F.col("id")).alias("v"),
    )
    w8ish = df2.select(
        "u",
        "t",
        _F.last("v", ignorenulls=True).over(w).alias("prev_v"),
        _F.last(_F.when(_F.col("v").isNotNull(), _F.col("t")), ignorenulls=True)
        .over(w)
        .alias("prev_t"),
    )
    assert not multi_carry_hazards(w8ish), [
        str(h) for h in multi_carry_hazards(w8ish)
    ]


def test_aggregate_checker_default_comparator_full_equality(spark):
    """ADVICE r9 #1 closure, both directions. Under-selective: a
    SQL-text custom comparator ``(a,b) -> if(a<b,-1,0)`` canonicalizes
    to an IF-chain sharing the default comparator's PREFIX but is not a
    total order (a>b and a==b both return 0) — full-equality matching
    must flag it. Over-selective: the default comparator over NULLABLE
    elements keeps its IsNull IF-chain in canonical SQL — it IS a total
    order and must pass."""
    df = spark.range(100).select(
        _F.col("id"), (_F.col("id") % 7).alias("g"), (_F.col("id") % 3).alias("v")
    )
    df.createOrReplaceTempView("t_cmp_probe")
    # prefix-sharing non-total comparator → must flag
    bad = spark.sql(
        "SELECT g, array_sort(collect_list(v), (a, b) -> if(a < b, -1, 0)) xs "
        "FROM t_cmp_probe GROUP BY g"
    )
    hz = aggregate_order_hazards(bad)
    assert [h.kind for h in hz] == ["unsorted-collect"], [str(h) for h in hz]
    # default comparator over NULLABLE elements → must pass (no
    # spurious allowlist burden)
    good = df.groupBy("g").agg(
        _F.array_sort(
            _F.collect_list(_F.when(_F.col("v") > 0, _F.col("id")))
        ).alias("xs")
    )
    assert not aggregate_order_hazards(good), [
        str(h) for h in aggregate_order_hazards(good)
    ]


def test_default_comparator_canonical_sqls_current(spark):
    """The hardcoded canonical default-comparator SQL forms must match
    what THIS Spark build emits (nullable, non-nullable, and struct
    elements) — Spark-version drift fails here loudly instead of
    silently turning the full-equality check into reject-everything."""
    from data_wrangling_openstreetmap_spark.plans.window_orders import (
        _DEFAULT_COMPARATOR_SQLS,
        _seq,
    )

    def comparator_sqls(df):
        out = []

        def walk_expr(expr):
            if expr.getClass().getSimpleName() == "ArraySort":
                out.append(expr.function().sql())
            for c in _seq(expr.children()):
                walk_expr(c)

        def walk_plan(node):
            for e in _seq(node.expressions()):
                walk_expr(e)
            for c in _seq(node.children()):
                walk_plan(c)

        walk_plan(df._jdf.queryExecution().optimizedPlan())
        return out

    nonnull = spark.range(3).select(
        _F.array_sort(_F.array(_F.col("id"), _F.col("id") + 1)).alias("a")
    )
    nullable = spark.range(3).select(
        _F.array_sort(_F.array(_F.when(_F.col("id") > 0, _F.col("id")))).alias("a")
    )
    struct = spark.range(3).select(
        _F.array_sort(_F.array(_F.struct(_F.col("id").alias("x")))).alias("a")
    )
    for frame in (nonnull, nullable, struct):
        sqls = comparator_sqls(frame)
        assert sqls, "probe found no ArraySort in the plan"
        for s in sqls:
            assert s in _DEFAULT_COMPARATOR_SQLS, s


def test_aggregate_checker_sees_through_map_nesting(spark):
    """ADVICE r9 #3 closure: a sort over map-constructed nesting —
    sort_array(map_values(map(k, collect_list(x)))) — orders the OUTER
    array of arrays, not the collect's elements; the transparent-node
    whitelist severs under_sort at CreateMap/MapValues, so this flags.
    A sort through a genuinely transparent chain (concat) still
    passes."""
    df = spark.range(100).select(
        _F.col("id"), (_F.col("id") % 7).alias("g"), (_F.col("id") % 3).alias("v")
    )
    bad = df.groupBy("g").agg(
        _F.sort_array(
            _F.map_values(_F.create_map(_F.lit("k"), _F.collect_list("v")))
        ).alias("xs")
    )
    hz = aggregate_order_hazards(bad)
    assert [h.kind for h in hz] == ["unsorted-collect"], [str(h) for h in hz]
    good = df.groupBy("g").agg(
        _F.sort_array(
            _F.concat(_F.collect_list("v"), _F.array(_F.lit(-1)))
        ).alias("xs")
    )
    assert not aggregate_order_hazards(good), [
        str(h) for h in aggregate_order_hazards(good)
    ]


def test_aggregate_checker_flags_nonconstant_first(spark):
    """first() over a non-constant-per-group argument is an arrival
    pick — flagged empirically; a functionally-dependent argument
    passes, and Catalyst's multi-distinct rewrite (first(partial)
    FILTER (WHERE gid = …)) must NOT false-flag because the probe
    honors the FILTER clause."""
    df = spark.range(100).select(
        _F.col("id"), (_F.col("id") % 7).alias("g"), (_F.col("id") % 3).alias("v")
    )
    bad = df.groupBy("g").agg(_F.first("v").alias("fv"))
    hz = aggregate_order_hazards(bad)
    assert len(hz) == 1 and hz[0].kind == "tie-violation", [str(h) for h in hz]
    good = df.groupBy("g").agg(_F.first(_F.col("g") * 2).alias("fv"))
    assert not aggregate_order_hazards(good)
    # two countDistincts + a plain agg → RewriteDistinctAggregates emits
    # internal FILTERed first() picks that are constant WITHIN the gid
    # branch — must pass clean
    rewrite = df.groupBy("g").agg(
        _F.count("id").alias("n"),
        _F.countDistinct("id").alias("d1"),
        _F.countDistinct("v").alias("d2"),
    )
    assert not aggregate_order_hazards(rewrite), [
        str(h) for h in aggregate_order_hazards(rewrite)
    ]
