"""Shared Column-expression helpers for oracle-deterministic queries.

Why exact integer units (measured, SURVEY.md §7 hazard 2): every
money-ish double in the testdata is an exact 2-decimal value, so
``round(x*100)`` is an exact integer on both engines (the product is
within 1 ulp of an integer, never near a .5 boundary), and integer
sums are exact and order-independent — the property the driver's
value-hash needs at any partition count. The final ``/100.0`` maps the
same integer to the same double on both engines.

Why not DECIMAL sums (the previous recipe): Spark's decimal sum widens
the accumulator by 10 digits, pushing it past the compact-long
representation (precision 18) onto the BigDecimal path — measured 3.4×
slower than double/long aggregation on the q1 shape. Long sums keep
whole-stage codegen on primitives.

Overflow headroom: a scale-2 long sum overflows 2^53-exact doubles at
~9e13 units (≈ $900 B) and the long itself at 9.2e18. The scale-6
product sums (charge) have ~380× headroom at sf0.1 and would be
re-sharded (sum per date partition, then decimal-sum the partials) at
100 TB — noted where used. Spark- and DuckDB-side expressions are
generated by paired helpers so the two engines can never drift.

``money``/decimal forms remain for windowed running sums, where
per-row output magnitudes stay small and decimal output types read
better.
"""

from __future__ import annotations

from pyspark.sql import Column, Observation
from pyspark.sql import functions as F

# Lossless decimal image of a 2-decimal double (running-sum windows).
MONEY = "decimal(12,2)"


import threading as _threading

# Python DataSource registration is NOT thread-safe: concurrent
# spark.dataSource.register() calls from different threads can lose a
# registration (observed under the round-11 threaded parity fixture:
# DATA_SOURCE_NOT_FOUND for dwos_jsonl_sink immediately after its own
# same-thread register, while five other sources registered
# concurrently — the cloudpickle wrap / registerPython path races).
# All operator registrations go through register_pyds: one process
# lock + a per-(session, source-name) memo, so each source registers
# exactly once per session and never concurrently with another.
#
# The memo key must survive session churn: id(py4j proxy) can be
# reused by a NEW session after the old proxy is GC'd (ADVICE r11),
# which would silently skip a needed registration. Key on identities
# that are stable for the session's lifetime and never recycled while
# it is alive: the Spark application id plus the JVM-side
# System.identityHashCode of the SparkSession object (appId alone is
# shared by every session cloned from one SparkContext, and cloned
# sessions each need their own registration). Entries are evicted
# once the owning SparkContext is gone, bounding _PYDS_DONE.
_PYDS_LOCK = _threading.Lock()
_PYDS_DONE: set = set()


def _pyds_session_key(spark) -> tuple:
    jvm_identity = spark._jvm.java.lang.System.identityHashCode(
        spark._jsparkSession
    )
    return (spark.sparkContext.applicationId, jvm_identity)


def register_pyds(spark, data_source_cls) -> None:
    """Thread-safe, idempotent ``spark.dataSource.register``."""
    session_key = _pyds_session_key(spark)
    key = (session_key, data_source_cls.name())
    with _PYDS_LOCK:
        if key in _PYDS_DONE:
            return
        spark.dataSource.register(data_source_cls)
        _PYDS_DONE.add(key)
        if len(_PYDS_DONE) > 256:  # evict entries from dead applications
            app_id = session_key[0]
            _PYDS_DONE.intersection_update(
                {k for k in _PYDS_DONE if k[0][0] == app_id}
            )


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def money(col: Column | str) -> Column:
    """Exact decimal image of a 2-decimal double column."""
    return _c(col).cast(MONEY)


def cents(col: Column | str) -> Column:
    """Exact integer-units image of a 2-decimal double (scale 2)."""
    return F.round(_c(col) * 100).cast("long")


def ntz_epoch_us(col: Column | str) -> Column:
    """Microseconds since 1970-01-01 of a TIMESTAMP_NTZ column,
    SESSION-TIMEZONE-INDEPENDENT — the exact image of DuckDB's
    ``epoch_us(ts)`` on naive timestamps.

    The widespread ``unix_micros(cast(ts as timestamp))`` idiom is NOT
    TZ-proof: casting ntz→timestamp interprets the wall clock in the
    SESSION timezone (probed live round 12: TIMESTAMP_NTZ
    '2024-03-10 06:30:00' gives 1710052200000000 under UTC but
    1710066600000000 under America/New_York; ``to_utc_timestamp(ts,
    'UTC')`` routes through the same cast and is equally wrong).
    Differences of two such casts cancel the offset EXCEPT when the
    operands straddle a DST transition, and absolute values (hour
    buckets in output) shift wholesale — the st14 class, caught by the
    round-12 full-registry TZ-hostile probe (``TZ=America/New_York
    python -m tools.query_loop probe hostile full``). ``timestampdiff``
    over two ntz operands is pure wall-clock arithmetic, no session
    interpretation anywhere."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        _c(col),
    )


def dsum(col: Column | str) -> Column:
    """Order-independent exact SUM of a 2-decimal double → double."""
    return F.sum(cents(col)) / 100.0


def units_sum(units_expr: Column, scale: int) -> Column:
    """SUM of an exact integer-units expression, rescaled → double."""
    return F.sum(units_expr) / float(10**scale)


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact integer sum → double ÷ count. Both
    engines divide the identical double by the identical count."""
    c = _c(col)
    return F.sum(cents(c)) / 100.0 / F.count(c)


def oracle_money(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(12,2))"


def oracle_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def oracle_dsum(expr: str) -> str:
    return f"SUM({oracle_cents(expr)}) / 100.0"


def oracle_units_sum(units_expr: str, scale: int) -> str:
    return f"SUM({units_expr}) / {float(10 ** scale)}"


def oracle_davg(expr: str) -> str:
    return f"SUM({oracle_cents(expr)}) / 100.0 / COUNT({expr})"


def present_sorted(df, *cols):
    """Total-order a SMALL (O(groups)) result without Spark's
    distributed sort machinery.

    A final ``orderBy`` compiles to a range-partitioned Exchange whose
    bounds come from a separate sampling JOB run on every execution —
    for a handful of output rows that's two extra stages of pure
    scheduling (measured ~0.1 s of q1's wall time at sf0.1).
    ``coalesce(1).sortWithinPartitions`` gives the identical total
    order in one task. Only for presentation sorts of group-aggregate
    outputs that trivially fit one partition (these stay O(distinct
    keys) at ANY input scale); large ordered outputs keep ``orderBy``.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def range_buckets(df, order_cols: list, num_buckets: int | None = None):
    """Distribution-FREE monotonic bucketing for the scalable_* family
    (VERDICT r6 what's-wrong #1): ``repartitionByRange`` over the FULL
    order — which must end in a unique tiebreak column — then bucket =
    physical partition id.

    Why this defeats skew-degenerate keys: the explicit-``bucket``
    forms coarsen the FIRST order column, so a constant or
    one-value-dominant first key collapses ~all rows into ONE bucket
    and the "partitioned local pass" silently becomes the unbounded
    single-task sort the family exists to avoid. Range partitioning
    instead samples the full (key…, tiebreak) tuple: because the
    tiebreak is unique, even a 100%-constant first key yields bounds
    that slice the tie class into ~equal contiguous segments. Each
    physical partition is a contiguous segment of the total order, so
    partition id is a monotonic bucket by construction and the usual
    offset-merge is exact for ANY distribution.

    Cost vs the explicit-bucket forms: one extra column-pruned sampling
    pass (RangePartitioner bounds) and one extra exchange (the range
    shuffle; the local window still hash-shuffles on the bucket id).
    Callers who KNOW their first key is well-spread keep the cheap
    explicit ``bucket``; callers whose key distribution is data-
    dependent (quality scores, any user-supplied metric) use this.
    AQE note: when ``num_buckets`` is None Spark plans
    ``spark.sql.shuffle.partitions`` range partitions and AQE may
    coalesce them — coalescing merges ADJACENT range partitions, so
    buckets stay contiguous segments and correctness is unaffected.
    """
    cols = [_c(c) if isinstance(c, str) else c for c in order_cols]
    parted = (
        df.repartitionByRange(num_buckets, *cols)
        if num_buckets
        else df.repartitionByRange(*cols)
    )
    return parted.withColumn("_bkt", F.spark_partition_id().cast("long"))


def scalable_row_number(
    df,
    key: str | None = None,
    bucket_width: int = 256,
    out: str = "rn",
    order_cols: list | None = None,
    bucket: Column | None = None,
):
    """EXACT global 1-based row_number without an unbounded
    single-partition sort — the scale-safe primary for every operator
    that needs a total rank (systematic sampling, rank spines, exact
    ntile bins).

    Three forms: ``key`` + ``bucket_width`` ranks by one numeric column
    with buckets ``floor(key / width)``; or pass explicit
    ``order_cols`` + a ``bucket`` Column that must be a monotonic
    coarsening of the FIRST order column (every row in bucket b sorts
    before every row in bucket b+1 — equal first-keys land in the same
    bucket, so the within-bucket tiebreak stays local); or pass
    ``order_cols`` ALONE (no key, no bucket) for the distribution-free
    range-bucketed form (``range_buckets``), which stays bounded even
    when the first key is constant.

    SKEW CONTRACT for the explicit-``bucket`` form (VERDICT r6
    what's-wrong #1): the coarsening must actually SPREAD the data — a
    low-cardinality or one-value-dominant first key collapses rows
    into one bucket and re-creates the unbounded single-task sort.
    When the first key's distribution is data-dependent rather than
    structural (scores, measures), omit ``bucket`` and take the range
    form; test_properties.py pins both forms' exactness on a
    99%-one-value key and the range form's bounded per-bucket rows.

    Two-level rank: rows sort only WITHIN coarse buckets, then
    per-bucket counts (one small agg) prefix-sum into bucket offsets.
    The only global window runs over the O(#buckets) offset rows,
    bounded by sizing buckets so that table stays ~10⁵ rows at the
    target scale (recurse the same trick for another 10⁵× if ever
    needed). The offsets broadcast back — global_rn = offset +
    local_rn. Identical output to ``row_number() OVER (ORDER BY ...)``
    for any key distribution (callers end the order with a unique id
    so ties can't straddle).
    """
    from pyspark.sql import Window

    if order_cols is None:
        order_cols = [key]
    if bucket is None and key is None:
        local_w = Window.partitionBy("_bkt").orderBy(*order_cols)
        local = range_buckets(df, order_cols).withColumn(
            "_lrn", F.row_number().over(local_w)
        )
        return _merge_bucket_offsets(local, out)
    if bucket is None:
        # floor: monotonic for negative keys too (int-div truncates wrong)
        bucket = F.floor(_c(key) / bucket_width).cast("long")
    local_w = Window.partitionBy("_bkt").orderBy(*order_cols)
    local = df.withColumn("_bkt", bucket).withColumn(
        "_lrn", F.row_number().over(local_w)
    )
    return _merge_bucket_offsets(local, out)


def _merge_bucket_offsets(local, out: str):
    from pyspark.sql import Window

    off_w = (
        Window.orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("_bkt")
        .agg(F.count("*").alias("_cnt"))
        .withColumn("_off", F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)))
        .select("_bkt", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(out, F.col("_off") + F.col("_lrn"))
        .drop("_bkt", "_lrn", "_off")
    )


def scalable_running_max(
    df,
    order_cols: list,
    value: str,
    bucket: Column | None = None,
    out: str = "run_max",
):
    """EXACT global running max of ``value`` over ``order_cols`` without
    an unbounded single-partition sort — prefix MAX decomposes exactly
    like scalable_row_number's prefix COUNT: max-so-far at any row is
    max(all earlier buckets' maxima, current bucket's local running
    max). ``bucket`` must be a monotonic coarsening of the first order
    column (same contract as scalable_row_number; ``bucket=None`` takes
    the distribution-free ``range_buckets`` form — see the skew
    contract on scalable_row_number). The only global
    window runs over the O(#buckets) per-bucket-max table; everything
    else is a partitioned frame plus a broadcast join. Works for any
    associative, commutative, idempotent-under-max statistic (min is
    the mirror image). Double-scan trade-off documented on
    scalable_running_sum (applies to the whole family).
    """
    from pyspark.sql import Window

    local_w = (
        Window.partitionBy("_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucketed = (
        range_buckets(df, order_cols)
        if bucket is None
        else df.withColumn("_bkt", bucket)
    )
    local = bucketed.withColumn("_lmax", F.max(value).over(local_w))
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_bkt")
        .agg(F.max(value).alias("_bmax"))
        .withColumn("_pmax", F.max("_bmax").over(off_w))
        .select("_bkt", "_pmax")
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            out,
            F.greatest(F.col("_lmax"), F.coalesce(F.col("_pmax"), F.col("_lmax"))),
        )
        .drop("_bkt", "_lmax", "_pmax")
    )


def scalable_running_sum(
    df,
    order_cols: list,
    value: str,
    bucket: Column | None = None,
    out: str = "run_sum",
):
    """EXACT global running SUM of ``value`` over ``order_cols`` without
    an unbounded single-partition sort — the prefix-sum member of the
    scalable_row_number family (COUNT is just SUM of ones). ``bucket``
    must be a monotonic coarsening of the first order column (same
    contract as scalable_row_number; ``bucket=None`` takes the
    distribution-free ``range_buckets`` form — see the skew contract
    there). Works for any associative,
    commutative addition (long, decimal); the only global window runs
    over the O(#buckets) per-bucket-total table.

    Deliberate trade-off (ADVICE r5, whole helper family): the offsets
    branch re-reads the input relation (the join's two sides share
    lineage, not computation), so the source is SCANNED TWICE per
    invocation. Column pruning strips the window expression from the
    offsets branch, so the second pass is scan+partial-agg only — at
    100 TB that is one extra columnar scan of (bucket, value), which is
    cheaper and safer than materializing the full windowed relation
    (persist would pin O(rows) to executor storage; localCheckpoint
    breaks lineage-based recovery and still writes O(rows)). Callers
    stacking MANY of these over the same input (w33-style) should
    pre-aggregate to the bucket grain first and reuse that relation —
    see w33_cusum_drift.
    """
    from pyspark.sql import Window

    local_w = (
        Window.partitionBy("_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucketed = (
        range_buckets(df, order_cols)
        if bucket is None
        else df.withColumn("_bkt", bucket)
    )
    local = bucketed.withColumn("_lsum", F.sum(value).over(local_w))
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_bkt")
        .agg(F.sum(value).alias("_bsum"))
        .withColumn("_poff", F.sum("_bsum").over(off_w))
        .select("_bkt", "_poff")
    )
    # Null semantics must match the global window's exactly: SUM skips
    # nulls, returning NULL only while NO non-null value has appeared
    # yet — so a row whose local prefix is all-null must still surface
    # the prior buckets' total (coalesce), and only both-null stays
    # NULL (review r5: `_lsum + coalesce(_poff, 0)` returned NULL for
    # rows preceding a bucket's first non-null value).
    merged = F.when(
        F.col("_lsum").isNull() & F.col("_poff").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("_lsum"), F.lit(0)) + F.coalesce(F.col("_poff"), F.lit(0))
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(out, merged)
        .drop("_bkt", "_lsum", "_poff")
    )


def scalable_running_min(
    df,
    order_cols: list,
    value: str,
    bucket: Column | None = None,
    out: str = "run_min",
):
    """Mirror image of scalable_running_max (prefix MIN): min-so-far at
    any row is least(all earlier buckets' minima, current bucket's
    local running min). Same monotonic-bucket contract (``bucket=None``
    = distribution-free range form); double-scan
    trade-off documented on scalable_running_sum.
    """
    from pyspark.sql import Window

    local_w = (
        Window.partitionBy("_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucketed = (
        range_buckets(df, order_cols)
        if bucket is None
        else df.withColumn("_bkt", bucket)
    )
    local = bucketed.withColumn("_lmin", F.min(value).over(local_w))
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_bkt")
        .agg(F.min(value).alias("_bmin"))
        .withColumn("_pmin", F.min("_bmin").over(off_w))
        .select("_bkt", "_pmin")
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            out,
            F.least(F.col("_lmin"), F.coalesce(F.col("_pmin"), F.col("_lmin"))),
        )
        .drop("_bkt", "_lmin", "_pmin")
    )


def ckpt(df):
    """``localCheckpoint(eager=True)`` for a shared relation that
    multiple plan branches would otherwise re-derive (the round-6
    plan-trim sweep: graph edge lists, per-customer aggregates, daily
    series — each previously re-deriving a full fact-table scan per
    reuse).

    Size contract (ADVICE r6 #3): call sites fall in two tiers.
    O(keys)-sized relations (daily series, per-customer rollups) are
    always safe. The DIMENSION-sized tier — q50's session edges, the
    g2/g8/g13/g14/g15 co-purchase edge lists — is O(edges)/O(sessions):
    much smaller than the fact table but it DOES grow with the data.
    The trade is deliberate and each such call site must say so in its
    scale note: materializing O(edges) once to executor-local disk
    replaces >=3 full fact-table re-scans + re-shuffles, at the cost of
    (a) local-disk footprint proportional to the edge list and (b) loss
    of lineage-based recovery for the truncated prefix — an executor
    loss after the checkpoint fails the JOB instead of recomputing
    (acceptable for bounded-latency batch queries that simply re-run;
    the wrong trade for long multi-hour pipelines, which should use
    reliable ``checkpoint()`` to a replicated store instead). Do NOT
    use this wrapper on anything fact-table-sized.

    Env escape hatch ``DWOS_FULL_PLAN=1`` returns the input unchanged:
    lineage truncation hides the prefix subplan from ``explain()``, so
    the structural plan sweeps (tests/test_plan_shapes.py) and any
    audit that must SEE the prefix (single-partition sorts, Python
    crossings, broadcast shapes) set this to sweep the full plan —
    otherwise a bad construct in a checkpointed prefix would pass
    vacuously, the lineage-truncation twin of the formatted-plan
    blindness gotcha. Only use this wrapper for single-shot prefix
    truncation; the checkpoints of ITERATIVE loops (``fixpoint``) and
    of g1's edge list must stay unconditional — without them plan
    analysis itself OOMs.

    Storage: DISK_ONLY. The truncated relation is read a handful of
    times; a local-disk read of an O(keys) table is negligible, while
    the default MEMORY_AND_DISK level pins the blocks in the unified
    region and starves execution memory exactly when the downstream
    join/aggregate needs it (observed: g13's candidate aggregate OOMed
    a default-1g session at sf0.1 with memory-resident checkpoints).
    """
    import os

    from pyspark import StorageLevel

    if os.environ.get("DWOS_FULL_PLAN") == "1":
        # no truncation → the prefix is visible in the result plan
        # itself; capturing here would just walk it twice
        return df
    if PRECKPT_CAPTURE is not None:
        PRECKPT_CAPTURE.append(df)
    out = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    if CKPT_RESULTS is not None:
        CKPT_RESULTS.append(out)
    return out


# When a list is installed here, ckpt()/iter_ckpt() append each
# PRE-checkpoint DataFrame to it before truncating lineage — the order
# sweeps (tests/test_window_orders.py) install a fresh list per query
# construction and walk every captured frame with all three hazard
# checkers, so iterative-fixpoint internals are no longer statically
# invisible behind LogicalRDD leaves (VERDICT r9 §Next #3). None (the
# default) disables capture with zero overhead.
PRECKPT_CAPTURE: list | None = None

# Companion capture: the POST-checkpoint result frames. Their
# LogicalRDD rdd-ids let the order sweep classify every LogicalRDD
# leaf of a final plan exactly (walked truncation vs literal frame) —
# see plans/window_orders.logical_rdd_ids (ADVICE r10 fix).
CKPT_RESULTS: list | None = None


def iter_ckpt(df):
    """Unconditional ``localCheckpoint(eager=True)`` for each round of
    a ``fixpoint`` loop and for g1's edge list, which feeds its unrolled
    rank loop: the plan must be truncated even under ``DWOS_FULL_PLAN=1``
    — without truncation the final plan embeds every round's joins
    (~810 exchange nodes at convergence, VERDICT r4) and plan ANALYSIS
    itself OOMs. Unlike ``ckpt`` there is no env escape hatch; instead
    the pre-checkpoint frame is appended to ``PRECKPT_CAPTURE`` when a
    sweep installs one, so every truncated round-plan is still walked by
    the order checkers. Operators must use this wrapper (or ``ckpt``)
    rather than calling ``DataFrame.localCheckpoint`` directly —
    tests/test_plan_shapes.py::test_no_direct_local_checkpoint scans
    package source to enforce it, which is what makes "every LogicalRDD
    leaf is either a walked capture or a bounded createDataFrame
    literal" a theorem rather than a convention.

    Storage: default MEMORY_AND_DISK (NOT the ckpt helper's DISK_ONLY)
    — loop state is re-read every subsequent round, and the iterative
    relations are O(nodes)/O(edges) label frames, far below the
    executor storage region."""
    if PRECKPT_CAPTURE is not None:
        PRECKPT_CAPTURE.append(df)
    out = df.localCheckpoint(eager=True)
    if CKPT_RESULTS is not None:
        CKPT_RESULTS.append(out)
    return out


def fixpoint(init, step, metric, max_rounds):
    """Apply ``step`` from ``init`` until a round leaves the aggregate
    ``metric`` as it was (NULL equals NULL), or ``max_rounds`` times;
    return the last round. Each round, ``init`` too, goes through
    ``iter_ckpt`` with ``metric`` observed on it, so the eager
    checkpoint job computes the metric: no separate count job. The
    metric must only repeat once the frame stops changing, e.g. the
    row count of a frame that only grows or only shrinks."""

    def observed(df):
        obs = Observation()
        out = iter_ckpt(df.observe(obs, metric.alias("metric")))
        return out, obs.get["metric"]

    cur, last = observed(init)
    for _ in range(max_rounds):
        cur, now = observed(step(cur))
        if now == last:
            break
        last = now
    return cur


def spread(df):
    """Round-robin the frame across the session's default parallelism
    before HEAVY per-row map work (optimization r12).

    The fixture writes each table as ONE parquet row group, so a scan
    is a single task no matter the core count (a row group is the
    minimum split unit — ``maxPartitionBytes`` cannot divide it; the
    bench works around the same artifact by caching repartitioned
    inputs, bench.py docstring). An operator whose dominant cost is an
    expensive scan-side projection (shingle/MinHash/SimHash hashing,
    per-row DP, try_cast batteries) therefore runs single-threaded at
    sf0.1 unless it spreads the rows first; the exchange moves only
    the projected input columns (a few MB here) and buys cores× on
    the projection (measured: l4_trigram_novelty 12.0 → 1.3 s,
    l2_simhash_invariance 12.8 → 1.0 s).

    Scale: a real 100 TB layout is ~128 MB multi-row-group files that
    split (io.py docstring), where scans are already parallel and this
    exchange is a wash — callers use it ONLY under heavy per-row
    compute, where even at scale rebalancing before an expensive
    projection is the standard defense against input skew (guide
    §2.5 'input skew: one huge unsplittable file').
    Derived from defaultParallelism, not a constant, so the driver's
    low-core bench runs size it correctly."""
    sess = df.sparkSession
    return df.repartition(sess.sparkContext.defaultParallelism)
