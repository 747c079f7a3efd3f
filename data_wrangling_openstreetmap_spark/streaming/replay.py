"""Structured Streaming replay harness: re-run any transform from
transforms.py over the events table as a file-source stream.

Replay shape: the static events table is rewritten (time-ordered) into
N parquet chunk files in a scratch dir; `readStream` consumes them
`maxFilesPerTrigger=1`, so the query runs N micro-batches — enough to
exercise incremental state, watermark advancement, and late-data
eviction without any external system. At 100 TB the file source is
swapped for Kafka; every transform and watermark below is unchanged
(both are just `readStream` sources).

ST4 (watermark policy) lives here: `with_watermark` bounds state for
append-mode aggregations; `SENTINEL_USER` events flush final windows in
tests (a watermark only advances when new data arrives, so a replayed
finite stream needs a late sentinel to close its last windows). The
sentinel chunk is projected from the events aggregate in the JVM — no
driver round trip and no Python-RDD write task.

State partitions are sized when a stream starts: streams get no AQE
coalescing, so every stateful operator splits its state into exactly
``spark.sql.shuffle.partitions`` pieces for the life of the query, and
each piece costs a state-store open and commit per micro-batch whether
or not it holds data. ``run_to_memory`` starts its query with
``min(shuffle.partitions, defaultParallelism)`` state partitions and
restores the session conf right after ``start()``; the query's cloned
session keeps the smaller value.

Checkpoints are written through Hadoop's ``FileSystem`` API. Spark's
default checkpoint manager uses ``FileContext``, and without the native
libhadoop, Hadoop's local filesystem answers each ``FileContext``
file-status lookup by forking a ``readlink`` process: 280 of the 362
processes a perfbench ``wrangle_ingest`` drain forked.
``run_to_memory`` starts its query with
``FileSystemBasedCheckpointFileManager``, scoped like the
state-partition conf, which leaves only the 82 ``chmod`` forks. The
memory sink checkpoints into a fresh per-query local temp dir, where
``FileSystem.rename`` is an atomic POSIX ``rename(2)`` and no second
writer exists, so the manager's exists-then-rename is safe there.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..io import load_table

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)
SENTINEL_USER = -1
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CHECKPOINT_LOCATION = "spark.sql.streaming.checkpointLocation"
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def write_ordered_chunks(dfs, out_dir: str) -> None:
    """Write each DataFrame as one parquet chunk into `out_dir`, with
    STRICTLY INCREASING file mtimes. The file source orders discovered
    files by modification time, and sequential writes can land in the
    same mtime tick — which silently shuffles replay order (observed:
    a 'late' chunk processed before the batch that advances the
    watermark). Explicit utime stamps make replay order deterministic.
    """
    import time

    os.makedirs(out_dir, exist_ok=True)
    seen: set[str] = set()
    base = time.time()
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(out_dir)
        current = {e.name for e in os.scandir(out_dir)}
        for name in current - seen:
            t = base + i * 10
            os.utime(os.path.join(out_dir, name), (t, t))
        seen = current


def stage_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 4,
    sentinel_hours: int | None = None,
) -> str:
    """Rewrite events as `n_chunks` time-ordered parquet files under
    `out_dir` (plus, optionally, one final sentinel chunk placed
    `sentinel_hours` after the max event time — it advances the
    watermark past every real window so append-mode sinks flush).

    Files are written one at a time in time order: the file source
    picks them up in discovery order, so replay preserves event-time
    order across micro-batches. Within a chunk, rows keep the
    `(ts, event_id)` order of the window that numbers them; no separate
    sort runs.
    """
    return _stage_chunks(spark, sf_dir, out_dir, n_chunks, sentinel_hours)


def _stage_chunks(spark, sf_dir, out_dir, n_chunks, sentinel_hours, jitter_secs=None):
    """Both stagers: number the events by ``(key, event_id)``, where
    ``key`` is ``ts`` or, given ``jitter_secs``, the arrival time, write
    the ``n_chunks`` runs of that order and the optional sentinel."""
    events = load_table(spark, sf_dir, "events")
    staged, key = events, "ts"
    if jitter_secs is not None:
        jitter = (F.col("event_id") * F.lit(2654435761)) % int(jitter_secs)
        key = "_arrival"
        staged = events.withColumn(
            key, F.col("ts") + F.make_dt_interval(secs=jitter.cast("double"))
        )
    rows = staged.count()
    per = (rows + n_chunks - 1) // n_chunks
    number = F.row_number().over(Window.orderBy(key, "event_id"))
    ranked = staged.withColumn("chunk", ((number - 1) / per).cast("int"))
    chunks = [
        ranked.filter(F.col("chunk") == c).select(*events.columns)
        for c in range(n_chunks)
    ]
    if sentinel_hours is not None:
        chunks.append(_sentinel_chunk(staged, key, sentinel_hours))
    write_ordered_chunks(chunks, out_dir)
    return out_dir


def _sentinel_chunk(frame: DataFrame, ts_col: str, hours: int) -> DataFrame:
    """The one-row sentinel chunk: an event ``hours`` after
    ``max(ts_col)`` of ``frame``, projected to ``EVENTS_SCHEMA`` from
    the aggregate itself, so the write is one JVM job."""
    return frame.agg(F.max(ts_col).alias("ts")).select(
        F.lit(-(10**9)).cast("bigint").alias("event_id"),
        (F.col("ts") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
        F.lit(SENTINEL_USER).cast("bigint").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def read_event_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


def run_to_memory(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink_name: str,
    output_mode: str,
    watermark: str | None = None,
) -> StreamingQuery:
    """Apply a shared transform to the stream, drain it into an
    in-memory sink table, and block until every staged file is
    processed. Returns the terminated query; read results from
    ``spark.table(sink_name)``.

    The query starts with ``min(spark.sql.shuffle.partitions,
    defaultParallelism)`` state partitions. Streams get no AQE
    coalescing, so a static conf sized for batch (32 here) would
    become 32 state-store tasks per stateful operator per micro-batch
    however little data they hold.

    The checkpoint is written through ``FileSystemBasedCheckpointFileManager``
    instead of Spark's default ``FileContext`` manager: without libhadoop,
    Hadoop's local filesystem forks a ``readlink`` process for every
    ``FileContext`` file-status lookup (and a ``chmod`` for every file or
    directory either manager creates). The FileSystem manager's
    non-overwriting write checks that the target does not exist and then
    renames onto it; only a second writer of the same checkpoint could
    race that, and there is none: the memory sink checkpoints into a
    fresh per-query temp dir on the local filesystem, where
    ``FileSystem.rename`` is POSIX ``rename(2)``, which is atomic.
    Spark's checkpoint checksums wrap either manager and stay on. When
    the session sets ``spark.sql.streaming.checkpointLocation`` (which
    may point at HDFS or S3), the query keeps Spark's default manager.

    Both confs are set on the stream's session only around ``start()``,
    which clones the session: the running query keeps them (the state
    stores on the executors read the manager from the query's Hadoop
    conf) and the caller's conf reads the same afterwards, also when
    ``start()`` raises; an unset conf stays unset. Changing the same
    session's conf from another thread meanwhile is unsupported.
    """
    src = stream_df
    if watermark is not None:
        # EventTimeWatermark requires TIMESTAMP (not NTZ). Session TZ is
        # pinned to UTC, so the cast preserves wall-clock values and the
        # results stay comparable with the ntz batch forms.
        src = src.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    writer = (
        transform(src)
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    spark = stream_df.sparkSession
    state = min(
        int(spark.conf.get(_SHUFFLE_PARTITIONS)), spark.sparkContext.defaultParallelism
    )
    scoped = {_SHUFFLE_PARTITIONS: str(state)}
    if spark.conf.get(_CHECKPOINT_LOCATION, None) is None:
        scoped[_CHECKPOINT_MANAGER] = _FS_CHECKPOINT_MANAGER
    caller = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        q = writer.start()
    finally:
        for k, v in caller.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    q.awaitTermination()
    return q


def stage_jittered_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 6,
    jitter_secs: int = 900,
    sentinel_hours: int | None = None,
) -> str:
    """Like ``stage_replay_dir`` but chunked by ARRIVAL order: event
    time plus a deterministic 0–jitter_secs transit delay (the same
    Knuth multiplicative hash st4's late-data policy audits), so each
    micro-batch carries event-time disorder bounded by ``jitter_secs``
    — the out-of-order ingestion a watermark must absorb. Convergence
    tests replay through this to prove a streaming operator's result
    is arrival-order independent as long as the watermark horizon
    exceeds the disorder bound.
    """
    return _stage_chunks(spark, sf_dir, out_dir, n_chunks, sentinel_hours, jitter_secs)
