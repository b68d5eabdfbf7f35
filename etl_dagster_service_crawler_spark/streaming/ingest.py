"""Streaming sources + the availableNow->memory harness.

The reference's scheduled incremental crawl (definitions.py:32-37 cron
*/2min + test.py:151-170 scroll loop) maps to a file-source stream:
each micro-batch is "one scheduled run", rate control via
maxFilesPerTrigger replaces time.sleep politeness (test.py:135,178),
and the empty micro-batch replaces the no-new-rows early exit
(test.py:562-565).

For tests/driver checks we run with trigger(availableNow=True) into a
memory sink and hand back the materialized table — a streaming query's
batch-equivalent result (same plan Catalyst would run in batch).

These harnesses, each ScheduledPipeline run and the foreachBatch
drains of the stream_* queries go through one start/wait/stop loop,
`run_stream`, which takes a run's batches, rows and error budget from
the query's own progress.
"""

from __future__ import annotations

import itertools
import logging
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.listener import StreamingQueryProgress

from etl_dagster_service_crawler_spark.io.tables import scratch_dir

log = logging.getLogger("spark_graft.streaming")

_memory_names = itertools.count()

def _events_raw_schema(ts_nanos: bool) -> T.StructType:
    # ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    # across fixture generations; a nanos file must be scanned as
    # epoch-nanos bigint (Spark has no nanos type), a micros file as NTZ.
    ts_type: T.DataType = T.LongType() if ts_nanos else T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_ts_is_nanos(sf_dir: str) -> bool:
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    return str(t) == "timestamp[ns]"


def _stream_dir(sf_dir: str, name: str) -> str:
    """Spark's file source requires a DIRECTORY; the fixture is a single
    read-only file. Stage a dir holding one symlink to it at
    `scratch_dir(sf_dir, "streams", name)`.

    lexists, not exists: exists() is False for a BROKEN symlink (e.g.
    the fixture dir was recreated), and os.symlink would then raise
    FileExistsError — a dangling link is unlinked and re-created."""
    d = scratch_dir(sf_dir, "streams", name)
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{name}.parquet"
    target = f"{sf_dir}/{name}.parquet"
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)
    if not os.path.lexists(link):
        os.symlink(target, link)
    return d


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events fixture."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_nanos = _events_ts_is_nanos(sf_dir)
    reader = spark.readStream.schema(_events_raw_schema(ts_nanos))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(_stream_dir(sf_dir, "events"))
    if ts_nanos:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # micros file: NTZ wall clock -> LTZ under the UTC session tz pinned
    # above (same instant) so windows/watermarks see one type either way.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the documents fixture — the continuous-
    ingest shape of a training corpus (each micro-batch = one crawl
    drop landing in the lake)."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(_stream_dir(sf_dir, "documents"))


# How often run_stream wakes to fold progress and check its stop
# conditions. A query that terminates wakes it at once, so this bounds
# only how late a budget trip, min_batches or the deadline is seen.
POLL_S = 0.1


@dataclass
class StreamRun:
    """One run of a streaming query, folded from the query's own
    progress: committed batches, input rows, the summed quality field
    of the observed metric, and whether that sum crossed the budget."""

    batches: int
    rows: int
    bad: int
    tripped: bool


def run_stream(
    stream_df: DataFrame,
    name: str,
    *,
    interval: str | None = None,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
    metric: str | None = None,
    field: str = "n_empty_fields",
    max_errors: int | None = None,
    min_batches: int = 1,
    timeout_s: float = 300,
) -> StreamRun:
    """Start the query `name`, wait for it, stop it, and return what it
    did.

    The sink is `foreach_batch` when given, else a memory table named
    `name`. `interval=None` drains with availableNow and raises
    TimeoutError if the drain is still running after `timeout_s`; an
    interval runs processingTime triggers until `min_batches` have
    committed or `timeout_s` passes. Either way the query is stopped
    once the observed metric `metric`'s `field`, summed over batches,
    reaches `max_errors` (the reference's give-up counter,
    test.py:129-144).

    Counts come from `StreamingQuery.recentProgress`, which each
    trigger records synchronously before the next starts, folded by
    batchId at every wake-up (it keeps the last
    spark.sql.streaming.numRecentProgressUpdates entries, 100 by
    default, far more than a POLL_S wake-up sees).

    `state_partitions` sizes the stateful operators' state-store count
    (= shuffle partitions, fixed at query start and immutable for the
    checkpoint's lifetime): every state store pays per-batch open/
    commit/snapshot overhead, so it should track the STATE volume (key
    count), not the batch shuffle default — a few thousand keys want a
    handful of partitions, a billion-key dedup wants thousands. The
    conf is restored after start; values are identical either way."""
    spark = stream_df.sparkSession
    ws = stream_df.writeStream
    if foreach_batch is not None:
        ws = ws.foreachBatch(foreach_batch)
    else:
        ws = ws.format("memory")
    writer = ws.queryName(name).outputMode(output_mode)
    writer = (
        writer.trigger(availableNow=True)
        if interval is None
        else writer.trigger(processingTime=interval)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    progress: dict[int, StreamingQueryProgress] = {}

    def bad_rows(p: StreamingQueryProgress) -> int:
        m = p.observedMetrics.get(metric)
        return (m[field] or 0) if m is not None else 0

    def fold() -> StreamRun:
        for p in q.recentProgress:
            if p.batchId not in progress:
                progress[p.batchId] = p
                log.info("stream %s batch %s: rows=%s bad=%s",
                         name, p.batchId, p.numInputRows, bad_rows(p))
        bad = sum(bad_rows(p) for p in progress.values())
        return StreamRun(
            batches=len(progress),
            rows=sum(p.numInputRows or 0 for p in progress.values()),
            bad=bad,
            tripped=max_errors is not None and bad >= max_errors,
        )

    deadline = time.monotonic() + timeout_s
    try:
        while True:
            # awaitTermination takes whole milliseconds, at least one
            wait = max(min(POLL_S, deadline - time.monotonic()), 0.001)
            finished = q.awaitTermination(wait)
            run = fold()
            if finished or run.tripped or time.monotonic() >= deadline:
                break
            if interval is not None and run.batches >= min_batches:
                break
    finally:
        stopped_here = q.isActive
        if stopped_here:
            q.stop()
    if stopped_here:
        # a batch that committed while the query was stopping
        run = fold()
    if run.tripped:
        log.error("stream %s: error budget exhausted (%s); stopped", name, run.bad)
    elif interval is None and not finished:
        raise TimeoutError(
            f"availableNow drain {name} still running after {timeout_s}s; "
            "the sink holds a partial result"
        )
    return run


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream into a memory sink (availableNow) and return the
    result as a batch DataFrame. Memory sink is for tests and oracle checks
    only — production sinks live in io/sinks.py (foreachBatch).
    `state_partitions`: see run_stream."""
    name = f"stream_out_{next(_memory_names)}"
    run_stream(
        stream_df,
        name,
        output_mode=output_mode,
        state_partitions=state_partitions,
        timeout_s=timeout_s,
    )
    return stream_df.sparkSession.table(name)


def run_processing_time(
    stream_df: DataFrame,
    interval: str = "2 minutes",
    min_batches: int = 2,
    output_mode: str = "append",
    timeout_s: int = 300,
) -> DataFrame:
    """Run a stream on a wall-clock ProcessingTime trigger — the
    production shape of the reference's */2min cron (definitions.py:35;
    tests pass a sub-second interval). Stops after min_batches have
    committed and returns the drained memory-sink result."""
    name = f"stream_out_{next(_memory_names)}"
    run_stream(
        stream_df,
        name,
        interval=interval,
        output_mode=output_mode,
        min_batches=min_batches,
        timeout_s=timeout_s,
    )
    return stream_df.sparkSession.table(name)
