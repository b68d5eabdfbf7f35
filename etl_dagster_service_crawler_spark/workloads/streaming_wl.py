"""Streaming operator surface (SURVEY.md §2.B stream_* rows).

Every entry actually RUNS a Structured Streaming query
(availableNow -> memory sink) and returns the drained result. Window
aggregations are oracle-checked via batch equivalence: a complete-mode
availableNow stream produces exactly the batch result, so plain SQL
over events is a valid oracle. Stateful ops (watermark dedup,
applyInPandasWithState budget) are rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.core import QuerySpec
from etl_dagster_service_crawler_spark.io.tables import scratch_dir
from etl_dagster_service_crawler_spark.streaming.ingest import (
    run_available_now,
    run_stream,
    stream_documents,
    stream_events,
)
from etl_dagster_service_crawler_spark.streaming.state import (
    dedup_within_watermark,
    error_budget_counter,
)
from etl_dagster_service_crawler_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    stream_stream_join,
    tumbling_counts,
    watermarked_tumbling,
)


def q_stream_ingest_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-scan -> filter -> project, drained append-mode. Row-level
    ops commute with streaming, so the batch oracle is exact."""
    s = stream_events(spark, sf_dir)
    out = s.where(F.col("value") > 100.0).select("event_id", "event_type", "value")
    return run_available_now(out, "append")


SQL_STREAM_PROJECT = """
SELECT event_id, event_type, value FROM events WHERE value > 100.0
"""


def q_stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stream_events(spark, sf_dir)
    # state keyspace is (hour-window x event_type) ~ a few thousand keys
    # -> 8 state stores, not the batch shuffle default (see
    # run_stream's state_partitions note)
    return run_available_now(tumbling_counts(s), "complete", state_partitions=8)


SQL_STREAM_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS cnt,
       floor((CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 100.0 + 0.5) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stream_events(spark, sf_dir)
    # hour-grain window keyspaces are small; see run_stream's
    # state_partitions note
    return run_available_now(sliding_counts(s), "complete", state_partitions=8)


# a 2h-wide/1h-slide window with start S contains ts iff
# S in {trunc(ts,'hour') - 1h, trunc(ts,'hour')}
SQL_STREAM_SLIDING = """
SELECT strftime(date_trunc('hour', ts) - to_hours(o.off), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS cnt
FROM events
CROSS JOIN (VALUES (0), (1)) AS o(off)
GROUP BY 1
"""


def q_stream_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = stream_events(spark, sf_dir)
    return run_available_now(session_counts(s), "complete", state_partitions=8)


# gaps-and-islands: a new session starts when the gap from the previous
# event of the same user exceeds 10 minutes
SQL_STREAM_SESSION = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_s
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS cnt
FROM numbered
GROUP BY user_id, sid
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (purchase -> error of the
    same user within 1h). A single availableNow batch sees all rows, so
    the emitted set equals the batch join — exact SQL oracle."""
    p = stream_events(spark, sf_dir).where(F.col("event_type") == "purchase")
    e = stream_events(spark, sf_dir).where(F.col("event_type") == "error")
    return run_available_now(stream_stream_join(p, e), "append")


SQL_STREAM_STREAM_JOIN = """
SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id AS p_user
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 1 HOUR
"""


def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling agg in APPEND mode: only windows the
    watermark has passed are emitted (finalized); the trailing windows
    stay in state. With one availableNow batch the final watermark is
    max(ts) - 30min, so the emitted set is exactly SQL-expressible."""
    s = stream_events(spark, sf_dir)
    return run_available_now(watermarked_tumbling(s), "append", state_partitions=8)


SQL_STREAM_WATERMARK_LATE = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, cnt
FROM (
  SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
)
WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM events)
"""


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate the stream (union with itself) then
    dropDuplicatesWithinWatermark — exactly-once record identity.

    Deterministic, so oracle-checked: every duplicate pair shares a
    timestamp and therefore sits inside the watermark horizon, so
    exactly one copy survives — the output IS the distinct
    (event_id, event_type) set of `events`."""
    a = stream_events(spark, sf_dir)
    b = stream_events(spark, sf_dir)
    doubled = a.unionByName(b)
    deduped = dedup_within_watermark(doubled, ["event_id"])
    out = deduped.select("event_id", "event_type")
    # state keyspace = one entry per event id within the horizon (1M at
    # sf0.1); 32 stores, not the plain-session default of 200 — a bare
    # driver session otherwise pays 200 store open/commit cycles per
    # batch for a keyspace that fits in a handful
    return run_available_now(out, "append", state_partitions=32).orderBy("event_id")


SQL_STREAM_DEDUP = "SELECT DISTINCT event_id, event_type FROM events"


def q_stream_stateful_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running error budget via applyInPandasWithState
    (reference max_errors=3 abort, test.py:129-144).

    Deterministic, so oracle-checked: the fixture is a single parquet
    file and stream_events sets no per-trigger cap, so availableNow
    drains it in ONE micro-batch — each user's whole history reaches
    the state update together, and the count emitted at the crossing is
    the user's TOTAL error count (SQL: HAVING count >= budget)."""
    s = stream_events(spark, sf_dir)
    out = error_budget_counter(s, max_errors=3)
    # state keyspace = one counter per user (hundreds) -> 8 stores
    return run_available_now(out, "append", state_partitions=8).orderBy("user_id")


SQL_STREAM_BUDGET = """
SELECT user_id, count(*) AS n_errors
FROM events
WHERE event_type = 'error'
GROUP BY user_id
HAVING count(*) >= 3
"""


def q_stream_dual_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+K3 in streaming: one foreachBatch writes the full records AND
    the side projection per micro-batch (reference test.py:577-580);
    the read-back of the main sink oracle-checks the whole path."""
    import shutil

    from etl_dagster_service_crawler_spark.io.sinks import dual_sink_foreach_batch

    base = scratch_dir(sf_dir, "streams", "dual_sink")
    shutil.rmtree(base, ignore_errors=True)
    main, side = f"{base}/main", f"{base}/side"
    s = stream_events(spark, sf_dir).select("event_id", "event_type")
    run_stream(
        s,
        "stream_dual_sink",
        foreach_batch=dual_sink_foreach_batch(main, side, ["event_type"]),
    )
    return spark.read.schema("event_id bigint, event_type string").json(main)


SQL_STREAM_DUAL_SINK = "SELECT event_id, event_type FROM events"


def q_stream_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate: the events fixture split into 4 files,
    streamed one file per micro-batch, each batch's partial aggregate
    merged additively into a persistent rollup (streaming/rollup.py).
    4 real merge cycles; the final rollup must equal the batch
    aggregate — the oracle is the same SQL as stream_window_tumbling.
    State lives in the rollup table (bounded by window keyspace), not
    the state store."""
    import shutil

    from etl_dagster_service_crawler_spark.functions.compat import fround
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.streaming.rollup import rollup_merge_batch

    base = scratch_dir(sf_dir, "streams", "rollup")
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.repartition(4, "event_id").write.parquet(f"{base}/in")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    rollup_dir = f"{base}/tbl"
    run_stream(
        stream,
        "stream_rollup_upsert",
        foreach_batch=rollup_merge_batch(rollup_dir),
        checkpoint_dir=f"{base}/ckpt",
        timeout_s=180,
    )
    back = spark.read.parquet(rollup_dir)
    return back.select(
        "window_start",
        "event_type",
        "cnt",
        fround(F.col("sum_units").cast("double") / 1e4, 2).alias("sum_value"),
    )


SQL_STREAM_ROLLUP = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS cnt,
       floor((CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 100.0 + 0.5) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


def corpus_clean_transform(s: DataFrame) -> DataFrame:
    """The corpus-clean TRANSFORM over a (streaming or batch) documents
    frame: three hygiene gates as narrow row-level ops (they commute
    with micro-batch slicing), then exact dedup as an aggregation
    min(doc_id)/count per md5(text) — deterministic regardless of how
    batches slice the input, so the batch oracle is exact. Shared by
    the driver query below and the ScheduledPipeline job registry
    (streaming/jobs.py)."""
    from etl_dagster_service_crawler_spark.functions.text import (
        lang_id,
        quality_score,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CLEAN_QUALITY_MIN,
        CLEAN_REP_MAX,
    )

    w = F.split(F.col("text"), " ")
    n = F.size(w)
    dup_frac = (n - F.size(F.array_distinct(w))).cast("double") / n.cast("double")
    survivors = s.where(
        (lang_id(F.col("text")) == F.col("lang"))
        & (quality_score(F.col("text"), F.col("n_chars")) >= CLEAN_QUALITY_MIN)
        & (dup_frac <= CLEAN_REP_MAX)
    )
    return survivors.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("int").alias("n_dups"),
    )


def q_stream_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch corpus-clean flagship (see
    corpus_clean_transform). State keyspace = distinct surviving
    texts; state_partitions tracks it (a billion-doc corpus wants
    thousands — see run_stream)."""
    cleaned = corpus_clean_transform(stream_documents(spark, sf_dir))
    return run_available_now(cleaned, "complete", state_partitions=8)


def _stream_corpus_clean_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CLEAN_QUALITY_MIN,
        CLEAN_REP_MAX,
        lang_guess_sql,
    )

    hit_cols, guess = lang_guess_sql("w")
    return f"""
WITH t AS (
  SELECT doc_id, text, lang, string_split(text, ' ') AS w FROM documents
), h AS (
  SELECT *, {hit_cols} FROM t
), f AS (
  SELECT doc_id, text FROM h
  WHERE ({guess}) = lang
    AND 0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
      + 0.5 * (CAST(h_en AS DOUBLE) / CAST(len(w) AS DOUBLE))
        >= {CLEAN_QUALITY_MIN}
    AND CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        <= {CLEAN_REP_MAX}
)
SELECT md5(text) AS text_hash,
       min(doc_id) AS doc_id,
       CAST(count(*) AS INT) AS n_dups
FROM f
GROUP BY md5(text)
"""


def q_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index MAINTENANCE: embeddings arrive as a stream
    (4 files, one per micro-batch) and each batch is assigned against
    the FROZEN centroids of the persisted IVF index, then appended to
    the bucketed assignment table (write_assignments — same layout as
    the batch build) — the continuous-ingest shape of a vector index at
    100 TB (train rarely, assign always; append-only partitions keep
    searches prunable while ingest runs).

    Returns per-cell vector counts of the streamed index (rows-only:
    centroids are k-means output, not SQL-expressible); the row-level
    equivalence streamed==batch-built is pinned by unit test
    (tests/test_streaming.py)."""
    import os
    import shutil

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.operators.similarity import (
        assign_cells,
        ivf_build,
        ivf_index_dir,
        ivf_index_n_dirs,
        write_assignments,
    )

    index_dir = ivf_index_dir(sf_dir, n_centroids=16)
    emb = load_table(spark, sf_dir, "embeddings")
    if not os.path.isdir(index_dir):
        ivf_build(emb, index_dir, n_centroids=16)
    centroids = spark.read.parquet(f"{index_dir}/centroids")

    base = scratch_dir(sf_dir, "streams", "ivf_ingest")
    shutil.rmtree(base, ignore_errors=True)
    emb.repartition(4, "vec_id").write.parquet(f"{base}/in")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    out_dir = f"{base}/assignments"

    # size pmod by the BUILT index's recorded bucket count, not
    # today's cap constant — streamed and batch-built layouts must
    # stay identical even across a cap resize (r13)
    nd = ivf_index_n_dirs(index_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        write_assignments(
            assign_cells(batch_df, centroids), out_dir, nd, mode="append"
        )

    run_stream(
        stream,
        "stream_ivf_ingest",
        foreach_batch=ingest,
        checkpoint_dir=f"{base}/ckpt",
    )
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("int").alias("n_vectors"))
        .orderBy("cid")
    )


def q_stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_anomaly_zscore: the daily (day, type)
    volume rollup is maintained BY THE STREAM (complete-mode streaming
    aggregation — the state keyspace is days x types, tiny forever),
    and the z-score alert pass runs over the drained rollup with the
    SAME shared transform as the batch query. This is the production
    monitoring split: cheap always-on streaming rollup, scoring on
    read. Oracle = the batch anomaly SQL, so streamed-rollup-then-
    score is hash-checked against scoring the batch table directly."""
    from etl_dagster_service_crawler_spark.workloads.relational import (
        anomaly_zscore_transform,
    )

    ev = stream_events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    rollup = run_available_now(daily, "complete", state_partitions=8)
    return anomaly_zscore_transform(rollup)


def _stream_anomaly_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.relational import (
        SQL_EVENTS_ANOMALY,
    )

    return SQL_EVENTS_ANOMALY


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the STATIC
    customer dimension (broadcast) per micro-batch — the canonical
    streaming-ETL enrich (a slowly-changing dim re-read each batch; no
    state, no watermark needed on the static side). Row-level joins
    against a static frame commute with streaming, so the batch oracle
    is exact. At 100 TB of stream the dim broadcast amortizes per
    batch and the stream side never shuffles."""
    from etl_dagster_service_crawler_spark.io.tables import load_table

    s = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    out = (
        s.join(F.broadcast(dim), s.user_id == dim.c_custkey)
        .where(F.col("value") > 150.0)
        .select("event_id", "user_id", "c_mktsegment", "c_nationkey")
    )
    return run_available_now(out, "append")


SQL_STREAM_STATIC_JOIN = """
SELECT event_id, user_id, c_mktsegment, c_nationkey
FROM events JOIN customer ON user_id = c_custkey
WHERE value > 150.0
"""


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC: the cdc_merge_changelog change log (derived from
    orders — upserts + every-13th deletes, sequenced by orderkey)
    split into 4 key-hashed files, streamed one file per micro-batch,
    each batch merged last-wins into a persistent key-state table with
    delete tombstones (streaming/cdc.py). Because batches are split by
    KEY HASH, change order across batches is arbitrary — the merge's
    argmax(seq) must make the final state independent of batch
    boundaries, and the oracle pins exactly that: the streamed state
    joined back to the customer snapshot must hash-equal the batch
    compaction (same SQL as cdc_merge_changelog).

    Scale: per-batch work is batch-sized + state-sized (key-spaced
    ceiling, never event-count); idempotent per epoch (at-least-once
    foreachBatch re-delivery is detected and skipped)."""
    import shutil

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.streaming.cdc import cdc_apply_batch

    base = scratch_dir(sf_dir, "streams", "cdc")
    shutil.rmtree(base, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(1e2) + F.lit(0.5)).cast("bigint")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 13 == 0, "D").otherwise("U").alias("op"),
        cents.alias("new_bal_c"),
    )
    log.repartition(4, "key").write.parquet(f"{base}/in")

    stream = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    state_dir = f"{base}/state"
    run_stream(
        stream,
        "stream_cdc_apply",
        foreach_batch=cdc_apply_batch(state_dir),
        checkpoint_dir=f"{base}/ckpt",
        timeout_s=180,
    )
    last = spark.read.parquet(state_dir).select("key", "op", "new_bal_c")
    snap = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.floor(F.col("c_acctbal") * F.lit(1e2) + F.lit(0.5))
        .cast("bigint")
        .alias("bal_c"),
    )
    merged = snap.join(last, "key", "full_outer")
    return merged.where((F.col("op").isNull()) | (F.col("op") == "U")).select(
        "key",
        F.coalesce(F.col("new_bal_c"), F.col("bal_c")).alias("bal_c"),
        F.when(F.col("op").isNull(), "unchanged").otherwise("updated").alias("state"),
    )


def _stream_cdc_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.relational import SQL_CDC_MERGE

    return SQL_CDC_MERGE


def q_stream_quarantine_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corrupt-record routing: the quarantine pattern
    (scan_json_quarantine) as a continuous ingest — the NDJSON landing
    zone (every 37th doc truncated mid-record) is streamed file-by-
    file; each micro-batch routes parseable rows to the good sink and
    corrupt raw lines to the quarantine sink, so a poison line can
    never stall ingestion. foreachBatch is at-least-once, so each epoch
    writes its OWN subdirectory with mode=overwrite: a re-delivered
    epoch (or a crash between the two sink writes) overwrites its own
    output instead of appending a duplicate — the epoch-idempotence
    twin of streaming/rollup.py's marker discipline, in sink-partition
    form. The final summary over BOTH sinks must hash-equal the batch
    quarantine oracle — proving no row is lost or double-routed across
    batch boundaries."""
    import shutil

    from etl_dagster_service_crawler_spark.io.tables import load_table

    base = scratch_dir(sf_dir, "streams", "quarantine")
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    j = F.to_json(F.struct("doc_id", "source", "n_chars"))
    line = F.when(
        F.col("doc_id") % 37 == 0, F.substring(j, 1, F.length(j) - 5)
    ).otherwise(j)
    docs.select(line.alias("value")).repartition(4).write.mode("overwrite").text(
        f"{base}/in"
    )
    schema = "doc_id BIGINT, source STRING, n_chars BIGINT, _corrupt_record STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 1)
        .json(f"{base}/in")
    )
    good_dir, bad_dir = f"{base}/good", f"{base}/bad"

    def route(batch_df, epoch_id):
        batch_df.persist()
        bad = F.col("_corrupt_record").isNotNull()
        # per-epoch overwrite = idempotent under epoch re-delivery
        batch_df.where(~bad).select("doc_id", "source", "n_chars").write.mode(
            "overwrite"
        ).parquet(f"{good_dir}/epoch={int(epoch_id)}")
        batch_df.where(bad).select(
            F.col("_corrupt_record").alias("raw_line")
        ).write.mode("overwrite").parquet(f"{bad_dir}/epoch={int(epoch_id)}")
        batch_df.unpersist()

    run_stream(
        stream,
        "stream_quarantine_router",
        foreach_batch=route,
        checkpoint_dir=f"{base}/ckpt",
    )
    # recursiveFileLookup: read the per-epoch subdirs as plain files
    # (epoch= is an idempotence namespace, not a partition column)
    good = (
        spark.read.schema("doc_id bigint, source string, n_chars bigint")
        .option("recursiveFileLookup", "true")
        .parquet(good_dir)
    )
    bad_rows = (
        spark.read.schema("raw_line string")
        .option("recursiveFileLookup", "true")
        .parquet(bad_dir)
    )
    return good.agg(
        F.count(F.lit(1)).cast("bigint").alias("good_rows"),
        F.lit(bad_rows.count()).cast("bigint").alias("bad_rows"),
        F.count_distinct("source").cast("bigint").alias("n_sources_good"),
        F.sum("n_chars").cast("bigint").alias("sum_chars_good"),
    )


def _stream_quarantine_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.io_wl import (
        SQL_SCAN_JSON_QUARANTINE,
    )

    return SQL_SCAN_JSON_QUARANTINE


def q_stream_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Gopher rule battery
    (llm.gopher_rules_transform): curation filtering applied AT INGEST,
    so rejected documents never land in the lake. Row-level projection
    commutes with streaming — append-mode drain equals the batch
    result, sharing the batch oracle verbatim."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        gopher_rules_transform,
    )

    flags = gopher_rules_transform(stream_documents(spark, sf_dir))
    return run_available_now(flags, "append")


def _stream_gopher_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.llm import (
        SQL_GOPHER_RULES,
    )

    return SQL_GOPHER_RULES


def q_stream_interval_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of join_interval_overlap: exposure attribution AT
    INGEST — each arriving click is attributed against the static
    view-interval index through the same bounded bucket decomposition
    (the static side pre-exploded to time buckets once, the stream side
    bucketed in projection, equi-join on (user, bucket) + exact
    integer-micros containment). A stateless stream-static equi join
    commutes with streaming, so the append-mode drain equals the batch
    result and shares the batch oracle verbatim. At 100 TB of stream
    the interval index is the slowly-changing side (re-read per
    micro-batch, broadcastable when recent); the click stream itself
    never shuffles."""
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.joins_wl import (
        attribute_clicks,
        bucket_clicks,
        interval_buckets_views,
    )

    vb = interval_buckets_views(load_table(spark, sf_dir, "events"))
    clicks = bucket_clicks(stream_events(spark, sf_dir))
    return run_available_now(attribute_clicks(vb, clicks), "append")


def _stream_interval_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.joins_wl import (
        SQL_INTERVAL_OVERLAP,
    )

    return SQL_INTERVAL_OVERLAP


def q_stream_crawl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of html_extract_fields (r11): the crawl
    pipeline's markup parse stage applied AT INGEST — each arriving
    page is rendered (the fixture's PAGE_SQL stands in for the fetched
    payload) and its ~25 fields extracted with the SAME dialect-neutral
    expression chains as the batch entry. Row-level projection commutes
    with streaming, so the append-mode drain equals the batch result
    and the entry shares the batch oracle verbatim. At 100 TB this is
    the shape a crawl lake wants: parse in the ingest stage (codegen
    regex, no Python), so raw markup never needs a second full scan."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.functions.html import (
        EXTRACT_SQL,
        PAGE_SQL,
    )

    s = stream_documents(spark, sf_dir)
    pages = s.select("doc_id", F.expr(PAGE_SQL).alias("html"))
    cols = [F.col("doc_id")] + [
        F.expr(e.format(h="html")).alias(f) for f, e in EXTRACT_SQL.items()
    ]
    return run_available_now(pages.select(*cols), "append")


def _stream_crawl_extract_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.sources_wl import (
        _sql_html_extract,
    )

    return _sql_html_extract()


def crawl_record_ingest(out_dir: str):
    """foreachBatch body for the terminal record at ingest: run the
    SHARED crawl_record_frame transform over the micro-batch and land
    the reference's DUAL SINKS (test.py:577-580 — the nested-record
    JSON plus the com_url side projection) under the epoch's OWN
    subdirectories with mode=overwrite, the streaming/minhash.py
    epoch-idempotence discipline: foreachBatch is at-least-once, and a
    re-delivered epoch rewrites identical bytes (the transform is
    deterministic row-level work) instead of appending duplicates.
    The batch is persisted across the two sinks so the side projection
    never re-runs the fetch lineage (each page fetches ONCE per
    delivery — the r12 review finding, applied at ingest)."""
    from etl_dagster_service_crawler_spark.streaming.epoch_state import (
        require_local,
    )
    from etl_dagster_service_crawler_spark.workloads.sources_wl import (
        crawl_record_frame,
    )

    require_local(out_dir)

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        ep = int(epoch_id)
        rec = crawl_record_frame(
            batch_df.select("doc_id", "source", "lang")
        ).persist()
        try:
            rec.select("doc_id", "record").write.mode("overwrite").json(
                f"{out_dir}/job_list/epoch={ep}"
            )
            rec.select(F.col("job_url").alias("company_url")).write.mode(
                "overwrite"
            ).json(f"{out_dir}/com_url/epoch={ep}")
        finally:
            rec.unpersist()

    return apply


def q_stream_crawl_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL RUNTIME SHAPE end-to-end (r12 verdict
    item 1): a scheduled ingest tick (definitions.py:32-37 — the
    2-minute cron) whose micro-batches run the full terminal-record
    pipeline — fetch detail page, fetch analysis page, parse both,
    assemble the 25-field + job_info nested record, to_json — and land
    the DUAL JSON SINKS per epoch (test.py:577-580). crawl_record_frame
    produces a slice-independent row SET (the frontier window inside
    its fetch stage only re-places/orders rows), so it commutes with
    micro-batch slicing: the drained job_list read-back equals the
    batch entry row-for-row and THIS ENTRY SHARES THE RECORD ORACLE
    (the byte-identical concat-built JSON) — batch/stream symmetry for
    the engine's flagship artifact.

    Scale: per-tick cost is |new pages| × (2 fetches + codegen parse)
    plus one tiny host-window exchange of the batch's pre-fetch keys —
    POLITENESS IS EXECUTED AT INGEST (r13: each epoch's fetches run
    per-host, slot-ordered, >= FRONTIER_HOST_DELAY apart — see
    _record_fetch_stage); no other state beyond the epoch dirs, no
    rescans of landed records; exactly the hourly-crawl-drop profile.
    Retry lives in the http_enrich transport contract, same as
    batch."""
    import shutil

    base = scratch_dir(sf_dir, "streams", "crawl_record")
    shutil.rmtree(base, ignore_errors=True)
    s = stream_documents(spark, sf_dir)
    run_stream(
        s.select("doc_id", "source", "lang"),
        "stream_crawl_record",
        foreach_batch=crawl_record_ingest(f"{base}/out"),
        checkpoint_dir=f"{base}/ckpt",
    )
    return spark.read.schema("doc_id bigint, record string").json(
        f"{base}/out/job_list"
    ).select("doc_id", "record")


def _stream_crawl_record_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.sources_wl import (
        _sql_pipeline_crawl_record,
    )

    return _sql_pipeline_crawl_record()


def q_stream_minhash_dedup(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Streaming NEAR-DUP dedup at ingest (r10 verdict item 3):
    documents land 4 key-hashed files -> one micro-batch each; every
    batch is shingled/signed/banded with the batch pipeline's frame
    transforms, probed against the accumulated band index for
    candidates (new-vs-seen and new-vs-new), exact-Jaccard verified,
    and the verified pairs accumulate (streaming/minhash.py — see its
    docstring for the batch-boundary-invariance argument). After the
    drain, connected components over the accumulated pairs label every
    document exactly like the batch query, so THIS STREAMING ENTRY
    SHARES SQL_PIPELINE_MINHASH_DEDUP AS ITS ORACLE: the value hash
    pins streamed == batch, not just row counts.

    Keeper semantics match the batch pipeline (cluster representative
    = smallest doc_id — the first-ever-seen in arrival == id order,
    the corpus_clean_incremental first-wins discipline applied to
    near-dup clusters).

    Scale: per-batch cost is |batch| x band probes + candidate hv
    joins; state is append-only per epoch (no corpus-sized rewrite);
    the final CC runs over the near-dup-pair table, not the corpus."""
    import shutil

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.streaming.minhash import (
        minhash_dedup_ingest,
        read_verified_pairs,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        MINHASH_VERIFY_JACCARD_BP,
        minhash_label_members,
    )

    base = scratch_dir(sf_dir, "streams", "minhash_dedup")
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    # n_files controls the micro-batch slicing; the result is
    # batch-boundary invariant by construction (tested at 1 and 8 too)
    docs.repartition(n_files, "doc_id").write.parquet(f"{base}/in")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    state_dir = f"{base}/state"
    run_stream(
        stream,
        "stream_minhash_dedup",
        foreach_batch=minhash_dedup_ingest(state_dir, MINHASH_VERIFY_JACCARD_BP),
        checkpoint_dir=f"{base}/ckpt",
    )
    # the SHARED labeling tail (minhash_label_members): members
    # construction, edge sizing, and label selection live in one place
    # so batch and stream cannot drift apart semantically
    return minhash_label_members(
        read_verified_pairs(spark, state_dir), docs.select("doc_id")
    )


def _stream_minhash_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.llm import (
        SQL_PIPELINE_MINHASH_DEDUP,
    )

    return SQL_PIPELINE_MINHASH_DEDUP


def q_stream_pack_sequences(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Streaming sequence PACKING at ingest (r11 verdict item 7): the
    batch pack_sequences run continuously — documents land as ordered
    doc_id-range slices (the training-manifest shape: ascending names
    AND modification times, so the file source drains them in id
    order), each micro-batch computes its offsets with the SAME
    two-level prefix sum as the batch query, and the running token
    offset carries across micro-batches as per-epoch token-total facts
    (streaming/packing.py — idempotent under at-least-once
    re-delivery, chaos-tested across a mid-drain stop/resume). The
    drained union equals the batch mapping row-for-row, so THIS ENTRY
    SHARES SQL_PACK_SEQUENCES AS ITS ORACLE.

    Scale: per-drop cost is |drop| + |epoch facts| (one row each) —
    a continuous trainer-feed never rescans packed history; the
    token-conservation and boundary semantics are the batch entry's,
    pinned by the shared value hash."""
    import os
    import shutil

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.streaming.packing import (
        pack_ingest,
        read_packed,
    )

    base = scratch_dir(sf_dir, "streams", "pack_seq")
    shutil.rmtree(base, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_ordered_slices(docs, f"{base}/in", n_files)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in")
    )
    state_dir = f"{base}/state"
    run_stream(
        stream,
        "stream_pack_sequences",
        foreach_batch=pack_ingest(state_dir),
        checkpoint_dir=f"{base}/ckpt",
    )
    return read_packed(spark, state_dir)


def write_ordered_slices(
    docs: DataFrame, in_dir: str, n_files: int, first_index: int = 0
) -> None:
    """Land a (doc_id, text) frame as n_files contiguous doc_id-range
    parquet slices whose NAMES and MTIMES both ascend with the range —
    the ordered manifest the packing stream's contract requires
    (Spark's file source processes oldest-first). `first_index`
    continues the manifest numbering for a LATER tranche landing into
    the same directory (its doc_ids must exceed every earlier
    tranche's — pack_ingest enforces this)."""
    import glob
    import os
    import shutil
    import time

    bounds = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mn, mx = bounds[0] or 0, bounds[1] or 0
    width = (mx - mn + n_files) // n_files + 1
    os.makedirs(in_dir, exist_ok=True)
    now = time.time()
    for i in range(n_files):
        tmp = f"{in_dir}__slice{first_index + i}"
        docs.where(
            (F.col("doc_id") >= mn + i * width)
            & (F.col("doc_id") < mn + (i + 1) * width)
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{in_dir}/{first_index + i:04d}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (now + i, now + i))


def _stream_pack_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        SQL_PACK_SEQUENCES,
    )

    return SQL_PACK_SEQUENCES


SPECS = [
    # r13: the terminal record at ingest — the reference's scheduled
    # runtime shape; shares the batch record oracle verbatim
    QuerySpec(
        "stream_crawl_record", q_stream_crawl_record, _stream_crawl_record_sql()
    ),
    # r11: near-dup dedup at ingest — shares the batch minhash
    # pipeline's oracle (CC over verified pairs, recursive CTE)
    QuerySpec("stream_minhash_dedup", q_stream_minhash_dedup, _stream_minhash_sql()),
    # r12: continuous sequence packing — shares the batch pack oracle
    QuerySpec(
        "stream_pack_sequences", q_stream_pack_sequences, _stream_pack_sql()
    ),
    # r11: markup parse at ingest — shares the batch extract oracle
    QuerySpec(
        "stream_crawl_extract", q_stream_crawl_extract, _stream_crawl_extract_sql()
    ),
    QuerySpec("stream_cdc_apply", q_stream_cdc_apply, _stream_cdc_sql()),
    # r9: exposure attribution at ingest — shares the batch interval
    # oracle verbatim (stateless stream-static equi join)
    QuerySpec(
        "stream_interval_attrib", q_stream_interval_attrib, _stream_interval_sql()
    ),
    QuerySpec(
        "stream_quarantine_router", q_stream_quarantine_router, _stream_quarantine_sql()
    ),
    QuerySpec("stream_ivf_ingest", q_stream_ivf_ingest, None),
    QuerySpec(
        "stream_static_join", q_stream_static_join, SQL_STREAM_STATIC_JOIN
    ),
    QuerySpec(
        "stream_anomaly_alerts", q_stream_anomaly_alerts, _stream_anomaly_sql()
    ),
    QuerySpec("stream_rollup_upsert", q_stream_rollup_upsert, SQL_STREAM_ROLLUP),
    QuerySpec("stream_corpus_clean", q_stream_corpus_clean, _stream_corpus_clean_sql()),
    # r8: curation filtering at ingest — shares the batch rule oracle
    QuerySpec("stream_gopher_filter", q_stream_gopher_filter, _stream_gopher_sql()),
    QuerySpec("stream_ingest_project", q_stream_ingest_project, SQL_STREAM_PROJECT),
    QuerySpec("stream_dual_sink", q_stream_dual_sink, SQL_STREAM_DUAL_SINK),
    QuerySpec("stream_window_tumbling", q_stream_window_tumbling, SQL_STREAM_TUMBLING, bench=True),
    QuerySpec("stream_window_sliding", q_stream_window_sliding, SQL_STREAM_SLIDING),
    QuerySpec("stream_window_session", q_stream_window_session, SQL_STREAM_SESSION),
    QuerySpec("stream_stream_join", q_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    QuerySpec("stream_watermark_late", q_stream_watermark_late, SQL_STREAM_WATERMARK_LATE),
    QuerySpec("stream_dedup_watermark", q_stream_dedup_watermark, SQL_STREAM_DEDUP),
    QuerySpec(
        "stream_stateful_error_budget", q_stream_stateful_error_budget, SQL_STREAM_BUDGET
    ),
]
