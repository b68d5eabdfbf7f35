"""The reference's end-to-end dataflow, reproduced Spark-first.

Reference shape (SURVEY.md §3.2):
  keywords -> fetch(listing) -> explode(cards) -> fetch(detail)
    -> select(25 exprs) -> fetch(analysis) -> select(struct of maps)
    -> quality gate -> dual sinks

On fixtures the fetch stages are stand-ins (events rows play the raw
records); everything between them is the same operator sequence the
reference runs per job posting: field extraction (P1/P2), conditional
encode (P4), defaults (P6), nested struct assembly (P10), distribution
map (P8), quality gate (Q1), dual sinks (K1/K3).

The whole transform is a single narrow projection + one aggregation —
on a cluster the enrich stage is a mapInPandas fetch against the
source system and everything else stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.functions.cleaning import (
    encode_bool_cn,
)
from etl_dagster_service_crawler_spark.functions.compat import dsum, fround
from etl_dagster_service_crawler_spark.io.tables import load_table, scratch_dir


def crawl_shaped_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> reference-shaped enriched records.

    Maps each crawl-record transform to its fixture stand-in:
    P1 project, json 'detail page' extraction, P4 encode, P6 default,
    P10 struct assembly, Q1 quality flags.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    record = e.select(
        "event_id",
        "user_id",
        F.col("event_type").alias("category"),
        encode_bool_cn(F.col("event_type"), "purchase").alias("is_conversion"),
        F.coalesce(k, F.lit(-1)).alias("detail_k"),
        fround(F.col("value"), 2).alias("amount"),
        F.date_format("ts", "yyyy-MM-dd").alias("ingest_date"),
    )
    info = F.struct(
        F.col("category").alias("category"),
        F.col("detail_k").alias("detail_k"),
        F.col("amount").alias("amount"),
    )
    n_bad = (
        F.when(F.col("detail_k") < 0, 1).otherwise(0)
        + F.when(F.col("amount") <= 0, 1).otherwise(0)
    )
    return record.withColumn("info", info).withColumn("n_bad", n_bad)


def pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The queryable end of the pipeline: quality-gated records rolled
    into per-day per-category distributions (the 應徵分析 map shape,
    reference test.py:423-524), exploded to rows for the oracle."""
    rec = crawl_shaped_records(spark, sf_dir)
    gated = rec.where(F.col("n_bad") == 0)
    cnt = gated.groupBy("ingest_date", "category").agg(
        F.count("*").alias("cnt"), dsum(F.col("amount"), 2).alias("amount_sum")
    )
    w = Window.partitionBy("ingest_date")
    return cnt.select(
        "ingest_date",
        "category",
        "cnt",
        "amount_sum",
        fround(F.lit(100.0) * F.col("cnt") / F.sum("cnt").over(w), 2).alias("pct"),
    )


def crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference dataflow on the registered crawl source:
    S1 scan -> P7 url-key extraction -> P4 encode -> P6 default ->
    Q1 empty-field gate -> K1 main JSON sink + K3 side sink ->
    read-back -> per-(keyword, company) rollup.

    Everything between source and sink is codegen'd column expressions;
    the sinks are append-mode JSON dirs (crash-safe, no
    read-merge-rewrite — unlike reference save_to_json test.py:115-120)."""
    import shutil

    from etl_dagster_service_crawler_spark.functions.cleaning import extract_url_key
    from etl_dagster_service_crawler_spark.io.sinks import sink_json_append
    from etl_dagster_service_crawler_spark.sources.crawl_source import register

    register(spark)
    raw = spark.read.format("crawl").load()
    enriched = raw.select(
        "keyword",
        "job_id",
        F.coalesce("title", F.lit("")).alias("title"),
        encode_bool_cn(F.col("page"), 0).alias("is_first_page"),
        extract_url_key(F.col("company_url")).alias("company_key"),
        "company_url",
    )
    n_empty = sum(
        F.when(F.col(c) == "", 1).otherwise(0)
        for c in ("keyword", "title", "company_key")
    )
    gated = enriched.where(n_empty == 0)

    # K4/Q1: metrics ride the sink write (no extra pass); the write
    # below is an action, so the observation is live right after it
    from etl_dagster_service_crawler_spark.io.observability import observe_quality

    gated, obs = observe_quality(gated, ["keyword", "title", "company_key"])

    base = scratch_dir(sf_dir, "sinks", "crawl_e2e")
    shutil.rmtree(base, ignore_errors=True)
    sink_json_append(gated, f"{base}/records")
    import logging

    logging.getLogger("spark_graft.pipeline").info(
        "crawl_e2e quality: %s", obs.get
    )
    sink_json_append(gated.select("company_url").distinct(), f"{base}/com_url")

    back = spark.read.schema(gated.schema).json(f"{base}/records")
    return back.groupBy("keyword", "company_key").agg(
        F.count("*").alias("n_jobs"),
        F.sum(F.when(F.col("is_first_page") == "是", 1).otherwise(0)).alias(
            "n_first_page"
        ),
    )


CRAWL_E2E_SQL = """
WITH kw AS (
  SELECT * FROM (VALUES ('spark', 0), ('etl', 1), ('data', 2)) AS t(keyword, kidx)
), p AS (SELECT CAST(unnest(range(0, 3)) AS INT) AS page),
   s AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS slot),
   raw AS (
  SELECT keyword, page,
         CAST((kidx * 10000 + page * 100 + slot) % 37 AS VARCHAR) AS company_key
  FROM kw, p, s
)
SELECT keyword, company_key, count(*) AS n_jobs,
       CAST(sum(CASE WHEN page = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_page
FROM raw
GROUP BY keyword, company_key
"""


PIPELINE_SUMMARY_SQL = """
WITH rec AS (
  SELECT event_id,
         event_type AS category,
         coalesce(CAST(json_extract_string(props, '$.k') AS INT), -1) AS detail_k,
         floor((value) * 100.0 + 0.5) / 100.0 AS amount,
         strftime(ts, '%Y-%m-%d') AS ingest_date
  FROM events
), gated AS (
  SELECT * FROM rec
  WHERE (CASE WHEN detail_k < 0 THEN 1 ELSE 0 END
       + CASE WHEN amount <= 0 THEN 1 ELSE 0 END) = 0
), cnt AS (
  SELECT ingest_date, category, count(*) AS cnt,
         floor((CAST(sum(CAST(floor(amount * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 100.0 + 0.5) / 100.0 AS amount_sum
  FROM gated GROUP BY 1, 2
)
SELECT ingest_date, category, cnt, amount_sum,
       floor((100.0 * cnt / sum(cnt) OVER (PARTITION BY ingest_date)) * 100.0 + 0.5) / 100.0 AS pct
FROM cnt
"""

def pipeline_daily_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse-side composed flagship (corpus twin:
    pipeline_corpus_clean): quality-gated records rolled into the
    per-day per-category mart, each day's volume z-scored against the
    category's history, LANDED partitioned by ingest_date and read
    back. One fact aggregation exchange, one tiny per-category window,
    a calendar-bounded partitioned write — the daily-mart shape that
    runs incrementally at 100 TB (late days overwrite their own
    partition only). Exact BIGINT cents and integer sum/sumsq variance
    keep the read-back oracle-exact."""
    import shutil

    from pyspark.sql import Window

    rec = crawl_shaped_records(spark, sf_dir)
    gated = rec.where(F.col("n_bad") == 0)
    daily = gated.groupBy("ingest_date", "category").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("amount"), 2).alias("amount_sum"),
    )
    w = Window.partitionBy("category")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("cnt").over(w)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(w)
    mean = s1.cast("double") / n.cast("double")
    var = (n * s2 - s1 * s1).cast("double") / (n * (n - 1)).cast("double")
    z = (F.col("cnt").cast("double") - mean) / F.sqrt(var)
    mart = daily.select(
        "ingest_date",
        "category",
        "cnt",
        "amount_sum",
        (F.abs(z) > 2.0).alias("volume_anomaly"),
    )
    out = scratch_dir(sf_dir, "sinks", "daily_mart")
    shutil.rmtree(out, ignore_errors=True)
    mart.write.partitionBy("ingest_date").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "ingest_date", "category", "cnt", "amount_sum", "volume_anomaly"
    ).orderBy("ingest_date", "category")


PIPELINE_DAILY_MART_SQL = """
WITH rec AS (
  SELECT event_type AS category,
         coalesce(CAST(json_extract_string(props, '$.k') AS INT), -1) AS detail_k,
         floor((value) * 100.0 + 0.5) / 100.0 AS amount,
         strftime(ts, '%Y-%m-%d') AS ingest_date
  FROM events
), gated AS (
  SELECT * FROM rec
  WHERE (CASE WHEN detail_k < 0 THEN 1 ELSE 0 END
       + CASE WHEN amount <= 0 THEN 1 ELSE 0 END) = 0
), daily AS (
  SELECT ingest_date, category, count(*) AS cnt,
         floor((CAST(sum(CAST(floor(amount * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) * 100.0 + 0.5) / 100.0 AS amount_sum
  FROM gated GROUP BY 1, 2
), stats AS (
  SELECT ingest_date, category, cnt, amount_sum,
         count(*) OVER w AS n, sum(cnt) OVER w AS s1,
         sum(cnt * cnt) OVER w AS s2
  FROM daily WINDOW w AS (PARTITION BY category)
)
SELECT ingest_date, category, cnt, amount_sum,
       abs((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
           / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))) > 2.0
         AS volume_anomaly
FROM stats
ORDER BY ingest_date, category
"""

