"""Source/sink operator surface (SURVEY.md §2.B rows scan_parquet,
scan_json, sink_json_append, sink_table, sink_partitioned; reference
S1/K1-K3).

Sinks are verified round-trip: write with the engine's sink, read back,
and oracle-check the read-back against the original parquet — a
stronger guarantee than rows-only. Sink paths live under
`scratch_dir(sf_dir, "sinks", ...)` so runs are deterministic and the
read-only fixtures are never touched.

At 100 TB: every sink here is an append of NEW files under a commit
protocol (no read-merge-rewrite like the reference's save_to_json,
test.py:115-120, which is O(total) per append and not crash-safe).
Partitioned sinks use a low-cardinality date-derived key so readers get
partition pruning; writers avoid the many-small-files problem because
the partition count is bounded by the calendar, not by the data.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.core import QuerySpec
from etl_dagster_service_crawler_spark.functions.compat import dsum, fround, sql_fround
from etl_dagster_service_crawler_spark.io.sinks import (
    derby_url,
    read_jdbc,
    read_versioned,
    sink_compacted_parquet,
    sink_jdbc,
    sink_json_append,
    sink_partitioned_parquet,
    sink_versioned,
)
from etl_dagster_service_crawler_spark.io.tables import TABLES, load_table, scratch_dir


def _scratch(sf_dir: str, leaf: str) -> str:
    return scratch_dir(sf_dir, "sinks", leaf)


# --- scans -------------------------------------------------------------------

def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: batch scan of every fixture table with pinned schema; one
    (table, row-count) row each. Exercises load_table's schema gate."""
    counts = [
        load_table(spark, sf_dir, name).groupBy(F.lit(name).alias("table_name")).count()
        for name in TABLES
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.withColumnRenamed("count", "cnt")


SQL_SCAN_PARQUET = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, count(*) AS cnt FROM {t}" for t in TABLES
)


def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan over JSON files with an explicit schema (SURVEY §1.2: inferred
    schema only at the raw edge, pinned immediately). The fixture set has
    no JSON files, so stage them once via the engine's own JSON writer —
    the query then proves a lossless JSON round-trip of unicode text."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch(sf_dir, "scan_json/documents")
    shutil.rmtree(path, ignore_errors=True)
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    return back.select("doc_id", "text", "lang", "n_chars")


SQL_SCAN_JSON = "SELECT doc_id, text, lang, n_chars FROM documents"


# --- sinks (round-trip verified) ----------------------------------------------

def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with explicit schema + header, staged via the engine's
    own CSV writer (fixtures are parquet-only) — covers the third
    batch format alongside parquet and JSON."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "scan_csv/orders")
    shutil.rmtree(path, ignore_errors=True)
    orders.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(orders.schema).option("header", True).csv(path)


SQL_SCAN_CSV = "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"


def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (fourth batch format: parquet, JSON, CSV, ORC), staged
    via the engine's own ORC writer. ORC carries the same columnar
    pushdown/pruning machinery as parquet in Spark — the read-back
    projects a subset so column pruning is exercised, and the oracle
    reads the parquet original (byte-identical values round-trip)."""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    path = _scratch(sf_dir, "scan_orc/lineitem")
    shutil.rmtree(path, ignore_errors=True)
    lineitem.write.mode("overwrite").orc(path)
    back = spark.read.schema(lineitem.schema).orc(path)
    return back.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


SQL_SCAN_ORC = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_returnflag = 'R'
"""


def q_scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source (fifth batch format): documents staged as
    newline-delimited text, read back with spark.read.text — the
    format web-scale raw crawls actually arrive in before any schema
    exists. Line order across files/partitions is not meaningful, so
    the result is the line MULTISET (the driver hash is order-
    insensitive); per-line length re-derives downstream structure.

    Contract: one document == one line, so the round-trip only equals
    `SELECT text FROM documents` when text contains no '\\n' (true of
    the fixtures; a real crawl uses JSONL/parquet, not raw text, for
    exactly this reason). Defensively enforced below so a future
    fixture with embedded newlines fails loudly here instead of as a
    confusing downstream hash mismatch."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.when(
            F.col("text").contains("\n"),
            F.raise_error(
                F.lit("scan_text_lines requires newline-free document text")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    path = _scratch(sf_dir, "scan_text/documents")
    shutil.rmtree(path, ignore_errors=True)
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.select(
        F.col("value").alias("line"),
        F.length("value").cast("int").alias("n_chars"),
    )


SQL_SCAN_TEXT = """
SELECT text AS line, CAST(length(text) AS INT) AS n_chars
FROM documents
"""


def q_scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary source (spark.read.format('binaryFile')) —
    how image/audio/video payloads enter a multimodal pipeline: one
    row per file with the raw bytes. Staged by writing each en
    document's text as its own .bin file; the read-back emits
    content hash + byte length keyed by the doc id carried in the
    file NAME (path metadata is environment-specific and excluded).
    At 100 TB this source partitions by file and never shuffles —
    decode/feature-extraction happens map-side (see multimodal ops)."""
    import os

    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents")
        .where((F.col("lang") == "en") & (F.col("doc_id") < 200))
        .select("doc_id", "text")
        .collect()
    ]
    base = _scratch(sf_dir, "scan_binary/files")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    for doc_id, text in docs:
        with open(os.path.join(base, f"{doc_id}.bin"), "wb") as f:
            f.write(text.encode("utf-8"))

    back = spark.read.format("binaryFile").load(base)
    doc_id = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1), r"(\d+)\.bin", 1
    ).cast("bigint")
    return back.select(
        doc_id.alias("doc_id"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("length").cast("bigint").alias("n_bytes"),
    )


SQL_SCAN_BINARY = """
SELECT doc_id, md5(text) AS content_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
WHERE lang = 'en' AND doc_id < 200
"""


def q_lake_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-wide health report: one row per lake table with its row
    count — the ops dashboard's first panel and the cheapest daily
    drift detector (a table whose count moves unexpectedly is the
    earliest signal of a broken upstream).

    Scale: each branch is a column-pruned COUNT over one table's scan
    (parquet answers from footer statistics where possible); branches
    are independent — on a cluster they run concurrently."""
    parts = []
    for t in TABLES:
        parts.append(
            load_table(spark, sf_dir, t).agg(
                F.count(F.lit(1)).alias("n_rows")
            ).select(F.lit(t).alias("table_name"), "n_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name")


SQL_LAKE_HEALTH = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM {t}"
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
) + " ORDER BY table_name"


def q_sink_json_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: append = new files under the dir, not read-merge-rewrite.
    Two appends (en docs, then the rest) must read back as the union."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    path = _scratch(sf_dir, "sink_json_append/documents")
    shutil.rmtree(path, ignore_errors=True)
    sink_json_append(docs.where(F.col("lang") == "en"), path)
    sink_json_append(docs.where(F.col("lang") != "en"), path)
    return spark.read.schema(docs.schema).json(path)


SQL_SINK_JSON_APPEND = "SELECT doc_id, lang, source FROM documents"


def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 partitioned: ingest-date partitions replace the reference's
    timestamped filenames (test.py:103). Read-back filters on the
    partition key so the scan prunes to one directory."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = _scratch(sf_dir, "sink_partitioned/orders")
    shutil.rmtree(path, ignore_errors=True)
    sink_partitioned_parquet(orders, path, "order_month")
    back = spark.read.parquet(path)
    return (
        back.where(F.col("order_month") == "1995-03")
        .select("o_orderkey", "o_totalprice", F.col("order_month").cast("string"))
    )


SQL_SINK_PARTITIONED = """
SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m') AS order_month
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
"""


def q_sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent daily-reload
    primitive: rewriting one ingest partition replaces ONLY the
    partitions present in the incoming frame, untouched partitions
    survive (partitionOverwriteMode=dynamic; static mode would wipe
    the whole table root first — the classic backfill data-loss
    trap). Sequence: full load, then an overwrite of 1995-03 with
    doubled quantities; read-back must show 1995-03 doubled AND
    1995-04 intact from the first write.

    Scale: each overwrite commits only the touched partition dirs, so
    a single-day restatement of a 100 TB table moves one day of data,
    never the table."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(1e2) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
    )
    path = _scratch(sf_dir, "sink_dynamic_overwrite/orders")
    shutil.rmtree(path, ignore_errors=True)
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        orders.write.mode("overwrite").partitionBy("order_month").parquet(
            path
        )
        restated = orders.where(F.col("order_month") == "1995-03").withColumn(
            "cents", F.col("cents") * 2
        )
        restated.write.mode("overwrite").partitionBy("order_month").parquet(
            path
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", old_mode
        )
    back = spark.read.parquet(path)
    return back.where(
        F.col("order_month").isin("1995-03", "1995-04")
    ).select(
        "o_orderkey", "cents", F.col("order_month").cast("string")
    )


SQL_SINK_DYNAMIC_OVERWRITE = """
SELECT o_orderkey,
       CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)
         * CASE WHEN strftime(o_orderdate, '%Y-%m') = '1995-03'
                THEN 2 ELSE 1 END AS cents,
       strftime(o_orderdate, '%Y-%m') AS order_month
FROM orders
WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-03', '1995-04')
"""


def q_sink_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: the SQL-queryable 'jobs'-style table (reference README.md:64-69
    — sqlite3 jobs.db; here saveAsTable + spark.sql as the query surface)."""
    orders = load_table(spark, sf_dir, "orders")
    path = _scratch(sf_dir, "sink_table/orders_tbl")
    name = "spark_graft_orders_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(path, ignore_errors=True)
    orders.write.mode("overwrite").option("path", path).saveAsTable(name)
    # 1e2 not 100.0: Spark SQL parses 100.0 as DECIMAL and the division
    # would yield Decimal, hash-mismatching the oracle's double.
    return spark.sql(
        f"""
        SELECT o_orderstatus, count(*) AS cnt,
               floor(CAST(sum(CAST(floor(o_totalprice * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 1e2 + 0.5) / 1e2 AS total
        FROM {name}
        GROUP BY o_orderstatus
        """
    )


SQL_SINK_TABLE = """
SELECT o_orderstatus, count(*) AS cnt,
       floor(CAST(sum(CAST(floor((o_totalprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 100.0 + 0.5) / 100.0 AS total
FROM orders
GROUP BY o_orderstatus
"""


def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing for co-located joins: both sides written bucketBy(8)
    on the join key, so the join needs NO Exchange — each task reads
    matching buckets (tests/test_plans.py asserts the exchange-free
    plan). At 100 TB this is how repeated fact-fact joins amortize the
    shuffle: pay it once at write time, never per query."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    base = _scratch(sf_dir, "bucketed")
    for name, df, key in (
        ("spark_graft_li_bkt", li, "l_orderkey"),
        ("spark_graft_o_bkt", o, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{base}/{name}", ignore_errors=True)
        (
            df.write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    a = spark.table("spark_graft_li_bkt")
    b = spark.table("spark_graft_o_bkt")
    joined = a.join(b, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


SQL_BUCKETED_JOIN = """
SELECT o_orderstatus, count(*) AS cnt,
       floor(CAST(sum(CAST(floor((l_extendedprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 100.0 + 0.5) / 100.0 AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def q_sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 partitioned + small-files control: repartition on the
    partition key before partitionBy so each partition dir gets one
    file (tests/test_io_udf.py counts them), maxRecordsPerFile splits
    hot partitions. Read-back aggregate is the oracle-checked
    round-trip."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = _scratch(sf_dir, "sink_compacted/orders")
    shutil.rmtree(path, ignore_errors=True)
    sink_compacted_parquet(orders, path, "order_month")
    back = spark.read.parquet(path)
    return back.groupBy(F.col("order_month").cast("string").alias("order_month")).agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


SQL_SINK_COMPACTED = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS cnt,
       floor(CAST(sum(CAST(floor((o_totalprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 100.0 + 0.5) / 100.0 AS total
FROM orders
GROUP BY 1
"""


def q_sink_versioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel: write version 1 (orders through June
    1996), then version 2 (the full table), then read AS OF version 1
    — proving an old snapshot stays readable and bit-stable after a
    newer commit. Versions are immutable dirs named by a manifest
    committed last (io/sinks.py): the lake-format snapshot contract
    without a lake format. The oracle replays version 1's content
    directly, so the round-trip through two writes and a pinned read
    is hash-checked end-to-end."""
    orders = load_table(spark, sf_dir, "orders")
    root = _scratch(sf_dir, "versioned/orders")
    shutil.rmtree(root, ignore_errors=True)
    v1 = orders.where(F.col("o_orderdate") < "1996-07-01")
    sink_versioned(v1.coalesce(4), root, 1)
    sink_versioned(orders.coalesce(4), root, 2)
    back = read_versioned(spark, root, version=1)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


SQL_SINK_VERSIONED = """
SELECT o_orderstatus, count(*) AS cnt,
       floor(CAST(sum(CAST(floor((o_totalprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 100.0 + 0.5) / 100.0 AS total
FROM orders
WHERE o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY o_orderstatus
"""


def q_join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a month-partitioned fact joined to a
    dim whose filter is DATA-DEPENDENT (months with above-average order
    counts), so no static predicate on the partition key exists — the
    fact scan can only prune via DPP's runtime subquery. The dim is
    broadcast-hinted so the pruning filter reuses the broadcast
    (spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly).
    tests/test_plans.py asserts `dynamicpruningexpression` lands in the
    fact scan's PartitionFilters. At 100 TB this is the difference
    between scanning 12 partitions and scanning all of them."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = _scratch(sf_dir, "dpp/orders")
    shutil.rmtree(path, ignore_errors=True)
    sink_partitioned_parquet(orders, path, "order_month")
    fact = spark.read.parquet(path)

    # The threshold comes from a global window, NOT a scalar cross
    # join: Catalyst folds a cross-join threshold into the join
    # condition, leaving no Filter node in the dim subtree — and DPP's
    # hasSelectivePredicate gate only fires on real Filter nodes. The
    # window keeps `cnt > avg_cnt` as a Filter (80 rows, one partition
    # — the global window is on the tiny aggregated dim, never the fact).
    counts = orders.groupBy("order_month").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy()
    busy = (
        counts.withColumn("avg_cnt", F.avg("cnt").over(w))
        .where(F.col("cnt") > F.col("avg_cnt"))
        .select("order_month")
    )
    joined = fact.join(F.broadcast(busy), "order_month")
    return joined.groupBy(F.col("order_month").cast("string").alias("order_month")).agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


SQL_JOIN_DPP = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS cnt
  FROM orders GROUP BY 1
),
busy AS (SELECT order_month FROM m WHERE cnt > (SELECT avg(cnt) FROM m))
SELECT f.order_month, count(*) AS cnt,
       floor(CAST(sum(CAST(floor((f.o_totalprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 100.0 + 0.5) / 100.0 AS total
FROM (SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_totalprice
      FROM orders) f
JOIN busy USING (order_month)
GROUP BY f.order_month
"""


def q_sink_side_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: the 1-column side table (reference com_url, test.py:535,578-580)
    — a projection written to a second sink, read back deduplicated."""
    docs = load_table(spark, sf_dir, "documents")
    side = docs.select("source")
    path = _scratch(sf_dir, "sink_side/source")
    shutil.rmtree(path, ignore_errors=True)
    sink_json_append(side, path)
    back = spark.read.schema(side.schema).json(path)
    return back.groupBy("source").count().withColumnRenamed("count", "cnt")


SQL_SINK_SIDE = "SELECT source, count(*) AS cnt FROM documents GROUP BY source"


def q_sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 literal: push the 'jobs table' to an RDBMS over JDBC
    (embedded Derby standing in for the reference's SQLite jobs.db,
    README.md:64-69), read it back over JDBC, and oracle-check the
    round-trip aggregate against the original parquet."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    url = derby_url(_scratch(sf_dir, "jdbc/ordersdb"))
    sink_jdbc(orders, url, "orders_sink")
    back = read_jdbc(spark, url, "orders_sink")
    return back.groupBy(F.col("o_orderstatus").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("o_totalprice"), 2).alias("total"),
    )


SQL_SINK_JDBC = """
SELECT o_orderstatus, count(*) AS cnt,
       floor(CAST(sum(CAST(floor((o_totalprice) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 100.0 + 0.5) / 100.0 AS total
FROM orders
GROUP BY o_orderstatus
"""


def q_sink_custom_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 production shape: a custom Python DataSource WRITER with
    the two-phase commit protocol (tasks stage to temp files, commit
    publishes by rename) — the crash-safe push the reference's
    save_to_json read-merge-rewrite is not (test.py:93-128). Round-trip
    oracle-checked: write documents through the sink, read back,
    aggregate vs the original parquet."""
    from etl_dagster_service_crawler_spark.sources.push_sink import (
        read_committed,
        register as register_push,
    )

    register_push(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = _scratch(sf_dir, "push/docs")
    shutil.rmtree(path, ignore_errors=True)
    docs.write.format("crawlpush").option("path", path).mode("append").save()
    # manifest-keyed read: only files the commit published atomically
    back = read_committed(spark, path, "doc_id bigint, source string, n_chars bigint")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_SINK_CUSTOM_PUSH = """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a lake table whose later batches GREW a
    column. Batch 1 writes (o_orderkey, o_totalprice); batch 2 adds
    o_orderpriority. mergeSchema unions the footers at planning time and
    back-fills the missing column with NULL for old files — exactly how
    a 100 TB lake absorbs producer upgrades without rewriting history
    (schema merging is footer-metadata work, no data pass; the scan
    itself still prunes/pushes down per file)."""
    o = load_table(spark, sf_dir, "orders")
    path = _scratch(sf_dir, "scan_schema_evolution/orders")
    shutil.rmtree(path, ignore_errors=True)
    old_batch = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_batch = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old_batch.write.parquet(f"{path}/b0")
    new_batch.write.parquet(f"{path}/b1")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/b0", f"{path}/b1"
    )
    return back.select(
        "o_orderkey",
        fround(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "o_orderpriority",
    )


SQL_SCAN_SCHEMA_EVOLUTION = f"""
SELECT o_orderkey, {sql_fround("o_totalprice", 2)} AS o_totalprice,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
         AS o_orderpriority
FROM orders
"""


def q_scan_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: a crawl's NDJSON landing zone always
    contains truncated/garbled lines (killed fetches, the reference's
    bare-except rows, test.py:539-547) — production ingest must count
    and isolate them without failing the batch. The engine stages an
    NDJSON file with every 37th doc_id's line truncated mid-record,
    reads it back in PERMISSIVE mode with a columnNameOfCorruptRecord
    column, and reports the partition of good vs quarantined rows plus
    checksums over the good side.

    Scale: malformed handling is per-line inside the distributed JSON
    scan — no driver involvement, no second pass; the summary is one
    map-side-combined aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    j = F.to_json(F.struct("doc_id", "source", "n_chars"))
    line = F.when(
        F.col("doc_id") % 37 == 0,
        # cut the closing chars so the line is unparseable JSON
        F.substring(j, 1, F.length(j) - 5),
    ).otherwise(j)
    path = _scratch(sf_dir, "scan_json_quarantine/landing")
    shutil.rmtree(path, ignore_errors=True)
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = (
        "doc_id BIGINT, source STRING, n_chars BIGINT, _corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("good_rows"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("bad_rows"),
        F.count_distinct(F.when(~bad, F.col("source")))
        .cast("bigint")
        .alias("n_sources_good"),
        F.sum(F.when(~bad, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sum_chars_good"),
    )


SQL_SCAN_JSON_QUARANTINE = """
SELECT
  CAST(count(*) FILTER (WHERE doc_id % 37 <> 0) AS BIGINT) AS good_rows,
  CAST(count(*) FILTER (WHERE doc_id % 37 = 0) AS BIGINT) AS bad_rows,
  CAST(count(DISTINCT source) FILTER (WHERE doc_id % 37 <> 0) AS BIGINT)
    AS n_sources_good,
  CAST(sum(CASE WHEN doc_id % 37 <> 0 THEN n_chars ELSE 0 END) AS BIGINT)
    AS sum_chars_good
FROM documents
"""


def q_sink_clustered_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-on-write + stats-prune-on-read: the #1 100 TB lever
    after partitioning. The sink range-partitions lineitem by
    l_shipdate and sorts within partitions, so every parquet file (and
    every row group inside it) covers a TIGHT disjoint shipdate range;
    a reader with a date predicate then skips all but ~1/Nth of the
    bytes via footer min/max stats — no shuffle, no index, just
    layout. The read-back aggregates one month through the pushed
    filter; the oracle computes the same month from the original.

    test_plans pins PushedFilters on the read and the disjoint
    per-file min/max ranges on the staged files (the property that
    makes the skipping real)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    path = _scratch(sf_dir, "sink_clustered/lineitem")
    shutil.rmtree(path, ignore_errors=True)
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.schema(li.schema).parquet(path)
    lo = F.lit("1997-03-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    rev_u = F.floor(F.col("l_extendedprice") * F.lit(1e2) + F.lit(0.5)) * (
        F.lit(100) - F.floor(F.col("l_discount") * F.lit(1e2) + F.lit(0.5))
    )
    return (
        back.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(rev_u).cast("bigint").alias("rev_u"),
        )
    )


SQL_SINK_CLUSTERED_PRUNED = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 1e2 + 0.5) AS BIGINT)))
            AS BIGINT) AS rev_u
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q_sink_pq_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted PQ-codes SIDECAR — the artifact pq_adc_topk /
    ivf_pq_search read instead of vectors at scale (8 small ints per
    vector, 64:1 vs float64). One row per vector with pq_encode_codes'
    sub_id-ordered codes array, written sorted by vec_id so the exact
    rerank's join-back prunes row groups on id; read back and returned,
    so the oracle checks the on-disk bytes round-trip, not just the
    in-memory frame. Layout twin of the bucketed IVF assignment
    (SCALE.md 'IVF build path')."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _collect_codebook_from_emb,
        pq_encode_codes,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PQ_EXPORT_CODES,
        PQ_EXPORT_SUB,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cb = _collect_codebook_from_emb(e, PQ_EXPORT_SUB, PQ_EXPORT_CODES)
    # NULL embeddings encode to NULL codes and get no sidecar row
    codes = pq_encode_codes(e, cb).where(F.col("codes").isNotNull())
    path = _scratch(sf_dir, "sink_pq_sidecar/codes")
    shutil.rmtree(path, ignore_errors=True)
    # one file sorted by vec_id; a global sort would range-partition
    # and run the encode kernel twice (once more for the sample)
    codes.repartition(1).sortWithinPartitions("vec_id").write.parquet(path)
    back = spark.read.parquet(path)
    return back.select("vec_id", F.posexplode("codes").alias("sub_id", "code"))


def _sink_pq_sidecar_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.llm import (
        SQL_PQ_ENCODE_EXPORT,
    )

    return SQL_PQ_ENCODE_EXPORT


# vector-sidecar maintenance (r10 verdict item 4): changelog shape.
# Deletes and upserts are CLUSTERED on two of the PQ_APPLY_PARTS
# buckets so the compaction's partition-pruning claim is testable —
# the other six pb dirs must come through the apply byte-identical.
PQ_APPLY_PARTS = 8
_PQ_DEL_PRED = "vec_id % 16 = 0"  # pb 0 only (16 ≡ 0 mod 8)
_PQ_UPS_PRED = "vec_id % 8 = 3 AND vec_id % 3 = 0"  # pb 3 only


def q_sink_pq_sidecar_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-sidecar MAINTENANCE (r10 verdict item 4): the PQ-codes
    sidecar with a tombstone/upsert changelog applied by a compaction
    pass that rewrites ONLY the touched pb partitions — the takedown
    path a real corpus needs (cdc_merge_changelog's discipline applied
    to the ANN artifact).

    Base: the sink_pq_sidecar codes table, partitioned pb =
    pmod(vec_id, PQ_APPLY_PARTS), vec_id-sorted within partitions.
    Changelog (deterministic, so the oracle replays it): every
    vec_id%16==0 is DELETED (all land in pb 0); every vec_id%8==3
    with vec_id%3==0 is UPSERTED with a re-embedded vector (the
    reversed embedding) re-encoded against the FROZEN codebook —
    codebooks retrain rarely; upserts re-encode, they don't re-train.
    Compaction: dynamic partition overwrite of exactly the affected
    pb dirs ({0, 3}); the six untouched dirs are never read or
    rewritten (asserted byte-stable in tests/test_io_udf.py).

    The returned frame is the READ-BACK of the post-apply sidecar; the
    oracle is the FULL REBUILD over the effective corpus (original
    minus deletes, upserts re-embedded) — read-back-after-apply ≡
    rebuild, by value hash.

    Scale: the apply reads |affected partitions| + |changelog|, never
    the sidecar; at 100 TB with thousands of pb buckets a takedown
    batch touches only the buckets its ids hash to."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _collect_codebook_from_emb,
        pq_encode_codes,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PQ_EXPORT_CODES,
        PQ_EXPORT_SUB,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cb = _collect_codebook_from_emb(e, PQ_EXPORT_SUB, PQ_EXPORT_CODES)  # frozen

    def codes_of(frame: DataFrame) -> DataFrame:
        return pq_encode_codes(frame, cb).where(F.col("codes").isNotNull())

    path = _scratch(sf_dir, "sink_pq_apply/codes")
    shutil.rmtree(path, ignore_errors=True)
    pb = F.pmod(F.col("vec_id"), F.lit(PQ_APPLY_PARTS)).cast("int")
    (
        codes_of(e)
        .withColumn("pb", pb)
        .repartition("pb")
        .sortWithinPartitions("vec_id")
        .write.partitionBy("pb")
        .parquet(path)
    )

    # changelog: re-encoded upserts + tombstones, one frame
    ups = codes_of(
        e.where(_PQ_UPS_PRED).select("vec_id", F.reverse("embedding").alias("embedding"))
    ).select("vec_id", "codes", F.lit("U").alias("op"))
    dels = (
        e.where(_PQ_DEL_PRED)
        .select(
            "vec_id",
            F.lit(None).cast("array<int>").alias("codes"),
            F.lit("D").alias("op"),
        )
    )
    log = ups.unionByName(dels).withColumn("pb", pb).persist()

    # compaction: read ONLY the affected partitions (pb pushed to the
    # scan as partition filters), merge, dynamically overwrite exactly
    # those dirs
    affected = sorted(r["pb"] for r in log.select("pb").distinct().collect())
    cur = spark.read.parquet(path).where(F.col("pb").isin(affected))
    merged = (
        cur.join(log.select("vec_id", F.col("codes").alias("new_codes"), "op"),
                 "vec_id", "left")
        .where((F.col("op").isNull()) | (F.col("op") == "U"))
        .select(
            "vec_id",
            F.coalesce(F.col("new_codes"), F.col("codes")).alias("codes"),
            "pb",
        )
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition("pb")
            .sortWithinPartitions("vec_id")
            .write.mode("overwrite")
            .partitionBy("pb")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    log.unpersist()
    back = spark.read.parquet(path)
    return back.select("vec_id", F.posexplode("codes").alias("sub_id", "code")).select(
        "vec_id", F.col("sub_id").cast("int").alias("sub_id"), "code"
    )


def _sink_pq_apply_sql() -> str:
    """Full-rebuild oracle over the EFFECTIVE corpus: the codebook
    CTEs run on the original corpus (frozen codebook), the encode CTEs
    on the post-changelog one."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        _PQ_SUB_DIM,
        _SQL_PQ_CENT,
        _SQL_Q8,
        _sql_il2,
        PQ_EXPORT_SUB,
    )

    q8e = _SQL_Q8.replace("q8 AS (", "q8e AS (").replace(
        "FROM embeddings", "FROM eff"
    )
    return f"""
WITH {_SQL_Q8},
{_SQL_PQ_CENT},
eff AS (
  SELECT vec_id,
         CASE WHEN {_PQ_UPS_PRED} THEN list_reverse(embedding)
              ELSE embedding END AS embedding
  FROM embeddings WHERE NOT ({_PQ_DEL_PRED})
),
{q8e},
subs AS (
  SELECT vec_id, m, qv[m*{_PQ_SUB_DIM}+1 : (m+1)*{_PQ_SUB_DIM}] AS vsub
  FROM q8e, (SELECT unnest(range({PQ_EXPORT_SUB})) AS m)
),
csubs AS (
  SELECT code, m, cv[m*{_PQ_SUB_DIM}+1 : (m+1)*{_PQ_SUB_DIM}] AS csub
  FROM pcent, (SELECT unnest(range({PQ_EXPORT_SUB})) AS m)
),
enc AS (
  SELECT vec_id, m AS sub_id, code FROM (
    SELECT s.vec_id, s.m, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_sql_il2('s.vsub', 'c.csub')}, c.code)
             AS rn
    FROM subs s JOIN csubs c ON s.m = c.m
  ) WHERE rn = 1
)
SELECT vec_id, CAST(sub_id AS INT) AS sub_id, CAST(code AS INT) AS code
FROM enc
"""


SPECS = [
    QuerySpec(
        "scan_schema_evolution", q_scan_schema_evolution, SQL_SCAN_SCHEMA_EVOLUTION
    ),
    QuerySpec("sink_custom_push", q_sink_custom_push, SQL_SINK_CUSTOM_PUSH),
    QuerySpec("sink_jdbc", q_sink_jdbc, SQL_SINK_JDBC),
    QuerySpec("scan_parquet", q_scan_parquet, SQL_SCAN_PARQUET),
    QuerySpec("scan_json", q_scan_json, SQL_SCAN_JSON),
    QuerySpec("scan_csv", q_scan_csv, SQL_SCAN_CSV),
    QuerySpec("scan_orc", q_scan_orc, SQL_SCAN_ORC),
    QuerySpec("sink_json_append", q_sink_json_append, SQL_SINK_JSON_APPEND),
    # r8: the PQ codes sidecar, round-tripped through the on-disk bytes
    QuerySpec("sink_pq_sidecar", q_sink_pq_sidecar, _sink_pq_sidecar_sql()),
    # r11: tombstone/upsert apply + partition-pruned compaction —
    # read-back-after-apply must hash-equal the full rebuild
    QuerySpec("sink_pq_sidecar_apply", q_sink_pq_sidecar_apply, _sink_pq_apply_sql()),
    QuerySpec("sink_partitioned", q_sink_partitioned, SQL_SINK_PARTITIONED),
    QuerySpec("sink_compacted", q_sink_compacted, SQL_SINK_COMPACTED),
    QuerySpec(
        "sink_versioned_snapshot", q_sink_versioned_snapshot, SQL_SINK_VERSIONED
    ),
    QuerySpec("scan_text_lines", q_scan_text_lines, SQL_SCAN_TEXT),
    QuerySpec("scan_binary_files", q_scan_binary_files, SQL_SCAN_BINARY),
    QuerySpec("lake_health_report", q_lake_health_report, SQL_LAKE_HEALTH),
    QuerySpec("sink_table", q_sink_table, SQL_SINK_TABLE),
    QuerySpec("bucketed_colocated_join", q_bucketed_colocated_join, SQL_BUCKETED_JOIN),
    QuerySpec("join_dpp_partitioned", q_join_dpp_partitioned, SQL_JOIN_DPP),
    QuerySpec("sink_side_projection", q_sink_side_projection, SQL_SINK_SIDE),
    QuerySpec(
        "sink_dynamic_overwrite",
        q_sink_dynamic_overwrite,
        SQL_SINK_DYNAMIC_OVERWRITE,
    ),
    QuerySpec(
        "scan_json_quarantine", q_scan_json_quarantine, SQL_SCAN_JSON_QUARANTINE
    ),
    QuerySpec(
        "sink_clustered_pruned", q_sink_clustered_pruned, SQL_SINK_CLUSTERED_PRUNED
    ),
]
