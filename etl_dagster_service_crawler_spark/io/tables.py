"""Batch sources: the fixture star schema + documents/embeddings.

Mirrors the reference's "scan" stages (SURVEY.md S1: the keyword scan at
reference test.py:129-144 is its table scan over an external corpus) —
here the corpus is parquet and the scan is `spark.read.parquet`, which
gives us predicate pushdown, column pruning, and partition pruning for
free via Catalyst.

Schemas are *pinned* (SURVEY.md §1.2): the reference's implicit/dynamic
schema is a bug class we do not reproduce. `load_table` asserts the
parquet footer matches the expected columns so a silently-changed
upstream file fails loudly instead of corrupting downstream operators.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Expected column sets per fixture table (FIXTURES.md). Values are
# (column, spark simple type) — types as read from parquet.
TABLES: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def scratch_dir(sf_dir: str, *parts: str) -> str:
    """The directory the engine writes for one corpus:
    `<temp root>/spark_graft/<sha1(sf_dir)[:8]>/<parts...>`. Every sink,
    stream checkpoint and state dir and corpus-derived sidecar lives
    here, under a namespace first part (`sinks`, `streams`, `ivf`), so
    no two writers share a dir. The root is `tempfile.gettempdir()`:
    setting `TMPDIR` moves every dir at once, which gives each process
    its own dirs when two run on one corpus."""
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), "spark_graft", tag, *parts)


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a source table for sidecar path keying
    (r10 advice: the row-count key missed a same-count in-place corpus
    rewrite). Hashes the parquet file set's (relpath, size, mtime_ns)
    — pure os.stat, no Spark job, no data scan — so regeneration,
    append, AND in-place rewrite all change the fingerprint. A
    byte-identical rewrite only changes mtime, which at worst forces
    one unnecessary rebuild: staleness errors are impossible, spurious
    rebuilds are merely cheap. This is the snapshot-id role a table
    format (Delta/Iceberg) would play; for raw parquet directories,
    file metadata is the equivalent commit identity."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    entries = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                entries.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(root)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha1("\n".join(sorted(entries)).encode()).hexdigest()[:12]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with its schema validated against TABLES."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {sorted(TABLES)}")
    # date_format/date_trunc/window render timestamps in the session TZ;
    # the oracle (DuckDB) is TZ-naive. Pin UTC here so results don't
    # depend on which session the driver built (runtime-settable conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
        # across fixture generations — Spark has no nanos type, so a
        # nanos file is scanned as epoch-nanos bigint and converted. The
        # conf is runtime-settable and must be set BEFORE the read
        # (schema resolution is eager), including under sessions not
        # built by our get_spark(); it is a no-op for micros files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer div, not /1000.0: epoch-nanos (~1.7e18) exceeds
            # double's 53-bit exact-integer range, float division would
            # corrupt micros. Truncation to micros is exact for this
            # data and matches DuckDB's ns->us cast.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # micros file: NTZ wall clock == the oracle's naive reading;
            # cast to LTZ under the UTC session tz pinned above (same
            # instant) so downstream windows/watermarks see one type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # a third fixture generation must fail HERE, at load time,
            # not as a downstream oracle mismatch ('timestamp' itself —
            # tz-adjusted micros — already matches what the branches
            # above normalize to, so it passes through)
            raise ValueError(
                f"unexpected physical type {ts_type!r} for events.ts; "
                "expected bigint (nanos), timestamp_ntz (micros), or "
                "timestamp"
            )
        df = df.select([c for c, _ in TABLES[name]])
    expected = [c for c, _ in TABLES[name]]
    if df.columns != expected:
        raise ValueError(
            f"schema drift in {name}: expected columns {expected}, got {df.columns}"
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several fixture tables at once."""
    if not names:
        names = tuple(TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}
