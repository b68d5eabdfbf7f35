"""Unit tests for the source/sink, UDF, grouping-sets, and dedup-assign
operators added for SURVEY §2.B completeness."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.io.tables import load_table
from etl_dagster_service_crawler_spark.operators.dedup import (
    minhash_assign_representatives,
)
from etl_dagster_service_crawler_spark.workloads.io_wl import (
    q_scan_json,
    q_sink_json_append,
    q_sink_partitioned,
)
from etl_dagster_service_crawler_spark.workloads.udf_wl import (
    q_udaf_grouped,
    q_udf_scalar,
)


def test_scan_json_roundtrip_is_lossless(spark, sf_dir):
    src = load_table(spark, sf_dir, "documents")
    back = q_scan_json(spark, sf_dir)
    src_rows = {tuple(r) for r in src.select("doc_id", "text", "lang", "n_chars").collect()}
    back_rows = {tuple(r) for r in back.collect()}
    assert src_rows == back_rows


def test_sink_json_append_unions_both_writes(spark, sf_dir):
    src = load_table(spark, sf_dir, "documents")
    assert q_sink_json_append(spark, sf_dir).count() == src.count()


def test_sink_partitioned_prunes_on_partition_key(spark, sf_dir):
    df = q_sink_partitioned(spark, sf_dir)
    rows = df.collect()
    assert all(r["order_month"] == "1995-03" for r in rows)
    # partition filter must reach the file index, not a post-scan Filter
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_sink_compacted_writes_one_file_per_partition(spark, sf_dir):
    """The point of the compacted sink is the file count: repartition
    on the partition key must leave exactly one parquet file per
    partition dir (records per month are far below maxRecordsPerFile),
    where an unmanaged partitionBy writes one per upstream task."""
    import glob

    from etl_dagster_service_crawler_spark.workloads.io_wl import (
        _scratch,
        q_sink_compacted,
    )

    q_sink_compacted(spark, sf_dir).count()
    base = _scratch(sf_dir, "sink_compacted/orders")
    part_dirs = glob.glob(f"{base}/order_month=*")
    assert len(part_dirs) > 10
    for d in part_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, f"{d} has {len(files)} files"


def test_udf_scalar_matches_builtin_arithmetic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    expect = ev.select(
        "event_id",
        (F.col("value") * 0.7 + (F.col("user_id") % 10) * 3.5).alias("score"),
    )
    got = q_udf_scalar(spark, sf_dir)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expect.collect()}


def test_udaf_grouped_counts_and_gaps(spark, sf_dir):
    got = {r["user_id"]: r for r in q_udaf_grouped(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    counts = {r["user_id"]: r["cnt"] for r in ev.groupBy("user_id").count().withColumnRenamed("count", "cnt").collect()}
    assert {u: r["cnt"] for u, r in got.items()} == counts
    # single-event users have no gap
    for u, r in got.items():
        if counts[u] == 1:
            assert r["max_gap_s"] is None
        else:
            assert r["max_gap_s"] >= 0.0


def test_minhash_assign_matches_exact_dup_clusters(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=3, text="completely different content about spark engines"),
            Row(doc_id=4, text="dog lazy the over jumps fox brown quick the"),
        ]
    )
    rep = {r["doc_id"]: r["rep_id"] for r in minhash_assign_representatives(df, "doc_id", "text").collect()}
    # identical and permuted (same token set) docs share a representative
    assert rep[1] == 1 and rep[2] == 1 and rep[4] == 1
    assert rep[3] == 3


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_agg_approx_distinct,
        q_agg_distinct,
    )

    exact = {r["o_orderpriority"]: r["uniq_cust"] for r in q_agg_distinct(spark, sf_dir).collect()}
    approx = {r["o_orderpriority"]: r["approx_uniq"] for r in q_agg_approx_distinct(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(1, 0.05 * ex)


def test_sample_fraction_within_bounds(spark, sf_dir):
    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_sample_deterministic,
    )

    total = load_table(spark, sf_dir, "lineitem").count()
    n = q_sample_deterministic(spark, sf_dir).count()
    assert 0.05 * total < n < 0.15 * total
    # content-hash: stable across runs by construction
    assert n == q_sample_deterministic(spark, sf_dir).count()


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """Sketch quantiles must land within 5% relative error of the exact
    interpolated percentile (generous for small fixture groups)."""
    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_agg_approx_percentile,
        q_agg_percentile,
    )

    exact = {
        r["o_orderstatus"]: (r["p50"], r["p95"])
        for r in q_agg_percentile(spark, sf_dir).collect()
    }
    approx = {
        r["o_orderstatus"]: (r["p50_approx"], r["p95_approx"])
        for r in q_agg_approx_percentile(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, (p50, p95) in exact.items():
        a50, a95 = approx[k]
        assert abs(a50 - p50) <= 0.05 * p50
        assert abs(a95 - p95) <= 0.05 * p95


def test_heavy_hitters_matches_local_recompute(spark, sf_dir):
    """Exact heavy hitters == brute-force recompute of the same
    threshold over collected counts."""
    from collections import Counter

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_agg_heavy_hitters,
    )

    ids = [r.event_id for r in load_table(spark, sf_dir, "events").select("event_id").collect()]
    counts = Counter(2 ** ((1 + i % 1024).bit_length() - 1) for i in ids)
    avg = sum(counts.values()) / len(counts)
    expected = {(b, c) for b, c in counts.items() if c > 2 * avg}
    got = {(r.bucket, r.cnt) for r in q_agg_heavy_hitters(spark, sf_dir).collect()}
    assert got == expected and got


def test_hll_sketch_rollup_merge_equals_direct_and_near_exact(spark, sf_dir):
    """The mergeable-sketch contract: estimating the UNION of per-nation
    sketches must equal sketching the region directly (associativity —
    what makes the persisted-sketch rollup sound), and both must sit
    within 2% of the exact distinct."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_agg_hll_sketch_rollup,
    )

    merged = {
        r["r_name"]: r["approx_customers"]
        for r in q_agg_hll_sketch_rollup(spark, sf_dir).collect()
    }

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    joined = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(reg, n.n_regionkey == reg.r_regionkey)
    )
    direct = {
        r["r_name"]: r["d"]
        for r in joined.groupBy("r_name")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey", 14)).alias("d"))
        .collect()
    }
    exact = {
        r["r_name"]: r["e"]
        for r in joined.groupBy("r_name")
        .agg(F.countDistinct("c_custkey").alias("e"))
        .collect()
    }
    assert set(merged) == set(exact)
    for k, ex in exact.items():
        assert merged[k] == direct[k], (k, merged[k], direct[k])
        assert abs(merged[k] - ex) <= max(1, 0.02 * ex), (k, merged[k], ex)


def test_sql_surface_registers_and_queries(spark, sf_dir):
    """spark.sql over registered views must produce the same result as
    the DataFrame API (same plan space), and the derived clean_corpus
    view must be SQL-queryable."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.sql import (
        register_clean_corpus,
        register_tables,
        sql,
    )

    names = register_tables(spark, sf_dir)
    assert "lineitem" in names and "documents" in names
    via_sql = sql(
        spark, sf_dir, "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'"
    ).collect()[0]["n"]
    via_df = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .count()
    )
    assert via_sql == via_df

    register_clean_corpus(spark, sf_dir)
    rows = spark.sql(
        "SELECT source, count(*) AS n FROM clean_corpus GROUP BY source"
    ).collect()
    assert sum(r["n"] for r in rows) > 0


def test_versioned_sink_time_travel_and_crash_safety(spark, tmp_path):
    """(1) An old version stays bit-stable after a newer commit;
    (2) a writer that dies AFTER writing data but BEFORE the manifest
    commit leaves the table untouched for readers (manifest-last);
    (3) reading an uncommitted version raises."""
    import os

    import pytest as _pytest

    from etl_dagster_service_crawler_spark.io.sinks import (
        read_versioned,
        sink_versioned,
    )

    root = str(tmp_path / "snap")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(9).withColumnRenamed("id", "k")
    sink_versioned(df1, root, 1)
    sink_versioned(df2, root, 2)
    assert read_versioned(spark, root, 1).count() == 5
    assert read_versioned(spark, root).count() == 9  # latest

    # simulated crash: v3 data lands, manifest never updated
    spark.range(99).write.mode("overwrite").parquet(os.path.join(root, "v00003"))
    assert read_versioned(spark, root).count() == 9  # still v2
    with _pytest.raises(ValueError, match="not committed"):
        read_versioned(spark, root, 3)


def test_rolling_distinct_users_within_tolerance(spark, sf_dir):
    """The sketch-unioned trailing-7d distinct must land within 5% of
    the exact trailing distinct, brute-forced from the raw events."""
    from collections import defaultdict
    from datetime import timedelta

    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_rolling_distinct_users,
    )

    got = {r["day"]: r["users_7d"] for r in q_rolling_distinct_users(spark, sf_dir).collect()}

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id").collect()
    by_day = defaultdict(set)
    for r in ev:
        by_day[r["ts"].date()].add(r["user_id"])
    days = sorted(by_day)
    for d in days:
        exact = len(set().union(*(by_day.get(d - timedelta(days=k), set()) for k in range(7))))
        approx = got[d.strftime("%Y-%m-%d")]
        assert abs(approx - exact) <= max(1, 0.05 * exact), (d, exact, approx)


def test_rolling_distinct_exact_equals_brute_force(spark, sf_dir):
    """The r10 exact calendar-window twin must equal the brute-forced
    trailing-7-calendar-day distinct EXACTLY (it is the anchor the
    sketch path's 5% tolerance is measured against)."""
    from collections import defaultdict
    from datetime import timedelta

    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_rolling_distinct_exact,
    )

    got = {
        r["day"]: r["users_7d"]
        for r in q_rolling_distinct_exact(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id").collect()
    by_day = defaultdict(set)
    for r in ev:
        by_day[r["ts"].date()].add(r["user_id"])
    days = sorted(by_day)
    assert set(got) == {d.strftime("%Y-%m-%d") for d in days}
    for d in days:
        exact = len(
            set().union(
                *(by_day.get(d - timedelta(days=k), set()) for k in range(7))
            )
        )
        assert got[d.strftime("%Y-%m-%d")] == exact, (d, exact)


def test_sink_versioned_concurrent_commits_keep_both(spark, tmp_path):
    """Two writers committing different versions concurrently must
    both survive in the manifest — the lost-update race the O_EXCL
    lock around the read-modify-write exists to prevent."""
    import threading

    from etl_dagster_service_crawler_spark.io.sinks import (
        read_versioned,
        sink_versioned,
    )

    root = str(tmp_path / "snap")
    d1 = spark.range(3).withColumnRenamed("id", "v")
    d2 = spark.range(5).withColumnRenamed("id", "v")
    # stage the data dirs first so the threads race on the manifest
    # commit window itself, not on the parquet write
    errs = []

    def commit(df, ver):
        try:
            sink_versioned(df, root, ver)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    t1 = threading.Thread(target=commit, args=(d1, 1))
    t2 = threading.Thread(target=commit, args=(d2, 2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert read_versioned(spark, root, 1).count() == 3
    assert read_versioned(spark, root, 2).count() == 5
    assert read_versioned(spark, root).count() == 5  # latest == v2


def test_scan_text_lines_rejects_embedded_newlines(spark, tmp_path):
    """The one-doc-one-line contract is enforced, not assumed: text
    with '\\n' raises instead of silently splitting rows."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.workloads.io_wl import (
        q_scan_text_lines,
    )

    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(
        [
            (1, "clean text", "en", "web", 10),
            (2, "bad\ntext", "en", "web", 8),
        ],
        "doc_id int, text string, lang string, source string, n_chars int",
    ).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(Exception) as ei:
        q_scan_text_lines(spark, sf).collect()
    assert "newline-free" in str(ei.value)


def test_window_cume_dist_matches_brute_force(spark, sf_dir):
    """cume_dist must equal count(value <= x)/N within each nation,
    ties sharing one value."""
    import math
    from collections import defaultdict

    from etl_dagster_service_crawler_spark.workloads.relational import (
        q_window_cume_dist,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    ).collect()
    by_nation = defaultdict(list)
    for r in cust:
        by_nation[r["c_nationkey"]].append(r["c_acctbal"])
    got = {
        r["c_custkey"]: r
        for r in q_window_cume_dist(spark, sf_dir).collect()
    }
    assert len(got) == len(cust)
    for r in cust:
        vals = by_nation[r["c_nationkey"]]
        cd = sum(1 for v in vals if v <= r["c_acctbal"]) / len(vals)
        want = math.floor(cd * 1e6 + 0.5) / 1e6
        assert got[r["c_custkey"]]["bal_cume"] == want


def test_source_fingerprint_catches_all_staleness_classes(tmp_path):
    """The sidecar path key (r10 advice): appends, regenerations, and
    same-count in-place rewrites must ALL change the fingerprint; a
    fingerprint never depends on a Spark job (pure os.stat)."""
    import os
    import shutil
    import time

    from etl_dagster_service_crawler_spark.io.tables import _source_fingerprint

    src = "/root/testdata/sf0.001/documents.parquet"
    sf = tmp_path / "sf"
    sf.mkdir()
    dst = sf / "documents.parquet"
    shutil.copy(src, dst)
    fp0 = _source_fingerprint(str(sf), "documents")
    assert fp0 == _source_fingerprint(str(sf), "documents")  # stable

    # same-count in-place rewrite: same byte LENGTH, different mtime
    data = dst.read_bytes()
    time.sleep(0.01)
    dst.write_bytes(data)
    fp1 = _source_fingerprint(str(sf), "documents")
    assert fp1 != fp0

    # append/regeneration: size change
    dst.write_bytes(data + b"x")
    assert _source_fingerprint(str(sf), "documents") != fp1

    # directory-of-parts layout: part files counted, markers ignored
    d = sf / "embeddings.parquet"
    d.mkdir()
    (d / "part-0000.parquet").write_bytes(b"a" * 64)
    (d / "_SUCCESS").write_bytes(b"")
    fp_dir = _source_fingerprint(str(sf), "embeddings")
    (d / "_committed_123").write_bytes(b"meta")
    assert _source_fingerprint(str(sf), "embeddings") == fp_dir
    (d / "part-0001.parquet").write_bytes(b"b" * 64)
    assert _source_fingerprint(str(sf), "embeddings") != fp_dir


def test_lm_sidecar_path_changes_on_corpus_rewrite(tmp_path):
    """End-to-end: a rewritten corpus yields a DIFFERENT sidecar path,
    so a stale LM can never be served (the r10 residual closed)."""
    import shutil
    import time

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _lm_sidecar_path,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    dst = sf / "documents.parquet"
    shutil.copy("/root/testdata/sf0.001/documents.parquet", dst)
    p0 = _lm_sidecar_path(str(sf))
    data = dst.read_bytes()
    time.sleep(0.01)
    dst.write_bytes(data)  # same-count, same-size in-place rewrite
    assert _lm_sidecar_path(str(sf)) != p0


def test_engine_dirs_sit_under_the_temp_root(spark, sf_dir, scratch_root):
    """Sinks, stream dirs and the IVF index all live under the temp
    root, so pointing TMPDIR elsewhere moves every dir the engine
    writes; a sink and a stream that share a leaf name do not share a
    dir."""
    import os
    from urllib.parse import urlparse

    from etl_dagster_service_crawler_spark.io.tables import scratch_dir
    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_index_dir,
    )
    from etl_dagster_service_crawler_spark.workloads.io_wl import _scratch
    from etl_dagster_service_crawler_spark.workloads.streaming_wl import (
        q_stream_dual_sink,
    )

    root = f"{scratch_root}{os.sep}"
    files = (
        q_sink_json_append(spark, sf_dir).inputFiles()
        + q_stream_dual_sink(spark, sf_dir).inputFiles()
    )
    assert files
    for f in files:
        assert urlparse(f).path.startswith(root), f
        assert "spark_graft_" not in f
    assert os.path.islink(
        scratch_dir(sf_dir, "streams", "events", "events.parquet")
    )
    assert ivf_index_dir(sf_dir).startswith(root)
    assert _scratch(sf_dir, "crawl_record") != scratch_dir(
        sf_dir, "streams", "crawl_record"
    )


def test_ivf_index_dir_changes_on_in_place_part_rewrite(tmp_path):
    """Rewriting one part file of a directory-of-parts embeddings table
    in place (same name, same size) gives a new index dir: the
    directory's own stat does not change, its parts' fingerprint does."""
    import os

    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_index_dir,
    )

    parts = tmp_path / "sf" / "embeddings.parquet"
    parts.mkdir(parents=True)
    part = parts / "part-0000.parquet"
    part.write_bytes(b"a" * 64)
    os.utime(part, ns=(1_000_000_000, 1_000_000_000))
    before = ivf_index_dir(str(tmp_path / "sf"))
    part.write_bytes(b"b" * 64)
    os.utime(part, ns=(2_000_000_000, 2_000_000_000))
    assert ivf_index_dir(str(tmp_path / "sf")) != before


def test_pq_sidecar_apply_semantics_and_partition_pruning(spark, sf_dir):
    """r11 sidecar maintenance: (1) deletes vanish, upserts carry the
    re-encoded codes, untouched vectors keep their base codes; (2) the
    compaction rewrote ONLY the affected pb dirs — every untouched pb
    dir's files predate every touched dir's files (the base write
    happens strictly before the compaction write)."""
    import os

    from etl_dagster_service_crawler_spark.workloads.io_wl import (
        _PQ_DEL_PRED,
        _PQ_UPS_PRED,
        PQ_APPLY_PARTS,
        _scratch,
        q_sink_pq_sidecar,
        q_sink_pq_sidecar_apply,
    )

    base_codes = {
        (r["vec_id"], r["sub_id"]): r["code"]
        for r in q_sink_pq_sidecar(spark, sf_dir).collect()
    }
    applied = {
        (r["vec_id"], r["sub_id"]): r["code"]
        for r in q_sink_pq_sidecar_apply(spark, sf_dir).collect()
    }
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    deleted = {r["vec_id"] for r in e.where(_PQ_DEL_PRED).collect()}
    upserted = {r["vec_id"] for r in e.where(_PQ_UPS_PRED).collect()}
    assert deleted and upserted, "fixture must exercise both ops"

    applied_ids = {v for v, _s in applied}
    assert not (applied_ids & deleted), "tombstoned vectors must vanish"
    changed = {
        v for v in upserted
        if any(applied[(v, s)] != base_codes[(v, s)] for s in range(8))
    }
    assert changed, "at least one upsert should re-encode differently"
    untouched_ids = {v for v, _s in base_codes} - deleted - upserted
    for v, s in ((v, s) for v in untouched_ids for s in range(8)):
        assert applied[(v, s)] == base_codes[(v, s)]

    # partition pruning: only pb 0 and 3 rewritten by the compaction
    path = _scratch(sf_dir, "sink_pq_apply/codes")
    touched = {0, 3}
    mtimes = {}
    for pb in range(PQ_APPLY_PARTS):
        d = os.path.join(path, f"pb={pb}")
        files = [
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        assert files, f"pb={pb} should not be empty"
        mtimes[pb] = max(os.stat(f).st_mtime_ns for f in files)
    newest_untouched = max(m for pb, m in mtimes.items() if pb not in touched)
    oldest_touched = min(m for pb, m in mtimes.items() if pb in touched)
    assert newest_untouched < oldest_touched, (
        "compaction must rewrite ONLY the affected pb dirs; an "
        "untouched dir has files newer than the compaction write"
    )
