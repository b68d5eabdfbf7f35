"""ScheduledPipeline: the reference's named job + cron schedule + run
logging (definitions.py:27-41) bound to streaming triggers and the O2
error budget."""

from __future__ import annotations

from tests.conftest import reset_ledger

import glob
import os
import shutil

from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.io.observability import (
    observe_stream_quality,
)
from etl_dagster_service_crawler_spark.io.tables import load_table
from etl_dagster_service_crawler_spark.streaming.ingest import DOCUMENTS_SCHEMA
from etl_dagster_service_crawler_spark.streaming.jobs import (
    ScheduledPipeline,
    job_registry,
)
from etl_dagster_service_crawler_spark.workloads.streaming_wl import (
    corpus_clean_transform,
)


def _stage_file(df, src_dir: str, name: str) -> None:
    """Write df as ONE parquet file named {name}.parquet inside src_dir
    (the file stream source wants a flat directory of files)."""
    stage = f"{src_dir}_stage_{name}"
    df.coalesce(1).write.parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    os.makedirs(src_dir, exist_ok=True)
    shutil.move(part, os.path.join(src_dir, f"{name}.parquet"))
    shutil.rmtree(stage)


def test_two_scheduled_ticks_trip_error_budget(spark, sf_dir, tmp_path):
    """Two processing-time ticks of the corpus-clean pipeline (one file
    per trigger); an injected quality defect (every 100th doc has an
    empty probe field) stays under budget on tick 1 and trips it on
    tick 2 — the reference's cumulative give-up counter
    (test.py:129-144) on the reference's 2-min schedule
    (definitions.py:35)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = str(tmp_path / "docs_src")
    _stage_file(docs.where(F.col("doc_id") < 250), src, "day1")
    _stage_file(docs.where(F.col("doc_id") >= 250), src, "day2")
    # sf0.01 has 500 docs: probe is empty for doc_ids 0,100,200 (tick
    # with day1) and 300,400 (day2) -> totals 3 then 5 against budget 5
    assert docs.count() == 500, "test assumes the sf0.01 documents fixture"

    def build(spark_, source):
        s = (
            spark_.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(source)
        )
        probe = s.withColumn(
            "qc_probe",
            F.when(F.col("doc_id") % 100 == 0, "").otherwise("ok"),
        )
        # input-side quality metric: attach observe where the defect is
        # visible (pre-aggregation), named {job}_quality so the job's
        # budget listener sees it
        observed = observe_stream_quality(
            probe, ["qc_probe"], name="cleanjob_quality"
        )
        return corpus_clean_transform(observed.drop("qc_probe"))

    job = ScheduledPipeline(
        name="cleanjob",
        build=build,
        interval="1 second",
        max_errors=5,
        output_mode="complete",
        state_partitions=4,
    )
    status = job.run_scheduled(spark, src, min_batches=2, timeout_s=120)
    assert status.n_batches == 2
    assert status.n_bad == 5
    assert status.budget_tripped and not status.ok
    # both days were processed before the trip: dedup state covers the
    # full corpus
    assert status.result.count() > 0


def test_registry_job_run_once_drains_corpus(spark, sf_dir):
    """The named registry job (the reference's Definitions surface)
    catches up with availableNow and reports a clean run status."""
    jobs = job_registry()
    assert set(jobs) == {
        "corpus_clean_2min", "events_ingest_2min", "crawl_scan_2min",
        "crawl_extract_2min",
    }
    job = jobs["corpus_clean_2min"]
    assert job.interval == "2 minutes"  # the reference's cron cadence
    status = job.run_once(spark, sf_dir, timeout_s=300)
    assert status.ok and not status.budget_tripped
    assert status.n_batches >= 1
    assert status.result.columns == ["text_hash", "doc_id", "n_dups"]
    assert status.result.count() > 0


def test_job_build_must_be_streaming(spark, sf_dir):
    import pytest

    job = ScheduledPipeline(
        name="bad",
        build=lambda s, d: load_table(s, d, "documents"),
    )
    with pytest.raises(TypeError, match="streaming"):
        job.run_once(spark, sf_dir)


def test_run_history_ledger_records_each_tick(spark, sf_dir, tmp_path):
    """Run-history as a TABLE (the reference's per-run returncode log,
    definitions.py:20-25): two runs — one clean, one with an injected
    quality failure that trips the budget — land one ledger row each
    via sink_table, queryable back with spark.sql."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = str(tmp_path / "ledger_src")
    _stage_file(docs.where(F.col("doc_id") < 250), src, "day1")
    table = "run_history_test"
    reset_ledger(spark, table)

    def build(spark_, source):
        s = (
            spark_.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(source)
        )
        probe = s.withColumn(
            "qc_probe",
            F.when(F.col("doc_id") % 100 == 0, "").otherwise("ok"),
        )
        observed = observe_stream_quality(
            probe, ["qc_probe"], name="ledgerjob_quality"
        )
        return corpus_clean_transform(observed.drop("qc_probe"))

    try:
        clean = ScheduledPipeline(
            name="ledgerjob",
            build=build,
            max_errors=None,  # tick 1: telemetry only -> ok
            output_mode="complete",
            state_partitions=4,
            ledger_table=table,
        )
        s1 = clean.run_once(spark, src, timeout_s=120)
        assert s1.ok

        strict = ScheduledPipeline(
            name="ledgerjob",
            build=build,
            max_errors=1,  # tick 2: doc_ids 0,100,200 -> 3 bad, trips
            output_mode="complete",
            state_partitions=4,
            ledger_table=table,
        )
        s2 = strict.run_once(spark, src, timeout_s=120)
        assert s2.budget_tripped

        rows = spark.sql(
            f"SELECT job, mode, status, n_batches, n_rows, n_bad "
            f"FROM {table} ORDER BY started_at"
        ).collect()
        assert len(rows) == 2
        assert [r["status"] for r in rows] == ["ok", "budget_tripped"]
        assert all(r["job"] == "ledgerjob" for r in rows)
        assert all(r["mode"] == "available_now" for r in rows)
        assert rows[0]["n_rows"] == 250 and rows[0]["n_bad"] == 3
    finally:
        reset_ledger(spark, table)


def test_ledger_records_error_row_on_raised_failure(spark, sf_dir):
    """A job that raises (here: build returns a batch frame) still
    lands a run_history row with status='error' and the exception
    text — failed runs must be visible in the ledger, not only in
    logs."""
    import pytest

    table = "run_history_err_test"
    reset_ledger(spark, table)
    job = ScheduledPipeline(
        name="badjob",
        build=lambda s, d: load_table(s, d, "documents"),
        ledger_table=table,
    )
    try:
        with pytest.raises(TypeError, match="streaming"):
            job.run_once(spark, sf_dir)
        rows = spark.sql(
            f"SELECT job, status, error FROM {table}"
        ).collect()
        assert len(rows) == 1
        assert rows[0]["status"] == "error"
        assert "streaming" in rows[0]["error"]
    finally:
        reset_ledger(spark, table)


def test_timed_out_run_once_raises_and_ledgers_error(spark, sf_dir):
    """An availableNow drain still running at timeout_s is a failed
    run: run_once raises TimeoutError and the ledger row says error,
    not a partial `ok`."""
    import pytest

    table = "run_history_timeout_test"
    reset_ledger(spark, table)
    job = job_registry()["corpus_clean_2min"]
    job.ledger_table = table
    try:
        with pytest.raises(TimeoutError):
            job.run_once(spark, sf_dir, timeout_s=0.01)
        rows = spark.sql(f"SELECT status, error FROM {table}").collect()
        assert [r["status"] for r in rows] == ["error"]
        assert "TimeoutError" in rows[0]["error"]
        assert not [
            q for q in spark.streams.active
            if q.name.startswith("job_corpus_clean_2min_")
        ]
    finally:
        reset_ledger(spark, table)


def test_run_once_counts_landed_rows_without_sleeping(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A run's counts are the query's own progress, complete when the
    query stops: with time.sleep made to raise in the job and runner
    modules, run_once still reports every landed row."""
    import time
    import types

    from etl_dagster_service_crawler_spark.streaming import ingest, jobs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = str(tmp_path / "nosleep_src")
    _stage_file(docs.where(F.col("doc_id") < 250), src, "day1")
    job = ScheduledPipeline(
        name="nosleep",
        build=lambda s, d: corpus_clean_transform(
            s.readStream.schema(DOCUMENTS_SCHEMA).parquet(d)
        ),
        output_mode="complete",
        state_partitions=4,
    )

    def no_sleep(_s):
        raise AssertionError("a run must not sleep")

    # a module-local stand-in: patching time.sleep itself would also
    # hit py4j's own threads
    no_sleep_time = types.SimpleNamespace(
        time=time.time, monotonic=time.monotonic, sleep=no_sleep
    )
    monkeypatch.setattr(jobs, "time", no_sleep_time)
    monkeypatch.setattr(ingest, "time", no_sleep_time, raising=False)
    status = job.run_once(spark, src, timeout_s=120)
    assert status.ok and status.n_batches == 1
    assert status.n_rows == 250
