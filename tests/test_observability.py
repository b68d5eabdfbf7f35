"""Tests for observe-based telemetry and the stream runner's error
budget (reference K4/Q1/O2)."""

from __future__ import annotations

from pyspark.sql import Row

from etl_dagster_service_crawler_spark.io.observability import observe_quality


def _frame(spark):
    return spark.createDataFrame(
        [
            Row(a="x", b="y"),
            Row(a="", b="y"),
            Row(a="", b=""),
        ]
    )


def test_batch_observation_counts_empty_fields(spark):
    df, obs = observe_quality(_frame(spark), ["a", "b"])
    assert df.count() == 3
    got = obs.get
    assert got["n_rows"] == 3
    assert got["n_empty_fields"] == 3


def test_run_stream_budget_stops_processing_time_job(spark, tmp_path):
    """The runner's error budget: a processingTime job whose budget is
    one observed row stops after its first batch, although min_batches
    and three one-file triggers would keep it running."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_dagster_service_crawler_spark.streaming.jobs import (
        ScheduledPipeline,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    for day in range(3):
        pq.write_table(
            pa.table({"event_id": [3 * day, 3 * day + 1],
                      "event_type": ["view", ""]}),
            src / f"day{day}.parquet",
        )
    job = ScheduledPipeline(
        name="budgetjob",
        build=lambda s, d: s.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d),
        interval="1 second",
        observe_cols=["event_type"],
        max_errors=1,
        metric_field="n_rows",
    )
    status = job.run_scheduled(spark, str(src), min_batches=100, timeout_s=120)
    assert status.budget_tripped and not status.ok
    assert status.n_batches == 1
    assert status.n_rows == 2 and status.n_bad == 2
    assert not [q for q in spark.streams.active if q.name.startswith("job_budgetjob_")]
    assert status.result.count() == 2


def test_frame_fingerprint_normalizes_representations():
    """The local verifier's value hash must be identical for list vs
    ndarray cells (Arrow vs non-Arrow toPandas), row order, and column
    order — and must distinguish genuinely different values."""
    import numpy as np
    import pandas as pd

    import tools.verify_local as vl

    a = pd.DataFrame({"x": [1, 2], "arr": [[1, 2], [3, 4]]})
    b = pd.DataFrame(
        {"arr": [np.array([3, 4]), np.array([1, 2])], "x": [2, 1]}
    )
    na, ca, ha = vl.frame_fingerprint(a)
    nb, cb, hb = vl.frame_fingerprint(b)
    assert (na, ca, ha) == (nb, cb, hb)

    c = pd.DataFrame({"x": [1, 2], "arr": [[1, 2], [3, 5]]})
    assert vl.frame_fingerprint(c)[2] != ha

    # NaN and float round-trip stability
    d = pd.DataFrame({"v": [float("nan"), 0.1 + 0.2]})
    e = pd.DataFrame({"v": [0.1 + 0.2, float("nan")]})
    assert vl.frame_fingerprint(d)[2] == vl.frame_fingerprint(e)[2]
