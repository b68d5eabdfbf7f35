"""Run telemetry + error-budget abort (reference K4/Q1/O2).

The reference logs each step to file+console (test.py:16-32), counts
bad rows per keyword (>6 empty fields, test.py:548-549), and aborts a
keyword after max_errors=3 (test.py:129-144). Spark-first:

- batch:  df.observe(Observation, ...) — metrics computed inside the
  job (no second pass over the data) and read on the driver after the
  action. The quality gauge is the reference's empty-field count.
- stream: df.observe(name, ...) puts each micro-batch's metrics in
  that batch's StreamingQueryProgress.observedMetrics[name]; the
  stream runner (streaming.ingest.run_stream) folds the query's
  recentProgress by batchId and stops the query when the cumulative
  bad-row count crosses the budget — the reference's abort, applied
  to a streaming pipeline.

At 100 TB this is the only sane shape: metrics ride the existing
aggregation tree (map-side partials), never a separate count() job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def empty_field_count(cols: list[str]):
    """Q1 gauge: total empty-string fields across cols (one expression,
    rides whole-stage codegen)."""
    terms = [F.sum(F.when(F.col(c) == "", 1).otherwise(0)) for c in cols]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def observe_quality(
    df: DataFrame, empty_cols: list[str], name: str = "quality"
) -> tuple[DataFrame, Observation]:
    """Attach row-count + empty-field metrics to a batch frame. Read
    obs.get AFTER an action; no extra pass over the data."""
    obs = Observation(name)
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            empty_field_count(empty_cols).alias("n_empty_fields"),
        ),
        obs,
    )


def observe_stream_quality(
    df: DataFrame, empty_cols: list[str], name: str = "quality"
) -> DataFrame:
    """Streaming variant: named observe; metrics arrive per micro-batch
    in the query's progress, observedMetrics[name]."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        empty_field_count(empty_cols).alias("n_empty_fields"),
    )
