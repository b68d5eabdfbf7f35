"""Stateful streaming operators.

- dedup_within_watermark: exactly-once record identity across
  micro-batches (reference Q2: the old_scrolls already-seen skip,
  test.py:155,162-165) — state is bounded by the watermark horizon.
- error_budget_counter: the reference's per-keyword max_errors=3 abort
  (test.py:129-144) as a running per-key stateful counter via
  applyInPandasWithState: emits one row per key whose error count
  crossed the budget, with the count at crossing. It is the engine's
  only error-budget counter (stream_stateful_error_budget runs it).

State scale: both operators key their state (event_id hash range /
user_id), so state shards across executors with the shuffle; the
watermark bounds dedup state, the key cardinality bounds the budget
counter.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_within_watermark(
    events: DataFrame, keys: list[str], late: str = "30 minutes"
) -> DataFrame:
    """Drop duplicate rows by key among rows within the watermark delay."""
    return events.withWatermark("ts", late).dropDuplicatesWithinWatermark(keys)


BUDGET_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_errors", T.LongType()),
    ]
)
BUDGET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("count", T.LongType()),
        T.StructField("tripped", T.BooleanType()),
    ]
)


def error_budget_counter(events: DataFrame, max_errors: int = 3) -> DataFrame:
    """Emit (user_id, n_errors) the first time a user's 'error' events
    cross max_errors — the streaming form of the reference's abort."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        count, tripped = state.get if state.exists else (0, False)
        for pdf in pdfs:
            count += int((pdf["event_type"] == "error").sum())
        newly_tripped = not tripped and count >= max_errors
        state.update((count, tripped or newly_tripped))
        if newly_tripped:
            yield pd.DataFrame({"user_id": [key[0]], "n_errors": [count]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            BUDGET_OUTPUT_SCHEMA,
            BUDGET_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
