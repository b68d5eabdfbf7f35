"""Per-row fetch/enrich stage — the production shape of the
reference's detail- and analysis-page fetches (reference test.py:176-178
and 419-421: one HTTP GET per job row, with retry and politeness
delays between requests).

Spark-first realization: an Arrow-batched `mapInPandas` stage — a
narrow map, no shuffle — with the operational behavior the reference
scatters across its crawl loop folded into the operator:

- per-partition rate limiting (reference's sleep-between-pages,
  test.py:155): requests within one partition are spaced at least
  1/rate_limit_per_sec apart. NOTE the limit is per PARTITION — on a
  cluster the politeness budget for the target host is
  rate * running_tasks, so divide the host budget by the stage's
  max concurrency when configuring.
- bounded retry with exponential backoff (reference's try/except
  re-fetch, test.py:129-144): transient failures retry up to
  max_retries; the row is never dropped — it comes back with
  fetch_status='error' so the error budget is enforced downstream
  (observe_quality / the run_stream budget), not by killing the stage.
- swap-point transport: `transport` is any str -> str callable. The
  default is a DETERMINISTIC fake (md5-derived payload — this
  container has no network), which keeps the whole pipeline
  oracle-checkable; a real deployment passes
  `operators/transport.http_transport()` (urllib-backed, classifies
  5xx/timeouts as TransientFetchError and other 4xx as
  PermanentFetchError — tested against a local fixture HTTP server
  in tests/test_transport.py).

The stage appends three columns: payload (string, null on failure),
fetch_status ('ok' | 'error'), n_attempts (int).
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


class TransientFetchError(Exception):
    """Retryable transport failure (timeouts, 5xx, throttling)."""


class PermanentFetchError(Exception):
    """Non-retryable transport failure (4xx, malformed endpoint):
    the row fails IMMEDIATELY — re-fetching a 404 spends the
    politeness budget without any chance of a different answer."""


def fake_transport(url: str) -> str:
    """Deterministic stand-in payload: 'd-' + first 8 hex of md5(url).
    md5 is computed identically by DuckDB, so enrich pipelines built on
    this transport remain fully oracle-checkable."""
    return "d-" + hashlib.md5(url.encode()).hexdigest()[:8]


def flaky_transport(
    fail_first: int, base: Callable[[str], str] = fake_transport
) -> Callable[[str], str]:
    """Test transport: each distinct URL fails its first `fail_first`
    fetches with TransientFetchError, then succeeds."""
    seen: dict[str, int] = {}

    def fetch(url: str) -> str:
        seen[url] = seen.get(url, 0) + 1
        if seen[url] <= fail_first:
            raise TransientFetchError(f"transient #{seen[url]} for {url}")
        return base(url)

    return fetch


ENRICH_FIELDS = [
    T.StructField("payload", T.StringType()),
    T.StructField("fetch_status", T.StringType()),
    T.StructField("n_attempts", T.IntegerType()),
]


def http_enrich(
    df: DataFrame,
    url_col: str,
    transport: Callable[[str], str] | None = None,
    rate_limit_per_sec: float | None = None,
    max_retries: int = 3,
    backoff_s: float = 0.05,
) -> DataFrame:
    """Enrich each row by fetching url_col; appends payload /
    fetch_status / n_attempts. Narrow Arrow-batched map — no shuffle;
    scale out by repartitioning BEFORE this stage (one rate-limit
    domain per partition)."""
    fetch = transport or fake_transport
    out_schema = T.StructType(list(df.schema.fields) + ENRICH_FIELDS)
    min_interval = 1.0 / rate_limit_per_sec if rate_limit_per_sec else 0.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_issue = 0.0  # per-partition politeness clock
        for pdf in batches:
            payloads: list[str | None] = []
            statuses: list[str] = []
            attempts: list[int] = []
            for url in pdf[url_col].astype(str):
                n = 0
                payload: str | None = None
                status = "error"
                while n < max_retries:
                    if min_interval:
                        wait = last_issue + min_interval - time.monotonic()
                        if wait > 0:
                            time.sleep(wait)
                        last_issue = time.monotonic()
                    n += 1
                    try:
                        payload = fetch(url)
                        status = "ok"
                        break
                    except PermanentFetchError:
                        break  # no retry: the answer cannot change
                    except TransientFetchError:
                        if n < max_retries:
                            time.sleep(backoff_s * (2 ** (n - 1)))
                payloads.append(payload)
                statuses.append(status)
                attempts.append(n)
            out = pdf.copy()
            out["payload"] = pd.array(payloads, dtype="string")
            out["fetch_status"] = statuses
            out["n_attempts"] = pd.array(attempts, dtype="int32")
            yield out

    return df.mapInPandas(run, out_schema)
