from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_dagster_service_crawler_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pytest", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def scratch_root(tmp_path, monkeypatch):
    """Point the temp root that every engine dir sits under
    (`tempfile.gettempdir()`, read by io.tables.scratch_dir) at
    tmp_path for one test."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def force_cc_loop(monkeypatch) -> None:
    """Send connected components down the distributed label-propagation
    loop: a per-row cost past any driver result limit sizes the star
    residual's collect bound to 0 rows, so any star edge overflows it."""
    from etl_dagster_service_crawler_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_STAR_ROW_BYTES", 1 << 62)


def reset_ledger(spark, table: str = "run_history") -> None:
    """Drop a ledger table AND its managed warehouse directory. With a
    fresh derby catalog (every pytest session), DROP TABLE alone is a
    no-op while the previous session's files persist under
    spark-warehouse/ — recover_warehouse_table would then resurrect
    those rows into this session (stale-warehouse pollution; the
    restart-survival behavior itself is the point of
    recover_warehouse_table and is tested explicitly)."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("file", ""):
        path = wh.path if wh.scheme == "file" else wh.netloc + wh.path
        if path:
            shutil.rmtree(os.path.join(path, table.lower()), ignore_errors=True)
