"""Skew hardening of the LSH label-propagation dedup path.

The 100 TB failure mode: a near-constant corpus (boilerplate pages) puts
a large fraction of all docs into ONE band bucket, and the bucket->label
join funnels that key through a single task. Salting must bound the
per-key fan-in WITHOUT changing any result.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.operators import dedup, similarity
from etl_dagster_service_crawler_spark.operators.dedup import (
    minhash_assign_representatives,
    minhash_cluster_cc,
)
from etl_dagster_service_crawler_spark.operators.joins import salt_hot_keys
from tests.conftest import force_cc_loop


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _skewed_corpus(spark, n=1000, hot_every=5):
    """20% of docs are byte-identical (one mega bucket in every band),
    the rest are unique word soup."""
    rng = random.Random(7)
    words = [f"w{i}" for i in range(60)]
    hot_text = "boilerplate terms of service page " + " ".join(words[:20])
    rows = []
    for i in range(n):
        if i % hot_every == 0:
            rows.append((i, hot_text))
        else:
            rows.append((i, " ".join(rng.sample(words, 12)) + f" unique{i}"))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_salting_bounds_hot_bucket_task_input(spark):
    """Max member rows per (bh, salt) join key — one task's input for
    the hot key — must drop from the full bucket size to ~bucket/salts."""
    n_salts = 8
    edges = spark.createDataFrame(
        [(i, 777) for i in range(200)]  # one mega bucket: 200 members
        + [(1000 + i, i) for i in range(100)],  # 100 singleton buckets
        "doc_id bigint, bh bigint",
    )
    hot = spark.createDataFrame([(777, True)], "bh bigint, is_hot boolean")
    salted = salt_hot_keys(edges, hot, "bh", n_salts, spread_col="doc_id")
    per_key = salted.groupBy("bh", "salt").count()
    hot_max = (
        per_key.where(F.col("bh") == 777).agg(F.max("count")).first()[0]
    )
    # xxhash spread over 8 salts: expect ~25, assert a generous bound
    # far below the unsalted 200
    assert hot_max <= 200 // n_salts * 3
    assert per_key.where(F.col("bh") == 777).count() == n_salts
    # cold buckets: untouched, salt 0
    assert salted.where((F.col("bh") != 777) & (F.col("salt") != 0)).count() == 0


def test_cc_labels_identical_with_salting_active(spark, monkeypatch):
    """Connected-components output of the label-propagation loop is
    bit-identical whether the mega bucket is salted (threshold below
    its size) or not (threshold above) — salting is pure execution
    strategy."""
    df = _skewed_corpus(spark)
    force_cc_loop(monkeypatch)
    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 10**9)
    plain = [
        tuple(r)
        for r in minhash_cluster_cc(df, "doc_id", "text").orderBy("doc_id").collect()
    ]
    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 50)
    monkeypatch.setattr(dedup, "N_SALTS", 8)
    salted_df = minhash_cluster_cc(df, "doc_id", "text").orderBy("doc_id")
    salted = [tuple(r) for r in salted_df.collect()]
    assert plain == salted
    # the mega cluster exists and is labeled by its min id (0)
    hot_rows = [tuple(r) for r in salted_df.where(F.col("label") == 0).collect()]
    assert len(hot_rows) == 200


def test_assign_labels_identical_with_salting_active(spark, monkeypatch):
    df = _skewed_corpus(spark)
    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 10**9)
    plain = minhash_assign_representatives(df, "doc_id", "text").orderBy("doc_id")
    plain = [tuple(r) for r in plain.collect()]
    monkeypatch.setattr(dedup, "HOT_BUCKET_ROWS", 50)
    monkeypatch.setattr(dedup, "N_SALTS", 8)
    salted = minhash_assign_representatives(df, "doc_id", "text").orderBy("doc_id")
    assert plain == [tuple(r) for r in salted.collect()]


def test_knn_cells_identical_with_salting_active(spark, monkeypatch):
    """A hot IVF cell (many co-located vectors) must produce the SAME
    top-k under forced salting, with the hot cell's members spread over
    the salt sub-keys."""
    import random as _r

    from etl_dagster_service_crawler_spark.operators.similarity import (
        knn_join_cells,
    )

    rng = _r.Random(11)
    rows = []
    # 60 vectors clustered near one direction (one hot cell) + 40 spread
    for i in range(60):
        rows.append((i, [1.0 + rng.gauss(0, 0.01) for _ in range(8)]))
    for i in range(60, 100):
        rows.append((i, [rng.gauss(0, 1.0) for _ in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    monkeypatch.setattr(similarity, "HOT_CELL_ROWS", 10**9)
    plain = knn_join_cells(emb, k=3, n_centroids=4, nprobe=2)
    a = {(r["qid"], r["rn"]): r["nid"] for r in plain.collect()}
    monkeypatch.setattr(similarity, "HOT_CELL_ROWS", 20)
    monkeypatch.setattr(similarity, "N_CELL_SALTS", 4)
    salted = knn_join_cells(emb, k=3, n_centroids=4, nprobe=2)
    assert "salt" in _plan(salted)
    b = {(r["qid"], r["rn"]): r["nid"] for r in salted.collect()}
    assert a == b
