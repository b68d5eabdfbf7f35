"""Unit tests for the nprobe auto-calibration (operators/similarity.py
calibrate_nprobe / calibration_cached) — the r6 VERDICT's "115
untested lines": clustered corpus -> small nprobe, isotropic corpus ->
large nprobe, cache hit/miss, and tie-break parity between the numpy
estimator and the Spark-side operators it models."""

from __future__ import annotations

import json
import math
import os
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.operators.similarity import (
    CALIBRATION_FILE,
    assign_cells,
    calibrate_nprobe,
    calibration_cached,
    probe_order_and_assignment,
)

DIM = 8


def _unit(vec):
    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


def _clustered(n_clusters=4, per_cluster=50, wobble=0.02, seed=7):
    """Tight clusters around orthogonal axes: every vector's true
    neighbors share its cluster, so probing ONE cell reaches them."""
    rng = random.Random(seed)
    rows, cents = [], []
    for c in range(n_clusters):
        axis = [1.0 if d == c else 0.0 for d in range(DIM)]
        cents.append((c, axis))
        for i in range(per_cluster):
            v = [a + rng.gauss(0.0, wobble) for a in axis]
            rows.append((c * per_cluster + i, _unit(v)))
    return rows, cents


def _isotropic(n=200, dim=32, seed=11):
    """Structureless vectors: recall tracks probed candidate mass, so
    a high recall target needs most of the cells probed. Higher dim
    than the clustered case — in low dimensions even random points
    have exploitable neighbor-cell concentration."""
    rng = random.Random(seed)
    return [
        (i, _unit([rng.gauss(0.0, 1.0) for _ in range(dim)]))
        for i in range(n)
    ]


def _frames(spark, rows, cents):
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    centroids = spark.createDataFrame(cents, "cid int, cvec array<double>")
    return emb, centroids


def test_clustered_corpus_calibrates_to_one_probe(spark):
    rows, cents = _clustered()
    emb, centroids = _frames(spark, rows, cents)
    nprobe, curve = calibrate_nprobe(emb, centroids, target_recall=0.85, k=5)
    assert nprobe == 1, f"clustered corpus should need 1 probe, got {nprobe}"
    assert curve[0][1] >= 0.99  # recall at p=1 is ~1.0 on tight clusters


def test_isotropic_corpus_calibrates_to_most_cells(spark):
    rows = _isotropic(dim=32)
    # centroids deliberately carry no structure either: 8 random units
    rng = random.Random(3)
    cents = [
        (c, _unit([rng.gauss(0.0, 1.0) for _ in range(32)]))
        for c in range(8)
    ]
    emb, centroids = _frames(spark, rows, cents)
    nprobe, curve = calibrate_nprobe(emb, centroids, target_recall=0.85, k=5)
    # recall ~ probed mass on structureless data: reaching 0.85 must
    # cost at least half the cells (the honest near-brute-force case
    # the degeneration warning exists for)
    assert nprobe >= 4, f"isotropic corpus calibrated to only {nprobe} of 8"
    # the curve is monotone non-decreasing and ends at 1.0
    recalls = [r for _, r in curve]
    assert recalls == sorted(recalls)
    assert recalls[-1] == pytest.approx(1.0)


def test_degenerate_tiny_corpus_short_circuits(spark):
    rows, cents = _clustered(n_clusters=2, per_cluster=2)
    emb, centroids = _frames(spark, rows, cents)
    nprobe, curve = calibrate_nprobe(emb, centroids, k=5)  # n <= k
    assert nprobe == 1 and curve == [(1, 1.0)]


def test_calibration_cache_hit_and_param_miss(spark, tmp_path, monkeypatch):
    rows, cents = _clustered()
    emb, centroids = _frames(spark, rows, cents)
    index_dir = str(tmp_path)
    first, _ = calibration_cached(emb, centroids, index_dir, 0.85, 5)
    assert first == 1
    assert os.path.exists(os.path.join(index_dir, CALIBRATION_FILE))

    # a second call with the same (target, k) must be a pure cache read
    import etl_dagster_service_crawler_spark.operators.similarity as sim

    def boom(*a, **k):  # pragma: no cover - failing is the assertion
        raise AssertionError("cache miss: calibrate_nprobe re-ran")

    monkeypatch.setattr(sim, "calibrate_nprobe", boom)
    assert calibration_cached(emb, centroids, index_dir, 0.85, 5)[0] == 1

    # different target/k invalidates the memo and recalibrates
    monkeypatch.setattr(sim, "calibrate_nprobe", lambda *a, **k: (3, [(3, 1.0)]))
    assert calibration_cached(emb, centroids, index_dir, 0.99, 5)[0] == 3
    rec = json.load(open(os.path.join(index_dir, CALIBRATION_FILE)))
    assert rec["target_recall"] == 0.99 and rec["nprobe"] == 3


def test_tie_breaks_match_spark_operators(spark):
    """The estimator's numpy tie-breaks must equal the Spark operators
    they model, or calibration silently drifts from the plan it tunes:
    - assignment: argmax-first == assign_cells' max_by(ccos, -cid)
    - probe order: stable argsort == the Window orderBy(qcos desc, cid)
      of knn_join_cells / ivf_search.
    Vectors sit exactly on centroid bisectors, so every comparison is
    an exact tie."""
    import numpy as np

    cents = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    s = 1.0 / math.sqrt(2.0)
    rows = [
        (0, [s, s, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # tie cid0/cid1
        (1, [0.0, s, s, 0.0, 0.0, 0.0, 0.0, 0.0]),  # tie cid1/cid2
        (2, [s, 0.0, s, 0.0, 0.0, 0.0, 0.0, 0.0]),  # tie cid0/cid2
    ]
    emb, centroids = _frames(spark, rows, cents)

    V = np.array([v for _, v in rows])
    C = np.array([c for _, c in cents])
    S = V @ C.T  # all unit vectors: dot == cosine
    order, db_cell = probe_order_and_assignment(S)

    spark_assign = {
        r["vec_id"]: r["cid"] for r in assign_cells(emb, centroids).collect()
    }
    assert spark_assign == {i: int(db_cell[i]) for i in range(len(rows))}
    # ties broke to the smaller cid on both sides
    assert spark_assign == {0: 0, 1: 1, 2: 0}

    # probe order: replicate the knn_join_cells / ivf_search window
    from etl_dagster_service_crawler_spark.functions.vectors import cosine

    wq = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("cid"))
    ranked = (
        emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .join(F.broadcast(centroids))
        .select("qid", "cid", cosine(F.col("qvec"), F.col("cvec")).alias("qcos"))
        .withColumn("rn", F.row_number().over(wq))
        .collect()
    )
    spark_order: dict[int, list[int]] = {}
    for r in sorted(ranked, key=lambda r: (r["qid"], r["rn"])):
        spark_order.setdefault(r["qid"], []).append(r["cid"])
    assert spark_order == {
        i: [int(c) for c in order[i]] for i in range(len(rows))
    }
