"""Similarity search over embedding columns.

- cosine_topk_bruteforce: exact top-k for a SMALL query set. The query
  side is broadcast; the corpus streams once per partition. Fine when
  |queries| is bounded (interactive search); the full-corpus-vs-itself
  case must use the bucketed variants below.
- ivf_build / ivf_search: IVF approximate top-k — corpus vectors are
  assigned to the nearest of C k-means centroids once and written in a
  bucketed layout (pmod(cid, <=128) partition dirs, cid-sorted files);
  each search ranks the cells per query (probe_cells, the one probe
  rank) and statically prunes to the nprobe probed cells' partitions
  and row groups. Candidate set shrinks by ~C/nprobe.
- knn_join_cells: the same cells as a batch self-join (every row a
  query). The coarse-then-exact searches (quantized, PQ) share one
  exact re-rank of their survivors (exact_rerank_topk); all of them
  rank through one exact cosine top-k (_cosine_topk).
- embedding near-dup pairs ride the same bucketing (same-bucket
  equi-join) — see workloads/llm.py.

Float vector math is expression-based (functions/vectors.py). The
int8 family runs as Arrow-batched numpy kernels instead: one quantizer
(_quantize_batch) feeds the quantized coarse passes, the PQ encode and
the ADC gather, because there the per-element fold is the whole cost.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.functions.vectors import cosine, dot, norm2
from etl_dagster_service_crawler_spark.io.tables import _source_fingerprint, scratch_dir
from etl_dagster_service_crawler_spark.operators.block_pairs import block_pair_fan
from etl_dagster_service_crawler_spark.operators.joins import hot_keys, salt_hot_keys

_log = logging.getLogger("spark_graft.similarity")


def cosine_topk_bruteforce(
    emb: DataFrame, query_ids: list[int], k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query id.
    Deterministic ties: (cos desc, neighbor id asc)."""
    q = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cand = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nvec"))
    scored = (
        cand.join(F.broadcast(q), F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "nid", "cos", "rn")
    )


def exact_rerank_topk(
    survivors: DataFrame, emb: DataFrame, k: int,
    query_ids: list[int] | None = None,
) -> DataFrame:
    """The one exact re-rank of coarse survivors: (qid, nid) rows ->
    the top-k (qid, nid, cos, rn) per qid by (cos desc, nid), cos the
    full-precision cosine of the two emb vectors (_cosine_topk, norms
    once per emb row). A bounded query_ids list is broadcast as the
    query side; None makes every emb row a query (the batch
    self-joins)."""
    v = emb.select("vec_id", "embedding", F.sqrt(norm2(F.col("embedding"))))
    nv = v.toDF("nid", "nvec", "nnrm")
    qv = v.toDF("qid", "qvec", "qnrm")
    if query_ids is not None:
        qv = F.broadcast(qv.where(F.col("qid").isin(query_ids)))
    return _cosine_topk(survivors.join(nv, "nid").join(qv, "qid"), k)


def _cosine_topk(cand: DataFrame, k: int) -> DataFrame:
    """The one exact cosine top-k of candidate rows that carry their
    vectors and norms: (qid, nid, qvec, qnrm, nvec, nnrm) -> the top-k
    (qid, nid, cos, rn) per qid by (cos desc, nid). cos = dot / (qnrm *
    nnrm) pays one dot fold per pair: the same IEEE ops as cosine(),
    bit-identical."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        cand.select(
            "qid",
            "nid",
            (dot(F.col("qvec"), F.col("nvec"))
             / (F.col("qnrm") * F.col("nnrm"))).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "nid", "cos", "rn")
    )


def quantized_rerank_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    r_candidates: int = 64,
) -> DataFrame:
    """Quantized coarse scan + exact re-rank: the ANN shape for the
    corpora where IVF degenerates (docs/SCALE.md "Isotropic-corpus ANN
    envelope" — on structureless vectors no partition-pruning index
    beats a scan, so make the scan CHEAP instead of pretending to
    prune).

    Two passes per query:
    1. coarse — int8-quantized cosine (q = floor(x·127/max|x| + 0.5),
       the embedding_quantize formula) over the whole corpus; keep
       the top r_candidates per query by (coarse desc, id). The query
       rows are quantized and collected (|query_ids| rows), then one
       mapInArrow pass quantizes each corpus batch and scores it with
       one matmul against them (_make_coarse_scores_kernel) — sound
       for a bounded query set; past O(100) queries use
       knn_join_quantized's block-pair fan (same coarse math). At scale
       the int8 sidecar is materialized once next to the corpus and
       this pass reads 1/8th the bytes of a float64 scan — memory
       bandwidth, not arithmetic, is what a 100 TB coarse pass pays
       for. Integer dots are EXACT, so the coarse ordering is
       deterministic and engine-independent (no float-summation
       drift); the only float ops are one sqrt and one divide on
       exactly-representable integers.
    2. exact — full-precision cosine on the R survivors only, top-k
       by (cos desc, id) (exact_rerank_topk).

    Unlike the IVF operators this is fully DuckDB-oracle-checkable:
    recall is a DETERMINISTIC function of the quantization, not of a
    trained index. Exactness property: with r_candidates >= corpus
    size the result equals cosine_topk_bruteforce row-for-row
    (pinned by test). Returns (qid, nid, cos, rn).
    """
    qrows = quantize_rows(emb.where(F.col("vec_id").isin(query_ids))).collect()
    # a NULL id never passes the pairs' nid != qid test
    coarse = emb.where(F.col("vec_id").isNotNull()).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    ).mapInArrow(
        _make_coarse_scores_kernel(qrows), "qid bigint, nid bigint, coarse double"
    )
    wc = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("nid"))
    survivors = (
        coarse.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= r_candidates)
        .select("qid", "nid")
    )
    return exact_rerank_topk(survivors, emb, k, query_ids)


def _make_coarse_scores_kernel(qrows):
    """mapInArrow kernel for quantized_rerank_topk's coarse pass:
    (id, emb) -> (qid, nid, coarse) for every collected query row
    (id, q8, n8) against every corpus row, self excluded. Each batch
    is quantized by _quantize_batch and scored with _int8_cosines, the
    _block_cosines math: -2.0 where either norm is zero or NULL (NULL
    embedding or NULL element). A pair of different lengths has no
    integer dot (the zip_with NULL pad) and scores NULL unless the
    -2.0 sentinel applies first."""
    import numpy as np

    qids = np.array([r["id"] for r in qrows], dtype=np.int64)
    qn8 = np.array(
        [np.nan if r["n8"] is None else r["n8"] for r in qrows], dtype=np.float64
    )
    qlen = np.array([-1 if r["q8"] is None else len(r["q8"]) for r in qrows])
    # one query matrix per vector length; NULL elements only occur in
    # rows whose NULL n8 already forces -2.0, so they read as 0 here
    qmats = {}
    for n in set(qlen.tolist()) - {-1}:
        vecs = [
            [0 if x is None else x for x in r["q8"]]
            for r in qrows if r["q8"] is not None and len(r["q8"]) == n
        ]
        qmats[n] = np.array(vecs, dtype=np.float64).reshape(len(vecs), n)

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            ids = b.column("id").cast(pa.int64()).to_numpy()
            q8, n8 = _quantize_batch(b.column("emb"))
            offs = q8.offsets.to_numpy()
            lens = np.diff(offs)
            flat = q8.values.fill_null(0).to_numpy().astype(np.float64)
            dots = np.full((len(ids), len(qids)), np.nan)
            for n, qmat in qmats.items():
                rows = np.nonzero(lens == n)[0]
                cols = np.nonzero(qlen == n)[0]
                mat = flat[offs[rows][:, None] + np.arange(n)]
                dots[np.ix_(rows, cols)] = mat @ qmat.T
            c = _int8_cosines(
                dots, n8.to_numpy(zero_copy_only=False), qn8
            ).T.reshape(-1)
            qcol = np.repeat(qids, len(ids))
            ncol = np.tile(ids, len(qids))
            keep = ncol != qcol
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol[keep]),
                    pa.array(ncol[keep]),
                    pa.array(c[keep], mask=np.isnan(c[keep])),
                ],
                names=["qid", "nid", "coarse"],
            )

    return kernel


def srp_planes(
    dim: int = 64, n_tables: int = 4, bits_per_table: int = 8,
    seed: int = 42,
) -> list[tuple[int, int, list[float]]]:
    """The SRP hyperplane set as plain data: (tbl, bit, plane) rows,
    table-major RNG consumption. Factored out of srp_neardup_pairs so
    the oracle-backed bucket export (workloads/llm.py) provably hashes
    with the PRODUCTION planes — the export's SQL inlines these exact
    doubles (repr round-trips, DuckDB literal parse is exact)."""
    import random as _random

    rng = _random.Random(seed)
    return [
        (t, b, [rng.gauss(0.0, 1.0) for _ in range(dim)])
        for t in range(n_tables)
        for b in range(bits_per_table)
    ]


def probe_cells(
    queries: DataFrame, centroids: DataFrame, nprobe: int,
) -> DataFrame:
    """Per-query probe ranking — the ONE definition of IVF probe order
    (qcos desc, ties to smallest cid): every column of `queries` (at
    least qid, qvec) plus (qnrm, cid, qcos, rn), rn <= nprobe. qnrm is
    the query norm, kept for the caller's own pair cosines. Shared by
    knn_join_cells, ivf_pq_search and the oracle-backed probe exports;
    ivf_search collects its (qid, cid) rows once and consumes those.
    Mirrored exactly by calibrate_nprobe's numpy kernel
    (probe_order_and_assignment). The join and the projection
    keep the queries' partitioning, so a caller that hash-partitions
    queries by qid gets the window with no Exchange over the fanned
    |queries| x C frame.

    r14: both norms are computed once per row/centroid instead of once
    per (query, centroid) pair inside cosine(). Same factored IEEE ops
    in the same order — qcos is bit-identical."""
    wq = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("cid"))
    cents = centroids.withColumn("__cnrm", F.sqrt(norm2(F.col("cvec"))))
    q = queries.withColumn("qnrm", F.sqrt(norm2(F.col("qvec"))))
    return (
        q.join(F.broadcast(cents))
        .select(
            *q.columns, "cid",
            (dot(F.col("qvec"), F.col("cvec"))
             / (F.col("qnrm") * F.col("__cnrm"))).alias("qcos"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
    )


def srp_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_tables: int = 4,
    bits_per_table: int = 8,
) -> DataFrame:
    """All-pairs embedding near-dup via signed-random-projection LSH —
    the scale path for cosine near-dup (the exact adjacent-pair twin is
    oracle-checked in workloads/llm.py).

    Each of n_tables buckets is the sign pattern of bits_per_table
    random-hyperplane projections (P[bit match] = 1 - angle/pi, so 4
    tables x 8 bits gives ~0.9 recall at cos 0.95). Candidates come
    from an equi-join on (table, bucket) — never a crossJoin — and are
    verified with the exact cosine.

    Same shuffle discipline as minhash_dedup_pairs/simhash_near_pairs
    (operators/dedup.py): each bucket row carries the doc's FULL bucket
    array plus its vector and norm, the join condition requires that NO
    earlier table also collided ("first matching table"), and the
    cosine verify is computed INLINE in the join projection. So the
    output is exactly the distinct qualifying pair set with

    - no `.distinct()` on the candidate set (the old formulation paid
      an O(candidates) aggregation exchange there — on a dup-heavy
      corpus the largest shuffle in the query), and
    - no join-back to fetch vectors (two more candidate-sized shuffles
      eliminated).

    Exchanges: one corpus-sized groupBy(id) to fold the plane signs
    into the bucket array, plus the two sides of the bucket self-join
    — all O(corpus · n_tables), independent of candidate count. Cost
    of carrying the vector: bucket shuffle rows are ~n_tables · dim · 8
    bytes per doc — the right side of the tradeoff whenever dup density
    is non-trivial (the reason one runs near-dup at all). Pinned by
    tests/test_plans.py (no Exchange/HashAggregate above the self-join)."""
    spark = emb.sparkSession
    # hyperplanes as a broadcast 32-row TABLE, not inline literals — a
    # lit()-array per plane would put ~n_tables*bits*dim nodes into the
    # expression tree and stall the analyzer/codegen.
    planes = spark.createDataFrame(
        srp_planes(dim, n_tables, bits_per_table),
        "tbl int, bit int, plane array<double>",
    )

    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    base = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.sqrt(norm2(F.col("embedding"))).alias("nrm"),
    )
    if base.rdd.getNumPartitions() < max(2, n_parts // 2):
        # single-row-group sources scan as one task; the HOF folds
        # below are CPU-bound, so fan out first
        base = base.repartition(n_parts, "vec_id")
    proj = base.join(F.broadcast(planes)).select(
        "vec_id",
        "embedding",
        "nrm",
        "tbl",
        "bit",
        (dot(F.col("embedding"), F.col("plane")) > 0).cast("bigint").alias("sign"),
    )
    # ONE groupBy(id) folds all n_tables bucket values into an array —
    # the per-(id, tbl) formulation needed a second exchange to gather
    # the array. first(vec/nrm) is deterministic: every fanned plane
    # row of an id carries the same vector.
    sig = proj.groupBy("vec_id").agg(
        F.first("embedding").alias("embedding"),
        F.first("nrm").alias("nrm"),
        F.array(
            *[
                F.sum(
                    F.when(
                        F.col("tbl") == t,
                        F.col("sign") * F.pow(F.lit(2.0), F.col("bit")).cast("bigint"),
                    ).otherwise(F.lit(0).cast("bigint"))
                )
                for t in range(n_tables)
            ]
        ).alias("bkts"),
    ).localCheckpoint(eager=True)
    # Eager: lazily materialized, the self-join's two sides would race
    # to fill it on first action and each compute the signature
    # subtree. localCheckpoint (r15) rather than persist+count: one
    # materialization job instead of two, and no CacheManager entry
    # leaks across invocations (the persist here was never released).
    buckets = sig.select(
        "vec_id", "embedding", "nrm", "bkts", F.posexplode("bkts").alias("tbl", "bkt")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    # "first matching table": no table before this one also collided —
    # makes each pair's emission unique without a distinct.
    #
    # r14 NEGATIVE RESULT, kept on purpose (the minhash_dedup_pairs
    # finding): statically expanding this HOF and unrolling the verify
    # dot into element_at multiply-adds measured 2.38 s vs 1.60 s at
    # sf0.1 — the cosine filter below is pushed into the join
    # condition by the optimizer, and with the CodegenFallback gone
    # the condition (64-term dot + the expansion) code-generates past
    # the JIT's method limit, so the per-candidate hot loop runs in
    # the bytecode interpreter.
    # The HOF forms keep the condition on Catalyst's cached
    # interpreted evaluators, which JIT fine.
    earlier_collision = F.exists(
        F.zip_with(
            F.slice(F.col("a.bkts"), 1, F.col("a.tbl")),
            F.slice(F.col("b.bkts"), 1, F.col("b.tbl")),
            lambda x, y: x == y,
        ),
        lambda t: t,
    )
    # norms precomputed in base: one fold per pair, not three
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & ~earlier_collision,
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def ivf_index_dir(sf_dir: str, n_centroids: int = 16) -> str:
    """Where the persisted IVF index of one corpus lives:
    `scratch_dir(sf_dir, "ivf", ...)`, keyed by the cell count, the
    index layout version and the embeddings table's file fingerprint
    (`_source_fingerprint`: every part file's path, size and mtime).
    Fixture directories get regenerated between runs, and an index
    keyed by path alone would silently serve assignments for data that
    no longer exists. v4 = the pb-bucketed assignment layout with its
    _NDIRS marker (see ivf_index_n_dirs) under this key; bumping it
    makes every older index miss, so readers never touch a marker-less
    tree. `TMPDIR` moves the index with every other engine dir; the
    build cost is benched either way via sink_ivf_index, which
    force-rebuilds into this location every invocation."""
    fp = _source_fingerprint(sf_dir, "embeddings")
    return scratch_dir(sf_dir, "ivf", f"c{n_centroids}_v4_{fp}")


KMEANS_TRAIN_CAP = 100_000

# bounded driver-side sample for nprobe auto-calibration: 2048 vectors
# x 64 dims is ~0.5 MB — planning-time metadata, independent of corpus
# size (the same contract as the collected probe-cid list in ivf_search)
CALIBRATION_SAMPLE = 2048
CALIBRATION_FILE = "nprobe_calibration.json"


def calibrate_nprobe(
    emb: DataFrame,
    centroids: DataFrame,
    target_recall: float = 0.85,
    k: int = 5,
) -> tuple[int, list[tuple[int, float]]]:
    """Pick the smallest nprobe whose estimated recall@k reaches
    target_recall — the FAISS-autotune move, as bounded driver-side
    planning work. Returns (nprobe, curve) with the full
    recall-vs-nprobe curve for publication.

    Why a knob-by-measurement instead of a fixed c/8 heuristic: recall
    at fixed nprobe is a property of the CORPUS, not the index — on a
    clustered corpus (near-dup-heavy crawl data) a handful of probes
    reaches ~1.0, while on isotropic vectors recall tracks probed
    candidate mass almost exactly (measured: recall ~= candidate
    fraction on the sf0.1 fixture — there is no free structure to
    exploit, a known property of random high-dim data). A fixed
    heuristic silently under-delivers on the hard corpus and
    over-spends on the easy one; calibration detects which corpus it
    is holding.

    Method: a deterministic hash-spread sample of <= ~CALIBRATION_SAMPLE
    vectors
    (same xxhash64-modulus idiom as the k-means train cap, so replica
    copies and appended shards are represented, never just the head
    row group), exact top-k WITHIN the sample, each neighbor's cell
    rank in the query's probe order -> recall(p) = fraction of true
    neighbors whose cell sits within the first p probes. Within-sample
    recall approximates full-corpus recall at the same probe count
    because cell-coincidence of true neighbor pairs is distribution-
    level structure, not sample-size structure. O(m^2) numpy at
    m <= ~CALIBRATION_SAMPLE; no Spark job beyond two bounded collects."""
    import numpy as np

    cents = sorted(
        centroids.select("cid", "cvec").collect(), key=lambda r: r["cid"]
    )
    C = np.array([r["cvec"] for r in cents], dtype=np.float64)
    n_cent = len(cents)
    n = emb.select("vec_id").count()
    sample = emb
    if n > CALIBRATION_SAMPLE:
        m = -(-n // CALIBRATION_SAMPLE)  # ceil
        # filter BEFORE projecting vec_id away: filtering a projected
        # frame on the dropped column leans on the analyzer's
        # missing-reference resolution — it resolves, but fragilely
        sample = sample.where(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(m)) == 0)
    V = np.array(
        [r[0] for r in sample.select("embedding").collect()], dtype=np.float64
    )
    if len(V) <= k:  # degenerate corpus: everything fits in one probe
        return 1, [(1, 1.0)]
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    S = Vn @ Cn.T  # m x C cosine affinities (cids ascending by column)
    order, db_cell = probe_order_and_assignment(S)
    sims = Vn @ Vn.T
    np.fill_diagonal(sims, -2.0)
    kk = min(k, len(V) - 1)
    truth = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
    # pos[i, j] = rank of cell j in query i's probe order
    pos = np.empty_like(order)
    rows = np.arange(len(V))[:, None]
    pos[rows, order] = np.arange(n_cent)[None, :]
    ranks = pos[rows, db_cell[truth]]  # m x kk
    curve = [(p, float((ranks < p).mean())) for p in range(1, n_cent + 1)]
    nprobe = next((p for p, r in curve if r >= target_recall), n_cent)
    if nprobe * 4 > n_cent:
        # the IVF sizing rationale (candidate volume ~ nprobe/C of the
        # all-pairs volume) collapses when the calibrated probe count
        # approaches the cell count: on a structureless (isotropic)
        # corpus recall tracks probed mass, so hitting the target means
        # probing most cells — an honest near-brute-force plan, but one
        # that must be VISIBLE, not silent (docs/SCALE.md "isotropic
        # ANN envelope"). The recall contract still wins: we warn, we
        # do not cap.
        _log.warning(
            "calibrated nprobe %d of %d cells (%.0f%% probed) — recall "
            "target %.2f is degenerating this IVF index toward brute "
            "force; the corpus has little cluster structure. Consider "
            "exact similarity_topk or a coarse-quantizer re-rank "
            "design (docs/SCALE.md).",
            nprobe, n_cent, 100.0 * nprobe / n_cent, target_recall,
        )
    return nprobe, curve


def probe_order_and_assignment(S) -> tuple:
    """Pure tie-break kernel of the calibration estimator, factored out
    so tests can pin its parity with the Spark-side operators:

    - probe order: qcos desc, tie -> smallest cid. Matches
      probe_cells' Window orderBy(qcos desc, cid);
      stable argsort on -S keeps ascending cid within ties.
    - db assignment: argmax cosine, tie -> smallest cid. Matches
      assign_cells' max_by(ccos, struct(ccos, -cid)); np.argmax takes
      the FIRST maximum, i.e. the smallest column index == smallest cid.

    S is the m x C affinity matrix with columns ascending by cid.
    Returns (order, db_cell): order[i] is query i's cid probe sequence,
    db_cell[i] is vector i's assigned cid.
    """
    import numpy as np

    order = np.argsort(-S, axis=1, kind="stable")
    db_cell = np.argmax(S, axis=1)
    return order, db_cell


def calibration_cached(
    emb: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    target_recall: float = 0.85,
    k: int = 5,
) -> tuple[int, list[tuple[int, float]]]:
    """calibrate_nprobe, memoized in the persisted index dir (atomic
    tmp+rename publish, same discipline as ivf_build): repeated query
    batches against one index pay calibration once. The memo is keyed
    by (target_recall, k), the only inputs besides the index itself:
    the sample size and the embeddings columns are fixed. Returns
    (nprobe, curve) — the curve is what route_knn adjudicates on."""
    import json
    import os
    import uuid

    path = os.path.join(index_dir, CALIBRATION_FILE)
    if os.path.exists(path):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("target_recall") == target_recall and rec.get("k") == k:
            return int(rec["nprobe"]), [tuple(p) for p in rec["curve"]]
    nprobe, curve = calibrate_nprobe(emb, centroids, target_recall, k)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(
            {"target_recall": target_recall, "k": k, "nprobe": nprobe, "curve": curve},
            fh,
        )
    os.replace(tmp, path)
    return nprobe, curve


# Above this probed fraction at target recall, the IVF candidate join
# approaches brute force (candidate volume ~ fraction x n^2) while
# still paying index maintenance — the quantized block scan does the
# same work on 1/8th the bytes with no index. 0.25 keeps a real
# pruning margin: at or below it, IVF reads at most a quarter of the
# all-pairs volume.
KNN_ROUTE_MAX_PROBED_FRACTION = 0.25


def route_knn(
    curve: list[tuple[int, float]],
    n_cells: int,
    target_recall: float,
) -> tuple[str, int]:
    """Corpus-adaptive ANN routing (r7 verdict item 1): adjudicate the
    calibration curve. Returns ('ivf'|'quantized', nprobe).

    On a clustered corpus (near-dup-heavy crawl data) recall reaches
    the target within a few probes — IVF prunes for real, keep it. On
    an isotropic corpus recall tracks probed candidate mass, so the
    honest nprobe probes most cells and the 'index' is a slow brute
    force — route to the quantized-rerank block scan instead. Pure
    function of the published curve so tests drive both corpus shapes
    directly."""
    nprobe = next((p for p, r in curve if r >= target_recall), n_cells)
    if nprobe > KNN_ROUTE_MAX_PROBED_FRACTION * n_cells:
        return "quantized", nprobe
    return "ivf", nprobe


def kmeans_centroids(emb: DataFrame, n_centroids: int) -> DataFrame:
    """Real k-means centroids (cosine distance, 5 Lloyd rounds, seed
    42) via MLlib —
    Lloyd iterations run as treeAggregate partial sums per partition,
    so the corpus is scanned, never shuffled; only the C x dim centroid
    matrix moves. Returns (cid int, cvec array<double>).

    Training is capped at max(KMEANS_TRAIN_CAP, 100*k) rows via a
    deterministic hash filter (no rand(): the same corpus always
    trains on the same sample): Lloyd cost is O(n*k*dim*iters), and
    IVF cells only need centroids that track the density — a bounded
    sample does that at any corpus size, which is how an IVF index is
    actually trained at 100 TB. The fixtures (<= the cap) still fit
    whole-corpus, so fixture-scale results are unchanged; the x10
    replica's fit drops 5x rows, the x100 replica's 45x (what
    previously blew a 10-minute budget at 5M vectors)."""
    spark = emb.sparkSession
    cap = max(KMEANS_TRAIN_CAP, 100 * n_centroids)
    n = emb.count()  # one column-pruned scan; the build path is batch
    train = emb
    if n > cap:
        # keep ~cap rows: modulus filter over the id hash — scan-side,
        # order-free, append-stable
        m = -(-n // cap)  # ceil
        train = emb.where(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(m)) == 0)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # persist the converted features: every Lloyd pass (and every
    # init pass) rescans its input otherwise — the scan+convert was
    # most of the fit wall time, not the math. initMode random
    # (still seed-deterministic) skips k-means||'s extra
    # distributed init passes: for IVF cells the refined Lloyd
    # rounds dominate quality, not the init — measured 10.2 s ->
    # ~2 s for identical downstream recall at sf0.1.
    feat = train.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    ).persist()
    try:
        model = KMeans(
            k=n_centroids, maxIter=5, seed=42,
            distanceMeasure="cosine", initMode="random",
        ).fit(feat)
    finally:
        feat.unpersist()
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, "cid int, cvec array<double>")


def assign_cells(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid cell: broadcast
    centroids, argmax cosine per vector — one scan of the corpus.
    Shared by the batch index build (ivf_assign) and the streaming
    index ingest (each micro-batch assigns against the SAME frozen
    centroids, so streamed and batch-built indexes agree row-for-row —
    pinned by test).

    The argmax is a map-side-combining max_by aggregate, NOT a window
    over the exploded (n x C) frame: the window formulation planned an
    Exchange of every (vector, centroid) candidate row — n*C rows
    carrying the full vector payload, a 5.6B-row shuffle at the x100
    replica's 5M vectors x 1118 cells — while the partial aggregate
    collapses each vector's C candidates inside its scan partition, so
    the exchange carries n rows. Local wall time is compute-bound (the
    n*C cosine products dominate either way: x10 build 107.7 s ->
    100.3 s, sf0.1 17.4 s -> 13.2 s), but at cluster scale the shuffle
    volume is the binding constraint the aggregate removes. Identical
    assignments; ties still break to the smallest cid via the
    (ccos, -cid) struct order."""
    best = F.max_by(
        F.col("cid"), F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid"))
    )
    # r14: norms once per row/centroid instead of per (row, centroid)
    # pair inside cosine() — same factored IEEE ops in the same
    # order, ccos bit-identical
    # (oracle: SQL_IVF_ASSIGN_EXPORT).
    cents = centroids.withColumn("__cnrm", F.sqrt(norm2(F.col("cvec"))))
    return (
        emb.withColumn("__nrm", F.sqrt(norm2(F.col("embedding"))))
        .join(F.broadcast(cents))
        .select(
            "vec_id", "embedding", "cid",
            (dot(F.col("embedding"), F.col("cvec"))
             / (F.col("__nrm") * F.col("__cnrm"))).alias("ccos"),
        )
        .groupBy("vec_id")
        .agg(F.first("embedding").alias("embedding"), best.alias("cid"))
        .select("vec_id", "embedding", "cid")
    )


def ivf_assign(
    emb: DataFrame, n_centroids: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments). Centroids are k-means-refined (see
    kmeans_centroids); assignment via assign_cells."""
    centroids = kmeans_centroids(emb, n_centroids)
    return centroids, assign_cells(emb, centroids)


# Cap on the number of assignment partition DIRECTORIES. With one dir
# per cell, the x100 replica's 1118 cells meant 1118 directory creates +
# commits — the write constant dominated the build (750 s, docs/
# ROUND5.md). Bucketing pmod(cid, cap) bounds the dir count while the
# search path keeps partition pruning on the bucket plus parquet
# row-group pruning on cid (assignments are sorted by cid within each
# bucket, so every file's row groups carry tight cid min/max stats).
IVF_MAX_PARTITION_DIRS = 128


def ivf_n_dirs(n_centroids: int) -> int:
    """Directory count for a NEW bucketed assignment layout, from the
    cap constant read at call time (so tests can monkeypatch it).
    ivf_build records it in the index's _NDIRS marker; an EXISTING
    index is always sized by that marker (ivf_index_n_dirs), never by
    re-deriving from the constant, which a resized cap would make
    prune pb = pmod(cid, WRONG_nd) and silently miss buckets."""
    return max(1, min(n_centroids, IVF_MAX_PARTITION_DIRS))


def ivf_index_n_dirs(index_dir: str) -> int:
    """Bucket count of a PERSISTED index: the _NDIRS marker ivf_build
    writes into the staged dir, atomic with the publish rename. Every
    reader (ivf_search's partition pruning) and every appender
    (streaming ingest) sizes pmod by it. An index without the marker
    raises: its layout cannot be trusted, so it must be rebuilt."""
    import os

    try:
        with open(os.path.join(index_dir, "_NDIRS")) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        raise FileNotFoundError(
            f"IVF index {index_dir} has no _NDIRS marker; rebuild it with "
            "ivf_build"
        ) from None


def write_assignments(
    assignments: DataFrame, out_dir: str, n_dirs: int, mode: str = "error",
) -> None:
    """Write (or append) assignment rows in the bucketed index layout:
    partitioned by pb = pmod(cid, n_dirs), sorted by cid within each
    bucket. Shared by the batch build (ivf_build) and the streaming
    ingest (workloads/streaming_wl.q_stream_ivf_ingest) so streamed and
    batch-built indexes are layout- and row-identical.

    The repartition gives each bucket ONE file per write (without it
    every write task emits a sliver into every partition); the
    sortWithinPartitions clusters each cid's rows into contiguous row
    groups, which is what lets the cid IN-filter skip at row-group
    granularity when a bucket holds many cells.

    A new index passes ivf_n_dirs(n_centroids); APPENDS to an existing
    index pass its _NDIRS count (ivf_index_n_dirs), so the new rows
    land in the resident layout even if the cap constant changed since
    the build."""
    (
        assignments.withColumn(
            "pb", F.pmod(F.col("cid"), F.lit(n_dirs)).cast("int")
        )
        .repartition(n_dirs, "pb")
        .sortWithinPartitions("cid")
        .write.partitionBy("pb")
        .mode(mode)
        .parquet(out_dir)
    )


def ivf_build(
    emb: DataFrame, index_dir: str, n_centroids: int = 16,
    force: bool = False,
) -> str:
    """Build the PERSISTED IVF index: centroids as a tiny parquet table,
    assignments written in the bucketed layout (write_assignments —
    partition dirs capped at IVF_MAX_PARTITION_DIRS, cid-sorted files).
    This is the ANN shape that serves repeated query batches at 100 TB —
    the expensive full-corpus pass (train + assign) happens once, and
    every search after it prunes to the probed buckets' partitions and
    the probed cids' row groups, not the corpus.

    Publish is atomic: the index is staged under a temp name and
    os.rename'd into place, so a concurrent reader sees either no index
    or a complete one; on a build race the first publisher wins and the
    loser's staging is discarded. ``force=True`` (r15, the
    sink_ivf_index entry) rebuilds even when an index exists and swaps
    the fresh build in: new dir renamed aside-then-in, so a reader
    never sees a half-written tree (it sees the old index, a brief
    missing window, or the new one — the sink_graph_sidecar
    overwrite discipline for a directory artifact).

    Returns index_dir.
    """
    import os
    import shutil
    import uuid

    centroids, assignments = ivf_assign(emb, n_centroids)
    parent = os.path.dirname(index_dir.rstrip("/"))
    if parent:
        os.makedirs(parent, exist_ok=True)
    stage = f"{index_dir.rstrip('/')}.stage-{uuid.uuid4().hex[:8]}"
    centroids.write.parquet(f"{stage}/centroids")
    nd = ivf_n_dirs(n_centroids)
    write_assignments(assignments, f"{stage}/assignments", nd)
    # record the bucket count IN the staged dir so the marker is
    # atomic with the publish rename — readers and appenders size
    # pmod by the layout on disk, not today's cap constant (r13)
    with open(os.path.join(stage, "_NDIRS"), "w") as fh:
        fh.write(str(nd))
    old = None
    if force and os.path.isdir(index_dir):
        old = f"{index_dir.rstrip('/')}.old-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(index_dir, old)
        except OSError:
            old = None
    try:
        os.rename(stage, index_dir)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.isdir(index_dir):
            raise
    if old:
        shutil.rmtree(old, ignore_errors=True)
    return index_dir


def ivf_search(
    spark, index_dir: str, queries: DataFrame, k: int = 5, nprobe: int = 4,
) -> DataFrame:
    """Search a persisted IVF index (see ivf_build) for the top-k
    cosine neighbors of each query row (qid, qvec).

    The (qid, cid) probe rows are collected to the driver ONCE —
    bounded planning metadata, at most |queries| * nprobe rows. Their
    cids become TWO literal IN-filters on the bucketed assignments
    scan: the probed buckets (pb = pmod(cid, n_dirs)) land in the
    scan's PartitionFilters, so every unprobed directory is pruned
    before a byte is read, and the probed cids land as a pushed data
    filter that skips unprobed cells' row groups inside shared buckets
    (the files are cid-sorted — see write_assignments; tests pin the
    pruning via the executed plan). The rows themselves go back in as
    a local relation (an Arrow table, no RDD to scan), the join's
    broadcast probe side, so no probe is ranked twice; the candidates
    meet their broadcast query vectors on qid and _cosine_topk ranks
    them. The bucket count is the index's _NDIRS marker
    (ivf_index_n_dirs), read before any job runs: an index without it
    raises. Self-matches (nid == qid) are excluded for
    parity with cosine_topk_bruteforce; at nprobe == the cell count
    the search IS the brute force (pinned by test)."""
    nd = ivf_index_n_dirs(index_dir)
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    probes = probe_cells(queries, centroids, nprobe).select("qid", "cid").toArrow()
    probe_cids = sorted(set(probes.column("cid").to_pylist()))
    probe_pbs = sorted({c % nd for c in probe_cids})
    cells = (
        spark.read.parquet(f"{index_dir}/assignments")
        .where(F.col("pb").isin(probe_pbs) & F.col("cid").isin(probe_cids))
        .select("cid", "vec_id", "embedding", F.sqrt(norm2(F.col("embedding"))))
        .toDF("cid", "nid", "nvec", "nnrm")
    )
    q = queries.select("qid", "qvec", F.sqrt(norm2(F.col("qvec"))).alias("qnrm"))
    cand = (
        cells.join(F.broadcast(spark.createDataFrame(probes)), "cid")
        .join(F.broadcast(q), "qid")
        .where(F.col("nid") != F.col("qid"))
    )
    return _cosine_topk(cand, k)


# k-means cells are rarely balanced; a cell above HOT_CELL_ROWS gets
# its members salted over N_CELL_SALTS sub-keys and the probe rows for
# that cell replicated across all of them (operators/joins
# .salt_hot_keys) — bit-identical results, hot cell spread over
# N_CELL_SALTS tasks. Both are read at call time, so tests force the
# salted plan by monkeypatching them.
HOT_CELL_ROWS = 1_000_000
N_CELL_SALTS = 8


def knn_join_cells(
    emb: DataFrame, k: int = 5, n_centroids: int = 16, nprobe: int = 2,
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """LARGE-to-LARGE approximate kNN self-join: top-k cosine neighbors
    for EVERY row, blocked through shared IVF cells — the batch twin of
    ivf_search (which serves a small query set against a big corpus).

    Shape: each vector lands in its own cell (broadcast-centroid argmax,
    no corpus shuffle) and PROBES its nprobe closest cells (probe_cells);
    candidates are the equi-join probe.cid == cell.cid — never a
    crossJoin — so per-task work is bounded by cell size, and the join +
    per-id top-k window are the only exchanges. At 100 TB the knobs are
    n_centroids (cell size ~ n/√n_centroids rows) and nprobe (recall vs
    candidate volume); a skewed cell is split by hot-key salting
    (HOT_CELL_ROWS).

    Pass `centroids`/`assignments` from a persisted index (ivf_build)
    to skip the train+assign pass — the batch-join twin of ivf_search's
    amortization. Norms are computed ONCE per row on each side so every
    candidate pair pays a single dot-product fold, not three (the same
    precompute srp_neardup_pairs uses; with |cells| x nprobe candidates
    per row, the per-pair fold IS the operator's hot loop).

    Returns (qid, nid, cos, rn) with rn in 1..k per qid.
    """
    if centroids is None or assignments is None:
        centroids, assignments = ivf_assign(emb, n_centroids)
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    # ALWAYS hash-partition base by qid before the probe window — not
    # just when the source scanned narrow. The window requires
    # hashpartitioning(qid); when base already satisfies it, Catalyst
    # plans NO exchange above the broadcast-centroid fan-out, so the
    # n x C probe-scoring frame (vector payloads included — ~2.9 TB at
    # the x100 replica) never shuffles. Without this, a wide multi-file
    # scan (the cluster case) leaves base partitioned by file split and
    # the window exchanges the FANNED-OUT frame instead of the n-row
    # base — the costliest silent plan flip in this operator. The
    # unconditional n-row shuffle is negligible insurance, and also
    # fans out single-row-group sources for the CPU-bound probe folds
    # (srp_neardup_pairs discipline).
    base = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).repartition(n_parts, "qid")
    probes = probe_cells(base, centroids, nprobe).select(
        "qid", "qvec", "qnrm", "cid"
    )
    cells = assignments.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nvec"),
        F.sqrt(norm2(F.col("embedding"))).alias("nnrm"),
        "cid",
    )
    # skew: a cell above HOT_CELL_ROWS would funnel every probe of that
    # cell through one task when the join shuffles
    hot = hot_keys(
        cells.groupBy("cid").agg(F.count(F.lit(1)).alias("cn")),
        "cid", "cn", HOT_CELL_ROWS,
    )
    join_keys = ["cid"]
    if hot is not None:
        cells = salt_hot_keys(cells, hot, "cid", N_CELL_SALTS, spread_col="nid")
        probes = salt_hot_keys(probes, hot, "cid", N_CELL_SALTS)
        join_keys = ["cid", "salt"]
    cand = probes.join(cells, join_keys).where(F.col("nid") != F.col("qid"))
    return _cosine_topk(cand, k)


# Per-task coarse work is bq x bc x dim multiply-adds; 4096^2 x 128
# ~ 2e9 int ops keeps a task in the seconds range. Beyond this cap the
# task count grows as (n/4096)^2 — the honest quadratic envelope of
# brute force (see docs/SCALE.md, isotropic ANN).
KNN_QUANT_BLOCK_CAP = 4096


def _quantize_batch(col):
    """The one engine-side int8 quantizer: an Arrow list<float> column
    -> (q8 list<int32>, n8 double), the embedding_quantize formula as
    vectorized numpy passes over the column's flattened element buffer.
    Every consumer (the _quantize_rows_kernel map, the fused PQ encode,
    the quantized re-rank coarse pass) quantizes through here, so a
    change to the quantization invariant lands in this function AND in
    the DuckDB oracle twins (workloads/llm: _SQL_Q8,
    SQL_EMBEDDING_QUANTIZE, SQL_TOPK_RERANK, SQL_SIM_PAIR_HIST). Exact
    replay of the JVM expression chain it replaced:

    - absmax = fold greatest(acc, abs(double(x))) from 0.0 — max of
      |x| over non-null elements (float32->float64 cast then abs, same
      IEEE values; NULL elements read as 0.0, which cannot raise a max
      that starts at 0.0);
    - scale = 127.0/absmax when absmax > 0 else 0.0 (same divide);
    - q8[i] = floor(double(x)*scale + 0.5) as int (same mul/add/floor
      order; results are in [-127, 127] so int32 is lossless);
    - n8 = sqrt(double(sum q8[i]^2)) with the sum exact (<= dim*127^2,
      integral in float64);
    - NULL emb -> NULL q8 / NULL n8; empty emb -> empty q8 / n8 = 0.0;
      a NULL ELEMENT maps to a NULL q8 element and poisons the n8 fold
      to NULL (the JVM acc + NULL semantics), read off the Arrow
      validity masks (a pandas_udf would have collapsed element-NULL
      to NaN, hence Arrow);
    - a NaN or ±Inf element makes the JVM absmax NaN or Inf (greatest
      orders NaN above every number), so the scale is NaN or 0.0, every
      x*scale+0.5 is NaN or 0.5, and floor(NaN) casts to 0: the row's
      non-NULL elements all quantize to 0."""
    import numpy as np
    import pyarrow as pa

    n_rows = len(col)
    # absolute offsets into the (possibly shared) values child; rebase
    # so the flat compute covers exactly the logical rows
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    base, stop = int(offs[0]), int(offs[-1])
    offs0 = offs - base
    evals = col.values.slice(base, stop - base)
    elem_null = evals.is_null().to_numpy(zero_copy_only=False)
    vals = evals.fill_null(0).to_numpy(zero_copy_only=False).astype(np.float64)
    row_null = col.is_null().to_numpy(zero_copy_only=False)
    lens = np.diff(offs0)
    nonempty = lens > 0
    starts = offs0[:-1][nonempty]
    absmax = np.zeros(n_rows)
    if len(starts):
        absmax[nonempty] = np.maximum.reduceat(np.abs(vals), starts)
    odd = ~np.isfinite(absmax)
    absmax[odd] = 0.0
    vals[np.repeat(odd, lens)] = 0.0
    with np.errstate(divide="ignore"):
        scale = np.where(absmax > 0, 127.0 / absmax, 0.0)
    q8 = np.floor(vals * np.repeat(scale, lens) + 0.5).astype(np.int32)
    sumsq = np.zeros(n_rows)
    has_null = np.zeros(n_rows, dtype=bool)
    if len(starts):
        sumsq[nonempty] = np.add.reduceat(q8.astype(np.float64) ** 2, starts)
        has_null[nonempty] = np.logical_or.reduceat(elem_null, starts)
    return (
        pa.ListArray.from_arrays(
            pa.array(offs0, type=pa.int32()),
            pa.array(q8, mask=elem_null),
            mask=pa.array(row_null),
        ),
        pa.array(np.sqrt(sumsq), mask=row_null | has_null),
    )


def _quantize_rows_kernel(batches):
    """mapInArrow kernel: (id, emb array<float>) -> (id, q8 array<int>,
    n8 double) — _quantize_batch over each Arrow batch."""
    import pyarrow as pa

    for b in batches:
        q8, n8 = _quantize_batch(b.column("emb"))
        yield pa.RecordBatch.from_arrays(
            [b.column("id").cast(pa.int64()), q8, n8], names=["id", "q8", "n8"]
        )


def quantize_rows(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id bigint, q8 array<int>, n8 double) for every row of df: the
    int8 embedding_quantize formula plus the exact integer norm, as one
    shuffle-free mapInArrow (_quantize_rows_kernel). Callers alias id
    back to their own key name."""
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("emb")
    ).mapInArrow(_quantize_rows_kernel, "id bigint, q8 array<int>, n8 double")


def quantized_block_pairs(emb: DataFrame, n: int) -> DataFrame:
    """The shared block-product stage of the quantized family
    (knn_join_quantized, similarity_pair_histogram): int8-quantize
    (the embedding_quantize formula) and fan the vectors over every
    unordered (block, block) pair of ceil(n/block_rows) hash blocks
    (block_pair_fan with the whole corpus as one bucket) — never a
    CartesianProduct or unbounded BNLJ. Returns rows
    (id, q8, n8, qblk, tblk, isq) ready for
    ``groupBy("qblk", "tblk").applyInArrow``; each group is one block
    product and carries each unordered pair exactly once, so kernels
    emit both orientations of a cross-block pair from one matrix.

    NULL embeddings have no defined cosine and are dropped before the
    fan, like zero-norm vectors are masked in the kernels."""
    # B^2 ~ P/2: enough block products to fill the cluster, few enough
    # that per-product overhead doesn't dominate (measured at
    # n=2000/P=32: B=4 beats B=8 by ~15% and B=2 loses to both —
    # parallelism vs overhead knee)
    p = emb.sparkSession.sparkContext.defaultParallelism
    b_target = max(1, int((p / 2) ** 0.5))
    block_rows = min(KNN_QUANT_BLOCK_CAP, max(64, -(-n // b_target)))
    n_blocks = max(1, -(-n // block_rows))

    # r15: the absmax/scale/floor quantize + int-exact norm runs as ONE
    # vectorized Arrow kernel over the scan partitions (guide §4.2) —
    # the interpreted HOF expression chain it replaces (aggregate fold
    # + per-element transform lambda + a second aggregate fold) was the
    # dominant cost of the whole pair stage: 1.05 s of the 1.3 s pairs
    # plan at sf0.1 against 0.12 s for the bare scan, measured with a
    # noop sink on each subplan. Math and null semantics are replayed
    # exactly (see _quantize_rows_kernel); output is bit-identical
    # (histogram value-hash oracle + exact-when-r-covers-corpus pin).
    base = quantize_rows(emb).where(F.col("q8").isNotNull())
    return block_pair_fan(base, [], "id", n_blocks=n_blocks)


def _block_cosines(key, table):
    """One quantized block-pair group as (qids, nids, c, same): the
    BLAS-exact int8 cosine matrix between the group's query-side and
    target-side vectors, -2.0 where a norm is zero. float64 matmul of
    int8-valued matrices is EXACT (every product <= 127^2, every
    partial sum an integer < 2^53) and runs on BLAS — measured 4.6x
    over the int64 path, which numpy executes without BLAS. Exactness
    also makes a cross-block c.T bit-identical to the product computed
    with the sides swapped."""
    import numpy as np

    from etl_dagster_service_crawler_spark.operators.block_pairs import (
        list_matrix,
        sides,
    )

    q, n, same = sides(key, table)
    ids = table.column("id").to_numpy()
    mat = list_matrix(table, "q8").astype(np.float64)
    nrm = table.column("n8").to_numpy()
    return ids[q], ids[n], _int8_cosines(mat[q] @ mat[n].T, nrm[q], nrm[n]), same


def _int8_cosines(dots, nrm_a, nrm_b):
    """dots[i, j] / (nrm_a[i] * nrm_b[j]) where that norm product is
    > 0, else -2.0 (a zero or NULL-as-NaN norm) — the coarse-cosine
    `when(denom > 0, dot / denom).otherwise(-2.0)`, same IEEE ops."""
    import numpy as np

    den = np.outer(nrm_a, nrm_b)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, dots / den, -2.0)


def knn_join_quantized(
    emb: DataFrame,
    k: int = 5,
    r_candidates: int = 64,
    n_rows: int | None = None,
) -> DataFrame:
    """Batch kNN self-join for corpora where IVF degenerates (the
    route_knn 'quantized' arm): block brute force — int8-quantized
    coarse scan over block pairs, exact float re-rank of the R
    survivors per query. The batch twin of quantized_rerank_topk
    (same quantization, same coarse score, same -2.0 zero-vector
    sentinel), and the only honest shape on isotropic embeddings,
    where no partition-pruning index beats a scan — so the scan is
    made cheap (1/8th the bytes, vectorized integer matmuls) instead
    of pretending to prune.

    Shape: vectors land in hash blocks (quantized_block_pairs); each
    unordered block pair is one grouped-Arrow call running ONE numpy
    matmul, and emits each side's per-query top-R by (coarse desc, id)
    against the other side (rows and transpose of the same matrix) —
    the global top-R per query is a window merge of those partials
    (correct: global top-R is a subset of the union of per-block
    top-Rs). The exact re-rank (exact_rerank_topk) then touches
    n x R pairs, not n^2.

    Scale: data moved = each vector replicated once per block
    (n x dim bytes x n_blocks) — the standard block-product
    replication; compute is the unavoidable O(n^2 dim / 8) coarse
    bytes, once per unordered block pair. Integer dots are exact, so
    coarse ordering (and therefore the survivor set) is deterministic;
    with r_candidates >= n the result equals cosine_topk_bruteforce
    row-for-row (pinned).

    Returns (qid, nid, cos, rn) — the knn_join_cells contract.
    """
    # n only sizes the blocks; callers that know it (parquet footer)
    # pass n_rows and skip the count job
    n = n_rows if n_rows is not None else emb.count()
    if n == 0:
        return emb.sparkSession.createDataFrame(
            [], "qid long, nid long, cos double, rn int"
        )
    pairs = quantized_block_pairs(emb, n)

    r_cand = r_candidates

    def coarse_blocks(key, table):
        import numpy as np
        import pyarrow as pa

        qids, nids, c, same = _block_cosines(key, table)
        out_q = [np.zeros(0, dtype=np.int64)]
        out_n = [np.zeros(0, dtype=np.int64)]
        out_c = [np.zeros(0, dtype=np.float64)]

        def top_r(c, qids, nids):
            r = min(r_cand, len(nids))
            nn = len(nids)
            # per-row value cutoff at the (r+1)-th largest keeps every
            # boundary TIE plus self-drop headroom, so the small lexsort
            # below reproduces the full-sort order (coarse desc, nid
            # asc) exactly; np.partition is the vectorized O(n)-per-row
            # part
            if nn > r + 1:
                kth = np.partition(c, nn - r - 1, axis=1)[:, nn - r - 1, None]
            else:
                kth = np.full((len(qids), 1), -np.inf)
            for qi in range(len(qids)):
                cand = np.nonzero(c[qi] >= kth[qi])[0]
                order = cand[np.lexsort((nids[cand], -c[qi][cand]))]
                keep = order[nids[order] != qids[qi]][:r]
                out_q.append(np.full(len(keep), qids[qi]))
                out_n.append(nids[keep])
                out_c.append(c[qi][keep])

        if len(qids) and len(nids):
            top_r(c, qids, nids)
            if not same:
                top_r(c.T, nids, qids)
        return pa.table(
            {
                "qid": np.concatenate(out_q),
                "nid": np.concatenate(out_n),
                "coarse": np.concatenate(out_c),
            }
        )

    partials = pairs.groupBy("qblk", "tblk").applyInArrow(
        coarse_blocks, "qid long, nid long, coarse double"
    )
    wc = Window.partitionBy("qid").orderBy(F.col("coarse").desc(), F.col("nid"))
    survivors = (
        partials.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= r_candidates)
        .select("qid", "nid")
    )
    return exact_rerank_topk(survivors, emb, k)


SIM_HIST_BUCKETS = 20


def similarity_pair_histogram(
    emb: DataFrame, n_rows: int | None = None,
) -> DataFrame:
    """Corpus-wide distribution of pairwise quantized cosine — the
    artifact that picks a near-dup threshold BEFORE running dedup
    (where does the duplicate mode sit? how fat is the 0.9+ tail?).

    The O(n^2) pair set is never materialized as rows: each
    quantized_block_pairs group computes its coarse matrix (the exact
    same BLAS-exact int8 cosine as knn_join_quantized), buckets it,
    and emits AT MOST 20 (bucket, count) partials — compute is
    quadratic, data movement is O(blocks x buckets). This is also the
    quantized family's direct value-hash anchor: unlike top-k (whose
    oracle would need the same blocking), the histogram is
    order-insensitive, so a brute-force n^2 DuckDB oracle checks the
    coarse score of EVERY pair bit-for-bit at the driver scales.

    Bucketing: bucket = min(floor((coarse + 1) * 10), 19) over
    [-1, 1] (exact duplicates land in bucket 19 via the clamp).
    Unordered pairs counted once (id_a < id_b within a block; every
    cross-block pair meets in exactly one group); zero-norm and NULL
    vectors excluded (no defined cosine). Determinism: coarse is an
    exact integer ratio computed identically on both engines, and
    +1/*10/floor are identically-rounded IEEE ops.

    Returns (bucket int, cos_lo double, pair_count bigint).
    """
    n = n_rows if n_rows is not None else emb.count()
    spark = emb.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [], "bucket int, cos_lo double, pair_count bigint"
        )
    pairs = quantized_block_pairs(emb, n)
    n_buckets = SIM_HIST_BUCKETS

    def hist_blocks(key, table):
        import numpy as np
        import pyarrow as pa

        qids, nids, c, same = _block_cosines(key, table)
        # each unordered pair once, zero-norm pairs excluded
        mask = c != -2.0
        if same:
            mask &= qids[:, None] < nids[None, :]
        bkt = np.minimum(
            np.floor((c[mask] + 1.0) * 10.0).astype(np.int64), n_buckets - 1
        )
        acc = np.bincount(bkt, minlength=n_buckets)
        nz = np.nonzero(acc)[0]
        return pa.table(
            {"bucket": nz.astype(np.int32), "cnt": acc[nz].astype(np.int64)}
        )

    return (
        pairs.groupBy("qblk", "tblk")
        .applyInArrow(hist_blocks, "bucket int, cnt bigint")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("pair_count"))
        .select(
            "bucket",
            (F.col("bucket") / F.lit(10.0) - F.lit(1.0)).alias("cos_lo"),
            "pair_count",
        )
    )


# --- product quantization (PQ) ------------------------------------------------
#
# The missing third leg of the ANN triad (exact scan / IVF cells / PQ
# codes). At 100 TB the ADC scan is the shape that matters: the corpus
# is read as n_sub CODE BYTES per vector (a 64-dim float64 embedding
# compresses 64:1 at the 8-subspace default), the per-query LUT is
# n_sub x n_codes integers built once per query, and the distance pass
# never touches a float. All math here runs in the engine's int8
# storage domain (the embedding_quantize formula), so distances are
# exact integers — deterministic, tie-safe, and DuckDB-replayable,
# which is what makes the PQ family fully oracle-checkable unlike a
# trained-codebook PQ (same argument as the md5-picked IVF exports).


def _il2(a, b):
    """Exact integer squared-L2 between two int lists.

    Each squared term is coalesced to 0: zip_with pads the shorter list
    with NULL, and without the coalesce a wrong-dim row (the kind
    embedding_quality_gate quarantines) would fold the whole sum to
    NULL here while DuckDB's list_sum skips NULL terms and returns a
    partial sum — the engines must agree term-by-term even on bad
    input (the same invariant llm._sql_il2 states on its side)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.coalesce(
                ((x - y) * (x - y)).cast("bigint"), F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


PQ_DIM = 64  # fixture embedding dim; the slice width every oracle pins


def hash_spread_seeds(
    emb: DataFrame, n: int, out_idx: str = "cid", out_vec: str = "cvec",
) -> DataFrame:
    """The deterministic seed pick shared by every oracle-replayable
    index: the n corpus vectors with the smallest (md5(id), id),
    numbered 0..n-1 in that order. A hash-spread stand-in for trained
    centroids/codebooks — what the downstream assign/probe/encode
    projections anchor is pure function-of-(corpus, seeds), which a
    DuckDB oracle can replay; a k-means artifact cannot. The top-k
    plans as TakeOrderedAndProject; the numbering window runs on an
    n-row frame."""
    seed = (
        emb.select(
            "vec_id", "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(n)
    )
    wk = Window.orderBy("h", "vec_id")
    return seed.withColumn("rk", F.row_number().over(wk)).select(
        (F.col("rk") - 1).cast("int").alias(out_idx),
        F.col("embedding").alias(out_vec),
    )


def _collect_codebook_from_emb(
    emb: DataFrame, n_sub: int, n_codes: int,
) -> list[list[list[int]]]:
    """The PQ codebook cb[sub_id][code] -> csub (list of ints),
    collected with ONE tiny Spark job: the n_codes hash-spread seed
    vectors (smallest (md5(id), id), a TakeOrdered — the
    hash_spread_seeds pick), quantized by the kernel over just those
    rows, then sliced into n_sub subvectors in Python. n_sub x n_codes
    entries, CONSTANT in corpus size. A NULL seed embedding leaves its
    code's subvectors empty; an empty corpus gives n_sub empty lists.

    The slice width is pinned from the EXPECTED dim (PQ_DIM), never
    derived per row: a defective row (wrong-dim vector, the kind
    embedding_quality_gate quarantines) slices the same fixed windows
    the DuckDB twins hardcode, so the engines stay bit-identical even
    on bad input. An n_sub that does not divide dim fails before any
    job runs instead of silently truncating the tail dimensions."""
    if PQ_DIM % n_sub:
        raise ValueError(f"dim {PQ_DIM} not divisible by n_sub {n_sub}")
    seed = (
        emb.select(
            F.md5(F.col("vec_id").cast("string")).alias("__h"), "vec_id", "embedding"
        )
        .orderBy("__h", "vec_id")
        .limit(n_codes)
    )
    # the TakeOrdered output is one sorted partition and the kernel
    # keeps row order, so the i-th collected row is code i
    rows = quantize_rows(seed).collect()
    sub_dim = PQ_DIM // n_sub
    cb: list[list[list[int]]] = [
        [[] for _ in range(len(rows))] for _ in range(n_sub)
    ]
    for code, r in enumerate(rows):
        q = r["q8"]
        if q is None:
            continue
        for s in range(n_sub):
            cb[s][code] = q[s * sub_dim: (s + 1) * sub_dim]
    return cb


def _il2_py(a: list[int], b: list[int]) -> int:
    """Exact Python-int twin of _il2 over two collected codebook
    subvectors: terms where either side is missing (shorter list, the
    zip_with NULL pad) or None count 0, exactly like the coalesced
    fold."""
    return sum(
        (a[i] - b[i]) ** 2
        for i in range(min(len(a), len(b)))
        if a[i] is not None and b[i] is not None
    )


def _make_encode_batch_fn(cb: list[list[list[int]]], sub_dim: int):
    """Per-batch fused quantize+encode over an Arrow (id, emb) batch:
    _quantize_batch, then the per-subspace argmin encode, in one Python
    pass (r15: the interpreted JVM quantize fold was ~half of
    pq_encode_codes' cost at sf0.1). Shared by the encode kernel and
    the fused ADC-scores kernel. The encode is the r14 argmin-UDF math:
    full-width rows with a non-NULL norm take the broadcast
    (n, n_sub, n_codes) int64 subtract-square-sum argmin (FIRST
    minimum == ties to the smallest code); NULL rows encode to NULL;
    ragged or null-element rows (and every row, when the codebook
    itself is ragged) replay _il2's pad-with-zero semantics per row
    through _il2_py, bit-for-bit with the old joined min_by."""
    import numpy as np

    n_sub = len(cb)
    dim = n_sub * sub_dim
    cb_arr = np.zeros((n_sub, len(cb[0]), sub_dim), dtype=np.int64)
    cb_len = np.zeros((n_sub, len(cb[0])), dtype=np.int64)
    for s, codes in enumerate(cb):
        for c, csub in enumerate(codes):
            cb_len[s, c] = len(csub)
            for i, v in enumerate(csub[:sub_dim]):
                cb_arr[s, c, i] = 0 if v is None else v
    ragged_cb = bool((cb_len != sub_dim).any()) or any(
        v is None for codes in cb for csub in codes for v in csub
    )

    def slow_row(q):
        codes_out = []
        for s in range(n_sub):
            vsub = q[s * sub_dim: (s + 1) * sub_dim]
            d = [_il2_py(vsub, csub) for csub in cb[s]]
            codes_out.append(d.index(min(d)))
        return codes_out

    def encode_batch(b):
        """-> (ids pa int64, row_null bool np, codes_mat (n, n_sub)
        int32 np with zeros in null rows) — shared by the encode and
        the fused ADC kernels."""
        import pyarrow as pa

        ids = b.column("id").cast(pa.int64())
        q8, n8 = _quantize_batch(b.column("emb"))
        offs = q8.offsets.to_numpy()
        row_null = q8.is_null().to_numpy(zero_copy_only=False)
        # a valid n8 means a non-NULL row without NULL elements
        fast = n8.is_valid().to_numpy(zero_copy_only=False) & (
            np.diff(offs) == dim
        )
        if ragged_cb:
            fast[:] = False
        mat = np.zeros((len(q8), n_sub), dtype=np.int32)
        if fast.any():
            flat = q8.values.fill_null(0).to_numpy().astype(np.int64)
            q = flat[offs[:-1][fast][:, None] + np.arange(dim)]
            d2 = ((q.reshape(-1, n_sub, 1, sub_dim) - cb_arr[None]) ** 2).sum(axis=3)
            mat[fast] = d2.argmin(axis=2)
        for i in np.nonzero(~(fast | row_null))[0]:
            mat[i] = slow_row(q8[i].as_py())
        return ids, row_null, mat

    return encode_batch


def _make_fused_encode_kernel(cb: list[list[list[int]]], sub_dim: int):
    """mapInArrow kernel wrapping _make_encode_batch_fn: (id, emb) ->
    (id, codes array<int>), NULL rows to NULL codes."""
    encode_batch = _make_encode_batch_fn(cb, sub_dim)
    n_sub = len(cb)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            ids, row_null, mat = encode_batch(b)
            codes_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(len(ids) + 1, dtype=np.int32) * n_sub),
                pa.array(mat.reshape(-1)),
                mask=pa.array(row_null),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, codes_arr], names=["id", "codes"]
            )

    return kernel


def pq_encode_codes(
    emb: DataFrame, cb: list[list[list[int]]], dim: int = PQ_DIM,
) -> DataFrame:
    """(vec_id, codes array<int>): every subspace's nearest-code id in one
    shuffle-free projection. r15: the quantize AND the argmin encode
    run fused inside one mapInArrow kernel — the r14 shape kept the
    quantization as an interpreted JVM fold (measured ~half
    of this projection's cost at sf0.1: 1.05 s of interpreted HOF per
    corpus pass) and crossed the q8 arrays into a separate pandas_udf.
    Only (id, emb) cross the boundary now; output rows are
    bit-identical (oracle: SQL_PQ_ENCODE_EXPORT; edge rows via the
    per-row replay in _make_fused_encode_kernel). The array form is
    what the ADC/SDC consumers want — one row per vector, the 8-byte
    PQ representation kept together."""
    sub_dim = dim // len(cb)
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("emb")
    ).mapInArrow(
        _make_fused_encode_kernel(cb, sub_dim), "id bigint, codes array<int>"
    ).withColumnRenamed("id", "vec_id")


def pq_encode(
    emb: DataFrame, n_sub: int = 8, n_codes: int = 32,
) -> DataFrame:
    """(vec_id, sub_id, code): nearest codebook entry per subspace by exact
    integer squared-L2, ties to the smallest code — pq_encode_codes
    exploded to one row per subspace, against the collected
    hash-spread codebook (_collect_codebook_from_emb). Output rows are
    bit-identical to the DuckDB twin (oracle: SQL_PQ_ENCODE_EXPORT)."""
    cb = _collect_codebook_from_emb(emb, n_sub, n_codes)
    return pq_encode_codes(emb, cb).select(
        "vec_id", F.posexplode("codes").alias("sub_id", "code")
    )


def _collect_query_luts(
    emb: DataFrame, query_ids: list[int], cb: list[list[list[int]]],
    dim: int = PQ_DIM,
) -> list[tuple[int, list[list[int]]]]:
    """[(qid, lut[sub][code] = exact integer squared-L2)] for each
    standing query found in the corpus, in ascending qid order. The
    query side is bounded (|query_ids| rows) and the quantization is
    collected FROM the engine's own kernel (quantize_rows), so no float
    arithmetic is re-implemented driver-side — the integer squared-L2
    against the collected codebook is _il2_py's exact Python int math
    (either-side-None terms count 0)."""
    sub_dim = dim // len(cb)
    rows = quantize_rows(emb.where(F.col("vec_id").isin(query_ids))).collect()
    out = []
    for r in sorted(rows, key=lambda r: r["id"]):
        if r["q8"] is None:
            # NULL embedding: every LUT distance is NULL on both the
            # previous fold and the DuckDB twin — keep that bit exact
            out.append((int(r["id"]), None))
            continue
        q = r["q8"]
        out.append((int(r["id"]), [
            [_il2_py(q[s * sub_dim: (s + 1) * sub_dim], csub) for csub in codes]
            for s, codes in enumerate(cb)
        ]))
    return out


def _lut_array(luts: list[tuple[int, list[list[int]] | None]], n_sub: int):
    """The collected LUTs as one zero-padded (q, n_sub, n_codes) int64
    array plus a has-LUT flag per query (False for a NULL query
    embedding, whose ADC is NULL)."""
    import numpy as np

    width = max(
        (len(cs) for _, lut in luts if lut is not None for cs in lut),
        default=1,
    )
    lut_arr = np.zeros((len(luts), n_sub, width), dtype=np.int64)
    for qi, (_, lut) in enumerate(luts):
        for s, cs in enumerate(lut or []):
            lut_arr[qi, s, : len(cs)] = cs
    return lut_arr, np.array([lut is not None for _, lut in luts], dtype=bool)


def _adc_gather(lut_arr, qi, codes):
    """The one ADC sum: adc[r] = Σ_s lut_arr[qi[r], s, codes[r, s]] in
    int64 (qi a scalar or one query index per row). LUT entries are
    bounded (≤ dim·254²), so the sum is exact."""
    adc = lut_arr[qi, 0, codes[:, 0]]
    for s in range(1, codes.shape[1]):
        adc = adc + lut_arr[qi, s, codes[:, s]]
    return adc


def _make_adc_scores_kernel(
    cb: list[list[list[int]]], sub_dim: int,
    luts: list[tuple[int, list[list[int]] | None]],
):
    """mapInArrow kernel: (id, emb) -> (qid, id, adc) — the encode
    (via _make_encode_batch_fn) fused with the q-way query fan-out and
    the LUT gather in ONE Python crossing (r15: the literal-LUT CASE
    chain this replaced was 2.1 s of pq_adc_topk's 2.6 s at sf0.1 —
    dominated by the giant folded-constant expression tree, not the
    arithmetic). NULL-codes corpus rows (NULL embeddings) emit
    nothing: they have no ADC distance, and a NULL adc would sort first
    and take rank 1 of every query. This drop is a behaviour fix,
    pinned by test_pq_adc_null_embedding_row_is_dropped. NULL-id rows
    emit nothing either (the oracle's nid != qid drops them); self
    pairs (id == qid) are excluded; a None LUT (NULL query embedding)
    emits NULL adc for every corpus row."""
    import numpy as np

    encode_batch = _make_encode_batch_fn(cb, sub_dim)
    qids = [int(q) for q, _ in luts]
    lut_arr, has_lut = _lut_array(luts, len(cb))

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            ids, row_null, mat = encode_batch(b)
            # a NULL id never passes the nid != qid pair test
            valid = ~row_null & ids.is_valid().to_numpy(zero_copy_only=False)
            vids = ids.filter(pa.array(valid)).to_numpy()
            vmat = mat[valid]
            if not len(vids):
                continue
            out_q, out_i, out_a = [], [], []
            for qi, qid in enumerate(qids):
                keep = vids != qid
                kids = vids[keep]
                if not len(kids):
                    continue
                if has_lut[qi]:
                    out_a.append(
                        pa.array(_adc_gather(lut_arr, qi, vmat[keep]), type=pa.int64())
                    )
                else:
                    out_a.append(pa.nulls(len(kids), pa.int64()))
                out_q.append(np.full(len(kids), qid, dtype=np.int64))
                out_i.append(kids)
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), type=pa.int64()),
                        pa.array(np.concatenate(out_i), type=pa.int64()),
                        pa.concat_arrays(out_a),
                    ],
                    names=["qid", "id", "adc"],
                )

    return kernel


def _make_adc_gather_kernel(
    luts: list[tuple[int, list[list[int]] | None]], n_sub: int
):
    """mapInArrow kernel: (qid, id, codes) -> (qid, id, adc) — the
    _adc_gather sum over already-encoded candidate rows, each scored
    against its own query's LUT (luts non-empty, ascending qid). NULL
    adc for a None LUT (NULL query embedding) or a qid without one."""
    import numpy as np

    qids = np.array([q for q, _ in luts], dtype=np.int64)
    lut_arr, has_lut = _lut_array(luts, n_sub)

    def kernel(batches):
        import pyarrow as pa

        from etl_dagster_service_crawler_spark.operators.block_pairs import (
            list_matrix,
        )

        for b in batches:
            if not b.num_rows:
                continue
            qid = b.column("qid").to_numpy()
            qi = np.minimum(np.searchsorted(qids, qid), len(qids) - 1)
            adc = _adc_gather(lut_arr, qi, list_matrix(b, "codes"))
            ok = has_lut[qi] & (qids[qi] == qid)
            yield pa.RecordBatch.from_arrays(
                [b.column("qid"), b.column("id"), pa.array(adc, mask=~ok)],
                names=["qid", "id", "adc"],
            )

    return kernel


def _pq_adc_scores(
    emb: DataFrame, query_ids: list[int],
    n_sub: int, n_codes: int,
) -> DataFrame:
    """(qid, vec_id, adc): exact-integer asymmetric distances of every
    corpus vector to every standing query, self excluded. The shared
    quadratic stage of pq_adc_topk and pq_rerank_topk. The codebook
    and the q per-query LUTs are bounded deterministic tables
    (n_sub x n_codes and q x n_sub x n_codes ints — constant in corpus
    size), collected once per invocation; the corpus pass is ONE
    mapInArrow kernel fusing quantize + argmin encode + query fan-out
    + LUT gather (r15 — the r14 shape kept the fan and the gather as a
    folded-literal CASE chain, measured 2.1 s of the 2.6 s query at
    sf0.1, dominated by the giant constant expression tree). ZERO
    joins, ZERO aggregate exchanges, one Python crossing. Values are
    bit-identical (oracle: SQL_PQ_ADC_TOPK)."""
    cb = _collect_codebook_from_emb(emb, n_sub, n_codes)
    luts = _collect_query_luts(emb, query_ids, cb)
    spark = emb.sparkSession
    if not luts:
        return spark.createDataFrame([], "qid bigint, vec_id bigint, adc bigint")
    sub_dim = PQ_DIM // len(cb)
    return (
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("emb"))
        .mapInArrow(
            _make_adc_scores_kernel(cb, sub_dim, luts),
            "qid bigint, id bigint, adc bigint",
        )
        .withColumnRenamed("id", "vec_id")
    )


def pq_adc_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    n_sub: int = 8, n_codes: int = 32,
    scores: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query build the
    n_sub x n_codes integer lookup table against the codebook, scan the
    CODES (not the vectors), sum LUT entries per (query, vector), keep
    the k smallest (adc asc, id asc), self excluded. Returns
    (qid, rn, nid, adc) — exact integers, fully oracle-checkable.
    Recall envelope: coarse codes alone rank weakly on isotropic
    corpora (hash-spread codebooks, no k-means) — pq_rerank_topk is
    the production shape; ann_recall_report measures both. `scores`
    lets a caller thread ONE precomputed/materialized ADC frame through
    several consumers (Spark does not reuse identical subtrees across
    union branches — measured: 0 ReusedExchange in the recall report
    without it)."""
    adc = scores if scores is not None else _pq_adc_scores(
        emb, query_ids, n_sub, n_codes
    )
    wk = Window.partitionBy("qid").orderBy(F.col("adc"), F.col("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= k)
        .select("qid", F.col("rn").cast("int").alias("rn"),
                F.col("vec_id").alias("nid"), F.col("adc"))
    )


def pq_rerank_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    r_candidates: int = 128,
    n_sub: int = 8, n_codes: int = 32,
    scores: DataFrame | None = None,
) -> DataFrame:
    """PQ ADC prune + exact cosine re-rank — the production PQ search:
    the integer ADC pass keeps the top r_candidates per query reading
    CODES only, then full-precision cosine re-ranks the survivors
    (vector reads: q x R rows, constant in corpus size). Measured at
    sf0.01: recall@5 = 0.80 at (8 subspaces, 32 codes, R=128) on the
    isotropic fixture — the deterministic-codebook envelope
    ann_recall_report publishes. Every stage is a pure function of the
    corpus, so the whole search is value-hash oracle-checkable.
    Returns (qid, rn, nid, cos). `scores` threads a shared ADC frame
    (see pq_adc_topk)."""
    adc = scores if scores is not None else _pq_adc_scores(
        emb, query_ids, n_sub, n_codes
    )
    wc = Window.partitionBy("qid").orderBy(F.col("adc"), F.col("vec_id"))
    surv = (
        adc.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= r_candidates)
        .select("qid", F.col("vec_id").alias("nid"))
    )
    return exact_rerank_topk(surv, emb, k, query_ids).select(
        "qid", "rn", "nid", "cos"
    )


def ivf_pq_search(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    n_centroids: int = 16, nprobe: int = 4,
    n_sub: int = 8, n_codes: int = 32,
) -> DataFrame:
    """The full IVF-PQ search — the composition that actually runs at
    100 TB: IVF cells PRUNE (only vectors in the nprobe closest cells
    are candidates), PQ codes SCORE (ADC over the n_sub-byte sidecar, no
    vector reads), exact integers make every step tie-safe. With the
    hash-spread seeds standing in for trained centroids/codebook, the
    whole pipeline is a pure function of the corpus — fully
    DuckDB-oracle-checkable, unlike the trained-index rows-only family
    it mirrors (ivf_build/ivf_search).

    Scale shape: assignment and codes are one-time corpus-sized
    sidecars (id+cid, id+n_sub codes); the search reads probe lists
    (q x nprobe, broadcast), prunes the assignment by cell equi-join,
    and ADC-joins the survivors' CODES against the broadcast LUT —
    per-query work is |probed cells| x codes, the IVF-PQ contract.
    Returns (qid, rn, nid, adc)."""
    cent = hash_spread_seeds(emb, n_centroids)
    assign = assign_cells(emb, cent).select("vec_id", "cid")
    q = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    probes = probe_cells(q, cent, nprobe).select("qid", "cid")
    cb = _collect_codebook_from_emb(emb, n_sub, n_codes)
    luts = _collect_query_luts(emb, query_ids, cb)
    cand = assign.join(F.broadcast(probes), "cid").where(
        F.col("vec_id") != F.col("qid")
    )
    if not luts:
        adc = emb.sparkSession.createDataFrame(
            [], "qid bigint, vec_id bigint, adc bigint"
        )
    else:
        # r14: one id-keyed join attaches the 8-byte code array to the
        # probed candidates, and one mapInArrow gathers each candidate's
        # LUT entries (_adc_gather, the pq_adc_topk sum) — the previous
        # shape paid a (qid, sub_id, code) LUT join plus a
        # corpus-candidate-sized groupBy sum on top of it. NULL-codes
        # rows (NULL embeddings) have no ADC distance and are dropped,
        # else a NULL adc would rank first (a behaviour fix, the same
        # as _make_adc_scores_kernel's).
        enc = pq_encode_codes(emb, cb).where(
            F.col("codes").isNotNull()
        )
        adc = (
            cand.join(enc, "vec_id")
            .select("qid", F.col("vec_id").alias("id"), "codes")
            .mapInArrow(
                _make_adc_gather_kernel(luts, len(cb)),
                "qid bigint, id bigint, adc bigint",
            )
            .withColumnRenamed("id", "vec_id")
        )
    wk = Window.partitionBy("qid").orderBy(F.col("adc"), F.col("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= k)
        .select("qid", F.col("rn").cast("int").alias("rn"),
                F.col("vec_id").alias("nid"), F.col("adc"))
    )


def auto_graph_cells(n: int) -> int:
    """The √n cell-count rule for cell-blocked graph construction
    (SCALE.md 'Graph cell sizing (measured)'): pair volume is Σ|cell|²,
    so C ~ √n keeps the candidate envelope at O(n^1.5) as the corpus
    grows — a fixed C degrades toward n²/C."""
    return max(1, round(n ** 0.5))


# Sub-block grain for the graph pair kernel: a cell with more members
# than this splits into ceil(m/B) hash sub-blocks, so a hot cell never
# serializes through one kernel call — per-group work is bounded by
# B² x n_sub gathers (the MINHASH_PAIR_BLOCK_ROWS envelope applied to
# IVF cells).
GRAPH_PAIR_BLOCK_ROWS = 1024


def _collect_sdc(cb: list[list[list[int]]]):
    """numpy SDC table from the collected codebook:
    sdc[s, i, j] = exact integer squared-L2 between codes i and j of
    subspace s, by _il2_py — the per-code-pair distance of the DuckDB
    twin's _SQL_SDC table (workloads/llm), so gathered pair distances
    match the oracle bit for bit. n_sub x n_codes² int64
    entries (8 KiB at the export
    defaults) — bounded, closed over by the kernel."""
    import numpy as np

    n_sub = len(cb)
    n_codes = max((len(s) for s in cb), default=0)
    sdc = np.zeros((n_sub, n_codes, n_codes), dtype=np.int64)
    for s, codes in enumerate(cb):
        for i, ci in enumerate(codes):
            for j in range(i, len(codes)):
                d = _il2_py(ci, codes[j])
                sdc[s, i, j] = d
                sdc[s, j, i] = d
    return sdc


def _make_graph_pair_kernel(sdc, k: int):
    """Grouped Arrow kernel over one (cell, sub-block, sub-block) pair:
    ONE gather-sum distance matrix D[a, b] = Σ_s sdc[s, codes_a[s],
    codes_b[s]] (exact int64 — the broadcast-SDC join + groupBy sum it
    replaces, per pair), then a per-aid PARTIAL top-k with a
    tie-preserving value cutoff: every candidate with d <= the k-th
    smallest of that row survives, so the downstream window merge
    (d asc, bid asc) reproduces the exact global top-k per aid.
    Same-block groups mask the diagonal (aid != bid — sub-blocks
    hash-partition ids, so cross-block aid == bid is impossible);
    cross-block groups emit BOTH orientations from one matrix (rows and
    transpose). Rows with NULL codes never reach the kernel (filtered
    upstream, matching the exploded-encode inner join's drop); null
    code ELEMENTS cannot be produced by the encode argmin — the kernel
    raises rather than guess if it ever sees one."""
    import numpy as np

    sdc = np.ascontiguousarray(sdc, dtype=np.int64)
    n_sub = sdc.shape[0]
    sentinel = np.iinfo(np.int64).max // 4

    def kernel(key, table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from etl_dagster_service_crawler_spark.operators.block_pairs import (
            list_matrix,
            sides,
        )

        out = (
            [np.zeros(0, dtype=np.int64)],
            [np.zeros(0, dtype=np.int64)],
            [np.zeros(0, dtype=np.int64)],
        )

        def partials(D, rids, cids):
            kk = min(k, D.shape[1])
            if D.shape[1] > kk:
                kth = np.partition(D, kk - 1, axis=1)[:, kk - 1, None]
            else:
                kth = D.max(axis=1, keepdims=True)
            ia, ib = np.nonzero((D <= kth) & (D < sentinel))
            out[0].append(rids[ia])
            out[1].append(cids[ib])
            out[2].append(D[ia, ib])

        if pc.list_flatten(table.column("codes")).null_count:
            raise ValueError(
                "graph pair kernel: NULL code element in a block — encode "
                "cannot produce this; refusing to approximate the SDC "
                "join's drop semantics"
            )
        q, n, same = sides(key, table)
        ids = table.column("aid").to_numpy()
        codes = list_matrix(table, "codes")
        qids, nids = ids[q], ids[n]
        if len(qids) and len(nids):
            A, B = codes[q], codes[n]
            D = sdc[0][A[:, 0][:, None], B[:, 0][None, :]].copy()
            for s in range(1, n_sub):
                D += sdc[s][A[:, s][:, None], B[:, s][None, :]]
            if same:
                np.fill_diagonal(D, sentinel)
                partials(D, qids, nids)
            else:
                partials(D, qids, nids)
                partials(D.T, nids, qids)
        return pa.table(
            {
                "aid": np.concatenate(out[0]),
                "bid": np.concatenate(out[1]),
                "d": np.concatenate(out[2]),
            }
        )

    return kernel


def knn_graph_mutual(
    emb: DataFrame, k: int = 3,
    n_centroids: int | None = None, n_sub: int = 8, n_codes: int = 32,
) -> DataFrame:
    """Cell-blocked mutual-kNN graph under symmetric PQ distance — the
    SemDeDup/semantic-clustering backbone: nodes are vectors, an edge
    (a, b) exists iff b is in a's k nearest SAME-CELL neighbors AND
    vice versa (mutuality prunes hub nodes; cell blocking makes the
    pair set Σ|cell|² instead of n² — the standard scalable kNN-graph
    construction, per-cluster like SemDeDup, not all-pairs).

    Every ingredient is the oracle-replayable kind: hash-spread IVF
    cells, int8 PQ codes, and the broadcast SDC table, so pair
    distances are exact integers and the whole graph value-hash
    oracle-checks. Scale shape: after encoding, the quadratic stage
    compares CODES with CODES inside each cell's sub-block pairs
    (block_pair_fan) and emits only per-aid partial top-k rows.
    Returns (src, dst, d) with src < dst, one row per mutual edge.

    ``n_centroids=None`` (the default) sizes the cells to ~√n — the
    measured rule from SCALE.md 'Graph cell sizing': a fixed cell count
    degrades the pair volume toward n²/C, while C ~ √n keeps it at the
    O(n^1.5) candidate envelope WITHOUT a caller hint. The count() that
    sizes it is parquet-metadata-only on the usual scan input. Callers
    replaying a pinned configuration (the DuckDB oracle uses 16) pass
    the knob explicitly."""
    if n_centroids is None:
        n_centroids = auto_graph_cells(emb.count())
    cent = hash_spread_seeds(emb, n_centroids)
    asg = assign_cells(emb, cent).select(F.col("vec_id").alias("aid"), "cid")
    # the pair stage is a cell-blocked grouped Arrow kernel — one
    # gather-sum distance matrix per (cell sub-block, sub-block) group
    # plus a per-aid tie-preserving partial top-k, replacing the
    # (cid, sub_id) row join x n_sub, the broadcast SDC join, the
    # pair-sized groupBy sum AND most of the top-k window's input
    # (the window now merges ~n x k partials instead of ranking
    # Σ|cell|² pair rows). The r14 attempt at removing this machinery
    # (a folded-literal SDC gather as a JVM projection) measured
    # SLOWER because the interpreted expression lost to the join's
    # codegen; the numpy kernel wins where the expression could not —
    # the same history as minhash_dedup_pairs. Distances are exact
    # int64 SDC gathers (_collect_sdc, one _il2_py per code pair),
    # NULL-codes rows are dropped exactly as the exploded-encode inner
    # join dropped them, and sub-blocking keeps a hot cell's quadratic
    # pair mass spread across tasks.
    cb = _collect_codebook_from_emb(emb, n_sub, n_codes)
    if not any(cb):  # empty corpus: no codes
        return emb.sparkSession.createDataFrame(
            [], "src bigint, dst bigint, d bigint"
        )
    node = (
        pq_encode_codes(emb, cb)
        .where(F.col("codes").isNotNull())
        .select(F.col("vec_id").alias("aid"), "codes")
        .join(asg, "aid")
    )
    # block grain read at call time (module global) so tests can pin
    # sub-blocked == whole-cell equality by monkeypatching it
    partial = (
        block_pair_fan(node, ["cid"], "aid", block_rows=GRAPH_PAIR_BLOCK_ROWS)
        .groupBy("cid", "qblk", "tblk")
        .applyInArrow(
            _make_graph_pair_kernel(_collect_sdc(cb), k),
            "aid bigint, bid bigint, d bigint",
        )
    )
    wk = Window.partitionBy("aid").orderBy(F.col("d"), F.col("bid"))
    # topk materialized eagerly: the mutuality join consumes it twice
    # (fwd/rev) with DIFFERENT column prunings, so the pre-window
    # exchanges are not byte-identical and ReusedExchange does not fire
    # — without this the whole fan+kernel subtree compiles and runs
    # once per direction (verified in plans/r15/knn_graph_mutual_*:
    # 2 kernel nodes without the checkpoint). n x k rows, within this
    # invocation only; blocks are freed when the frame is GC'd.
    topk = (
        partial.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= k)
        .localCheckpoint(eager=True)
    )
    fwd = topk.select("aid", "bid", "d")
    rev = topk.select(
        F.col("bid").alias("aid"), F.col("aid").alias("bid")
    )
    return (
        fwd.join(rev, ["aid", "bid"])
        .where(F.col("aid") < F.col("bid"))
        .select(
            F.col("aid").alias("src"), F.col("bid").alias("dst"), "d"
        )
    )
