"""Deduplication operators for LLM training-data pipelines.

Four tiers, all shuffle-bounded (no crossJoin anywhere — candidate
generation always groups or equi-joins on a bucket key, which is the
only formulation that survives 100 TB):

- exact:    sha256(text) group-by. One shuffle on the hash.
- minhash:  distinct-token (unigram) shingles -> k permutation-min
            signatures -> LSH banding -> grouped sub-block pairs per
            (band, band_hash). Candidate count is controlled by the
            band geometry, not O(n^2).
- simhash:  63-bit weighted-token signature -> chunk banding ->
            equi-join on chunks, hamming verify via bit_count(xor).
- embedding:near-dup via cosine on LSH-bucketed candidates (see
            operators/similarity.py for the bucketing).

MinHash params are module constants seeded once — deterministic across
runs. xxhash64 is Spark's built-in 64-bit hash (JVM-side).
"""

from __future__ import annotations

import itertools
import random
from typing import Iterator  # noqa: UP035 - PySpark's pandas_udf
# type-hint inference resolves string hints in THIS module's globals
# and requires typing.Iterator (collections.abc is not recognized)

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Observation, functions as F

from etl_dagster_service_crawler_spark.operators.block_pairs import block_pair_fan
from etl_dagster_service_crawler_spark.operators.joins import hot_keys, salt_hot_keys

# Universal-hash family h_i(x) = (a_i * x + b_i) mod P over Z_P.
# P = 2^31 - 1 keeps a*x < 2^62 (no bigint overflow).
MINHASH_P = 2_147_483_647
NUM_HASHES = 32
# 4 bands x 8 rows: candidate threshold (1/b)^(1/r) ~= 0.84 — tuned for
# near-dup dedup at jaccard >= ~0.9. More bands (lower threshold) makes
# candidate generation explode on high-overlap corpora.
LSH_BANDS = 4
LSH_ROWS = NUM_HASHES // LSH_BANDS

_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_HASHES)]

# Skew hardening for the label-propagation joins: a near-constant
# corpus (20% boilerplate pages is realistic crawl data) puts that
# whole fraction into ONE band bucket, and the bucket->members join
# then funnels the hot key through one task — the real 100 TB failure
# mode. Buckets larger than HOT_BUCKET_ROWS get salted: members hash
# to one of N_SALTS sub-keys, and the 1-row-per-bucket label side is
# REPLICATED across all salts, so the join result is bit-identical
# while the hot key's probe rows spread over N_SALTS tasks
# (operators/joins.salt_hot_keys). Both are read at call time, so
# tests force the salted plan by monkeypatching them.
HOT_BUCKET_ROWS = 100_000
N_SALTS = 16


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-identity dedup: one row per distinct text, keeping the
    smallest id (deterministic winner). Returns (id, text_hash, n_dups)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_dups"),
        )
        .select(id_col, "text_hash", "n_dups")
    )


def make_affine_min_sig_udf(a_coeffs, b_coeffs, p):
    """pandas_udf factory: hv array<bigint> -> the k-seed MinHash
    signature array<bigint> with sig[k] = min_i (a_k*h_i + b_k) mod p,
    empty hv -> the all-p sentinel, NULL hv -> NULL — exactly the
    aggregate/zip_with fold it replaces (guide §4.2: the fold is an
    interpreted per-shingle HOF allocating two k-arrays per element;
    this kernel does the same arithmetic as three vectorized numpy
    passes over the batch's flattened shingle hashes + one
    minimum.reduceat). Exact integer math: a < 2^31 and h < p < 2^31
    keep a*h + b inside int64, and numpy's % on non-negative int64
    matches the JVM's — signatures are bit-identical (pinned by the
    oracle on the md5 export twin and by unit tests here)."""
    a_list = [int(x) for x in a_coeffs]
    b_list = [int(x) for x in b_coeffs]
    p = int(p)
    k = len(a_list)

    def _kernel(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np
        import pandas as pd

        a = np.array(a_list, dtype=np.int64).reshape(-1, 1)
        b = np.array(b_list, dtype=np.int64).reshape(-1, 1)
        sentinel = np.full(k, p, dtype=np.int64)
        for hv in it:
            arrs = [
                None if v is None else np.asarray(v, dtype=np.int64)
                for v in hv
            ]
            nonempty = [x for x in arrs if x is not None and len(x)]
            if nonempty:
                flat = np.concatenate(nonempty)
                m = (a * flat + b) % p
                lens = np.fromiter(
                    (len(x) for x in nonempty), dtype=np.int64
                )
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                mins = np.minimum.reduceat(m, starts, axis=1)
            j = 0
            out = []
            for x in arrs:
                if x is None:
                    out.append(None)
                elif len(x) == 0:
                    out.append(sentinel)
                else:
                    out.append(mins[:, j])
                    j += 1
            yield pd.Series(out)

    return F.pandas_udf(_kernel, "array<bigint>")


_SIG32_UDF = None


def _sig32_udf():
    """Lazy singleton of the production 32-seed signature kernel (the
    factory builds a plain serializable closure; laziness just avoids
    re-wrapping per call)."""
    global _SIG32_UDF
    if _SIG32_UDF is None:
        _SIG32_UDF = make_affine_min_sig_udf(MINHASH_A, MINHASH_B, MINHASH_P)
    return _SIG32_UDF


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Signature hashing is CPU-bound; if the scan produced far fewer
    partitions than cores (single-row-group files), fan the docs out
    first. The shuffled payload is raw docs — tiny next to the token
    stream the hash stage expands them into. No-op when the source is
    already well-partitioned (the 100 TB case)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, id_col)
    return df


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per doc: id + `sig` array<bigint> of k component minima.

    Shingles are the doc's DISTINCT space-split tokens (the unigram
    token set, so a token permutation signs identically; the
    order-sensitive 3-token shingles live in the md5 export family of
    workloads/llm.py). Shingle hashes fold once into an array column
    JVM-side (xxhash64, codegen), then
    the k running minima are computed by the vectorized numpy kernel
    (make_affine_min_sig_udf, guide §4.2) — still ONE shuffle-free
    projection per doc, with only the hv column crossing the Arrow
    boundary. (History of this hot spot: the explode -> groupBy
    formulation shuffles the full token stream — measured 3x slower at
    sf0.1; k-separate `array_min(transform(...))` re-walks the shingle
    array k times — 1.6x slower; the single aggregate/zip_with HOF
    fold, the r13 shape, is interpreted per shingle with two k-array
    allocations each — the r14 kernel replaces exactly that, measured
    1.18 s -> 0.74 s on the signature stage at sf0.1 for bit-identical
    output.) At 100 TB the first difference is a full-corpus
    token-stream shuffle avoided.

    Empty token sets get the all-P sentinel signature — every
    empty doc shares it, so byte-identical empty docs cluster together,
    and P is out of the [0, P) hash range so no real shingle set can
    collide with the sentinel on all k components."""
    df = _spread(df, id_col)
    # materialize the token array once per row BEFORE the per-token
    # lambda (docs/SCALE.md rule 1)
    dt = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    hv = dt.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(F.col("__toks")),
            lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)),
        ).alias("hv"),
    )
    return hv.select(id_col, _sig32_udf()(F.col("hv")).alias("sig"))


# Sub-block grain of the LSH pair stage (read at call time, so tests
# can pin sub-blocked == whole-bucket output by monkeypatching it): a
# bucket with more members than this splits into ceil(n/B) hash
# sub-blocks, so a mega bucket (the near-constant-corpus failure mode)
# never serializes through one kernel call — per-group work is bounded
# by B^2 x k comparisons (~34M int ops at B=1024, tens of ms). B=512
# (not 4096) because the pair WEIGHT of a bucket is quadratic in its
# size: at sf0.1 a 1630-member bucket left whole put 42% of all
# candidate pairs into one hash partition; sweeping B at sf0.1 measured
# 128..512 equal within noise and 1024+ slower (straggler partitions
# return). A smaller B replicates each member over more groups
# (ceil(m/B) each), so the LARGEST B inside the flat knee wins — 512.
MINHASH_PAIR_BLOCK_ROWS = 512


def _band_hashes() -> Column:
    """The LSH_BANDS band hashes of a `sig` column as one array:
    band j hashes (j, its LSH_ROWS signature components)."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(j),
                *[F.element_at("sig", j * LSH_ROWS + r + 1) for r in range(LSH_ROWS)],
            )
            for j in range(LSH_BANDS)
        ]
    )


def _make_lsh_pair_kernel(threshold: float, k: int):
    """Grouped Arrow kernel over one (band, bh, qblk, tblk) sub-block
    pair: exact replay of the streamed join's per-candidate math
    (guide §4.2) — n_eq = Σ_k [sig_a[k] == sig_b[k]] as one dense numpy
    compare, est = n_eq / k in float64 (same IEEE divide), pairs with a
    NULL signature on either side score 0 (each NULL eq term folded to
    0, exactly the CASE ... OTHERWISE 0), first-matching-band emission
    as (band) plain != masks over the earlier band hashes, and
    id_a < id_b orientation. Emits only survivors of est >= threshold,
    so the output IS the old row set."""

    # bound the (rows x rows x k) boolean equality temporary: chunk the
    # query rows so one slab stays ~64 MB (cache/RSS-friendly with many
    # concurrent workers). A gather-based variant (one fancy-indexed
    # pass per component over a flattened pair list) measured SLOWER
    # distributed — 32 workers of random gathers saturate memory
    # bandwidth where the dense compare streams sequentially.
    slab_elems = 64 * 1024 * 1024

    def kernel(key, table):
        import numpy as np
        import pyarrow as pa

        from etl_dagster_service_crawler_spark.operators.block_pairs import (
            list_matrix,
            sides,
        )

        band = key[0].as_py()
        q, n, same = sides(key, table)
        ids = table.column("__id").to_numpy()
        ok = table.column("ok").to_numpy()
        sig = list_matrix(table, "sigf")
        bhs = list_matrix(table, "bhs")
        qids, nids = ids[q], ids[n]
        mq, mn = len(qids), len(nids)
        out_a = [np.zeros(0, dtype=np.int64)]
        out_b = [np.zeros(0, dtype=np.int64)]
        out_e = [np.zeros(0, dtype=np.float64)]
        if mq and mn:
            qsig, nsig = sig[q], sig[n]
            okm = ok[q][:, None] & ok[n][None, :]
            qbh, nbh = bhs[q], bhs[n]
            # chunk query rows so the 3D equality slab stays bounded
            step = max(1, slab_elems // max(1, mn * k))
            for lo in range(0, mq, step):
                hi = min(mq, lo + step)
                # ONE dense pass: n_eq = Σ_k [sig_a[k] == sig_b[k]]
                neq = (qsig[lo:hi, None, :] == nsig[None, :, :]).sum(
                    axis=2, dtype=np.int32
                )
                est = neq.astype(np.float64) / float(k)
                est = np.where(okm[lo:hi], est, 0.0)
                keep = est >= threshold
                for j in range(band):
                    keep &= qbh[lo:hi, j][:, None] != nbh[:, j][None, :]
                if same:
                    keep &= qids[lo:hi, None] < nids[None, :]
                ia, ib = np.nonzero(keep)
                a_raw, b_raw = qids[ia + lo], nids[ib]
                out_a.append(np.minimum(a_raw, b_raw))
                out_b.append(np.maximum(a_raw, b_raw))
                out_e.append(est[ia, ib])
        return pa.table(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "est_jaccard": np.concatenate(out_e),
            }
        )

    return kernel


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.7,
) -> DataFrame:
    """Near-dup pairs with estimated jaccard >= threshold.
    Estimate = fraction of equal signature components. Requires a
    numeric (long) id_col — ids cross the Arrow kernel as int64.

    Shape (guide §4.1/§4.2): each (band, bh) bucket splits into
    ceil(n/MINHASH_PAIR_BLOCK_ROWS) hash sub-blocks (block_pair_fan)
    and every candidate pair is evaluated by a dense numpy kernel once
    per (sub-block, sub-block) group — one vectorized equality pass per
    group instead of streaming Σ|bucket|² candidates through a bucket
    self-join's interpreted 32-term CASE chain (the r13/r14 shape:
    measured 5.1-6.2 s at sf0.1 against 2.5-3.2 s for the kernel,
    identical 1,268,188-pair output). Semantics replayed exactly:

    - each qualifying pair is emitted by its FIRST matching band only
      (kernel mask: no earlier band hash equal), so the output is
      exactly the distinct pair set with no dedup exchange;
    - est = (Σ_k [sig_a[k] == sig_b[k]]) / k in float64, pairs with a
      NULL signature on either side score 0 (the CASE ... OTHERWISE 0
      fold), emitted iff est >= threshold;
    - id_a < id_b orientation (strict id order within a sub-block,
      value min/max across sub-blocks).

    Skew: a mega bucket splits into bounded groups — per-group work
    <= B² x k compares — instead of one task owning the quadratic pair
    mass (measured 42% of all pairs in one task before sub-blocking).
    Singleton buckets (the vast majority) are dropped by the fan's
    size prefilter before any payload is shuffled.

    Negative results on the old join shape: statically expanding its
    first-matching-band HOF code-generated the 32-branch est CASE chain
    past the JIT's method limit — 24-28 s vs 6 s."""
    # localCheckpoint(eager), not persist+count (r15): the fan's two
    # consumers (size prefilter + member rows) read a materialized
    # frame, and the checkpoint leaves no CacheManager entry behind
    # (blocks are freed when the frame is GC'd)
    sig = minhash_signatures(df, id_col, text_col).localCheckpoint(eager=True)
    bucket = sig.select(
        F.col(id_col).alias("__id"),
        F.col("sig").isNotNull().alias("ok"),
        F.coalesce(
            "sig", F.array_repeat(F.lit(0).cast("bigint"), NUM_HASHES)
        ).alias("sigf"),
        _band_hashes().alias("bhs"),
    ).select(
        "__id", "ok", "sigf", "bhs", F.posexplode("bhs").alias("band", "bh")
    )
    keys = ["band", "bh"]
    return (
        block_pair_fan(bucket, keys, "__id", block_rows=MINHASH_PAIR_BLOCK_ROWS)
        .groupBy(*keys, "qblk", "tblk")
        .applyInArrow(
            _make_lsh_pair_kernel(threshold, NUM_HASHES),
            "id_a bigint, id_b bigint, est_jaccard double",
        )
    )


def minhash_assign_representatives(
    df: DataFrame, id_col: str, text_col: str, exact: bool = False,
) -> DataFrame:
    """Scalable dedup ASSIGNMENT: each doc -> a cluster representative,
    without ever enumerating pairs (pair output is O(cluster^2) — a
    million-pair blowup on template-heavy corpora; assignment is O(n)).

    rep = min id over all band buckets the doc belongs to (one-hop label
    propagation over the LSH bucket graph — the standard first pass of
    distributed near-dup dedup; iterate to a fixpoint for full connected
    components). Two shuffles total: bucket stats, then per-doc min.

    Skew-hardened (see HOT_BUCKET_ROWS): bucket size and bucket min
    come out of ONE aggregation; buckets above the threshold have their
    members salted across N_SALTS sub-keys and their (one-row) rep
    replicated to every salt, so the members<-rep join spreads a mega
    bucket over N_SALTS tasks instead of funnelling it through one.
    Results are bit-identical with salting on or off (pinned by test).

    exact=True swaps LSH band buckets for ONE sha2(text) bucket per doc
    (the same degeneration as minhash_cluster_cc's exact mode): rep
    then provably equals min(id) per verbatim-text group — a full SQL
    oracle for this plan's stats/salt/join shape."""
    if exact:
        buckets = df.select(
            F.col(id_col), F.sha2(F.col(text_col), 256).alias("bh")
        )
    else:
        sig = minhash_signatures(df, id_col, text_col)
        # sig materialized: the skew probe plus the plan's two consumers
        # would otherwise recompute the signature fold three times (the
        # 2-consumer no-persist tradeoff measured in r2 flips with a
        # third consumer). In exact mode the bucket projection is a
        # cheap sha2 — not worth a cache. r15: localCheckpoint(eager)
        # instead of a lazy persist — measured a wash on wall time at
        # sf0.1 but it leaves no CacheManager entry for the session to
        # leak (blocks are freed when the frame is GC'd; the persists
        # here were never unpersisted).
        buckets = sig.localCheckpoint(eager=True).select(
            F.col(id_col), F.explode(_band_hashes()).alias("bh")
        )
    # bucket stats materialized too: one row per distinct bucket — min
    # id and size come out of the same exchange, read by the probe and
    # by the main plan.
    stats = buckets.groupBy("bh").agg(
        F.min(id_col).alias("bucket_rep"), F.count(F.lit(1)).alias("bn")
    ).localCheckpoint(eager=True)
    # short-circuit: pay the salted plan ONLY when a hot bucket exists
    # — one cheap job over the checkpointed stats decides
    hot = hot_keys(stats, "bh", "bn", HOT_BUCKET_ROWS)
    bucket_min = stats.select("bh", "bucket_rep")
    if hot is None:
        joined = buckets.join(bucket_min, "bh")
    else:
        joined = salt_hot_keys(
            buckets, hot, "bh", N_SALTS, spread_col=id_col
        ).join(salt_hot_keys(bucket_min, hot, "bh", N_SALTS), ["bh", "salt"])
    return (
        joined.groupBy(id_col)
        .agg(F.min("bucket_rep").alias("rep_id"))
        .withColumn("is_dup", F.col(id_col) != F.col("rep_id"))
    )


def minhash_cluster_cc(
    df: DataFrame, id_col: str, text_col: str, exact: bool = False,
) -> DataFrame:
    """FULL near-dup clustering: connected components over the LSH
    bucket graph (cc_label_propagation), every doc labeled with the
    smallest id of its component. Returns (id, label, is_dup).

    One-hop assignment (minhash_assign_representatives) can split a
    chain A~B~C where A and C share buckets only with B; connected
    components merge such chains. Docs with no co-bucketed neighbor
    keep their own id as label.

    exact=True swaps the LSH band buckets for ONE bucket per doc,
    sha2(text) — the bucket graph then IS the exact-duplicate relation,
    so the labels provably equal min(id) per verbatim-text group:
    `min(id) OVER (PARTITION BY text)` in ANSI SQL. That makes the
    components machinery oracle-checkable end-to-end by the driver's
    DuckDB differential, while the approximate default keeps its unit
    tests (recall/chain-merge). Only the edge construction changes."""
    if exact:
        edges = df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("bh"))
    else:
        sig = minhash_signatures(df, id_col, text_col)
        edges = sig.select(F.col(id_col), F.explode(_band_hashes()).alias("bh"))
    return cc_label_propagation(edges, id_col)


# Driver bytes charged per star row when sizing the residual collect:
# the two ids as Arrow columns plus the numpy union-find's working set
# (the concatenated endpoints, np.unique's sort and inverse, the parent
# array and the per-round root gathers; ~110 B a row at peak, traced on
# a 1M-row star of int64 ids), with 2x headroom. Read at call time, so
# tests force the distributed loop by raising it past any result-size
# limit.
CC_STAR_ROW_BYTES = 256


def cc_label_propagation(edges: DataFrame, id_col: str) -> DataFrame:
    """Connected components over an (id, bh) membership frame: every
    id that shares a bucket `bh` with another is in its component, and
    its label is the component's smallest id. The LSH families pass
    band buckets; the pair graphs (semantic_dedup_clusters, the
    verified-pair pipeline, source_mirror_communities) pass each edge
    as a 2-member bucket plus one self-bucket per node. Edges with a
    NULL id or bucket are dropped: they name no node and join nothing.
    Returns (id, label, is_dup), label of the id's type.

    Bucket-star contraction first: one aggregation gives each bucket
    its size and min id, and every non-min member of a bucket with more
    than one member becomes ONE star edge (id, bucket min). The star
    graph has the same components as the bucket graph, and its size is
    the non-singleton membership — on near-dup corpora a small fraction
    of the edges (6,000 docs x 4 bands: 24,000 edges, 6,652 star rows).
    When the star fits one driver collect (spark.driver.maxResultSize,
    the limit Spark already puts on a collect, over CC_STAR_ROW_BYTES a
    row; the driver heap when that limit is 0), a vectorized union-find
    on the driver (_min_labels) labels it, and the labels go back as a
    broadcast side: each node's label is its star label or, untouched
    by any star edge, its own id. A handful of Spark jobs in all,
    against two to three per round for the loop.

    When the star does not fit, the distributed loop runs on the edges
    (_cc_loop): the 100 TB shape, where the residual outgrows the
    driver. Both paths return checkpointed frames (plan depth O(1))."""
    spark = edges.sparkSession
    edges = edges.where(
        F.col(id_col).isNotNull() & F.col("bh").isNotNull()
    ).localCheckpoint(eager=True)
    # one bucket-stats pass serves the star and, on the loop path, the
    # hot-bucket probe and iteration 0's bucket-min (labels start as the
    # identity, so the first bucket-min is min(id) per bucket)
    stats = (
        edges.groupBy("bh")
        .agg(F.count(F.lit(1)).alias("bn"), F.min(id_col).alias("bucket_label"))
        .persist()
    )
    try:
        star = (
            edges.join(stats.where(F.col("bn") > 1), "bh")
            .where(F.col(id_col) != F.col("bucket_label"))
            .select(id_col, "bucket_label")
        )
        bound = _max_result_bytes(spark) // CC_STAR_ROW_BYTES
        residual = star.limit(bound + 1).toArrow()
        if residual.num_rows > bound:
            labels = _cc_loop(edges, stats, id_col)
        else:
            ids, lab = _min_labels(
                residual.column(0).to_numpy(), residual.column(1).to_numpy()
            )
            id_type = residual.schema.field(0).type
            moved = spark.createDataFrame(pa.table({
                id_col: pa.array(ids, type=id_type),
                "label": pa.array(lab, type=id_type),
            }))
            labels = (
                edges.select(id_col).distinct()
                .join(F.broadcast(moved), id_col, "left")
                .select(id_col, F.coalesce("label", id_col).alias("label"))
                .localCheckpoint(eager=True)
            )
    finally:
        stats.unpersist()
    return labels.withColumn("is_dup", F.col(id_col) != F.col("label"))


def _max_result_bytes(spark) -> int:
    """spark.driver.maxResultSize in bytes (Spark's default 1g); when
    it is 0 (no limit), the driver heap, spark.driver.memory. A bare
    number reads as bytes, which can only shrink the bound."""
    size = _size_bytes(spark.conf.get("spark.driver.maxResultSize", "1g"))
    return size or _size_bytes(spark.conf.get("spark.driver.memory", "1g"))


def _size_bytes(size: str) -> int:
    """A Spark size string ("512m", "1g", "2gb", bare bytes) in bytes."""
    v = size.strip().lower().removesuffix("b")
    units = "kmgtp"
    if v[-1:] in units:
        return int(v[:-1]) << (10 * (units.index(v[-1]) + 1))
    return int(v)


def _min_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the undirected edges (a[i], b[i]):
    (node, label) for every node whose label, the smallest id of its
    component, is not the node itself. Union-find over dense node
    indices in sorted-id order, so the smallest index is the smallest
    id: each round hooks every edge's larger root under its smaller
    root, then pointer-jumps until every node points at its root, and
    stops when no edge crosses two roots. Parents only ever decrease,
    so no round can form a cycle."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        np.minimum.at(
            parent, np.maximum(ru, rv)[cross], np.minimum(ru, rv)[cross]
        )
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    moved = parent != np.arange(len(nodes))
    return nodes[moved], nodes[parent[moved]]


def _cc_loop(edges: DataFrame, stats: DataFrame, id_col: str) -> DataFrame:
    """(id, label) by iterative min-label propagation to a fixpoint over
    the checkpointed edges, for a star residual too large for the
    driver. `stats` is the (bh, bn, bucket_label) aggregate of the
    same edges.

    Shuffle discipline — each iteration is exactly the TWO unavoidable
    aggregation exchanges (labels by bucket, bucket labels by doc):

    - The edge frame is persisted TWICE, pre-partitioned by each join
      key (`id` for the label join, `bh` for the bucket-min join). Both
      per-iteration joins then reuse the partitioning of the persisted
      side and of the previous aggregation's output, so neither join
      adds an exchange.
    - Convergence is a fixpoint check on `sum(label)`: per-doc labels
      are monotonically non-increasing under min-propagation, so the
      sum is strictly decreasing until the fixpoint and equality means
      NO label changed, and the loop needs no round cap: a sum of ids
      cannot decrease forever. The label sum is accumulated in
      DECIMAL(38,0) so row-count x id-magnitude cannot overflow.
    - Iteration 0 skips the label join entirely: its bucket-min is the
      stats frame's min id per bucket.
    - Each iteration ends with a POINTER JUMP (label <- label's label):
      one extra label-frame self-join that halves the remaining chain
      distance, so convergence is O(log diameter) bucket rounds instead
      of O(diameter).

    Width: the loop's shuffles are sized to the EDGE COUNT, not the
    session default (~250k edge rows per task, floor 8, cap at the
    session conf): a plain 200-partition session otherwise schedules
    200 near-empty tasks per exchange per iteration and the fixpoint
    loop becomes pure task-launch latency. At 100 TB the edge count
    drives the width back up to the cluster default and the clamp is a
    no-op. The conf is set only while the loop runs and restored
    after."""
    spark = edges.sparkSession
    default_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(8, min(default_width, edges.count() // 250_000 + 1))

    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        by_id = edges.repartition(width, F.col(id_col)).persist()
        # Skew hardening (static across iterations, so probed ONCE):
        # hot buckets — the near-constant-corpus mega bucket — get
        # their members salted over N_SALTS sub-keys; each iteration's
        # label side is replicated across those salts, keeping results
        # bit-identical while the per-iteration members<-label join
        # spreads the hot key over N_SALTS tasks. The salted loop
        # (broadcast barriers, 2-key join, replicate generate) is built
        # ONLY when the probe finds a hot bucket.
        hot = hot_keys(stats, "bh", "bn", HOT_BUCKET_ROWS)
        if hot is not None:
            by_bh = (
                salt_hot_keys(by_id, hot, "bh", N_SALTS, spread_col=id_col)
                .repartition(width, F.col("bh"), F.col("salt"))
                .persist()
            )
            join_keys = ["bh", "salt"]
        else:
            by_bh = by_id.repartition(width, F.col("bh")).persist()
            join_keys = "bh"

        labels: DataFrame | None = None
        prev_sum = None
        for it in itertools.count():
            if labels is None:
                bucket_min = stats.select("bh", "bucket_label")
            else:
                bucket_min = (
                    by_id.join(labels, id_col)
                    .groupBy("bh")
                    .agg(F.min("label").alias("bucket_label"))
                )
            if hot is not None:
                bucket_min = salt_hot_keys(bucket_min, hot, "bh", N_SALTS)
            hop = (
                by_bh.join(bucket_min, join_keys)
                .groupBy(id_col)
                .agg(F.min("bucket_label").alias("label"))
            )
            # pointer jump: follow the label one more step through the
            # hop frame itself (labels are doc ids, so label2 = hop[label])
            lmap = hop.select(
                F.col(id_col).alias("label"), F.col("label").alias("label2")
            )
            cur = hop.join(lmap, "label", "left").select(
                F.col(id_col), F.coalesce("label2", "label").alias("label")
            )
            # localCheckpoint, not persist: persist caches DATA but the
            # LOGICAL plan keeps growing — the pointer jump self-joins
            # hop with itself, so the plan TREE doubles every round
            # (shared subtrees are re-printed, not shared, by plan
            # stringification); the 10x scale replica OOM'd the driver
            # inside TreeNode.generateTreeString before the data was
            # ever large. Checkpointing truncates lineage to a
            # LogicalRDD each job: plan depth is O(1) in iterations (on
            # a cluster: reliable checkpoint dir, same call shape).
            #
            # The fixpoint sum rides the checkpoint action as an
            # observed metric: one job per round, computed on exactly
            # the rows the checkpoint writes. Equal consecutive sums
            # mean the LAST round changed nothing, so stopping on
            # equality is exact.
            obs = Observation(f"cc_labsum_{it}")
            new_labels = (
                cur.observe(
                    obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
                )
                .localCheckpoint(eager=True)
            )
            new_sum = obs.get["s"]
            if labels is not None:
                labels.unpersist()
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        # labels is checkpointed (LogicalRDD), so the returned frame no
        # longer depends on the edge caches — release them here instead
        # of leaking them into a long-lived session
        by_id.unpersist()
        by_bh.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(default_width))
    return labels


SIMHASH_BITS = 63  # 1<<63 overflows a signed long literal
# 7 chunks of 9 bits: every pair within hamming distance 6 shares at
# least one chunk (pigeonhole), so 6 is the verify bound with complete
# recall.
SIMHASH_CHUNKS = 7


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """63-bit SimHash: per-token xxhash64, +1/-1 vote per bit, sign of
    the vote becomes the bit.

    Computed with higher-order array functions — token hashes once into
    an array column, then one `aggregate` fold per bit — so the whole
    signature is a single shuffle-free projection per doc. The explode
    -> groupBy(63 sums) formulation shuffles the full token stream;
    measured 7x slower at sf0.1 for identical output."""
    df = _spread(df, id_col)
    hv = df.select(
        F.col(id_col),
        F.transform(F.split(F.col(text_col), " "), lambda s: F.xxhash64(s)).alias("hv"),
    )
    bit_terms = []
    for k in range(SIMHASH_BITS):
        # NB: plain closure over k is correct here — the lambda runs at
        # expression-construction time, inside this iteration. Adding a
        # k=k default would raise the arity to 3 and PySpark would pass
        # the element index as the third argument, clobbering k.
        vote = F.aggregate(
            "hv",
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(1 << k)) != 0, 1).otherwise(-1),
        )
        bit_terms.append(F.shiftleft(F.when(vote > 0, 1).otherwise(0).cast("bigint"), k))
    sig = sum(bit_terms[1:], bit_terms[0])
    return hv.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Pairs within hamming distance SIMHASH_CHUNKS-1 (6): candidates
    share >=1 of the SIMHASH_CHUNKS 9-bit signature chunks, verified
    with bit_count(xor). The bound is the banding's recall limit (a
    pair at distance 7 can differ in every chunk), so the pair set is
    complete.

    Like minhash_dedup_pairs, each pair is emitted from its FIRST
    matching chunk only (join condition: no earlier chunk equal), so
    the output is the distinct pair set with no distinct exchange —
    two shuffles total (the self-join's two sides)."""
    # eagerly materialized: the 63-agg vote pass would otherwise run
    # once per self-join side (lazy caches race-fill). localCheckpoint
    # (r15) skips the persist path's separate count job and leaves no
    # CacheManager entry to leak across invocations.
    sig = simhash_signatures(df, id_col, text_col).localCheckpoint(eager=True)
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    cvs = F.array(
        *[
            F.shiftright("simhash", j * width).bitwiseAND(F.lit((1 << width) - 1))
            for j in range(SIMHASH_CHUNKS)
        ]
    )
    buckets = sig.select(
        F.col(id_col), "simhash", cvs.alias("cvs")
    ).select(id_col, "simhash", "cvs", F.posexplode("cvs").alias("cid", "cv"))
    a, b = buckets.alias("a"), buckets.alias("b")
    # static expansion of "no earlier chunk equal" (r14, the
    # minhash_dedup_pairs rewrite): the sides share `cid`, so the
    # slice+zip_with+exists HOF — interpreted per candidate and a
    # whole-stage-codegen blocker on the pair join — reduces to plain
    # element comparisons with identical truth value.
    no_earlier_collision = F.lit(True)
    for j in range(SIMHASH_CHUNKS - 1):
        no_earlier_collision = no_earlier_collision & (
            (F.col("a.cid") <= j)
            | (F.element_at(F.col("a.cvs"), j + 1)
               != F.element_at(F.col("b.cvs"), j + 1))
        )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & no_earlier_collision,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_CHUNKS - 1)
    )
