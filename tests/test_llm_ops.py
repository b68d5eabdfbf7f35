from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    simhash_near_pairs,
)
from etl_dagster_service_crawler_spark.operators.multimodal import (
    build_multimodal,
    extract_features,
)
from etl_dagster_service_crawler_spark.operators.similarity import (
    cosine_topk_bruteforce,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact_keeps_min_id(spark):
    df = _docs(spark, [(1, "aa bb"), (2, "aa bb"), (3, "cc dd")])
    out = {r["doc_id"]: r["n_dups"] for r in dedup_exact(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_permuted_duplicate(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    permuted = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    other = "one two three four five six seven eight nine ten"
    df = _docs(spark, [(1, base), (2, permuted), (3, other)])
    pairs = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.7).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].est_jaccard == 1.0  # identical token sets


def test_minhash_firstband_pairs_equal_naive_distinct(spark, sf_dir):
    """The first-matching-band emission must produce EXACTLY the pair
    set the naive formulation gets from enumerate-all-bands + distinct
    — same ids, same estimates — on real fixture docs."""
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").limit(200)
    fast = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)

    sig = D.minhash_signatures(docs, "doc_id", "text")
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at("sig", j * D.LSH_ROWS + r + 1)
                        for r in range(D.LSH_ROWS)
                    ]
                ).alias("bh"),
            )
            for j in range(D.LSH_BANDS)
        ]
    )
    buckets = sig.select(F.col("doc_id"), F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    naive_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    n_eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda t: t,
        )
    )
    naive = (
        naive_pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (n_eq.cast("double") / float(D.NUM_HASHES)).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= 0.5)
    )
    got = {(r.id_a, r.id_b, r.est_jaccard) for r in fast.collect()}
    want = {(r.id_a, r.id_b, r.est_jaccard) for r in naive.collect()}
    assert got == want and len(want) > 0


def test_minhash_subblocked_hot_bucket_matches_whole_bucket(spark, monkeypatch):
    """The r15 sub-blocked pair kernel must emit the identical pair set
    when a bucket is split across sub-blocks (MINHASH_PAIR_BLOCK_ROWS
    smaller than the hot bucket) as when every bucket fits one block — including
    cross-block id orientation, first-matching-band masking, and the
    est values. A shared template puts many docs into the same band
    buckets (the hot-bucket shape), unique docs stay singletons."""
    tmpl = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, tmpl) for i in range(60)]
    rows += [(1000 + i, f"unique doc {i} words tail {i * 7} end") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    import etl_dagster_service_crawler_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "MINHASH_PAIR_BLOCK_ROWS", 4096)
    whole = dd.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5)
    got_w = {(r.id_a, r.id_b, r.est_jaccard) for r in whole.collect()}
    monkeypatch.setattr(dd, "MINHASH_PAIR_BLOCK_ROWS", 8)
    split = dd.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5)
    got_s = {(r.id_a, r.id_b, r.est_jaccard) for r in split.collect()}
    # 60 identical docs -> the full 60*59/2 clique at est 1.0 must be
    # present exactly once each (as a subset: the "unique" docs share
    # template tokens and may legitimately pair among themselves too)
    assert got_w == got_s
    clique = {(a, b, e) for a, b, e in got_w if a < 60 and b < 60}
    assert len(clique) == 60 * 59 // 2
    assert all(a < b for a, b, _ in got_w)
    assert all(e == 1.0 for _, _, e in clique)


def test_minhash_pairs_null_text_scores_zero(spark):
    """A NULL-text doc has a NULL signature: every eq term folds to 0,
    so it can never reach a positive threshold — and its presence must
    not break the kernel (NULL rows cross as masked zero rows)."""
    rows = [(1, "aa bb cc dd"), (2, "aa bb cc dd"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    got = {(r.id_a, r.id_b) for r in
           minhash_dedup_pairs(df, "doc_id", "text", 0.5).collect()}
    assert got == {(1, 2)}


def test_split_train_holdout_deterministic_fraction(spark, sf_dir):
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_split_train_holdout,
    )

    out = q_split_train_holdout(spark, sf_dir).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    total = sum(counts.values())
    # 13/16 expected in train; generous tolerance for small fixtures
    assert 0.70 <= counts["train"] / total <= 0.92
    again = q_split_train_holdout(spark, sf_dir).groupBy("split").count().collect()
    assert {r["split"]: r["count"] for r in again} == counts


def test_pack_token_budget_assignment_matches_local_recompute(spark, sf_dir):
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PACK_BUDGET_TOKENS,
        q_pack_token_budget,
    )

    rows = q_pack_token_budget(spark, sf_dir).collect()
    by_shard: dict[tuple, list] = {}
    for r in rows:
        by_shard.setdefault((r.source, r.shard), []).append(r)
    assert len({s for s, _ in by_shard}) > 1
    packs: dict[tuple, int] = {}
    for (source, shard), docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in docs:
            assert r.shard == r.doc_id % 16
            assert r.pack_id == cum // PACK_BUDGET_TOKENS
            cum += r.n_tok
            packs[(source, shard, r.pack_id)] = (
                packs.get((source, shard, r.pack_id), 0) + r.n_tok
            )
    # budget invariant: a pack only exceeds the budget via its LAST doc
    # (greedy running-sum packing) — so pack_tokens < budget + max_doc,
    # and any pack >= budget must contain a doc that straddles the edge
    for (source, shard, pid), tot in packs.items():
        members = [
            r for r in by_shard[(source, shard)] if r.pack_id == pid
        ]
        biggest = max(r.n_tok for r in members)
        assert tot < PACK_BUDGET_TOKENS + biggest


def test_minhash_unigram_signature_ignores_token_order(spark):
    """Signatures hash the distinct token set, so a token permutation
    signs identically."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    permuted = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    df = _docs(spark, [(1, base), (2, permuted), (3, "xy")])
    uni = {r.doc_id: r.sig for r in minhash_signatures(df, "doc_id", "text").collect()}
    assert uni[1] == uni[2]


def test_simhash_near_identical_docs_pair_up(spark):
    a = " ".join(f"tok{i}" for i in range(50))
    b = " ".join(f"tok{i}" for i in range(49)) + " other"
    c = " ".join(f"zzz{i}" for i in range(50))
    df = _docs(spark, [(1, a), (2, b), (3, c)])
    pairs = {(p.id_a, p.id_b) for p in
             simhash_near_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bruteforce_topk_orders_by_cosine(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),   # closest to 0
        (2, [0.0, 1.0]),   # orthogonal
        (3, [-1.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = cosine_topk_bruteforce(df, [0], k=3).orderBy("rn").collect()
    assert [r.nid for r in out] == [1, 2, 3]


def _ivf_queries(emb, qids):
    return emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def test_ivf_search_full_probe_equals_bruteforce(spark, sf_dir, tmp_path):
    """nprobe == n_centroids probes every cell, so the persisted-index
    search must equal the exact brute force row for row: same
    neighbours, same ranks, bit-identical cosines."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_build,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "ivf")
    ivf_build(emb, index_dir, n_centroids=8)
    got = ivf_search(
        spark, index_dir, _ivf_queries(emb, [0, 1]), k=5, nprobe=8
    ).collect()
    want = cosine_topk_bruteforce(emb, [0, 1], k=5).collect()
    assert len(got) == 10
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_ivf_search_runs_no_count_job(spark, sf_dir, tmp_path, monkeypatch):
    """The bucket count of a freshly built index comes from its _NDIRS
    marker: ivf_search must not count the centroids (a Spark job per
    query batch)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_build,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "ivf")
    ivf_build(emb, index_dir, n_centroids=8)
    q = _ivf_queries(emb, [0, 1])

    def boom(self):
        raise AssertionError("ivf_search ran a count job")

    monkeypatch.setattr(type(emb), "count", boom)
    assert len(ivf_search(spark, index_dir, q, k=5, nprobe=2).collect()) == 10


def test_ivf_persisted_index_search_is_exact_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_build,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "ivf")
    ivf_build(emb, index_dir, n_centroids=8)

    q = _ivf_queries(emb, [0, 1])
    searched = ivf_search(spark, index_dir, q, k=5, nprobe=2)
    got = searched.collect()
    # a pruned search returns k rows per query, ranked by the exact
    # cosine of each returned pair
    exact = {
        (r.qid, r.nid): r.cos
        for r in cosine_topk_bruteforce(emb, [0, 1], k=10**6).collect()
    }
    assert len(got) == 10
    for r in got:
        assert r.cos == exact[(r.qid, r.nid)]
    for qid in (0, 1):
        ranked = sorted((r for r in got if r.qid == qid), key=lambda r: r.rn)
        assert [r.rn for r in ranked] == [1, 2, 3, 4, 5]
        assert [r.cos for r in ranked] == sorted(
            (r.cos for r in ranked), reverse=True
        )

    # the search scan must read ONLY probed buckets: the literal
    # IN-filter on pb (= pmod(cid, n_dirs); n_dirs == n_centroids here,
    # so one cell per bucket) lands in the scan's PartitionFilters, and
    # with nprobe=2 and 2 queries the pruned file source keeps at most
    # 4 of 8 partitions; the probed cids must ALSO be pushed as a data
    # filter for row-group pruning inside shared buckets (inputFiles()
    # ignores pushed filters, so inspect the executed plan's scan node)
    import re as _re

    fmt = spark._jvm.PythonSQLUtils.explainString(
        searched._jdf.queryExecution(), "formatted"
    )
    in_filters = [
        m.group(1)
        for ln in fmt.splitlines()
        if "PartitionFilters" in ln
        for m in [_re.search(r"pb#\d+ IN \(([\d,]+)\)", ln)]
        if m
    ]
    assert in_filters, f"no static partition IN-filter on the assignments scan:\n{fmt}"
    probed = {int(c) for c in in_filters[0].split(",")}
    assert len(probed) <= 4, f"more partitions probed than nprobe allows: {probed}"
    assert _re.search(
        r'PushedFilters: \[.*In\(cid', fmt
    ), f"probed cids not pushed to the assignments scan:\n{fmt}"

    # atomic publish: a second build over an existing index either wins
    # by rename or cleanly discards its staging — never a partial dir
    ivf_build(emb, index_dir, n_centroids=8)
    import os

    assert sorted(os.listdir(index_dir)) == ["_NDIRS", "assignments", "centroids"]
    assert not [d for d in os.listdir(tmp_path) if "stage" in d]



def test_sink_ivf_index_force_rebuild_and_layout(spark, sf_dir, scratch_root):
    """The r15 benched build entry: force-rebuilds into the canonical
    index dir every invocation (old tree swapped out whole, no stage/
    old residue), returns the read-back (vec_id, cid, pb) with one row
    per corpus vector, pb == pmod(cid, _NDIRS), and search results over
    the rebuilt index identical to the pre-rebuild ones (seeded k-means
    -> deterministic rebuild)."""
    import os

    from etl_dagster_service_crawler_spark.io.tables import scratch_dir
    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_search,
    )
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_sink_ivf_index,
    )

    out1 = q_sink_ivf_index(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(out1) == n
    root = scratch_dir(sf_dir, "ivf")
    dirs = os.listdir(root)
    assert len(dirs) == 1 and not any(
        "stage" in d or "old" in d for d in dirs
    )
    index_dir = os.path.join(root, dirs[0])
    with open(os.path.join(index_dir, "_NDIRS")) as fh:
        nd = int(fh.read().strip())
    assert all(r["pb"] == r["cid"] % nd for r in out1)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = {(r.qid, r.rn, r.nid) for r in
              ivf_search(spark, index_dir, q, k=5, nprobe=2).collect()}
    # second invocation: rebuild-and-swap, identical rows, no residue
    out2 = q_sink_ivf_index(spark, sf_dir).collect()
    assert sorted((r["vec_id"], r["cid"]) for r in out1) == sorted(
        (r["vec_id"], r["cid"]) for r in out2
    )
    assert len(os.listdir(root)) == 1
    after = {(r.qid, r.rn, r.nid) for r in
             ivf_search(spark, index_dir, q, k=5, nprobe=2).collect()}
    assert before == after
    # calibration memo persisted with the index (search entries read it)
    assert os.path.exists(os.path.join(index_dir, "nprobe_calibration.json"))


def test_ivf_search_and_append_use_recorded_bucket_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Readers and appenders size pmod by the layout ON DISK (the
    _NDIRS marker, atomic with the publish rename), never by today's
    cap constant. Build under a small cap (8 cells -> 4 bucket dirs),
    then restore the default cap: re-deriving would give nd=8 and the
    probe's pb = pmod(cid, 8) would prune to the WRONG directories,
    silently dropping candidate buckets. With the marker, search
    results are identical before and after the cap change, and an
    append lands rows in the resident 4-dir layout. Without the
    marker, search and the count raise instead of guessing."""
    import os

    from etl_dagster_service_crawler_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_dir = str(tmp_path / "ivf_cap4")
    monkeypatch.setattr(S, "IVF_MAX_PARTITION_DIRS", 4)
    S.ivf_build(emb, index_dir, n_centroids=8)
    with open(os.path.join(index_dir, "_NDIRS")) as fh:
        assert fh.read().strip() == "4"
    q = emb.where(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = {
        (r.qid, r.rn, r.nid)
        for r in S.ivf_search(spark, index_dir, q, k=5, nprobe=8).collect()
    }
    assert before, "search under the build-time cap returned nothing"

    monkeypatch.setattr(S, "IVF_MAX_PARTITION_DIRS", 128)
    after = {
        (r.qid, r.rn, r.nid)
        for r in S.ivf_search(spark, index_dir, q, k=5, nprobe=8).collect()
    }
    assert after == before, (
        "cap resize between build and search changed results - the "
        "probe is not honoring the recorded bucket count"
    )
    # append path: recorded nd keeps new rows in the resident layout
    # even under a resized cap
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    extra = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    S.write_assignments(
        S.assign_cells(extra, centroids),
        f"{index_dir}/assignments",
        S.ivf_index_n_dirs(index_dir),
        mode="append",
    )
    pbs = {
        int(e.split("=", 1)[1])
        for e in os.listdir(f"{index_dir}/assignments")
        if e.startswith("pb=")
    }
    assert pbs == {0, 1, 2, 3}, f"append spilled outside the resident layout: {pbs}"
    back = spark.read.parquet(f"{index_dir}/assignments")
    bad = back.where(F.col("pb") != F.pmod(F.col("cid"), F.lit(4))).count()
    assert bad == 0, "appended rows bucketed with the wrong modulus"

    # no marker: the layout on disk is not trusted, both readers raise
    import pytest

    os.remove(os.path.join(index_dir, "_NDIRS"))
    with pytest.raises(FileNotFoundError, match="_NDIRS"):
        S.ivf_index_n_dirs(index_dir)
    with pytest.raises(FileNotFoundError, match="_NDIRS"):
        S.ivf_search(spark, index_dir, q, k=5, nprobe=8)


def test_multimodal_features_deterministic_and_typed(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    mm = build_multimodal(docs)
    assert dict(mm.dtypes)["payload"] == "binary"
    f1 = {r.doc_id: (r.payload_len, tuple(r.feat)) for r in extract_features(mm).collect()}
    f2 = {r.doc_id: (r.payload_len, tuple(r.feat)) for r in extract_features(mm).collect()}
    assert f1 == f2 and len(f1) == 20
    n_chars = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    for doc_id, (plen, feat) in f1.items():
        assert plen == n_chars[doc_id]  # ascii text: bytes == chars
        assert len(feat) == 8


def test_srp_lsh_finds_near_identical_vectors(spark):
    import math

    from pyspark.sql import Row

    from etl_dagster_service_crawler_spark.operators.similarity import (
        srp_neardup_pairs,
    )

    dim = 8
    base = [math.sin(i + 1) for i in range(dim)]
    nearly = [x * 1.001 + 0.0005 for x in base]
    opposite = [-x for x in base]
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=base),
            Row(vec_id=2, embedding=nearly),
            Row(vec_id=3, embedding=opposite),
        ]
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in srp_neardup_pairs(df, threshold=0.99, dim=dim).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_frame_sample_matches_local_recompute(spark, sf_dir):
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.operators.multimodal import (
        build_multimodal,
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 5")
    got = {
        (r["doc_id"], r["frame_no"]): (r["offset"], r["frame_sum"])
        for r in frame_sample(build_multimodal(docs), every_n_bytes=64).collect()
    }
    for row in docs.collect():
        data = row["text"].encode("utf-8")
        for i, off in enumerate(range(0, len(data), 64)):
            chunk = data[off : off + 64]
            assert got[(row["doc_id"], i)] == (off, sum(chunk) % 100_000)


def test_dual_sink_foreach_batch_writes_both(spark, sf_dir, tmp_path):
    import time

    from etl_dagster_service_crawler_spark.io.sinks import dual_sink_foreach_batch
    from etl_dagster_service_crawler_spark.streaming.ingest import stream_events

    main, side = str(tmp_path / "main"), str(tmp_path / "side")
    s = stream_events(spark, sf_dir).select("event_id", "event_type")
    q = (
        s.writeStream.foreachBatch(dual_sink_foreach_batch(main, side, ["event_type"]))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    main_df = spark.read.json(main)
    side_df = spark.read.json(side)
    n = main_df.count()
    assert n > 0 and side_df.count() == n
    assert side_df.columns == ["event_type"]


def _chain_corpus(spark):
    """A~B and B~C overlap (share LSH buckets) but A and C don't."""
    # jaccard(a, mid) = jaccard(mid, c) ~ 0.94 — above the ~0.84
    # banding threshold; a and c differ at both ends
    mid = " ".join(f"w{i}" for i in range(30))
    a = " ".join(f"w{i}" for i in range(0, 29)) + " onlyA"
    c = " ".join(f"w{i}" for i in range(1, 30)) + " onlyC"
    other = "entirely different text about benchmarks and clusters"
    return _docs(spark, [(1, a), (2, mid), (3, c), (4, other)])


def test_cc_merges_chains_one_hop_cannot(spark):
    """Full connected components must put all three docs of a chain in
    one cluster."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_cluster_cc,
    )

    df = _chain_corpus(spark)
    lab = {r["doc_id"]: r["label"] for r in minhash_cluster_cc(df, "doc_id", "text").collect()}
    assert lab[1] == lab[2] == lab[3]
    assert lab[4] != lab[1]


def _cc_chain(spark):
    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_cluster_cc,
    )

    return minhash_cluster_cc(_chain_corpus(spark), "doc_id", "text")


def _cc_hot_bucket(spark):
    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_cluster_cc,
    )
    from tests.test_skew import _skewed_corpus

    return minhash_cluster_cc(_skewed_corpus(spark), "doc_id", "text")


def _cc_exact_dups(spark):
    """exact=True over docs with verbatim re-crawls injected under
    shifted ids (the dedup_cc_exact shape)."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_cluster_cc,
    )

    rows = [(i, f"page {i % 13} body") for i in range(40)]
    rows += [(1000 + i, t) for i, t in rows if i % 3 == 0]
    return minhash_cluster_cc(_docs(spark, rows), "doc_id", "text", exact=True)


def _cc_int_self_buckets(spark):
    """Pair edges as 2-member buckets plus one self-bucket per node,
    int ids (the source_mirror_communities shape)."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        cc_label_propagation,
    )

    pairs = [(2, 5), (5, 9), (9, 3), (7, 8)]
    rows = [(n, f"p|{a}|{b}") for a, b in pairs for n in (a, b)]
    rows += [(n, f"self|{n}") for n in range(12)]
    edges = spark.createDataFrame(rows, "sn int, bh string")
    return cc_label_propagation(edges, "sn")


def _cc_null_id(spark):
    """A NULL id and a NULL bucket among the edges: neither names a
    node nor joins two buckets."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        cc_label_propagation,
    )

    rows = [(1, "b1"), (2, "b1"), (None, "b1"), (None, "b2"), (3, "b2"),
            (4, "b2"), (5, None), (6, "b3")]
    edges = spark.createDataFrame(rows, "doc_id bigint, bh string")
    return cc_label_propagation(edges, "doc_id")


@pytest.mark.parametrize(
    "build",
    [_cc_chain, _cc_hot_bucket, _cc_exact_dups, _cc_int_self_buckets, _cc_null_id],
)
def test_cc_union_find_matches_forced_loop(spark, monkeypatch, build):
    """The driver union-find finish and the distributed loop return the
    same (id, label, is_dup) rows with the same column types."""
    from tests.conftest import force_cc_loop

    finish = build(spark)
    force_cc_loop(monkeypatch)
    loop = build(spark)
    assert finish.dtypes == loop.dtypes
    id_col = finish.columns[0]
    rows = finish.orderBy(id_col).collect()
    assert rows == loop.orderBy(id_col).collect()
    assert dict(finish.dtypes)["label"] == dict(finish.dtypes)[id_col]
    if build is _cc_null_id:
        assert [tuple(r) for r in rows] == [
            (1, 1, False), (2, 1, True), (3, 3, False), (4, 3, True),
            (6, 6, False),
        ]
    if build is _cc_int_self_buckets:
        assert dict(finish.dtypes)["label"] == "int"
        lab = {r["sn"]: r["label"] for r in rows}
        assert {lab[n] for n in (2, 3, 5, 9)} == {2}
        assert lab[7] == lab[8] == 7


def test_min_labels_matches_sequential_union_find():
    """The vectorized driver union-find labels every node of random
    multigraphs (self-loops, repeated edges, many rounds of hooking)
    with its component's min id, like a one-edge-at-a-time union-find."""
    import numpy as np

    from etl_dagster_service_crawler_spark.operators.dedup import _min_labels

    def sequential(a, b):
        parent: dict[int, int] = {}

        def root(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for u, v in zip(a.tolist(), b.tolist()):
            ru, rv = root(u), root(v)
            parent[max(ru, rv)] = min(ru, rv)
        return {x: root(x) for x in list(parent) if root(x) != x}

    for seed in range(20):
        rng = np.random.default_rng(seed)
        m = int(rng.integers(0, 400))
        a, b = rng.integers(0, 300, m), rng.integers(0, 300, m)
        ids, lab = _min_labels(a, b)
        assert dict(zip(ids.tolist(), lab.tolist())) == sequential(a, b)


def test_cc_oracle_queries_identical_on_forced_loop(spark, sf_dir, monkeypatch):
    """The oracle-checked CC queries run the union-find finish at the
    test scale; the distributed loop must return the same rows."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_source_mirror_communities,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import q_dedup_cc_exact
    from tests.conftest import force_cc_loop

    queries = (q_dedup_cc_exact, q_source_mirror_communities)
    finish = [sorted(map(tuple, q(spark, sf_dir).collect())) for q in queries]
    force_cc_loop(monkeypatch)
    loop = [sorted(map(tuple, q(spark, sf_dir).collect())) for q in queries]
    assert finish == loop
    assert all(finish)


def test_cc_loop_labels_long_chain_to_fixpoint(spark, monkeypatch):
    """The distributed loop runs until no label changes, however many
    rounds that takes: an increasing-id chain of 2,100 members, one
    2-member bucket per link, still has labels above 0 after 10 rounds
    (they reach 0 in round 11 and round 12 sees the sum repeat), and
    every member must end labelled with the chain's min id."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        cc_label_propagation,
    )
    from tests.conftest import force_cc_loop

    n = 2100
    rows = [(i + d, f"link{i}") for i in range(n - 1) for d in (0, 1)]
    edges = spark.createDataFrame(rows, "doc_id bigint, bh string")
    force_cc_loop(monkeypatch)
    labels = cc_label_propagation(edges, "doc_id").collect()
    assert len(labels) == n
    assert {r["label"] for r in labels} == {0}


def test_image_decode_and_resize_with_pillow():
    """Runs green where pillow is installed; SKIPS (not stubs) where it
    isn't — the decode body is real either way."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from etl_dagster_service_crawler_spark.operators.multimodal import (
        decode_image,
        resize_image,
    )

    buf = io.BytesIO()
    PIL_Image.new("RGB", (8, 6), color=(10, 20, 30)).save(buf, format="PNG")
    payload = buf.getvalue()

    arr = decode_image(payload)
    assert arr.shape == (6, 8, 3)
    assert (arr[0, 0] == [10, 20, 30]).all()

    small = resize_image(payload, 4, 3)
    assert decode_image(small).shape == (3, 4, 3)


def test_image_decode_raises_cleanly_without_pillow():
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("pillow installed: the guarded error path is unreachable")
    except ImportError:
        pass
    from etl_dagster_service_crawler_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError, match="pillow"):
        decode_image(b"not-an-image")


# --- corpus hygiene: repetition / contamination / mixture --------------------


def _doc_fixture_dir(spark, tmp_path, rows):
    """Write handcrafted rows in the full documents schema so
    load_table's pinned-schema check passes."""
    full = [
        (i, t, "en", f"src{i % 4}", len(t)) for i, t in rows
    ]
    df = spark.createDataFrame(
        full, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_repetition_score_hand_values(spark, tmp_path):
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_text_repetition_score,
    )

    d = _doc_fixture_dir(spark, tmp_path, [(1, "a a a b"), (2, "x")])
    out = {r.doc_id: r for r in q_text_repetition_score(spark, d).collect()}
    r1 = out[1]
    # words [a,a,a,b]; bigrams [a a, a a, a b]
    assert (r1.n_words, r1.n_distinct, r1.n_bigrams, r1.top_bigram_n) == (4, 2, 3, 2)
    assert r1.dup_word_frac == 0.5
    assert r1.top_bigram_frac == round(2 / 3, 4)
    r2 = out[2]  # single word: no bigrams, no division blow-ups
    assert (r2.n_words, r2.n_bigrams, r2.top_bigram_n) == (1, 0, 0)
    assert r2.top_bigram_frac == 0.0


def test_decontaminate_flags_injected_leak_only(spark, sf_dir):
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CONTAM_LEAK_MOD,
        CONTAM_PROBE_MOD,
        q_decontaminate_ngram,
    )

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CONTAM_NGRAM_N,
        CONTAM_PHRASE,
    )

    # independent python recomputation: the corpus contains organic
    # near-duplicates, so docs beyond the injected leaks can genuinely
    # share an 8-gram with a probe — recompute ground truth from text
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def grams(doc_id: str) -> set[tuple[str, ...]]:
        t = texts[doc_id]
        if doc_id % CONTAM_LEAK_MOD == 0 or doc_id % CONTAM_PROBE_MOD == 0:
            t = t + " " + CONTAM_PHRASE
        w = t.split(" ")
        n = CONTAM_NGRAM_N
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}

    probe_grams = set()
    for doc_id in texts:
        if doc_id % CONTAM_PROBE_MOD == 0:
            probe_grams |= grams(doc_id)

    rows = q_decontaminate_ngram(spark, sf_dir).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r.contaminated == int(bool(grams(r.doc_id) & probe_grams)), r
        assert r.is_probe == int(r.doc_id % CONTAM_PROBE_MOD == 0)
    assert sum(r.contaminated for r in rows) > 0
    assert sum(1 - r.contaminated for r in rows) > 0


def test_mix_weighted_sample_matches_md5_rates(spark, sf_dir):
    import hashlib

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_mix_weighted_sample,
    )

    kept = {r.doc_id: r for r in q_mix_weighted_sample(spark, sf_dir).collect()}
    src = {
        (r.doc_id, r.source)
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    }
    thresholds = {0: "4", 1: "8", 2: "c", 3: "g"}
    for doc_id, source in src:
        w = int("".join(c for c in source if c.isdigit())) % 4
        nib = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
        expect_kept = nib < thresholds[w]
        assert (doc_id in kept) == expect_kept, (doc_id, source, nib)
        if expect_kept:
            assert kept[doc_id].weight_16 == (w + 1) * 4


def test_cluster_semantic_kmeans_partitions_corpus(spark, sf_dir):
    """Cluster sizes must sum to the corpus, every cluster non-empty at
    fixture scale, cohesion within [-1, 1], and the output must be
    deterministic across invocations (fixed k-means seed)."""
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_cluster_semantic_kmeans,
    )

    total = load_table(spark, sf_dir, "embeddings").count()
    a = q_cluster_semantic_kmeans(spark, sf_dir).collect()
    assert sum(r.n_members for r in a) == total
    assert all(r.n_members > 0 for r in a)
    assert all(-1.0 <= r.cohesion <= 1.0 for r in a)
    b = q_cluster_semantic_kmeans(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_corpus_clean_incremental_skips_seen_hashes(spark, sf_dir):
    """Incremental clean must (a) never emit a text whose hash exists in
    the cleaned existing corpus, (b) dedup within the new batch, and
    (c) actually exercise the skip path (fixture has cross-boundary
    duplicates)."""
    import hashlib

    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.functions.text import (
        lang_id,
        quality_score,
    )
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CLEAN_INCR_SPLIT_DEN,
        CLEAN_INCR_SPLIT_NUM,
        CLEAN_QUALITY_MIN,
        CLEAN_REP_MAX,
        q_corpus_clean_incremental,
    )

    d = load_table(spark, sf_dir, "documents")
    split_id = d.count() * CLEAN_INCR_SPLIT_NUM // CLEAN_INCR_SPLIT_DEN
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    dup_frac = (n - F.size(F.array_distinct(w))).cast("double") / n.cast("double")
    gated = d.where(
        (lang_id(F.col("text")) == F.col("lang"))
        & (quality_score(F.col("text"), F.col("n_chars")) >= CLEAN_QUALITY_MIN)
        & (dup_frac <= CLEAN_REP_MAX)
    )
    rows = gated.select("doc_id", "text").collect()
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    existing = {md5(r.text) for r in rows if r.doc_id < split_id}
    new_gated = [(r.doc_id, md5(r.text)) for r in rows if r.doc_id >= split_id]

    out = q_corpus_clean_incremental(spark, sf_dir).collect()
    out_hashes = [r.text_hash for r in out]
    assert not (set(out_hashes) & existing)          # (a) seen hashes skipped
    assert len(out_hashes) == len(set(out_hashes))   # (b) in-batch dedup
    # (c) the skip path is provably exercised: the query injects a
    # re-crawl (every 7th existing doc arrives again) and ALL of those
    # hashes are in `existing`, so they must be absent from the output
    recrawls = [r for r in rows if r.doc_id < split_id and r.doc_id % 7 == 0]
    assert recrawls
    assert all(md5(r.text) not in out_hashes for r in recrawls)
    # completeness: every unseen new hash appears exactly once
    assert set(out_hashes) == {h for _, h in new_gated} - existing


def test_embedding_quality_gate_flags_injected_defects(spark, sf_dir):
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_embedding_quality_gate,
    )

    rows = {r.vec_id: r for r in q_embedding_quality_gate(spark, sf_dir).collect()}
    assert rows[1].dim_ok == 0 and rows[1].usable == 0        # truncated
    assert rows[2].nonzero_ok == 0 and rows[2].usable == 0    # zero norm
    assert rows[3].finite_ok == 0 and rows[3].usable == 0     # NaN
    clean = [r for v, r in rows.items() if v not in (1, 2, 3)]
    assert clean and all(r.usable == 1 for r in clean)


def test_cc_plan_depth_constant_across_iterations(spark, monkeypatch):
    """Regression for the sf1 driver OOM: the pointer-jump self-join
    of the label-propagation loop doubled the LOGICAL plan tree every
    fixpoint round, so plans (and their stringification) grew
    exponentially with iteration count. localCheckpoint truncates
    lineage per round — the final plan must be a flat LogicalRDD
    regardless of how many rounds ran."""
    from pyspark.sql import Row

    from etl_dagster_service_crawler_spark.operators.dedup import (
        minhash_cluster_cc,
    )
    from tests.conftest import force_cc_loop

    force_cc_loop(monkeypatch)

    # a long duplicate CHAIN: doc i overlaps doc i+1 only, forcing
    # several propagation rounds (pointer jumping halves the distance,
    # so 9 links still need >= 3 rounds)
    base = [f"w{i}" for i in range(40)]
    rows = [
        Row(doc_id=i, text=" ".join(base[i : i + 30]))
        for i in range(10)
    ]
    out = minhash_cluster_cc(spark.createDataFrame(rows), "doc_id", "text")
    lab = {r["doc_id"]: r["label"] for r in out.collect()}
    # chain fully merged...
    assert len(set(lab.values())) == 1
    # ...and the plan is iteration-count-independent: a checkpointed
    # leaf plus the final projection, not 2^rounds joined subtrees
    plan = out._jdf.queryExecution().logical().toString()
    assert len(plan) < 4000, f"plan grew with iterations ({len(plan)} chars)"
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_repetition_exprs_null_text_yields_zero(spark):
    """Null-safe contract: a NULL text scores 0 for the top-bigram
    run (not NULL) — callers reuse the helper on nullable columns."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.workloads.llm import (
        repetition_exprs,
    )

    df = spark.createDataFrame([(None,), ("a a a a",)], "text string")
    _, _, top_bg = repetition_exprs(F.col("text"))
    vals = [r[0] for r in df.select(top_bg).collect()]
    assert vals[0] == 0
    assert vals[1] == 3  # "a a" bigram repeats 3x


def test_rerank_topk_exact_when_r_covers_corpus(spark, sf_dir):
    """Exactness property of the quantized re-rank: with r_candidates
    >= corpus size the coarse cut keeps everything, so the result must
    equal brute force ROW FOR ROW (same ids, same ranks, same cos)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        quantized_rerank_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    exact = {
        (r.qid, r.rn): (r.nid, r.cos)
        for r in cosine_topk_bruteforce(emb, [0, 1, 2], k=5).collect()
    }
    rer = {
        (r.qid, r.rn): (r.nid, r.cos)
        for r in quantized_rerank_topk(
            emb, [0, 1, 2], k=5, r_candidates=n
        ).collect()
    }
    assert rer == exact


def _jvm_q8_fold(vec_col: str):
    """Reference for the quantize kernel: the embedding_quantize int8
    formula as the plain JVM expression fold the kernel replaced —
    q = floor(x * 127 / max|x| + 0.5), zero vectors to zeros."""
    from pyspark.sql import functions as F

    absmax = F.aggregate(
        F.col(vec_col), F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + 0.5).cast("bigint"),
    )


def test_rerank_coarse_kernel_replays_jvm_edge_semantics(spark):
    """quantized_rerank_topk's coarse kernel must score every
    (query, corpus) pair exactly like the JVM expression it replaced:
    int8 dot / (query n8 * corpus n8) when that product is > 0, else
    -2.0 (zero vectors, NULL embeddings, NULL elements, NaN rows); NULL
    when the lengths differ (the zip_with NULL pad); self excluded."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.operators.similarity import (
        _make_coarse_scores_kernel,
        quantize_rows,
    )

    rows = [
        (1, [1.0, -2.0, 0.5]),
        (2, None),
        (3, []),
        (4, [0.0, 0.0, 0.0]),
        (5, [3.5, None, -1.25]),
        (6, [2.0, 1.0]),
        (7, [1.0, float("nan"), -2.0]),
        (8, [-1.0, 2.0, 0.25]),
    ]
    queries = [1, 2, 5, 6, 8]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    qrows = quantize_rows(e.where(F.col("vec_id").isin(queries))).collect()
    got = {
        (r["qid"], r["nid"]): r["coarse"]
        for r in e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("emb"))
        .mapInArrow(
            _make_coarse_scores_kernel(qrows), "qid bigint, nid bigint, coarse double"
        )
        .collect()
    }

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    base = e.select("vec_id", _jvm_q8_fold("embedding").alias("q8"))
    base = base.withColumn("n8", F.sqrt(idot(F.col("q8"), F.col("q8")).cast("double")))
    q = base.where(F.col("vec_id").isin(queries)).select(
        F.col("vec_id").alias("qid"), F.col("q8").alias("qq8"), F.col("n8").alias("qn8")
    )
    denom = F.col("qn8") * F.col("n8")
    coarse = F.when(
        denom > 0, idot(F.col("qq8"), F.col("q8")).cast("double") / denom
    ).otherwise(F.lit(-2.0))
    want = {
        (r["qid"], r["vec_id"]): r["coarse"]
        for r in base.join(q, F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", coarse.alias("coarse"))
        .collect()
    }
    assert got == want
    assert got[(1, 6)] is None and got[(1, 7)] == -2.0 and got[(5, 1)] == -2.0


def test_rerank_topk_default_r_recall(spark, sf_dir):
    """At the default R the int8 coarse cut must not cost measurable
    recall on the fixtures (measured 1.0 at sf0.01/sf0.001; pin 0.9
    to leave quantization-noise margin)."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        TOPK_QUERY_IDS,
        q_similarity_topk,
        q_similarity_topk_rerank,
    )

    truth = {
        (r.qid, r.nid)
        for r in q_similarity_topk(spark, sf_dir).collect()
    }
    got = {
        (r.qid, r.nid)
        for r in q_similarity_topk_rerank(spark, sf_dir).collect()
    }
    assert len(got) == len(TOPK_QUERY_IDS) * 5
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"rerank recall@5 {recall:.2f} below 0.9"


def test_quality_classifier_score_matches_local_recompute(spark, sf_dir):
    """quality_classifier_score: hash-weight inference equals an
    independent Python recompute (md5 60-bit bucket weights, exact
    integer milli-mean, keep threshold)."""
    import hashlib

    from etl_dagster_service_crawler_spark.workloads.llm import (
        QC_KEEP_MIL,
        QC_WEIGHT_BUCKETS,
        q_quality_classifier_score,
    )

    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    expect = {}
    for r in rows:
        toks = r["text"].split(" ")
        raw = sum(
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            % QC_WEIGHT_BUCKETS
            for t in toks
        )
        mil = (1000 * raw) // len(toks) if toks else 0
        expect[r["doc_id"]] = (len(toks), raw, mil, mil >= QC_KEEP_MIL)
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["raw_score"],
            r["mean_weight_mil"],
            r["keep"],
        )
        for r in q_quality_classifier_score(spark, sf_dir).collect()
    }
    assert got == expect
    # the threshold is the weight-scale midpoint: both classes occur
    # on the fixture corpus
    keeps = {v[3] for v in got.values()}
    assert keeps == {True, False} or len(got) < 5


def test_srp_bucket_export_consistent_with_lsh_pairs(spark, sf_dir):
    """The oracle-backed bucket export and the production LSH join use
    the SAME planes (similarity.srp_planes): every near-dup pair the
    join emits must share its bucket in at least one exported table —
    otherwise the export anchors different keys than production
    blocks on."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_dedup_embedding_lsh,
        q_srp_bucket_export,
    )

    buckets: dict[tuple[int, int], int] = {
        (r["vec_id"], r["tbl"]): r["bkt"]
        for r in q_srp_bucket_export(spark, sf_dir).collect()
    }
    n_tables = max(t for _, t in buckets) + 1
    pairs = q_dedup_embedding_lsh(spark, sf_dir).collect()
    for r in pairs:
        a, b = r["id_a"], r["id_b"]
        assert any(
            buckets[(a, t)] == buckets[(b, t)] for t in range(n_tables)
        ), f"pair ({a},{b}) shares no exported bucket"


def test_ivf_exports_reuse_production_operators(spark, sf_dir):
    """ivf_assign_export must equal a direct assign_cells run on the
    deterministic centroid set (it IS that run), and every probe row
    must reference an existing cell with ranks 1..nprobe per query."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        assign_cells,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        IVF_EXPORT_NPROBE,
        TOPK_QUERY_IDS,
        _export_centroids,
        q_ivf_assign_export,
        q_ivf_probe_export,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["vec_id"], r["cid"])
        for r in q_ivf_assign_export(spark, sf_dir).collect()
    }
    want = {
        (r["vec_id"], int(r["cid"]))
        for r in assign_cells(e, _export_centroids(e)).collect()
    }
    assert got == want
    probes = q_ivf_probe_export(spark, sf_dir).collect()
    by_q: dict[int, list[int]] = {}
    for r in probes:
        by_q.setdefault(r["qid"], []).append(r["probe_rank"])
    assert set(by_q) == set(TOPK_QUERY_IDS)
    assert all(
        sorted(v) == list(range(1, IVF_EXPORT_NPROBE + 1))
        for v in by_q.values()
    )


def test_similarity_pair_histogram_totals_and_duplicate_mode(spark, sf_dir, tmp_path):
    """Histogram invariants: bucket counts sum to n(n-1)/2 (every
    unordered pair once, no zero vectors in the fixture), and a
    duplicate-heavy corpus concentrates mass in the top bucket (the
    signal the threshold-picker looks for)."""
    import numpy as np
    import pandas as pd

    from etl_dagster_service_crawler_spark.operators.similarity import (
        similarity_pair_histogram,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    rows = similarity_pair_histogram(e).collect()
    assert sum(r["pair_count"] for r in rows) == n * (n - 1) // 2
    assert all(0 <= r["bucket"] <= 19 for r in rows)
    assert all(abs(r["cos_lo"] - (r["bucket"] / 10.0 - 1.0)) < 1e-12 for r in rows)

    # 50 vectors x 4 exact copies: >= C(4,2)*50 = 300 of the 4950
    # pairs are exact duplicates -> bucket 19 (clamped cos = 1.0)
    rng = np.random.default_rng(3)
    base = rng.normal(size=(50, 16)).astype(np.float32)
    vecs = np.repeat(base, 4, axis=0)
    pd.DataFrame(
        {
            "vec_id": pd.array(range(200), dtype="int64"),
            "embedding": list(vecs),
            "label": pd.array([0] * 200, dtype="int32"),
        }
    ).to_parquet(f"{tmp_path}/embeddings.parquet", index=False)
    dup = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    got = {r["bucket"]: r["pair_count"] for r in similarity_pair_histogram(dup).collect()}
    assert got.get(19, 0) >= 300
    assert sum(got.values()) == 200 * 199 // 2


def test_similarity_pair_histogram_skips_null_embeddings(spark):
    """A NULL embedding has no cosine: it must drop out of the pair
    histogram like a zero vector, leaving every other pair's bucket
    unchanged (it once zeroed its whole block's cosines)."""
    import random

    from etl_dagster_service_crawler_spark.operators.similarity import (
        similarity_pair_histogram,
    )

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    schema = "vec_id bigint, embedding array<float>"

    def hist(rs):
        return sorted(
            tuple(r)
            for r in similarity_pair_histogram(
                spark.createDataFrame(rs, schema)
            ).collect()
        )

    assert hist(rows + [(100, None)]) == hist(rows)


def test_quantize_rows_kernel_replays_jvm_edge_semantics(spark):
    """The Arrow quantize kernel must replay the JVM expression chain
    exactly, including the edges: NULL embedding -> NULL q8/n8;
    empty array -> empty q8, n8 = 0.0; a NULL element -> NULL q8
    element and a NULL-poisoned n8 fold; zero vector -> all-zero q8,
    n8 = 0.0; NaN / +Inf / -Inf elements (alone, mixed with finite
    values, or next to a NULL) -> whatever the JVM fold gives. Compare
    kernel output row-for-row against the JVM fold _jvm_q8_fold.

    The same rows through pq_encode_codes (which quantizes with the
    same kernel code) must encode every row with an embedding to the
    per-subspace argmin of _il2_py over the kernel's q8, ties to the
    smallest code: full-width rows take the vectorized argmin, the
    others the per-row replay — where a NULL next to a NaN/±Inf
    element used to raise."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.operators.similarity import (
        _il2_py,
        pq_encode_codes,
        quantize_rows,
    )

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.0, -2.0, 0.5]),
        (2, None),
        (3, []),
        (4, [0.0, 0.0]),
        (5, [3.5, None, -1.25]),
        (6, [127.0]),
        (7, [1.0, nan, -2.0]),
        (8, [0.5, inf, -3.0]),
        (9, [-inf, 2.0]),
        (10, [nan]),
        (11, [inf, None, 1.0]),
        (12, [2.0, 4.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {
        r["id"]: (r["q8"], r["n8"])
        for r in quantize_rows(e).collect()
    }
    isq = F.aggregate(
        F.col("q8"), F.lit(0).cast("bigint"),
        lambda acc, x: acc + (x * x).cast("bigint"),
    )
    want = {
        r["vec_id"]: (r["q8"], r["n8"])
        for r in e.select(F.col("vec_id"), _jvm_q8_fold("embedding").alias("q8"))
        .withColumn("n8", F.sqrt(isq.cast("double")))
        .collect()
    }
    assert got == want
    assert got[2] == (None, None)
    assert got[3] == ([], 0.0)
    assert got[5][0][1] is None and got[5][1] is None
    # the JVM fold's non-finite output, recorded as literals
    assert got[7] == ([0, 0, 0], 0.0) and got[8] == ([0, 0, 0], 0.0)
    assert got[9] == ([0, 0], 0.0) and got[10] == ([0], 0.0)
    assert got[11] == ([0, None, 0], None)

    # 2 subspaces of width 1: the 2-element rows are full width; code
    # 0 and 3 tie in subspace 0
    cb = [[[0], [127], [-127], [0]], [[64], [-64], [0], [64]]]
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq_encode_codes(e, cb, dim=2).collect()
    }
    assert codes.keys() == got.keys()
    for vid, (q8, _) in got.items():
        if q8 is None:
            assert codes[vid] is None
            continue
        want_codes = []
        for s, cs in enumerate(cb):
            d = [_il2_py(q8[s:s + 1], c) for c in cs]
            want_codes.append(d.index(min(d)))
        assert codes[vid] == want_codes, vid


def test_pq_encode_complete_codes_in_range(spark, sf_dir):
    """Every (vector, subspace) gets exactly one code in
    [0, PQ_EXPORT_CODES); a codebook seed vector encodes to ITSELF in
    every subspace (its own subvector is at distance 0)."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_encode,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PQ_EXPORT_CODES,
        PQ_EXPORT_SUB,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    codes = pq_encode(e, PQ_EXPORT_SUB, PQ_EXPORT_CODES).collect()
    assert len(codes) == n * PQ_EXPORT_SUB
    assert {(r["vec_id"], r["sub_id"]) for r in codes} == {
        (v, m)
        for v in [row["vec_id"] for row in e.select("vec_id").collect()]
        for m in range(PQ_EXPORT_SUB)
    }
    assert all(0 <= r["code"] < PQ_EXPORT_CODES for r in codes)

    # seed self-encoding: recover the seed ids (hash-spread pick) and
    # check each seed's 4 codes are its own codebook index
    seeds = (
        e.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(PQ_EXPORT_CODES)
        .collect()
    )
    seed_code = {r["vec_id"]: i for i, r in enumerate(seeds)}
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r["vec_id"], set()).add(r["code"])
    for vid, want in seed_code.items():
        assert by_vec[vid] == {want}


def _codebook_pipeline(emb, n_sub, n_codes, dim=64):
    """Reference codebook built the two-step way: the numbered
    hash-spread seed frame, quantized, exploded to one row per
    (subspace, code) with fixed dim/n_sub slice windows, then collected
    into cb[sub_id][code] -> csub."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        hash_spread_seeds,
        quantize_rows,
    )

    sub_dim = dim // n_sub
    seed = quantize_rows(
        hash_spread_seeds(emb, n_codes, out_idx="code", out_vec="cvec"),
        "code", "cvec",
    ).select(F.col("id").cast("int").alias("code"), "q8")
    rows = (
        seed.select(
            "code", "q8",
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub_id"),
        )
        .select(
            "sub_id", "code",
            F.slice(
                F.col("q8"), F.col("sub_id") * F.lit(sub_dim) + F.lit(1), sub_dim
            ).alias("csub"),
        )
        .collect()
    )
    if not rows:
        return []
    cb = [
        [[] for _ in range(1 + max(r["code"] for r in rows))]
        for _ in range(1 + max(r["sub_id"] for r in rows))
    ]
    for r in rows:
        if r["csub"] is not None:
            cb[r["sub_id"]][r["code"]] = list(r["csub"])
    return cb


def test_collect_codebook_from_emb_matches_codebook_pipeline(spark, sf_dir):
    """The one-job codebook collect (TakeOrdered seed pick, kernel
    quantize over just those rows, code = collected row order) must
    equal the two-step codebook pipeline collected — same pick, same
    numbering, same slices."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _collect_codebook_from_emb,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert _collect_codebook_from_emb(e, 8, 32) == _codebook_pipeline(e, 8, 32)


def test_pq_adc_null_embedding_row_is_dropped(spark):
    """A NULL-embedding corpus row encodes to NULL codes; the pre-r14
    join-based ADC dropped it (posexplode of NULL emits no rows -> the
    inner codes join drops the id). The literal-LUT shape must keep
    that semantics — without the drop, NULL adc sorts NULLS FIRST and
    the quarantine-class row would occupy rank 1 of every query."""
    import random

    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_adc_topk,
        pq_rerank_topk,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    rows.append((99, None))
    # a NULL id fails the oracle's nid != qid test: dropped, not a crash
    rows.append((None, [rng.uniform(-1, 1) for _ in range(64)]))
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    adc = pq_adc_topk(e, [0, 1], k=5).collect()
    assert adc and all(r["nid"] not in (99, None) for r in adc)
    assert all(r["adc"] is not None for r in adc)
    rr = pq_rerank_topk(e, [0, 1], k=5, r_candidates=8).collect()
    assert rr and all(r["nid"] not in (99, None) for r in rr)


def test_pq_encode_empty_corpus_returns_empty(spark):
    """An empty corpus yields an empty codebook; pq_encode must return
    an empty frame (the old join shape's behavior), not crash on the
    empty codebook."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_encode,
    )

    e = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    out = pq_encode(e, 8, 32)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "sub_id", "code"]


def test_collect_query_luts_tolerates_null_codebook_element(spark):
    """A None element inside a collected codebook subvector (a seed
    embedding with a NULL element) must count 0 for that term — the
    _il2_py / encode slow_row rule — not raise a TypeError."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _collect_query_luts,
    )

    e = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [2.0, 1.0, 0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    cb = [[[1, None], [2, 2]], [[None, 1], [0, 0]]]  # 2 subs x 2 codes
    luts = _collect_query_luts(e, [0], cb, dim=4)
    assert len(luts) == 1 and luts[0][0] == 0
    lut = luts[0][1]
    assert len(lut) == 2 and all(len(cs) == 2 for cs in lut)
    assert all(isinstance(v, int) for cs in lut for v in cs)


def test_pq_adc_plan_scans_codes_not_vectors(spark, sf_dir):
    """ADC plan shape (r14): the codebook and per-query LUTs are
    bounded collected tables folded into literals, so the scoring pass
    has NO join of any kind — one Arrow-kernel encode projection, a
    query fan-out, a literal-LUT gather — and the only exchange left
    in the whole query is the top-k window's. Never a
    CartesianProduct/BNLJ."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_adc_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = pq_adc_topk(e, list(range(8)), k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # scoring is join-free since r14
    # the fused quantize+encode kernel (r15; was a JVM q8 fold feeding
    # an ArrowEvalPython argmin in r14)
    assert "MapInArrow" in plan
    assert plan.count("Exchange") <= 2  # top-k window (+AQE read)
    rows = df.collect()
    by_q = {}
    for r in rows:
        assert r["nid"] != r["qid"]
        by_q.setdefault(r["qid"], []).append((r["rn"], r["adc"]))
    assert set(by_q) == set(range(8))
    for picks in by_q.values():
        picks.sort()
        assert [rn for rn, _ in picks] == [1, 2, 3, 4, 5]
        assert all(
            picks[i][1] <= picks[i + 1][1] for i in range(len(picks) - 1)
        )


def test_gopher_rules_hand_values(spark, tmp_path):
    """Each rule trips on a purpose-built document and the keep flag is
    the conjunction."""
    import pandas as pd

    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_gopher_quality_rules,
    )

    good = "the quick brown fox jumps over a lazy dog " * 5  # 50 words
    docs = {
        0: good.strip(),                                # passes everything
        1: "the quick brown fox and a dog",             # too few words
        2: ("a " * 25 + good).strip(),                  # short-word share
        3: " ".join(f"w{i}" * 8 for i in range(50)),    # no stopwords, long
        4: ("the a " + "word " * 48).strip(),           # distinct ratio
    }
    pd.DataFrame(
        {
            "doc_id": pd.array(list(docs), dtype="int64"),
            "text": list(docs.values()),
            "lang": ["en"] * len(docs),
            "source": ["t"] * len(docs),
            "n_chars": pd.array([len(v) for v in docs.values()], dtype="int64"),
        }
    ).to_parquet(f"{tmp_path}/documents.parquet", index=False)
    rows = {r["doc_id"]: r.asDict() for r in
            q_gopher_quality_rules(spark, str(tmp_path)).collect()}
    assert rows[0]["keep"] == 1 and all(
        rows[0][k] == 1 for k in
        ("r_words", "r_meanlen", "r_stop", "r_distinct", "r_short")
    )
    assert rows[1]["r_words"] == 0 and rows[1]["keep"] == 0
    assert rows[2]["r_short"] == 0 and rows[2]["keep"] == 0
    assert rows[3]["r_stop"] == 0 and rows[3]["keep"] == 0
    assert rows[4]["r_distinct"] == 0 and rows[4]["keep"] == 0


def test_ivf_pq_search_prunes_to_probed_cells(spark, sf_dir):
    """Composition consistency: every ivf_pq_search result must sit in
    a cell its query probed (per the oracle-backed assign/probe
    exports), and the plan never degenerates to a cartesian."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_ivf_assign_export,
        q_ivf_pq_search,
        q_ivf_probe_export,
    )

    cell = {r["vec_id"]: r["cid"]
            for r in q_ivf_assign_export(spark, sf_dir).collect()}
    probed = {}
    for r in q_ivf_probe_export(spark, sf_dir).collect():
        probed.setdefault(r["qid"], set()).add(r["cid"])
    df = q_ivf_pq_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows, "ivf_pq_search returned nothing"
    for r in rows:
        assert r["nid"] != r["qid"]
        assert cell[r["nid"]] in probed[r["qid"]]


def test_pq_rerank_recall_pin_and_exactness(spark, sf_dir):
    """The production PQ arm meets the repo recall pin (>=0.8 @5) on
    the isotropic fixture, and with R >= corpus size the rerank is
    bit-equal to brute force (the ADC prune passes everything)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_rerank_topk,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PQ_EXPORT_CODES,
        PQ_EXPORT_SUB,
        PQ_RERANK_R,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(8))
    exact = {}
    for r in cosine_topk_bruteforce(e, qids, k=5).collect():
        exact.setdefault(r["qid"], set()).add(r["nid"])
    got = {}
    for r in pq_rerank_topk(
        e, qids, k=5, r_candidates=PQ_RERANK_R,
        n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES,
    ).collect():
        got.setdefault(r["qid"], set()).add(r["nid"])
    hits = sum(len(got[q] & exact[q]) for q in qids)
    assert hits / (5 * len(qids)) >= 0.8

    n = e.count()
    full = pq_rerank_topk(e, qids, k=5, r_candidates=n).collect()
    want = {(r["qid"], r["rn"]): r["nid"]
            for r in cosine_topk_bruteforce(e, qids, k=5).collect()}
    assert {(r["qid"], r["rn"]): r["nid"] for r in full} == want


def test_knn_graph_mutual_properties(spark, sf_dir):
    """Graph invariants: src < dst exactly once per edge; every edge is
    MUTUAL (each endpoint in the other's directed top-k) and
    CELL-LOCAL (endpoints share an IVF cell per the oracle-backed
    assignment export); no self loops."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_ivf_assign_export,
        q_knn_graph_mutual,
    )

    edges = q_knn_graph_mutual(spark, sf_dir).collect()
    assert edges, "graph is empty"
    seen = set()
    cell = {r["vec_id"]: r["cid"]
            for r in q_ivf_assign_export(spark, sf_dir).collect()}
    for e in edges:
        assert e["src"] < e["dst"]
        assert (e["src"], e["dst"]) not in seen
        seen.add((e["src"], e["dst"]))
        assert cell[e["src"]] == cell[e["dst"]]
        assert e["d"] >= 0


def test_graph_pair_kernel_subblocked_hot_cell_identical(spark, monkeypatch):
    """The r15 graph pair kernel must emit the identical edge set when
    a cell is split across sub-blocks (GRAPH_PAIR_BLOCK_ROWS smaller
    than the hot cell) as when every cell fits one block — dual
    orientation emission, diagonal masking, tie-preserving partial
    top-k, and the window merge all replayed across the split. One
    dominant cluster (60 near-identical vectors, all in one cell at
    n_centroids=2) is the hot-cell shape."""
    import random

    import etl_dagster_service_crawler_spark.operators.similarity as S

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [
        (i, [x + rng.uniform(-0.02, 0.02) for x in base]) for i in range(60)
    ]
    rows += [
        (100 + i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(10)
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {}
    for tag, blk in (("whole", 4096), ("split", 8)):
        monkeypatch.setattr(S, "GRAPH_PAIR_BLOCK_ROWS", blk)
        got[tag] = {
            tuple(r)
            for r in S.knn_graph_mutual(
                e, k=3, n_centroids=2, n_sub=8, n_codes=8
            ).collect()
        }
    assert got["whole"] == got["split"] and got["whole"]


def test_graph_sidecar_roundtrip_and_reuse(spark, sf_dir):
    """The persisted mutual-kNN graph sidecar (r10): a cold read
    builds+persists and matches the direct build edge-for-edge; a warm
    read serves the SAME rows from disk without rebuilding (the
    _SUCCESS marker gates it); an incomplete dir (no _SUCCESS — a
    crashed writer) is rebuilt, never half-served."""
    import os
    import shutil

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.llm import (
        _graph_sidecar_path,
        mutual_graph_cached,
        q_knn_graph_mutual,
    )

    path = _graph_sidecar_path(sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    want = {(r["src"], r["dst"], r["d"])
            for r in q_knn_graph_mutual(spark, sf_dir).collect()}

    cold = {(r["src"], r["dst"], r["d"])
            for r in mutual_graph_cached(spark, sf_dir).collect()}
    assert cold == want
    assert os.path.exists(os.path.join(path, "_SUCCESS"))

    # warm read: same rows, served from the on-disk bytes
    warm = {(r["src"], r["dst"], r["d"])
            for r in mutual_graph_cached(spark, sf_dir).collect()}
    assert warm == want

    # a writer that died mid-write leaves no _SUCCESS: must rebuild
    os.remove(os.path.join(path, "_SUCCESS"))
    rebuilt = {(r["src"], r["dst"], r["d"])
               for r in mutual_graph_cached(spark, sf_dir).collect()}
    assert rebuilt == want
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_semantic_dedup_clusters_consistent_with_graph(spark, sf_dir):
    """Every mutual edge's endpoints share a label; every label is the
    min id of its member set; singletons label themselves."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_knn_graph_mutual,
        q_semantic_dedup_clusters,
    )

    lab = {r["vec_id"]: r["label"]
           for r in q_semantic_dedup_clusters(spark, sf_dir).collect()}
    edges = q_knn_graph_mutual(spark, sf_dir).collect()
    assert edges
    touched = set()
    for e in edges:
        assert lab[e["src"]] == lab[e["dst"]]
        touched |= {e["src"], e["dst"]}
    members = {}
    for v, l in lab.items():
        members.setdefault(l, []).append(v)
    for l, vs in members.items():
        assert l == min(vs)
    for v in set(lab) - touched:
        assert lab[v] == v


def test_pq_rejects_indivisible_subspace_split(spark, sf_dir):
    """The PQ slice width is pinned from the expected dim; an n_sub
    that does not divide it must fail loudly at plan time, never
    silently truncate tail dimensions."""
    import pytest

    from etl_dagster_service_crawler_spark.operators.similarity import (
        _collect_codebook_from_emb,
        pq_encode,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        _collect_codebook_from_emb(e, n_sub=7, n_codes=8)
    with pytest.raises(ValueError, match="not divisible"):
        pq_encode(e, n_sub=7, n_codes=8)


def test_il2_wrong_dim_matches_duckdb_twin(spark):
    """Post-review fix (r9 ADVICE): a wrong-dim vector pair — zip_with
    pads the shorter list with NULL — must produce the SAME distance in
    both engines. Spark coalesces each padded squared term to 0 (else
    the fold would go NULL); DuckDB's list_sum skips NULL terms, and
    _sql_il2 now coalesces per-term too. Both = partial sum over the
    overlapping prefix."""
    import duckdb

    from etl_dagster_service_crawler_spark.operators.similarity import _il2
    from etl_dagster_service_crawler_spark.workloads.llm import _sql_il2

    pairs = [
        ([1, 2, 3], [1, 2, 3]),      # equal dims, zero distance
        ([1, 2, 3], [4, 6]),          # b short: padded term -> 0
        ([5], [1, 2, 3, 4]),          # a short
        ([], [7, 8]),                 # empty side
        ([], []),                     # both empty
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<bigint>, b array<bigint>",
    )
    got = {
        r["i"]: r["d"]
        for r in df.select("i", _il2(F.col("a"), F.col("b")).alias("d")).collect()
    }

    con = duckdb.connect()
    for i, (a, b) in enumerate(pairs):
        (want,) = con.execute(
            f"SELECT {_sql_il2('?::BIGINT[]', '?::BIGINT[]')}", [a, b]
        ).fetchone()
        assert got[i] == want, (i, a, b, got[i], want)
    # and the values are the overlapping-prefix partial sums
    assert got[0] == 0 and got[1] == 9 + 16 and got[2] == 16
    assert got[3] == 0 and got[4] == 0


def test_png_codec_roundtrip_and_filters():
    """The pure-python PNG codec (r9: the multimodal decode path must
    EXECUTE in this container, not skip): encode->decode is identity;
    decode reverses every standard scanline filter; malformed inputs
    raise ValueError naming the problem."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from etl_dagster_service_crawler_spark.operators.png_codec import (
        PNG_MAGIC,
        _chunk,
        decode_png,
        encode_png,
        resize_nearest,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    assert (decode_png(encode_png(arr)) == arr).all()
    # gray round-trips broadcast to RGB
    g = rng.integers(0, 256, size=(4, 5), dtype=np.uint8)
    back = decode_png(encode_png(g))
    assert back.shape == (4, 5, 3) and (back[:, :, 0] == g).all()
    # determinism: same array, same bytes
    assert encode_png(arr) == encode_png(arr)

    # hand-build a PNG exercising filters 1-4 (Sub, Up, Average, Paeth)
    h, w, ch = 4, 4, 3
    want = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    flat = want.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    for y, ftype in enumerate((1, 2, 3, 4)):
        prev = flat[y - 1] if y > 0 else np.zeros(w * ch, dtype=np.int32)
        line = np.zeros(w * ch, dtype=np.int32)
        for i in range(w * ch):
            left = flat[y][i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            line[i] = (flat[y][i] - pred) % 256
        raw.append(ftype)
        raw.extend(line.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        PNG_MAGIC + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(png) == want).all()

    with pytest.raises(ValueError, match="bad magic"):
        decode_png(b"not-a-png")
    with pytest.raises(ValueError, match="bit depth"):
        bad = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
        decode_png(PNG_MAGIC + _chunk(b"IHDR", bad) + _chunk(b"IEND", b""))

    # nearest-neighbor resize: exact corner preservation, right shape
    half = resize_nearest(arr, 4, 3)
    assert half.shape == (3, 4, 3) and (half[0, 0] == arr[0, 0]).all()


def test_image_decode_and_resize_execute_in_container():
    """r8 verdict item 8 closed: decode_image / resize_image run HERE
    (pure-python PNG fallback when pillow is absent; same API under
    pillow) — the multimodal image path is executable, not skipped."""
    import numpy as np

    from etl_dagster_service_crawler_spark.operators.multimodal import (
        decode_image,
        resize_image,
    )
    from etl_dagster_service_crawler_spark.operators.png_codec import (
        encode_png,
    )

    tile = np.zeros((6, 8, 3), dtype=np.uint8)
    tile[:, :, 0] = 10
    tile[:, :, 1] = 20
    tile[:, :, 2] = 30
    payload = encode_png(tile)

    arr = decode_image(payload)
    assert arr.shape == (6, 8, 3)
    assert (arr[0, 0] == [10, 20, 30]).all()

    small = resize_image(payload, 4, 3)
    back = decode_image(small)
    assert back.shape == (3, 4, 3)
    assert (back[0, 0] == [10, 20, 30]).all()


def test_image_decode_distributed_over_map_in_pandas(spark):
    """The decode stage as it runs in production: PNG payloads in a
    binary column, decoded executor-side inside mapInPandas — shapes
    and channel means come out, bytes never hit the driver."""
    import numpy as np
    import pandas as pd

    from etl_dagster_service_crawler_spark.operators.multimodal import (
        decode_image,
    )
    from etl_dagster_service_crawler_spark.operators.png_codec import (
        encode_png,
    )

    rows = []
    for i in range(6):
        a = np.full((4 + i, 5, 3), i * 10, dtype=np.uint8)
        rows.append((i, bytearray(encode_png(a))))
    df = spark.createDataFrame(rows, "doc_id int, payload binary")

    def batches(it):
        for pdf in it:
            decoded = [decode_image(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "h": [d.shape[0] for d in decoded],
                    "w": [d.shape[1] for d in decoded],
                    "mean_r": [float(d[:, :, 0].mean()) for d in decoded],
                }
            )

    out = {
        r["doc_id"]: r
        for r in df.repartition(3).mapInPandas(
            batches, "doc_id int, h int, w int, mean_r double"
        ).collect()
    }
    assert len(out) == 6
    for i in range(6):
        assert out[i]["h"] == 4 + i and out[i]["w"] == 5
        assert out[i]["mean_r"] == float(i * 10)


def test_dhash_image_hand_values_and_locality():
    """The integer perceptual hash (r10): a horizontal gradient sets
    EVERY difference bit one way (all-zeros: right neighbor larger), a
    reversed gradient sets all 64, identical images hash identically
    through the PNG round-trip, and one local pixel edit moves the
    hash by a SMALL Hamming distance while a different image is far —
    the locality property the banded near-dup join exploits."""
    import numpy as np

    from etl_dagster_service_crawler_spark.operators.multimodal import (
        decode_image,
        dhash_image,
    )
    from etl_dagster_service_crawler_spark.operators.png_codec import (
        encode_png,
    )

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    asc = np.tile(np.arange(0, 160, 10, dtype=np.uint8), (16, 1))
    assert dhash_image(asc) == (0, 0)  # ascending: no left > right
    desc = asc[:, ::-1].copy()
    assert dhash_image(desc) == (0xFFFFFFFF, 0xFFFFFFFF)

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    # PNG round-trip through the real decode seam changes nothing
    assert dhash_image(img) == dhash_image(decode_image(encode_png(img)))

    h0 = dhash_image(img)
    edited = img.copy()
    edited[5, 5] = 255 - edited[5, 5]  # one pixel flip
    other = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    assert ham(h0, dhash_image(edited)) <= 6
    assert ham(h0, dhash_image(other)) > 6


def test_dedup_image_phash_banding_is_exact(spark, sf_dir):
    """The banded pair join must equal the all-pairs answer EXACTLY
    (4 bands, threshold 3: pigeonhole guarantees a matching band), so
    recompute all-pairs from the export driver-side and compare."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PHASH_HAM_T,
        q_dedup_image_phash,
        q_phash_image_export,
    )

    sig = {
        r["doc_id"]: (r["dhash_hi"], r["dhash_lo"])
        for r in q_phash_image_export(spark, sf_dir).collect()
    }
    want = set()
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sig[a][0] ^ sig[b][0]).count("1") + bin(
                sig[a][1] ^ sig[b][1]
            ).count("1")
            if d <= PHASH_HAM_T:
                want.add((a, b, d))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q_dedup_image_phash(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture corpus should contain near-dup images"


def test_wav_codec_roundtrip_and_errors():
    """The pure-python WAV codec (r10: the multimodal AUDIO decode
    path must EXECUTE in this container, not skip — the exact analogue
    of r9's png_codec): encode->decode is identity for mono and
    stereo int16; 8-bit PCM widens deterministically; nearest-index
    resample has the right length and picks exact source samples;
    malformed inputs raise ValueError naming the problem."""
    import numpy as np
    import pytest

    from etl_dagster_service_crawler_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
        resample_nearest,
    )

    rng = np.random.default_rng(11)
    mono = rng.integers(-32768, 32767, size=200, dtype=np.int16)
    samples, rate = decode_wav(encode_wav(mono, 16_000))
    assert rate == 16_000 and samples.shape == (200, 1)
    assert (samples[:, 0] == mono).all()

    stereo = rng.integers(-32768, 32767, size=(128, 2), dtype=np.int16)
    samples, rate = decode_wav(encode_wav(stereo, 44_100))
    assert rate == 44_100 and (samples == stereo).all()

    # determinism: same samples + rate, same bytes
    assert encode_wav(stereo, 44_100) == encode_wav(stereo, 44_100)

    # 8-bit unsigned PCM widens to int16 via (x-128)<<8
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8_000)
        w.writeframes(bytes([0, 128, 255]))
    samples, rate = decode_wav(buf.getvalue())
    assert rate == 8_000
    assert samples[:, 0].tolist() == [-32768, 0, 32512]

    # nearest-index resample: m = n*dst//src, exact source values
    half = resample_nearest(stereo, 44_100, 22_050)
    assert half.shape == (64, 2) and (half[0] == stereo[0]).all()
    assert (half == stereo[::2]).all()

    with pytest.raises(ValueError, match="RIFF magic"):
        decode_wav(b"not-audio")
    with pytest.raises(ValueError, match="unreadable WAV"):
        decode_wav(b"RIFF....WAVEbroken")


def test_audio_decode_and_resample_execute_in_container():
    """r9 verdict item 5 closed: decode_audio / resample_audio run
    HERE (pure-python WAV fallback when soundfile is absent; same API
    under soundfile) — the multimodal audio path is executable, not
    skipped, and non-WAV payloads without soundfile fail with a clear
    NotImplementedError instead of deep inside a worker."""
    import numpy as np

    from etl_dagster_service_crawler_spark.operators.multimodal import (
        decode_audio,
        resample_audio,
    )
    from etl_dagster_service_crawler_spark.operators.wav_codec import (
        encode_wav,
    )

    tone = (
        np.sin(np.arange(400) * 0.1) * 12_000
    ).astype(np.int16)
    payload = encode_wav(tone, 16_000)

    samples, rate = decode_audio(payload)
    assert rate == 16_000 and samples.shape == (400, 1)
    assert (samples[:, 0] == tone).all()

    down = resample_audio(payload, 8_000)
    samples, rate = decode_audio(down)
    assert rate == 8_000 and samples.shape == (200, 1)
    assert (samples[:, 0] == tone[::2]).all()

    try:
        import soundfile  # noqa: F401 - fast path present: skip the guard check
    except ImportError:
        import pytest

        with pytest.raises(NotImplementedError, match="soundfile"):
            decode_audio(b"\xffnot-a-wav-payload")


def test_audio_decode_distributed_over_map_in_pandas(spark):
    """The audio decode stage as it runs in production: WAV payloads
    in a binary column, decoded executor-side inside mapInPandas —
    durations and peak amplitudes come out, bytes never hit the
    driver (the image path's distributed-decode twin)."""
    import numpy as np
    import pandas as pd

    from etl_dagster_service_crawler_spark.operators.multimodal import (
        decode_audio,
    )
    from etl_dagster_service_crawler_spark.operators.wav_codec import (
        encode_wav,
    )

    rows = []
    for i in range(6):
        a = np.full(100 * (i + 1), (i + 1) * 1000, dtype=np.int16)
        rows.append((i, bytearray(encode_wav(a, 8_000))))
    df = spark.createDataFrame(rows, "doc_id int, payload binary")

    def batches(it):
        for pdf in it:
            decoded = [decode_audio(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": [s.shape[0] for s, _ in decoded],
                    "rate": [r for _, r in decoded],
                    "peak": [int(np.abs(s).max()) for s, _ in decoded],
                }
            )

    out = {
        r["doc_id"]: r
        for r in df.repartition(3).mapInPandas(
            batches, "doc_id int, n_samples int, rate int, peak int"
        ).collect()
    }
    assert len(out) == 6
    for i in range(6):
        assert out[i]["n_samples"] == 100 * (i + 1)
        assert out[i]["rate"] == 8_000
        assert out[i]["peak"] == (i + 1) * 1000


def test_knn_graph_autosizes_cells_to_sqrt_n(spark, sf_dir):
    """r8 verdict item 7: with no caller hint, knn_graph_mutual sizes
    its cells to ~√n (the measured SCALE.md rule keeping pair volume at
    O(n^1.5)) — at 20k vectors that is ~141 cells, not the fixture 16 —
    and the default call equals the explicit-√n call edge-for-edge."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        auto_graph_cells,
        knn_graph_mutual,
    )

    assert auto_graph_cells(20_000) == 141  # ~sqrt(20000)=141.4
    assert auto_graph_cells(2_000) == 45
    assert auto_graph_cells(1) == 1

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    want_cells = auto_graph_cells(n)
    assert want_cells != 16  # the default is the rule, not the pin

    key = lambda r: (r["src"], r["dst"])  # noqa: E731
    auto = sorted(knn_graph_mutual(e, k=2).collect(), key=key)
    explicit = sorted(
        knn_graph_mutual(e, k=2, n_centroids=want_cells).collect(), key=key
    )
    assert [key(r) for r in auto] == [key(r) for r in explicit]
    assert auto  # the graph is non-trivial on the fixture


def test_knn_route_export_matches_route_knn_rule(spark, sf_dir):
    """The exported (nprobe, route) must equal route_knn applied to the
    exported curve — the export is an oracle-checkable projection of
    the SAME published adjudication rule knn_join_auto runs, not a
    parallel reimplementation that could drift."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        route_knn,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        IVF_EXPORT_CENTROIDS,
        q_knn_route_export,
    )

    rows = q_knn_route_export(spark, sf_dir).collect()
    assert len(rows) == IVF_EXPORT_CENTROIDS
    curve = sorted((r["p"], r["hits"] / r["total"]) for r in rows)
    want_route, want_nprobe = route_knn(curve, IVF_EXPORT_CENTROIDS, 0.85)
    got = {(r["route"], r["nprobe"]) for r in rows}
    assert got == {(want_route, want_nprobe)}
    # curve sanity: hits cumulative, recall(C) == 1 (every true
    # neighbor's cell is SOMEWHERE in the full probe order)
    hits = [r["hits"] for r in sorted(rows, key=lambda r: r["p"])]
    assert hits == sorted(hits)
    assert hits[-1] == rows[0]["total"]


def test_ivf_pq_results_within_exported_candidates(spark, sf_dir):
    """Composition pin: every ivf_pq_search hit (same deterministic
    cells, same nprobe) must sit inside the exported candidate set —
    the export IS the prune that search applies."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_ivf_candidates_export,
        q_ivf_pq_search,
    )

    cand = {
        (r["qid"], r["nid"])
        for r in q_ivf_candidates_export(spark, sf_dir).collect()
    }
    hits = q_ivf_pq_search(spark, sf_dir).collect()
    assert hits
    for r in hits:
        assert (r["qid"], r["nid"]) in cand


def test_dedup_minhash_verify_matches_brute_force(spark, sf_dir):
    """The r10 candidates->verify stage must equal a driver-side
    recompute of the SAME algorithm (band-key blocking over the
    export signatures, exact shingle-set Jaccard on candidates), and
    every exact-duplicate text pair with >= 3 tokens must survive at
    jaccard_bp == 10000 (identical shingle sets share every band)."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        MINHASH_EXPORT_BAND_ROWS,
        MINHASH_VERIFY_JACCARD_BP,
        _minhash_shingle_hv,
        q_dedup_minhash_verify,
        q_minhash_signature_export,
    )

    hv = {
        r["doc_id"]: set(r["hv"])
        for r in _minhash_shingle_hv(spark, sf_dir).collect()
        if r["hv"]
    }
    sig: dict[int, dict[int, int]] = {}
    for r in q_minhash_signature_export(spark, sf_dir).collect():
        sig.setdefault(r["doc_id"], {})[r["seed"]] = r["sig"]
    buckets: dict[tuple[int, str], set[int]] = {}
    for doc, seeds in sig.items():
        for band in range(len(seeds) // MINHASH_EXPORT_BAND_ROWS):
            key = "-".join(
                str(seeds[band * MINHASH_EXPORT_BAND_ROWS + i])
                for i in range(MINHASH_EXPORT_BAND_ROWS)
            )
            buckets.setdefault((band, key), set()).add(doc)
    want = set()
    for members in buckets.values():
        ids = sorted(members)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if a not in hv or b not in hv:
                    continue
                inter = len(hv[a] & hv[b])
                uni = len(hv[a] | hv[b])
                jac = (10000 * inter) // uni
                if jac >= MINHASH_VERIFY_JACCARD_BP:
                    want.add((a, b, jac))
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard_bp"])
        for r in q_dedup_minhash_verify(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture corpus should contain near-dup pairs"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_text: dict[str, list[int]] = {}
    for r in docs:
        if r["text"] and len(r["text"].split(" ")) >= 3:
            by_text.setdefault(r["text"], []).append(r["doc_id"])
    exact_pairs = {
        (min(a, b), max(a, b))
        for ids in by_text.values()
        for a in ids
        for b in ids
        if a != b
    }
    # identical shingle sets share every band -> any exact text dup
    # MUST survive at 10000 bp (sf0.001 happens to have none; the
    # property still holds vacuously and bites at larger SFs)
    for a, b in exact_pairs:
        assert (a, b, 10000) in got


def test_doc_containment_matches_brute_force(spark, sf_dir):
    """The containment query must equal a driver-side recompute of its
    declared algorithm (stop-shingle prune -> bottom-1 probe ->
    posting join -> full-set containment), and a fully-contained doc
    whose min surviving shingle exists must always be caught (the
    by-construction guarantee the docstring claims)."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CONTAIN_BP_T,
        CONTAIN_POSTING_CAP,
        _minhash_shingle_hv,
        q_doc_containment_ngram,
    )

    hv = {
        r["doc_id"]: set(r["hv"])
        for r in _minhash_shingle_hv(spark, sf_dir).collect()
        if r["hv"]
    }
    freq: dict[int, int] = {}
    for hs in hv.values():
        for h in hs:
            freq[h] = freq.get(h, 0) + 1
    surv = {
        doc: {h for h in hs if freq[h] <= CONTAIN_POSTING_CAP}
        for doc, hs in hv.items()
    }
    posting: dict[int, set[int]] = {}
    for doc, hs in surv.items():
        for h in hs:
            posting.setdefault(h, set()).add(doc)
    want = set()
    for doc_a, hs in surv.items():
        if not hs:
            continue
        probe = min(hs)
        for doc_b in posting.get(probe, ()):
            if doc_b == doc_a:
                continue
            bp = (10000 * len(hv[doc_a] & hv[doc_b])) // len(hv[doc_a])
            if bp >= CONTAIN_BP_T:
                want.add((doc_a, doc_b, bp))
    got = {
        (r["doc_a"], r["doc_b"], r["containment_bp"])
        for r in q_doc_containment_ngram(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture corpus should contain containment pairs"
    # by-construction recall: full containment with a surviving min
    # shingle is always caught
    for doc_a, hs_a in hv.items():
        for doc_b, hs_b in hv.items():
            if doc_a != doc_b and hs_a <= hs_b and surv[doc_a]:
                assert (doc_a, doc_b, 10000) in got


def test_audio_fingerprint_matches_local_recompute(spark, sf_dir):
    """The exported fingerprint must equal a direct numpy recompute
    from the text codepoints (no WAV machinery) — proving the
    synthesize -> encode_wav -> decode_audio -> resample_nearest chain
    is lossless-and-deterministic end to end — and empty text must
    yield fingerprint 0 (constant wave, equal window energies)."""
    import numpy as np

    from etl_dagster_service_crawler_spark.workloads.llm import (
        AUDIO_FP_SAMPLES,
        AUDIO_FP_WINDOWS,
        q_audio_fingerprint_export,
    )

    def local(text: str | None) -> tuple[int, int]:
        cps = np.array(
            [ord(ch) % 256 for ch in text] if text else [0], dtype=np.int64
        )
        idx = (2 * np.arange(AUDIO_FP_SAMPLES // 2)) % len(cps)
        mono = np.abs((cps[idx] - 128) * 256)
        energy = mono.reshape(AUDIO_FP_WINDOWS, -1).sum(axis=1)
        fp = 0
        for w in range(AUDIO_FP_WINDOWS - 1):
            if energy[w] > energy[w + 1]:
                fp |= 1 << w
        return fp, int(mono.sum())

    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q_audio_fingerprint_export(spark, sf_dir).collect()
    assert len(rows) == len(texts)
    nonzero = 0
    for r in rows:
        fp, tot = local(texts[r["doc_id"]])
        assert (r["audio_fp"], r["energy_total"]) == (fp, tot)
        nonzero += 1 if fp else 0
    assert nonzero, "fixture corpus should produce non-trivial fingerprints"
    assert local("")[0] == 0 and local(None)[0] == 0


def test_mix_upsample_epochs_exact_budgets(spark, sf_dir):
    """Every source must emit exactly n_max rows; each doc appears in
    all full epochs; the partial epoch holds exactly the rem
    md5-rank-smallest docs of the source."""
    import hashlib
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_mix_upsample_epochs,
    )

    docs = [
        (r["doc_id"], r["source"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    n_src = Counter(src for _, src in docs)
    n_max = max(n_src.values())
    rows = q_mix_upsample_epochs(spark, sf_dir).collect()
    per_source = Counter(r["source"] for r in rows)
    assert set(per_source) == set(n_src)
    assert all(v == n_max for v in per_source.values())
    by_doc = Counter((r["doc_id"], r["source"]) for r in rows)
    for src, n in n_src.items():
        fe, rem = n_max // n, n_max % n
        ids = sorted(
            (d for d, s in docs if s == src),
            key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d),
        )
        partial = set(ids[:rem])
        for d in ids:
            want = fe + (1 if d in partial else 0)
            assert by_doc[(d, src)] == want, (d, src, want, by_doc[(d, src)])
    # epochs are dense 0..copies-1 per doc
    seen: dict[tuple, set] = {}
    for r in rows:
        seen.setdefault((r["doc_id"], r["source"]), set()).add(r["epoch"])
    for key, eps in seen.items():
        assert eps == set(range(len(eps))), key


def test_dedup_audio_fp_matches_brute_force(spark, sf_dir):
    """The fingerprint-blocked pair join must equal the all-pairs
    answer under the same equal-fp + energy-tolerance rule."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        AUDIO_DUP_ENERGY_BP,
        q_audio_fingerprint_export,
        q_dedup_audio_fp,
    )

    sig = {
        r["doc_id"]: (r["audio_fp"], r["energy_total"])
        for r in q_audio_fingerprint_export(spark, sf_dir).collect()
    }
    ids = sorted(sig)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            fa, ea = sig[a]
            fb, eb = sig[b]
            if fa == fb and 10000 * abs(ea - eb) <= AUDIO_DUP_ENERGY_BP * max(
                ea, eb, 1
            ):
                want.add(
                    (a, b, fa, (10000 * abs(ea - eb)) // max(ea, eb, 1))
                )
    got = {
        (r["doc_a"], r["doc_b"], r["audio_fp"], r["energy_delta_bp"])
        for r in q_dedup_audio_fp(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture corpus should contain near-dup audio pairs"


def test_pipeline_minhash_dedup_matches_union_find(spark, sf_dir):
    """The composed pipeline's labels must equal a driver-side
    union-find over the verified pairs (smallest doc_id representative,
    singletons labeling themselves)."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_dedup_minhash_verify,
        q_pipeline_minhash_dedup,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_minhash_verify(spark, sf_dir).collect()
    ]
    docs = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in docs}
    got = {
        r["doc_id"]: (r["label"], r["is_dup"])
        for r in q_pipeline_minhash_dedup(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for d, lab in want.items():
        assert got[d] == (lab, lab != d), (d, lab, got[d])
    assert pairs, "fixture corpus should contain verified pairs"


def test_knn_graph_degree_hist_consistent_with_graph(spark, sf_dir):
    """Histogram totals must cover every corpus vector and match
    per-node degrees recomputed from the collected edge list
    (zero-degree nodes counted explicitly)."""
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.llm import (
        mutual_graph_cached,
        q_knn_graph_degree_hist,
    )

    edges = mutual_graph_cached(spark, sf_dir).collect()
    deg = Counter()
    for r in edges:
        deg[r["src"]] += 1
        deg[r["dst"]] += 1
    vec_ids = [
        r["vec_id"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ]
    want = Counter(deg.get(v, 0) for v in vec_ids)
    got = {
        r["degree"]: r["n_nodes"]
        for r in q_knn_graph_degree_hist(spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert sum(got.values()) == len(vec_ids)


def test_kmeans_update_matches_brute_force(spark, sf_dir):
    """The Lloyd's-update export must equal a driver-side recompute of
    per-(cluster, dim) count/sum/floor-mean from the assign export and
    the quantized vectors."""
    from collections import defaultdict

    from etl_dagster_service_crawler_spark.operators.similarity import (
        quantize_rows,
    )
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_kmeans_assign_export,
        q_kmeans_update_export,
    )

    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in q_kmeans_assign_export(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = {r["id"]: r["q8"] for r in quantize_rows(emb).collect()}
    acc = defaultdict(lambda: [0, 0])  # (cluster, pos) -> [n, s]
    for vid, cid in assign.items():
        for pos, q in enumerate(qv[vid]):
            a = acc[(cid, pos)]
            a[0] += 1
            a[1] += q
    want = {
        key: (n, s, (s - ((s % n) + n) % n) // n)
        for key, (n, s) in acc.items()
    }
    got = {
        (r["cluster_id"], r["pos"]): (r["n"], r["s"], r["mean_q"])
        for r in q_kmeans_update_export(spark, sf_dir).collect()
    }
    assert got == want
    assert len({c for c, _ in got}) > 1, "expect several non-empty clusters"


def test_video_scenecut_matches_local_recompute(spark, sf_dir):
    """The scene-cut export must equal a direct numpy recompute from
    the text codepoints (no PNG machinery) — proving the per-frame PNG
    round-trip is lossless — and empty text must yield zero diffs."""
    import numpy as np

    from etl_dagster_service_crawler_spark.workloads.llm import (
        PHASH_TILE,
        VIDEO_CUT_T,
        VIDEO_FRAME_STRIDE,
        VIDEO_FRAMES,
        q_video_scenecut_export,
    )

    n_px = PHASH_TILE * PHASH_TILE

    def local(text):
        cps = np.array(
            [ord(ch) % 256 for ch in text] if text else [0], dtype=np.int64
        )
        out = {}
        prev = None
        for f in range(VIDEO_FRAMES):
            idx = (f * VIDEO_FRAME_STRIDE + np.arange(n_px)) % len(cps)
            cur = cps[idx]
            if f:
                out[f] = int(np.abs(cur - prev).sum())
            prev = cur
        return out

    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q_video_scenecut_export(spark, sf_dir).collect()
    assert len(rows) == len(texts) * (VIDEO_FRAMES - 1)
    cuts = 0
    for r in rows:
        want = local(texts[r["doc_id"]])[r["frame_idx"]]
        assert r["diff_sum"] == want, (r["doc_id"], r["frame_idx"])
        assert r["is_cut"] == (want > VIDEO_CUT_T)
        cuts += r["is_cut"]
    assert cuts, "fixture corpus should contain scene cuts"
    assert all(v == 0 for v in local("").values())


def test_kmeans_train_iters_round1_is_the_anchored_pair(spark, sf_dir):
    """Iteration 1 of the r11 training loop must equal the r10
    kmeans_update_export exactly — the loop is the composition of the
    anchored assign+update pair, not a reimplementation."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_kmeans_train_iters,
        q_kmeans_update_export,
    )

    want = {
        (r["cluster_id"], r["pos"]): (r["n"], r["s"], r["mean_q"])
        for r in q_kmeans_update_export(spark, sf_dir).collect()
    }
    got = {
        (r["cluster_id"], r["pos"]): (r["n"], r["s"], r["mean_q"])
        for r in q_kmeans_train_iters(spark, sf_dir).collect()
        if r["iter"] == 1
    }
    assert got == want and want


def test_kmeans_train_iters_matches_brute_force_lloyds(spark, sf_dir):
    """Full-trajectory recompute: a plain-python Lloyd's loop over the
    collected int8 vectors with the frozen md5 seeds must reproduce
    every iteration's (cluster, dim) -> (n, s, mean) exactly —
    including tie-breaks (smallest cluster) and the floored integer
    mean."""
    import hashlib

    from etl_dagster_service_crawler_spark.workloads.llm import (
        KMEANS_EXPORT_K,
        KMEANS_TRAIN_ITERS,
        q_kmeans_train_iters,
    )

    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def q8(v):
        absmax = max((abs(float(x)) for x in v), default=0.0)
        scale = 127.0 / absmax if absmax > 0 else 0.0
        import math
        return [math.floor(float(x) * scale + 0.5) for x in v]

    qv = {i: q8(v) for i, v in emb.items()}
    seeds = sorted(qv, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cent = {c: qv[seeds[c]] for c in range(KMEANS_EXPORT_K)}

    want = {}
    for it in range(1, KMEANS_TRAIN_ITERS + 1):
        members = {}
        for i, v in qv.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, cent[c])), c)
                for c in cent
            )[1]
            members.setdefault(best, []).append(i)
        new_cent = {}
        for c, ids in members.items():
            dims = len(qv[ids[0]])
            for pos in range(dims):
                n = len(ids)
                s = sum(qv[i][pos] for i in ids)
                mean_q = (s - s % n) // n if s % n == 0 else (s - (s % n + n) % n) // n
                want[(it, c, pos)] = (n, s, mean_q)
            new_cent[c] = [want[(it, c, p)][2] for p in range(dims)]
        cent = new_cent

    got = {
        (r["iter"], r["cluster_id"], r["pos"]): (r["n"], r["s"], r["mean_q"])
        for r in q_kmeans_train_iters(spark, sf_dir).collect()
    }
    assert got == want


def _spec_brute(doc_id, source, lang):
    """Plain-python replay of the spectral synthesis + Q7 DFT."""
    import hashlib

    from etl_dagster_service_crawler_spark.workloads.llm import (
        _AS_COS,
        _AS_SIN,
        AUDIO_SPEC_BINS,
        AUDIO_SPEC_FRAME_LEN,
        AUDIO_SPEC_FRAMES,
    )

    base = f"{source}:{lang}"
    key = f"{base}:{hashlib.md5(base.encode()).hexdigest()}"
    cps = [ord(ch) % 256 for ch in key]
    par = ord(hashlib.md5(str(doc_id).encode()).hexdigest()[0]) % 2
    shift = par * 2 * AUDIO_SPEC_FRAME_LEN
    out = {}
    for f in range(AUDIO_SPEC_FRAMES):
        sv = [
            cps[(2 * (f * AUDIO_SPEC_FRAME_LEN + n) + shift) % len(cps)] - 128
            for n in range(AUDIO_SPEC_FRAME_LEN)
        ]
        for bi, k in enumerate(AUDIO_SPEC_BINS):
            re = sum(s * c for s, c in zip(sv, _AS_COS[bi]))
            im = sum(s * c for s, c in zip(sv, _AS_SIN[bi]))
            out[(f, k)] = re * re + im * im
    return out


def test_audio_spectral_export_matches_brute_force(spark, sf_dir):
    """The mapInPandas kernel — synthesize, REAL WAV encode/decode,
    resample, integer DFT — must equal the plain codepoint replay for
    every doc: the codec round-trip is lossless end to end."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_audio_spectral_export,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    got = {
        (r["doc_id"], r["frame"], r["bin"]): r["mag2"]
        for r in q_audio_spectral_export(spark, sf_dir).collect()
    }
    for d in docs:
        want = _spec_brute(d["doc_id"], d["source"], d["lang"])
        for (f, k), m in want.items():
            assert got[(d["doc_id"], f, k)] == m, (d["doc_id"], f, k)


def _hash_par(doc_id):
    import hashlib

    return ord(hashlib.md5(str(doc_id).encode()).hexdigest()[0]) % 2


def test_audio_spectral_dedup_is_time_offset_tolerant(spark, sf_dir):
    """Same-recording docs (shared source:lang key) with OPPOSITE
    parity are one-frame-shifted clips: they must pair in
    dedup_audio_spectral (sharing the 3 interior frame spectra) even
    though their time-domain window energies shift. Same-parity
    same-recording docs share all 4."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_dedup_audio_spectral,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    groups = {}
    for r in docs:
        groups.setdefault((r["source"], r["lang"]), []).append(r["doc_id"])
    shifted, aligned = [], []
    for ids in groups.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                lo, hi = min(a, b), max(a, b)
                (shifted if _hash_par(a) != _hash_par(b)
                 else aligned).append((lo, hi))
    assert shifted and aligned
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in q_dedup_audio_spectral(spark, sf_dir).collect()
    }
    for p in shifted:
        assert p in pairs and pairs[p] >= 3, f"shifted dup pair {p} missed"
    for p in aligned:
        assert pairs.get(p) == 4, f"aligned dup pair {p} should share all 4"


def test_time_domain_fp_misses_what_spectral_catches(spark, sf_dir):
    """The motivation for the upgrade, pinned: applying the
    time-domain fingerprint rule (16-window |energy| dHash) to the
    SHIFTED signals diverges for at least one opposite-parity
    same-recording pair that the spectral query finds."""
    import hashlib

    from etl_dagster_service_crawler_spark.workloads.llm import (
        AUDIO_SPEC_FRAME_LEN,
        q_dedup_audio_spectral,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()

    def fp_of(doc_id, source, lang):
        base = f"{source}:{lang}"
        key = f"{base}:{hashlib.md5(base.encode()).hexdigest()}"
        cps = [ord(ch) % 256 for ch in key]
        shift = _hash_par(doc_id) * 2 * AUDIO_SPEC_FRAME_LEN
        mono = [
            abs((cps[(2 * j + shift) % len(cps)] - 128) * 256)
            for j in range(128)
        ]
        energy = [sum(mono[w * 8:(w + 1) * 8]) for w in range(16)]
        fp = 0
        for w in range(15):
            if energy[w] > energy[w + 1]:
                fp |= 1 << w
        return fp

    groups = {}
    for r in docs:
        groups.setdefault((r["source"], r["lang"]), []).append(r)
    spectral = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_audio_spectral(spark, sf_dir).collect()
    }
    missed = 0
    for rows in groups.values():
        for i, a in enumerate(rows):
            for b in rows[i + 1:]:
                if _hash_par(a["doc_id"]) == _hash_par(b["doc_id"]):
                    continue
                p = (min(a["doc_id"], b["doc_id"]),
                     max(a["doc_id"], b["doc_id"]))
                if p in spectral and fp_of(
                    a["doc_id"], a["source"], a["lang"]
                ) != fp_of(b["doc_id"], b["source"], b["lang"]):
                    missed += 1
    assert missed > 0, (
        "expected at least one shifted pair whose time-domain "
        "fingerprints diverge while the spectral pair query finds it"
    )


def test_graph_triangle_count_matches_brute_force(spark, sf_dir):
    """Ordered-wedge triangle counting == plain set-based recompute
    over the same mutual-kNN edge set; zero-triangle nodes included."""
    from itertools import combinations

    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_graph_triangle_count,
        q_knn_graph_mutual,
    )

    edges = {(r["src"], r["dst"])
             for r in q_knn_graph_mutual(spark, sf_dir).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect():
        want[r["vec_id"]] = 0
    n_tri = 0
    for v, ns in adj.items():
        for x, y in combinations(sorted(ns), 2):
            if (min(x, y), max(x, y)) in edges:
                want[v] += 1
                n_tri += 1
    got = {r["vec_id"]: r["n_triangles"]
           for r in q_graph_triangle_count(spark, sf_dir).collect()}
    assert got == want
    assert n_tri % 3 == 0  # each triangle counted at its 3 corners


def test_decontaminate_embedding_threshold_and_selfhits(spark, sf_dir):
    """Every verbatim probe leak flags itself; every flagged pair
    really clears cos >= 0.35 under exact float recompute; every
    unflagged (vec, probe) pair with dot > 0 really falls below."""
    import math

    from etl_dagster_service_crawler_spark.workloads.llm import (
        DECON_EMB_COS_C,
        TOPK_QUERY_IDS,
        q_decontaminate_embedding,
    )

    rows = q_decontaminate_embedding(spark, sf_dir).collect()
    hits = {(r["vec_id"], r["probe_id"]): r for r in rows}
    for p in TOPK_QUERY_IDS:
        assert (p, p) in hits, f"verbatim probe {p} must self-flag"
        r = hits[(p, p)]
        assert r["dot"] == r["na"] == r["nb"]
    assert len(hits) > len(TOPK_QUERY_IDS), "expect paraphrase-level hits"
    t = DECON_EMB_COS_C / 100
    for r in rows:
        cos = r["dot"] / math.sqrt(r["na"] * r["nb"])
        # integer comparison equals the real-number threshold up to
        # the exact boundary (10^4 dot^2 >= C^2 na nb)
        assert cos >= t - 1e-12
