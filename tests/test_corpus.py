"""Round-4 corpus-shaping operators: chunking, boilerplate windows,
keep-best dedup, and the batch kNN join (recall vs exact twin)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
    BOILER_MIN_DOCS,
    BOILER_WINDOW,
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    q_boilerplate_window_flags,
    q_chunk_documents,
    q_dedup_keep_best,
    q_knn_join_ivf,
)


def _write_documents(tmp_path, rows):
    """Stage a documents.parquet with the fixture schema (load_table
    pins column names/types)."""
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(f"{tmp_path}/documents.parquet", index=False)
    return str(tmp_path)


def test_chunk_documents_matches_local_recompute(spark, sf_dir):
    doc = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") == 3)
        .collect()[0]
    )
    toks = doc["text"].split(" ")
    expect = []
    starts = list(range(0, max(len(toks), 1), CHUNK_STRIDE))
    for idx, s in enumerate(starts):
        expect.append(
            (idx, " ".join(toks[s : s + CHUNK_TOKENS]),
             min(CHUNK_TOKENS, len(toks) - s))
        )
    got = [
        (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in q_chunk_documents(spark, sf_dir)
        .where(F.col("doc_id") == 3)
        .orderBy("chunk_idx")
        .collect()
    ]
    assert got == expect
    # overlap invariant: consecutive chunks share CHUNK_TOKENS - STRIDE
    # tokens when both are full-width
    if len(got) >= 2 and got[1][2] == CHUNK_TOKENS:
        tail = got[0][1].split(" ")[CHUNK_STRIDE:]
        head = got[1][1].split(" ")[: CHUNK_TOKENS - CHUNK_STRIDE]
        assert tail == head


def test_chunking_is_shuffle_free(spark, sf_dir):
    plan = q_chunk_documents(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_boilerplate_flags_injected_repeats(spark, tmp_path):
    boiler = " ".join(f"w{i}" for i in range(BOILER_WINDOW))
    uniq = lambda d: " ".join(f"u{d}_{i}" for i in range(BOILER_WINDOW))  # noqa: E731
    rows = []
    # BOILER_MIN_DOCS docs lead with the SAME aligned window + one
    # unique window; one doc is entirely unique; one doc is too short
    # to have any window.
    for d in range(BOILER_MIN_DOCS):
        rows.append((d, f"{boiler} {uniq(d)}", "en", "s", 1))
    rows.append((90, uniq(90) + " " + uniq(91), "en", "s", 1))
    rows.append((91, "tiny doc", "en", "s", 1))
    sf = _write_documents(tmp_path, rows)
    got = {
        r["doc_id"]: r
        for r in q_boilerplate_window_flags(spark, sf).collect()
    }
    assert len(got) == BOILER_MIN_DOCS + 2
    for d in range(BOILER_MIN_DOCS):
        assert got[d]["n_windows"] == 2
        assert got[d]["n_boiler"] == 1
        assert got[d]["boiler_frac"] == pytest.approx(0.5)
        assert got[d]["keep"] is False  # frac 0.5 is NOT < 0.5
    assert got[90]["n_boiler"] == 0 and got[90]["keep"] is True
    assert got[91]["n_windows"] == 0 and got[91]["keep"] is True


def test_dedup_keep_best_prefers_longest_then_smallest_id(spark, tmp_path):
    rows = [
        (1, "same text", "en", "a", 40),
        (2, "same text", "en", "b", 99),  # longest copy wins
        (3, "same text", "en", "c", 99),  # tie -> smaller doc_id (2)
        (4, "other text", "en", "d", 10),
    ]
    sf = _write_documents(tmp_path, rows)
    kept = sorted(
        r["doc_id"] for r in q_dedup_keep_best(spark, sf).collect()
    )
    assert kept == [2, 4]


def test_knn_join_recall_vs_bruteforce(spark, sf_dir):
    from etl_dagster_service_crawler_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sample_ids = [r["vec_id"] for r in emb.select("vec_id").limit(20).collect()]
    exact = cosine_topk_bruteforce(emb, sample_ids, k=5)
    truth = {
        (r["qid"], r["nid"]) for r in exact.collect()
    }
    approx = q_knn_join_ivf(spark, sf_dir).where(
        F.col("qid").isin(sample_ids)
    )
    got = {(r["qid"], r["nid"]) for r in approx.collect()}
    # every query answered with exactly k rows
    counts: dict[int, int] = {}
    for q, _ in got:
        counts[q] = counts.get(q, 0) + 1
    assert set(counts) == set(sample_ids)
    assert all(c == 5 for c in counts.values())
    recall = len(truth & got) / len(truth)
    # calibrated nprobe targets KNN_TARGET_RECALL (0.85); the pin leaves
    # a small sampling margin for the 20-query probe (measured organic
    # recall@5 at sf0.1: 0.849 — r6 VERDICT)
    assert recall >= 0.8, f"recall@5 {recall:.2f} below the 0.8 pin"


def test_knn_join_has_no_cartesian(spark, sf_dir):
    # the centroid fan-out is an intentional broadcast nested loop
    # (tiny right side); what must NEVER appear is a corpus x corpus
    # cartesian product
    plan = q_knn_join_ivf(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_quality_bin_sample_retention_rises_with_bin(spark, sf_dir):
    """Higher-quality deciles must retain a larger fraction; the filter
    must be deterministic (same rows on a rerun)."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_quality_bin_sample,
    )

    rows = q_quality_bin_sample(spark, sf_dir).collect()
    kept_per_bin = {}
    for r in rows:
        kept_per_bin[r["qbin"]] = kept_per_bin.get(r["qbin"], 0) + 1
    # each decile holds ~n/10 docs; retention thresholds rise, so kept
    # counts must rise from the bottom to the top decile (allow local
    # noise between adjacent bins, compare the ends)
    assert kept_per_bin[10] > kept_per_bin.get(1, 0)
    assert set(kept_per_bin) <= set(range(1, 11))
    rerun = q_quality_bin_sample(spark, sf_dir).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in rerun
    )


def test_inverted_index_postings_roundtrip(spark, sf_dir):
    """Index invariants: postings are sorted, bounded by the shard
    width, and replaying (term, doc) pairs from the postings exactly
    reproduces the corpus term-document relation."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        POSTING_SHARD_WIDTH,
        q_build_inverted_index,
    )

    idx = q_build_inverted_index(spark, sf_dir)
    rows = idx.collect()
    assert rows
    parsed = {}
    for r in rows:
        items = [x.split(":") for x in r["postings"].split(",")]
        p = [int(d) for d, _tf in items]
        parsed[(r["term"], r["shard"])] = p
        assert p == sorted(p)
        assert len(p) == r["df_shard"] <= POSTING_SHARD_WIDTH
        assert all(d // POSTING_SHARD_WIDTH == r["shard"] for d in p)
        assert r["tf_shard"] == sum(int(tf) for _d, tf in items)

    replayed = {(t, d) for (t, _s), p in parsed.items() for d in p}
    from etl_dagster_service_crawler_spark.io.tables import load_table

    truth = {
        (r["term"], r["doc_id"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
        .collect()
    }
    assert replayed == truth


def test_search_results_contain_all_terms(spark, sf_dir):
    """Every hit must actually contain every query term, and the score
    must equal the summed term frequency."""
    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        SEARCH_TERMS,
        q_search_conjunctive,
    )

    hits = {r["doc_id"]: r["score"] for r in q_search_conjunctive(spark, sf_dir).collect()}
    assert hits
    texts = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(list(hits)))
        .collect()
    }
    for doc_id, score in hits.items():
        toks = texts[doc_id]
        assert all(t in toks for t in SEARCH_TERMS)
        assert score == sum(toks.count(t) for t in SEARCH_TERMS)


def test_bigram_dice_bounds_and_counts(spark, sf_dir):
    """Dice is in (0, 1e6]: 2*c_xy <= c_x + c_y always; equality only
    when both words exist solely in this bigram."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_bigram_collocations,
    )

    rows = q_bigram_collocations(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["dice_scaled"] <= 1_000_000
        assert r["c_xy"] >= 1


def test_cap_per_source_equals_single_window_form(spark, sf_dir):
    """The skew-proof two-phase selection must be row-identical to the
    naive single-window per-source top-N, and never exceed the cap."""
    from pyspark.sql import Window

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        CAP_PER_SOURCE,
        q_cap_per_source,
    )

    got = {tuple(r) for r in q_cap_per_source(spark, sf_dir).collect()}

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    naive = {
        tuple(r)
        for r in d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= CAP_PER_SOURCE)
        .collect()
    }
    assert got == naive
    per_source: dict[str, int] = {}
    for _, src, _rk in got:
        per_source[src] = per_source.get(src, 0) + 1
    assert max(per_source.values()) <= CAP_PER_SOURCE


def test_knn_recall_on_scale_replica(spark):
    """VERDICT r4 item 6: sqrt(n) centroid sizing changes cell
    populations as n grows, so recall must hold on the scale replica,
    not just the fixture. Runs whenever the x10 replica exists
    (tools/make_scale.py output); skipped otherwise so CI without the
    replica stays green."""
    import os

    import pytest

    replica = "/tmp/spark_graft_sf1"
    if not os.path.isdir(replica):
        pytest.skip("x10 replica not built (tools/make_scale.py)")
    from tools.knn_recall_scale import RECALL_FLOOR, measure

    recall = measure(spark, replica, n_sample=40)
    assert recall >= RECALL_FLOOR, f"recall@5 {recall:.2f} on x10 replica"


def test_bpe_merge_pairs_matches_local_recompute(spark, sf_dir):
    """bpe_merge_pairs: the top-K pair table equals an independent
    Python recompute (same pretokenizer regex, word-frequency-first
    counting, identical tie order)."""
    import re
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        BPE_MERGE_TOP_K,
        BPE_PRETOKEN_RE,
        q_bpe_merge_pairs,
    )

    texts = [
        r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    wf: Counter[str] = Counter()
    for text in texts:
        for w in re.findall(BPE_PRETOKEN_RE, text):
            if len(w) >= 2:
                wf[w] += 1
    pairs: Counter[str] = Counter()
    for w, cnt in wf.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += cnt
    expect = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[
        :BPE_MERGE_TOP_K
    ]
    got = [
        (r["pair"], r["pair_count"])
        for r in q_bpe_merge_pairs(spark, sf_dir).collect()
    ]
    assert got == expect


def test_bpe_train_merges_matches_textbook_bpe(spark, sf_dir):
    """bpe_train_merges equals a textbook BPE trainer implemented
    independently in Python: greedy left-to-right non-overlapping
    merges, pair counts over the current segmentation weighted by
    word frequency — proving the wrapped-replace encoding implements
    real BPE, not merely something both engines agree on."""
    import re
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        BPE_PRETOKEN_RE,
        BPE_TRAIN_MERGES,
        _BPE_SEP,
        q_bpe_train_merges,
    )

    texts = [
        r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    wf: Counter[str] = Counter()
    for text in texts:
        for w in re.findall(BPE_PRETOKEN_RE, text):
            if len(w) >= 2:
                wf[w] += 1
    vocab: dict[tuple[str, ...], int] = {tuple(w): c for w, c in wf.items()}
    expect = []
    for rank in range(1, BPE_TRAIN_MERGES + 1):
        pc: Counter[tuple[str, str]] = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + _BPE_SEP + kv[0][1])
        )
        expect.append((rank, left, right, c))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    got = [
        (r["merge_rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in q_bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == expect


def test_bpe_greedy_merge_run_semantics(spark, tmp_path):
    """A run of one repeated character merges pairwise left-to-right
    ([aa][aa] from 'aaaa', with a lone trailing 'a' from 'aaaaa') —
    the case where a naive single-delimiter replace encoding silently
    deviates from textbook BPE."""
    import pandas as pd

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_bpe_train_merges,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["aaaa aaaa aaaaa", "aaaa bb"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [15, 7],
        }
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(f"{tmp_path}/documents.parquet", index=False)
    got = {
        r["merge_rank"]: (r["merge_left"], r["merge_right"], r["pair_count"])
        for r in q_bpe_train_merges(spark, str(tmp_path)).collect()
    }
    # round 1: (a,a) — 'aaaa' has 3 adjacent positions x 3 word
    # occurrences + 4 positions in 'aaaaa' = 13 (positions, not
    # greedy applications)
    assert got[1] == ("a", "a", 13)
    # round 2: after greedy merging, 'aaaa'->[aa,aa] (x3) and
    # 'aaaaa'->[aa,aa,a] (NOT [aa,a,a] — pairwise left-to-right), so
    # (aa,aa) = 3+1 = 4 beats (b,b)=1 and (aa,a)=1
    assert got[2] == ("aa", "aa", 4)


def test_tokenizer_apply_bpe_matches_textbook_apply(spark, sf_dir):
    """tokenizer_apply_bpe (train + rank-order exhaustive apply)
    equals an independent Python pipeline: textbook-BPE train, then
    per-word priority-based segmentation."""
    import re
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        BPE_PRETOKEN_RE,
        BPE_TRAIN_MERGES,
        _BPE_SEP,
        q_tokenizer_apply_bpe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    wf: Counter[str] = Counter()
    doc_words: dict[int, list[str]] = {}
    for r in docs:
        ws = re.findall(BPE_PRETOKEN_RE, r["text"])
        doc_words[r["doc_id"]] = ws
        for w in ws:
            if len(w) >= 2:
                wf[w] += 1
    # textbook train (shared recompute shape with the trainer test)
    vocab: dict[tuple[str, ...], int] = {tuple(w): c for w, c in wf.items()}
    ranks: dict[tuple[str, str], int] = {}
    for rank in range(1, BPE_TRAIN_MERGES + 1):
        pc: Counter[tuple[str, str]] = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (left, right), _c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + _BPE_SEP + kv[0][1])
        )
        ranks[(left, right)] = rank
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab

    def segment(w: str) -> int:
        """Priority-based BPE apply: repeatedly merge every
        occurrence of the lowest-rank pair present."""
        syms = list(w)
        while True:
            present = {
                (syms[i], syms[i + 1])
                for i in range(len(syms) - 1)
                if (syms[i], syms[i + 1]) in ranks
            }
            if not present:
                return len(syms)
            left, right = min(present, key=lambda p: ranks[p])
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out

    expect = {
        doc_id: (len(ws), sum(segment(w) for w in ws))
        for doc_id, ws in doc_words.items()
    }
    got = {
        r["doc_id"]: (r["n_pretokens"], r["n_subwords"])
        for r in q_tokenizer_apply_bpe(spark, sf_dir).collect()
    }
    assert got == expect


def test_tokenizer_apply_udf_equals_expression_variant(spark, sf_dir):
    """The pandas-UDF production segmenter and the nested-replace
    expression form must agree row-for-row (they share one oracle)."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_tokenizer_apply_bpe,
        q_tokenizer_apply_bpe_udf,
    )

    expr = {
        r["doc_id"]: (r["n_pretokens"], r["n_subwords"])
        for r in q_tokenizer_apply_bpe(spark, sf_dir).collect()
    }
    udf = {
        r["doc_id"]: (r["n_pretokens"], r["n_subwords"])
        for r in q_tokenizer_apply_bpe_udf(spark, sf_dir).collect()
    }
    assert udf == expr


def test_bpe_train_merges_empty_when_no_multichar_words(spark, tmp_path):
    """A corpus with no >=2-char pretokens trains zero merges; the
    query returns an empty frame with the contract schema (the oracle
    chain likewise collapses to zero winner rows)."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_bpe_train_merges,
        q_tokenizer_apply_bpe,
    )

    rows = [(1, "a b c", "en", "s", 5), (2, "x y", "en", "s", 3)]
    sf = _write_documents(tmp_path, rows)
    out = q_bpe_train_merges(spark, sf)
    assert out.columns == [
        "merge_rank", "merge_left", "merge_right", "pair_count",
    ]
    assert out.count() == 0
    # apply with zero merges degrades to character counting
    applied = {
        r["doc_id"]: (r["n_pretokens"], r["n_subwords"])
        for r in q_tokenizer_apply_bpe(spark, sf).collect()
    }
    assert applied == {1: (3, 3), 2: (2, 2)}


def test_bpe_train_deeper_merge_count_matches_recompute(spark, sf_dir):
    """bpe_train's n_merges parameter beyond the registry default (12
    rounds) still tracks the textbook trainer — later rounds merge
    multi-char symbols, exercising the encoding on longer patterns."""
    import re
    from collections import Counter

    from etl_dagster_service_crawler_spark.io.tables import load_table
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        BPE_PRETOKEN_RE,
        _BPE_SEP,
        bpe_train,
    )

    n = 12
    texts = [
        r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    wf: Counter[str] = Counter()
    for text in texts:
        for w in re.findall(BPE_PRETOKEN_RE, text):
            if len(w) >= 2:
                wf[w] += 1
    vocab: dict[tuple[str, ...], int] = {tuple(w): c for w, c in wf.items()}
    expect = []
    for rank in range(1, n + 1):
        pc: Counter[tuple[str, str]] = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + _BPE_SEP + kv[0][1])
        )
        expect.append((rank, left, right, c))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    d = load_table(spark, sf_dir, "documents")
    assert bpe_train(d, n) == expect
    # deeper rounds actually reached multi-char merge inputs
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _ in expect)


def test_boilerplate_strip_consistent_with_flags(spark, tmp_path):
    """strip removes exactly the windows flags counts (n_removed ==
    n_boiler per doc), excises the injected shared window, and
    round-trips boiler-free docs byte-identical."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_boilerplate_strip,
    )

    boiler = " ".join(f"w{i}" for i in range(BOILER_WINDOW))
    uniq = lambda d: " ".join(f"u{d}_{i}" for i in range(BOILER_WINDOW))  # noqa: E731
    rows = []
    for d in range(BOILER_MIN_DOCS):
        rows.append((d, f"{boiler} {uniq(d)}", "en", "s", 1))
    rows.append((90, uniq(90) + " " + uniq(91), "en", "s", 1))
    rows.append((91, "tiny doc", "en", "s", 1))
    sf = _write_documents(tmp_path, rows)
    flags = {
        r["doc_id"]: r for r in q_boilerplate_window_flags(spark, sf).collect()
    }
    stripped = {
        r["doc_id"]: r for r in q_boilerplate_strip(spark, sf).collect()
    }
    assert set(stripped) == set(flags)
    for doc_id, s in stripped.items():
        assert s["n_removed"] == flags[doc_id]["n_boiler"]
        assert s["n_windows"] == flags[doc_id]["n_windows"]
    # the shared window is excised, the unique remainder survives
    for d in range(BOILER_MIN_DOCS):
        assert stripped[d]["clean_text"] == uniq(d)
    # boiler-free docs round-trip byte-identical (incl. the short one)
    assert stripped[90]["clean_text"] == uniq(90) + " " + uniq(91)
    assert stripped[91]["clean_text"] == "tiny doc"


def test_bpe_separator_byte_in_corpus_is_inert(spark, tmp_path):
    """A document containing the \\x1f wrapped-encoding separator must
    not crash the trainer or perturb the learned merges: the
    pretokenizer's catch-all class excludes \\x1f, so the byte splits
    runs but never enters a pretoken (r8 advice — previously the
    3-way pk.split() raised ValueError)."""
    import pandas as pd

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        bpe_train,
        load_table,
    )

    clean = ["the cat sat", "the hat"]
    dirty = ["the\x1f cat sat", "the \x1fhat\x1f"]

    def frame(texts, sub):
        pdf = pd.DataFrame(
            {
                "doc_id": pd.array(range(len(texts)), dtype="int64"),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
            }
        )
        p = tmp_path / sub
        p.mkdir()
        pdf.to_parquet(f"{p}/documents.parquet", index=False)
        return load_table(spark, str(p), "documents")

    got_clean = bpe_train(frame(clean, "clean"), n_merges=4)
    got_dirty = bpe_train(frame(dirty, "dirty"), n_merges=4)
    assert got_clean == got_dirty
    assert got_clean  # the corpus does learn merges


# ------------------------------------------------ knn routing (r7 #1)


def test_route_knn_adjudicates_curve_shapes():
    """Pure routing pins: an isotropic-shaped curve (recall tracks
    probed mass, target met only past the fraction threshold) routes
    to the quantized scan; a clustered-shaped curve (target met in a
    couple of probes) keeps IVF; the boundary probe count stays IVF."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        route_knn,
    )

    iso = [(p, p / 22.0) for p in range(1, 23)]
    assert route_knn(iso, 22, 0.5) == ("quantized", 11)
    clustered = [(1, 0.92), (2, 0.97)] + [(p, 1.0) for p in range(3, 23)]
    assert route_knn(clustered, 22, 0.85) == ("ivf", 1)
    # exactly at the fraction boundary: IVF still prunes 4x, keep it
    boundary = [(p, 1.0 if p >= 4 else 0.0) for p in range(1, 17)]
    assert route_knn(boundary, 16, 0.85) == ("ivf", 4)
    # target unreachable: nprobe degrades to n_cells -> quantized
    flat = [(p, 0.5) for p in range(1, 17)]
    assert route_knn(flat, 16, 0.85) == ("quantized", 16)


def test_knn_join_quantized_exact_when_r_covers_corpus(spark, sf_dir):
    """Exactness property: with r_candidates >= corpus size the
    quantized join IS brute force — every (qid, rn) -> (nid, cos)
    matches cosine_topk_bruteforce bit-for-bit (same fold order)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        cosine_topk_bruteforce,
        knn_join_quantized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    exact = {
        (r["qid"], r["rn"]): (r["nid"], r["cos"])
        for r in cosine_topk_bruteforce(emb, ids, k=5).collect()
    }
    full = {
        (r["qid"], r["rn"]): (r["nid"], r["cos"])
        for r in knn_join_quantized(emb, k=5, r_candidates=len(ids)).collect()
    }
    assert full == exact


def test_knn_join_auto_routes_quantized_on_isotropic(spark, sf_dir):
    """The organic fixture embeddings are near-isotropic: calibration
    needs most cells, so the auto op must route to the quantized arm
    (MapInArrow coarse pass in the plan, no CartesianProduct, no
    BNLJ) and hold the recall pin."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        cosine_topk_bruteforce,
        route_knn,
    )
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        KNN_TARGET_RECALL,
        _knn_ivf_plan,
        q_knn_join_auto,
    )

    _emb, c, _d, _ce, _a, _np_, curve = _knn_ivf_plan(spark, sf_dir)
    path, _ = route_knn(curve, c, KNN_TARGET_RECALL)
    assert path == "quantized"

    out = q_knn_join_auto(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan  # the coarse block kernel (r14: Arrow)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sample_ids = [r["vec_id"] for r in emb.select("vec_id").limit(20).collect()]
    truth = {
        (r["qid"], r["nid"])
        for r in cosine_topk_bruteforce(emb, sample_ids, k=5).collect()
    }
    got = {
        (r["qid"], r["nid"])
        for r in out.where(F.col("qid").isin(sample_ids)).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"recall@5 {recall:.2f} below the 0.8 pin"


def test_knn_join_auto_routes_ivf_on_clustered(spark, tmp_path):
    """A clustered replica (10 tight clusters, the near-dup-heavy
    crawl-corpus shape): calibration reaches the target within a few
    probes, so the auto op must KEEP the IVF cell join (no MapInArrow
    coarse pass) and still hold the recall pin."""
    import numpy as np
    import pandas as pd

    from etl_dagster_service_crawler_spark.operators.similarity import (
        cosine_topk_bruteforce,
        route_knn,
    )
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        KNN_TARGET_RECALL,
        _knn_ivf_plan,
        q_knn_join_auto,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = (
        centers[np.arange(500) % 10]
        + 0.01 * rng.normal(size=(500, 64))
    ).astype(np.float32)
    pd.DataFrame(
        {
            "vec_id": pd.array(range(500), dtype="int64"),
            "embedding": list(vecs),
            "label": pd.array(np.arange(500) % 10, dtype="int32"),
        }
    ).to_parquet(f"{tmp_path}/embeddings.parquet", index=False)

    sf = str(tmp_path)
    _emb, c, _d, _ce, _a, nprobe, curve = _knn_ivf_plan(spark, sf)
    path, nprobe = route_knn(curve, c, KNN_TARGET_RECALL)
    assert path == "ivf"
    assert nprobe <= 0.25 * c

    out = q_knn_join_auto(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan  # no coarse block kernel on this arm
    assert "CartesianProduct" not in plan

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    sample_ids = [r["vec_id"] for r in emb.select("vec_id").limit(20).collect()]
    truth = {
        (r["qid"], r["nid"])
        for r in cosine_topk_bruteforce(emb, sample_ids, k=5).collect()
    }
    got = {
        (r["qid"], r["nid"])
        for r in out.where(F.col("qid").isin(sample_ids)).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"recall@5 {recall:.2f} below the 0.8 pin"


def test_bpe_segment_memo_is_module_level_and_keyed(spark):
    """r7 item 6: the segmentation memo must survive across calls (it
    is module state, which is what survives Arrow batches in a reused
    Python worker) and must be KEYED by the merge table — a word's
    count under one table must never answer for another."""
    from etl_dagster_service_crawler_spark.workloads import corpus_wl as cw

    ranks_a = {("a", "b"): 1}
    key_a = (("a", "b", 1),)
    ranks_b = {("b", "c"): 1}
    key_b = (("b", "c", 1),)
    cw._SEGMENT_MEMO.pop(key_a, None)
    cw._SEGMENT_MEMO.pop(key_b, None)
    assert cw.bpe_segment_count("abc", ranks_a, key_a) == 2  # [ab, c]
    assert cw.bpe_segment_count("abc", ranks_b, key_b) == 2  # [a, bc]
    # the memo answers the second call: poison the cached value and
    # observe it served verbatim (proves the hit path + module scope)
    cw._SEGMENT_MEMO[key_a]["abc"] = 99
    assert cw.bpe_segment_count("abc", ranks_a, key_a) == 99
    # ...and the other key is unaffected (no cross-table collision)
    assert cw.bpe_segment_count("abc", ranks_b, key_b) == 2
    cw._SEGMENT_MEMO.pop(key_a, None)
    cw._SEGMENT_MEMO.pop(key_b, None)


def test_bpe_batched_equals_sequential_at_batch_one(spark, sf_dir):
    """With batch=1 every round commits exactly the global best pair —
    the batched trainer must reproduce the sequential trainer verbatim
    (ranks, pairs, counts)."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        bpe_train,
        bpe_train_batched,
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    assert bpe_train_batched(d, n_rounds=6, batch=1) == bpe_train(d, 6)


def test_bpe_batched_greedy_skips_overlapping_pairs(spark, tmp_path):
    """Crafted corpus where the frontier's #2 pair shares a symbol with
    the #1 pick: the round must skip it and commit the next disjoint
    pair instead, and the committed counts must be round-START counts."""
    import pandas as pd

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        bpe_train_batched,
        load_table,
    )

    texts = ["ab " * 9 + "bc " * 8 + "cd " * 7]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([1], dtype="int64"),
            "text": texts,
            "lang": ["en"],
            "source": ["s"],
            "n_chars": pd.array([len(texts[0])], dtype="int64"),
        }
    )
    pdf.to_parquet(f"{tmp_path}/documents.parquet", index=False)
    d = load_table(spark, str(tmp_path), "documents")
    got = bpe_train_batched(d, n_rounds=1, batch=2)
    # (a,b)=9 picked; (b,c)=8 shares 'b' -> skipped; (c,d)=7 picked
    assert got == [(1, "a", "b", 9), (2, "c", "d", 7)]
    # within-round picks are symbol-disjoint by construction
    syms = [s for _, l, r, _ in got for s in (l, r)]
    assert len(syms) == len(set(syms))


def test_dup_span_coverage_hand_values(spark, tmp_path):
    """Coverage is the exact interval union of sliding duplicated
    windows: a shared 10-token prefix between two 20-token docs yields
    3 dup windows (starts 1..3) covering 10 tokens; a unique doc and a
    too-short doc report zeros."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        DUP_SPAN_WINDOW,
        q_dup_span_coverage,
    )

    assert DUP_SPAN_WINDOW == 8
    shared = " ".join(f"s{i}" for i in range(10))
    tail = lambda d: " ".join(f"t{d}_{i}" for i in range(10))  # noqa: E731
    rows = [
        (0, f"{shared} {tail(0)}", "en", "s", 1),
        (1, f"{shared} {tail(1)}", "en", "s", 1),
        (2, tail(2) + " " + tail(3), "en", "s", 1),
        (3, "too short", "en", "s", 1),
    ]
    sf = _write_documents(tmp_path, rows)
    got = {r["doc_id"]: r for r in q_dup_span_coverage(spark, sf).collect()}
    assert len(got) == 4
    for d in (0, 1):
        # dup windows start at tokens 1,2,3 (windows 4+ mix in the
        # unique tail); union of [1,8],[2,9],[3,10] covers tokens 1..10
        assert got[d]["n_tokens"] == 20
        assert got[d]["n_dup_windows"] == 3
        assert got[d]["covered_tokens"] == 10
        assert got[d]["dup_frac_bp"] == 5000
    assert got[2]["n_dup_windows"] == 0 and got[2]["covered_tokens"] == 0
    assert got[3]["n_tokens"] == 2 and got[3]["dup_frac_bp"] == 0


def test_dup_span_hot_window_no_giant_array(spark, tmp_path):
    """Skew hardening (r15): a single window shared by MANY docs must
    not funnel through one collected occurrence array (the hot-key
    shape a boilerplate footer produces at corpus scale). 20k docs
    share one 8-token window; the strip keeps exactly the first
    occurrence (doc 0) and coverage reports 8 covered tokens per doc.
    The per-whash stats aggregate is O(1) per hash, so this completes
    in seconds where a collect_list of 20k-element structs per hash
    would accumulate one giant buffer."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_dedup_span_strip,
        q_dup_span_coverage,
    )

    shared = " ".join(f"s{i}" for i in range(8))
    rows = [
        (i, f"u{i}a u{i}b u{i}c {shared} u{i}x u{i}y u{i}z", "en", "s", 1)
        for i in range(20_000)
    ]
    sf = _write_documents(tmp_path, rows)
    cov = q_dup_span_coverage(spark, sf)
    agg = cov.agg(
        F.sum("covered_tokens").alias("ct"),
        F.sum("n_dup_windows").alias("nw"),
    ).collect()[0]
    assert agg["ct"] == 8 * 20_000 and agg["nw"] == 20_000
    stripped = q_dedup_span_strip(spark, sf)
    kept = stripped.where(F.col("removed_tokens") == 0)
    assert kept.count() == 1
    assert kept.collect()[0]["doc_id"] == 0
    assert (
        stripped.where(F.col("removed_tokens") == 8).count() == 20_000 - 1
    )


# --- r9: segment dedup / cross-source overlap / interval join / mixing -------


def _docs_dir(spark, tmp_path, rows):
    """rows = [(doc_id, text, source)] written in the pinned documents
    schema."""
    full = [(i, t, "en", s, len(t)) for i, t, s in rows]
    spark.createDataFrame(
        full,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_dedup_segment_exact_hand_values(spark, tmp_path):
    """doc0 = segments A|B; doc1 = B|C: the shared 32-word block B is
    kept only at its first occurrence (doc0), so doc1 drops 1 of 2."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_dedup_segment_exact,
    )

    seg_a = " ".join(f"a{i}" for i in range(32))
    seg_b = " ".join(f"b{i}" for i in range(32))
    seg_c = " ".join(f"c{i}" for i in range(32))
    sf = _docs_dir(
        spark, tmp_path,
        [(0, f"{seg_a} {seg_b}", "s0"), (1, f"{seg_b} {seg_c}", "s1")],
    )
    got = {r["doc_id"]: r for r in q_dedup_segment_exact(spark, sf).collect()}
    assert got[0]["n_segments"] == 2 and got[0]["dropped_segments"] == 0
    assert got[1]["n_segments"] == 2 and got[1]["dropped_segments"] == 1
    assert got[1]["kept_segments"] == 1 and got[1]["drop_bp"] == 5000


def test_cross_source_dup_overlap_hand_values(spark, tmp_path):
    """A 32-word segment shared by s0 and s1 counts once per pair,
    regardless of how many docs carry it; disjoint sources produce no
    row."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_cross_source_dup_overlap,
    )

    shared = " ".join(f"x{i}" for i in range(32))
    other = " ".join(f"y{i}" for i in range(32))
    sf = _docs_dir(
        spark, tmp_path,
        [
            (0, shared, "s0"),
            (1, shared, "s1"),
            (2, shared, "s1"),  # second carrier in s1: still 1 distinct
            (3, other, "s2"),
        ],
    )
    rows = q_cross_source_dup_overlap(spark, sf).collect()
    assert {(r["src_a"], r["src_b"], r["shared_segments"]) for r in rows} == {
        ("s0", "s1", 1)
    }


def test_mix_sqrt_temperature_budgets(spark, tmp_path):
    """Sources of 4/9/16 docs with n_min=4: budgets are the geometric
    means floor(sqrt(n*4)) = 4/6/8 — large sources compressed, order
    preserved — and the selection is the md5-rank prefix (rerun-stable)."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_mix_sqrt_temperature,
    )

    rows, did = [], 0
    for src, n in (("sa", 4), ("sb", 9), ("sc", 16)):
        for _ in range(n):
            rows.append((did, f"w{did}", src))
            did += 1
    sf = _docs_dir(spark, tmp_path, rows)
    got = q_mix_sqrt_temperature(spark, sf).collect()
    kept = {}
    for r in got:
        kept.setdefault(r["source"], set()).add(r["doc_id"])
    assert {s: len(v) for s, v in kept.items()} == {"sa": 4, "sb": 6, "sc": 8}
    again = q_mix_sqrt_temperature(spark, sf).collect()
    assert {(r["doc_id"], r["rk"]) for r in got} == {
        (r["doc_id"], r["rk"]) for r in again
    }


def test_join_interval_overlap_hand_values(spark, tmp_path):
    """Containment + bucket decomposition: a click inside the interval
    matches (including when the interval spans a bucket boundary), one
    outside or cross-user does not."""
    from datetime import datetime

    from etl_dagster_service_crawler_spark.workloads.joins_wl import (
        q_join_interval_overlap,
    )

    t0 = datetime(2024, 1, 1, 0, 50, 0)  # 10 min before the hour bucket edge
    rows = [
        # view: 20-minute interval crossing the 01:00 bucket boundary
        (0, t0, 1, "view", 20.0, "{}"),
        # click 15 min later: inside, in the NEXT bucket
        (1, datetime(2024, 1, 1, 1, 5, 0), 1, "click", 1.0, "{}"),
        # click 25 min later: outside
        (2, datetime(2024, 1, 1, 1, 15, 0), 1, "click", 1.0, "{}"),
        # same instant as the in-window click but another user: no match
        (3, datetime(2024, 1, 1, 1, 5, 0), 2, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = q_join_interval_overlap(spark, str(tmp_path)).collect()
    assert [(r["click_id"], r["view_id"], r["lag_us"]) for r in got] == [
        (1, 0, 15 * 60 * 1_000_000)
    ]


def test_dedup_span_strip_hand_values(spark, tmp_path):
    """doc0 = A+B, doc1 = A+C (A = the same 8-token block): the shared
    window's first occurrence (doc0) survives, doc1 loses exactly A's
    8 tokens and reassembles to C; a doc with no dup spans round-trips
    byte-identical."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_dedup_span_strip,
    )

    a = " ".join(f"a{i}" for i in range(8))
    b = " ".join(f"b{i}" for i in range(8))
    c = " ".join(f"c{i}" for i in range(8))
    other = " ".join(f"z{i}" for i in range(10))
    sf = _docs_dir(
        spark, tmp_path,
        [(0, f"{a} {b}", "s0"), (1, f"{a} {c}", "s1"), (2, other, "s2")],
    )
    got = {r["doc_id"]: r for r in q_dedup_span_strip(spark, sf).collect()}
    assert got[0]["removed_tokens"] == 0
    assert got[0]["kept_text"] == f"{a} {b}"
    assert got[1]["removed_tokens"] == 8
    assert got[1]["kept_text"] == c
    assert got[2]["removed_tokens"] == 0 and got[2]["kept_text"] == other
    # conservation: kept + removed == n_tokens everywhere
    for r in got.values():
        kept_n = len(r["kept_text"].split()) if r["kept_text"] else 0
        assert kept_n + r["removed_tokens"] == r["n_tokens"]


def test_embedding_dim_profile_hand_values(spark, tmp_path):
    """Two hand vectors: quantization pins the max-|x| dim at ±127, a
    zero dim counts n_zero, and sums are exact integers."""
    import pandas as pd

    from etl_dagster_service_crawler_spark.workloads.llm import (
        q_embedding_dim_profile,
    )

    # dim0: 1.0 and -1.0 (the absmax of each vector -> ±127)
    # dim1: 0.5 and 0.0  -> round(0.5*127)=64 ... and 0
    vecs = [[1.0, 0.5], [-1.0, 0.0]]
    pd.DataFrame(
        {"vec_id": [0, 1], "embedding": vecs, "label": [0, 0]}
    ).astype({"vec_id": "int64", "label": "int32"}).to_parquet(
        f"{tmp_path}/embeddings.parquet", index=False
    )
    got = {
        r["dim"]: r for r in q_embedding_dim_profile(spark, str(tmp_path)).collect()
    }
    assert got[0]["min_q8"] == -127 and got[0]["max_q8"] == 127
    assert got[0]["sum_q8"] == 0 and got[0]["n_saturated"] == 2
    assert got[1]["max_q8"] == 64 and got[1]["n_zero"] == 1
    assert got[1]["sum_q8"] == 64 and got[1]["n_saturated"] == 0


def test_source_mirror_communities_hand_values(spark, tmp_path):
    """src0 and src2 share a 32-word segment, src1 is independent:
    {src0, src2} form one community represented by src0 (the
    lexicographically smallest member), src1 represents itself;
    is_mirror marks exactly the non-representative members. A
    digitless source name must work too (ids are name ranks, not
    parsed digits)."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_source_mirror_communities,
    )

    shared = " ".join(f"m{i}" for i in range(32))
    lone = " ".join(f"q{i}" for i in range(32))
    sf = _docs_dir(
        spark, tmp_path,
        [(0, shared, "src0"), (1, shared, "web"), (2, lone, "src1")],
    )
    got = {
        r["source"]: (r["community_rep"], r["is_mirror"])
        for r in q_source_mirror_communities(spark, sf).collect()
    }
    assert got == {
        "src0": ("src0", False),
        "web": ("src0", True),
        "src1": ("src1", False),
    }


def test_pagerank_knn_graph_invariants(spark, sf_dir):
    """Integer PageRank invariants on the fixture graph: an isolated
    node's rank is EXACTLY the teleport constant (15·(S DIV n)) DIV
    100; total mass never exceeds S; some connected node out-ranks
    every isolated one; rerun is bit-stable."""
    from etl_dagster_service_crawler_spark.workloads.llm import (
        PAGERANK_SCALE,
        q_pagerank_knn_graph,
    )

    rows = q_pagerank_knn_graph(spark, sf_dir).collect()
    n = len(rows)
    teleport = (15 * (PAGERANK_SCALE // n)) // 100
    isolated = [r for r in rows if r["deg"] == 0]
    connected = [r for r in rows if r["deg"] > 0]
    assert isolated and connected
    assert all(r["rank_ppb"] == teleport for r in isolated)
    assert sum(r["rank_ppb"] for r in rows) <= PAGERANK_SCALE
    assert max(r["rank_ppb"] for r in connected) > teleport
    again = q_pagerank_knn_graph(spark, sf_dir).collect()
    assert {(r["vec_id"], r["rank_ppb"]) for r in rows} == {
        (r["vec_id"], r["rank_ppb"]) for r in again
    }


def test_canonicalize_url_hand_values(spark):
    """Messy-URL fixtures through functions.cleaning.canonicalize_url
    (r10): scheme/host lowercase, path case preserved, fragment gone,
    tracking params stripped on the anchored '=' rule (refresh=
    survives), empty query loses its '?', idempotent on clean input."""
    from etl_dagster_service_crawler_spark.functions.cleaning import (
        canonicalize_url,
    )

    cases = {
        "HTTPS://Site.EXAMPLE/Jobs/item/7?utm_source=a&page=2&ref=99#frag":
            "https://site.example/Jobs/item/7?page=2",
        "https://site.example/Jobs/item/7?page=2":
            "https://site.example/Jobs/item/7?page=2",
        "http://A.B/P?utm_x=1&fbclid=z&gclid=y":
            "http://a.b/P",
        "https://a.b/p#only-frag":
            "https://a.b/p",
        "https://a.b/p?refresh=1&referrer_policy=s":
            "https://a.b/p?refresh=1&referrer_policy=s",
        "https://A.B/CaseSensitive/Path":
            "https://a.b/CaseSensitive/Path",
        # userinfo is case-SENSITIVE (RFC 3986): only scheme+host lower
        "HTTPS://TokenA@Api.Example/x?utm_y=1":
            "https://TokenA@api.example/x",
        "https://U:Pw@H.example/p":
            "https://U:Pw@h.example/p",
    }
    df = spark.createDataFrame(
        [(u,) for u in cases], "url string"
    ).select("url", canonicalize_url(F.col("url")).alias("c"))
    got = {r["url"]: r["c"] for r in df.collect()}
    assert got == cases


def test_dedup_url_canonical_first_wins(spark, tmp_path):
    """One item key crawled five times with different messy URL forms
    (rounds pick the variant): the canonicalizer merges the
    bare/utm/ref+fragment forms into one identity and keeps ?page=2
    distinct; within each identity the FIRST crawl (min doc_id) is the
    kept row and n_dups counts the group."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_dedup_url_canonical,
    )

    # item key 5 at rounds 0..4 -> variants 0,1,2,3,0
    ids = [5, 205, 405, 605, 805]
    _write_documents(
        tmp_path, [(i, f"t{i}", "en", "s", 2) for i in ids]
    )
    rows = {
        r["canonical_url"]: r
        for r in q_dedup_url_canonical(spark, str(tmp_path)).collect()
    }
    bare = rows["https://site.example/Jobs/item/5"]
    paged = rows["https://site.example/Jobs/item/5?page=2"]
    assert len(rows) == 2
    # variants 0 (doc 5), 1 (doc 205), 0 (doc 805) merge; first wins
    assert bare["doc_id"] == 5 and bare["n_dups"] == 3
    assert bare["url"] == "https://Site.example/Jobs/item/5"
    # variant 2 (ref+frag, doc 405) canonicalizes INTO the page=2
    # identity of variant 3 (doc 605); the earlier crawl is kept
    assert paged["doc_id"] == 405 and paged["n_dups"] == 2
    assert paged["url"].endswith("?page=2&ref=405#frag")


def test_search_bm25_matches_local_recompute(spark, sf_dir):
    """BM25 top-k must equal a pure-python recompute of the Okapi
    formula over the same whitespace tokens — same k1/b, same rounded
    ranking, same doc_id tie-break."""
    import math

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
        q_search_bm25_topk,
    )

    docs = {
        r["doc_id"]: (r["text"] or "").split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    n_docs = len(docs)
    sum_dl = sum(len(t) for t in docs.values())
    df = {
        term: sum(1 for t in docs.values() if term in t)
        for term in BM25_TERMS
    }
    scored = []
    for doc_id, toks in docs.items():
        dl = len(toks)
        s = 0.0
        n_terms = 0
        for term in sorted(BM25_TERMS):
            tf = toks.count(term)
            if not tf:
                continue
            n_terms += 1
            idf = math.log(1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5))
            s += (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * ((dl * n_docs) / sum_dl)))
            )
        if n_terms:
            scored.append(
                (math.floor(s * 1e4 + 0.5) / 1e4, doc_id, n_terms)
            )
    scored.sort(key=lambda x: (-x[0], x[1]))
    want = [
        (doc_id, n_terms, score)
        for score, doc_id, n_terms in scored[:BM25_TOPK]
    ]
    got = [
        (r["doc_id"], r["n_terms"], r["score_bm25"])
        for r in q_search_bm25_topk(spark, sf_dir).collect()
    ]
    assert got == want
    assert want, "fixture corpus should match BM25 query terms"


def test_doc_perplexity_matches_local_recompute(spark, sf_dir):
    """bits_per_bigram must equal a pure-python recompute of the add-1
    bigram LM over the same whitespace tokens — same smoothing, same
    sorted-term summation, same 4dp round."""
    import math
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        q_doc_perplexity_bigram,
    )

    docs = {
        r["doc_id"]: (r["text"] or "").split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    lm: Counter = Counter()
    ctx: Counter = Counter()
    vocab = set()
    for toks in docs.values():
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            lm[f"{a} {b}"] += 1
            ctx[a] += 1
    v = len(vocab)
    want = {}
    for doc_id, toks in docs.items():
        counts = Counter(f"{a} {b}" for a, b in zip(toks, toks[1:]))
        if not counts:
            continue
        s = 0.0
        for bg in sorted(counts):
            w1 = bg.split(" ")[0]
            s += counts[bg] * math.log2((lm[bg] + 1.0) / (ctx[w1] + v))
        n = sum(counts.values())
        want[doc_id] = (n, math.floor((-s / n) * 1e4 + 0.5) / 1e4)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["bits_per_bigram"])
        for r in q_doc_perplexity_bigram(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture corpus should have scoreable docs"


def test_vocab_coverage_curve_matches_local_recompute(spark, sf_dir):
    """Each grid rank's cumulative coverage must equal a pure-python
    recompute (cnt DESC, term ASC ordering, integer ppm), and the
    curve must be monotonically non-decreasing."""
    from collections import Counter

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        VOCAB_CURVE_RANKS,
        q_vocab_coverage_curve,
    )

    counts = Counter()
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        counts.update((r["text"] or "").split(" "))
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    want = {}
    cum = 0
    for rank, (_, cnt) in enumerate(ordered, start=1):
        cum += cnt
        if rank in VOCAB_CURVE_RANKS:
            want[rank] = (cum, (1_000_000 * cum) // total)
    got = {
        r["vocab_rank"]: (r["cum_tokens"], r["coverage_ppm"])
        for r in q_vocab_coverage_curve(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture vocab should reach at least one grid rank"
    ppms = [got[k][1] for k in sorted(got)]
    assert ppms == sorted(ppms)


def test_lm_sidecar_roundtrip_and_reuse(spark, sf_dir):
    """The persisted bigram-LM sidecar (r10): a cold read
    builds+persists and matches the direct build row-for-row; a warm
    read serves the SAME rows from disk (_SUCCESS-gated); a crashed
    writer (no _SUCCESS) is rebuilt, never half-served."""
    import os
    import shutil

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _bigram_lm_build,
        _lm_sidecar_path,
        bigram_lm_cached,
    )

    path = _lm_sidecar_path(sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    want = {
        (r["bigram"], r["c12"], r["c1"])
        for r in _bigram_lm_build(spark, sf_dir).collect()
    }
    cold = {
        (r["bigram"], r["c12"], r["c1"])
        for r in bigram_lm_cached(spark, sf_dir).collect()
    }
    assert cold == want and want
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    warm = {
        (r["bigram"], r["c12"], r["c1"])
        for r in bigram_lm_cached(spark, sf_dir).collect()
    }
    assert warm == want
    os.remove(os.path.join(path, "_SUCCESS"))
    rebuilt = {
        (r["bigram"], r["c12"], r["c1"])
        for r in bigram_lm_cached(spark, sf_dir).collect()
    }
    assert rebuilt == want
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_lm_sidecar_apply_equals_full_rebuild(spark, sf_dir):
    """r11 incremental LM append: folding the new-doc delta into the
    persisted sidecar must equal rebuilding the LM over the unioned
    corpus row-for-row — including w1 contexts that exist ONLY in the
    appended docs (the c1 regroup, not a per-bigram delta add)."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _bigram_lm_build,
        q_sink_lm_sidecar_apply,
    )

    got = {
        (r["bigram"]): (r["c12"], r["c1"])
        for r in q_sink_lm_sidecar_apply(spark, sf_dir).collect()
    }
    # full rebuild over the unioned corpus via the batch builder,
    # monkey-free: rebuild with the same union in plain python terms
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    union = docs.select("doc_id", "text").unionByName(
        docs.where("doc_id % 10 = 7").select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.col("source")).alias("text"),
        )
    )
    from collections import Counter

    c12 = Counter()
    for r in union.collect():
        toks = r["text"].split(" ")
        for a, b in zip(toks, toks[1:]):
            c12[f"{a} {b}"] += 1
    c1 = Counter()
    for bg, n in c12.items():
        c1[bg.split(" ")[0]] += n
    want = {bg: (n, c1[bg.split(" ")[0]]) for bg, n in c12.items()}
    assert got == want and want
    # sanity: the append genuinely introduced new bigrams
    base = {r["bigram"] for r in _bigram_lm_build(spark, sf_dir).collect()}
    assert set(got) - base, "appended docs should add unseen bigrams"


def test_pack_sequences_matches_serial_recompute(spark, sf_dir):
    """The two-level prefix-sum mapping must equal the serial
    concat-then-chop replay; the per-sequence report must conserve
    tokens (sum == corpus total), fill every sequence but the last to
    exactly PACK_SEQ_LEN, and agree with the mapping on boundary
    crossings."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        PACK_SEQ_LEN,
        q_pack_sequences,
        q_pack_sequences_report,
    )

    docs = sorted(
        (r["doc_id"], len(r["text"].split(" ")))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    )
    want = {}
    off = 0
    for doc_id, n in docs:
        want[doc_id] = (n, off, off // PACK_SEQ_LEN,
                        (off + n - 1) // PACK_SEQ_LEN)
        off += n
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_tok"], r["seq_first"],
                      r["seq_last"])
        for r in q_pack_sequences(spark, sf_dir).collect()
    }
    assert got == want
    total = off
    rep = {r["seq_id"]: r for r in q_pack_sequences_report(spark, sf_dir).collect()}
    assert sum(r["n_tokens"] for r in rep.values()) == total
    last = max(rep)
    assert set(rep) == set(range(last + 1)), "sequences must be contiguous"
    for s, r in rep.items():
        if s < last:
            assert r["n_tokens"] == PACK_SEQ_LEN and r["fill_bp"] == 10000
    assert rep[last]["n_tokens"] == total - last * PACK_SEQ_LEN
    # boundary-crossing docs contribute to >= 2 sequences
    crossers = sum(
        1 for _d, (_n, off0, f, l) in want.items() if f != l
    )
    assert crossers > 0, "fixture should contain boundary-crossing docs"


def test_pack_prefix_sum_invariant_to_bucket_count(spark, sf_dir, monkeypatch):
    """The two-level decomposition is algebra, not policy: ANY bucket
    count (including 1 — the degenerate single-bucket case) must yield
    the identical offset mapping."""
    import etl_dagster_service_crawler_spark.workloads.corpus_wl as cw

    want = {
        (r["doc_id"]): (r["n_tokens"], r["start_tok"])
        for r in cw._pack_doc_spans(spark, sf_dir).collect()
    }
    for nb in (1, 3, 257):
        monkeypatch.setattr(cw, "PACK_OFFSET_BUCKETS", nb)
        got = {
            (r["doc_id"]): (r["n_tokens"], r["start_tok"])
            for r in cw._pack_doc_spans(spark, sf_dir).collect()
        }
        assert got == want, f"bucket count {nb} changed the offsets"


def test_index_sidecar_apply_merges_rows_and_keeps_untouched_shards(
    spark, sf_dir, tmp_path
):
    """r12 (verdict item 5) — the three contracts of the incremental
    index apply beyond the oracle's apply ≡ rebuild:
    (1) the second apply MERGES into the partial top shard the first
        created — at least one (term, shard) row's postings span both
        generations (row merge, not just row append);
    (2) shard directories untouched by an apply are byte-identical
        after it (size + mtime + content hash);
    (3) postings stay sorted ascending with no duplicates."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _INDEX_SIDECAR_SCHEMA,
        _index_apply_batches,
        _index_frame,
        index_sidecar_apply,
    )

    path = str(tmp_path / "index_sidecar")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _index_frame(base).write.partitionBy("shard").parquet(path)
    batch_a, batch_b = _index_apply_batches(spark, sf_dir)
    index_sidecar_apply(spark, path, batch_a)

    def snapshot(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                with open(p, "rb") as fh:
                    h = hashlib.sha1(fh.read()).hexdigest()
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, h)
        return out

    before = snapshot(path)
    b_shards = {
        r["shard"]
        for r in _index_frame(batch_b).select("shard").distinct().collect()
    }
    index_sidecar_apply(spark, path, batch_b)
    after = snapshot(path)
    untouched = {
        f: v for f, v in before.items()
        if not any(f.startswith(f"shard={s}/") for s in b_shards)
    }
    assert untouched, "expected at least one untouched shard dir"
    for f, v in untouched.items():
        assert after.get(f) == v, f"untouched shard file changed: {f}"

    back = spark.read.schema(_INDEX_SIDECAR_SCHEMA).parquet(path)
    a_max = batch_a.agg(F.max("doc_id")).first()[0]
    rows = back.collect()
    merged_rows = 0
    for r in rows:
        items = [x.split(":") for x in r["postings"].split(",")]
        ids = [int(i) for i, _tf in items]
        assert all(int(tf) >= 1 for _i, tf in items), (r["term"], r["shard"])
        assert ids == sorted(set(ids)), (r["term"], r["shard"])
        assert r["df_shard"] == len(ids)
        assert r["tf_shard"] == sum(int(tf) for _i, tf in items)
        if any(i <= a_max for i in ids) and any(i > a_max for i in ids):
            merged_rows += 1
    assert merged_rows > 0, (
        "no (term, shard) row spans both generations - the merge path "
        "was not exercised"
    )


def test_index_apply_publish_recovers_from_every_crash_phase(
    spark, sf_dir, tmp_path
):
    """r12 review fix: the apply publish is a journaled
    stage→journal→swap→commit; recover_index_apply must restore the
    EXACT pre-image from a crash in any pre-commit phase and roll
    forward past the commit marker — no resident posting is ever
    lost."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _INDEX_SIDECAR_SCHEMA,
        _index_apply_batches,
        _index_frame,
        index_sidecar_apply,
        recover_index_apply,
    )

    def build_base(p):
        base = spark.read.parquet(f"{sf_dir}/documents.parquet")
        _index_frame(base).write.partitionBy("shard").parquet(p)

    def rows(p):
        return {
            (r["term"], r["shard"]): (r["df_shard"], r["tf_shard"], r["postings"])
            for r in spark.read.schema(_INDEX_SIDECAR_SCHEMA).parquet(p).collect()
        }

    path = str(tmp_path / "sidecar")
    build_base(path)
    pre_image = rows(path)
    batch_a, _b = _index_apply_batches(spark, sf_dir)
    delta = _index_frame(batch_a)
    affected = [r["shard"] for r in delta.select("shard").distinct().collect()]
    a_shards = set(affected)
    # also force a RESIDENT shard into the affected set so the
    # pre-image-journal path is exercised, not just new-shard creation
    resident = min(
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("shard=")
    )
    affected = sorted(a_shards | {resident})

    def stage():
        tmp = os.path.join(path, "_apply_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        # staged content: the delta plus a REWRITTEN resident shard
        res = (
            spark.read.schema(_INDEX_SIDECAR_SCHEMA)
            .parquet(path)
            .where(F.col("shard") == resident)
            .select("term", "shard", "df_shard", "tf_shard", "postings")
        )
        delta.select("term", "shard", "df_shard", "tf_shard", "postings") \
            .unionByName(res).write.partitionBy("shard").parquet(tmp)
        return tmp

    trash = os.path.join(path, "_apply_trash")

    # phase: staged only (no journal) -> recovery discards staging
    stage()
    recover_index_apply(path)
    assert rows(path) == pre_image
    assert not os.path.isdir(os.path.join(path, "_apply_tmp"))

    # phase: journal opened, manifest written, NO pre-image moved yet
    stage()
    os.makedirs(trash)
    with open(os.path.join(trash, "_MANIFEST"), "w") as fh:
        fh.write(" ".join(str(s) for s in affected))
    recover_index_apply(path)
    assert rows(path) == pre_image

    # phase: pre-images journaled (some moved), no _SWAP yet
    stage()
    os.makedirs(trash)
    with open(os.path.join(trash, "_MANIFEST"), "w") as fh:
        fh.write(" ".join(str(s) for s in affected))
    os.rename(
        os.path.join(path, f"shard={resident}"),
        os.path.join(trash, f"shard={resident}"),
    )
    recover_index_apply(path)
    assert rows(path) == pre_image

    # phase: _SWAP marked, one new dir swapped in, crash before commit
    tmp = stage()
    os.makedirs(trash)
    with open(os.path.join(trash, "_MANIFEST"), "w") as fh:
        fh.write(" ".join(str(s) for s in affected))
    os.rename(
        os.path.join(path, f"shard={resident}"),
        os.path.join(trash, f"shard={resident}"),
    )
    open(os.path.join(trash, "_SWAP"), "w").close()
    swapped = affected[0]
    os.rename(
        os.path.join(tmp, f"shard={swapped}"),
        os.path.join(path, f"shard={swapped}"),
    )
    recover_index_apply(path)
    assert rows(path) == pre_image

    # and the real apply still lands cleanly after all that abuse
    index_sidecar_apply(spark, path, batch_a)
    after = rows(path)
    assert after != pre_image
    for key, v in pre_image.items():
        term, shard = key
        if shard not in a_shards:
            assert after[key] == v  # untouched shards identical


def test_search_conjunctive_indexed_equals_direct_scan(spark, sf_dir, tmp_path):
    """r12 consume leg: the index-served search must reproduce the
    direct corpus scan's rows AND scores exactly — from the fresh
    sidecar, and again after an incremental apply extended the corpus
    (scored over the union, computed only from postings)."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.functions.text import tokens_ws
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        SEARCH_TERMS,
        _index_apply_batches,
        _index_frame,
        index_sidecar_apply,
        q_search_conjunctive,
        search_conjunctive_indexed,
    )

    path = str(tmp_path / "sidecar")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _index_frame(docs).write.partitionBy("shard").parquet(path)

    got = [
        (r["doc_id"], r["score"])
        for r in search_conjunctive_indexed(spark, path).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in q_search_conjunctive(spark, sf_dir).collect()
    ]
    assert got == want and len(got) > 0

    batch_a, _b = _index_apply_batches(spark, sf_dir)
    index_sidecar_apply(spark, path, batch_a)

    def direct(union_docs):
        hits = (
            union_docs.select(
                "doc_id", F.explode(tokens_ws(F.col("text"))).alias("term")
            )
            .where(F.col("term").isin(*SEARCH_TERMS))
            .groupBy("doc_id")
            .agg(
                F.size(F.collect_set("term")).alias("n_terms"),
                F.count("*").alias("score"),
            )
            .where(F.col("n_terms") == len(SEARCH_TERMS))
        )
        return (
            hits.select("doc_id", "score")
            .orderBy(F.desc("score"), "doc_id")
            .limit(20)
        )

    union = docs.select("doc_id", "text").unionByName(
        batch_a.select("doc_id", "text")
    )
    got2 = [
        (r["doc_id"], r["score"])
        for r in search_conjunctive_indexed(spark, path).collect()
    ]
    want2 = [(r["doc_id"], r["score"]) for r in direct(union).collect()]
    assert got2 == want2


def test_index_apply_rejects_append_only_violation(spark, sf_dir, tmp_path):
    """r12 ADVICE: a batch that re-ingests a resident doc_id must fail
    LOUDLY before any merge — silent acceptance would produce unsorted
    postings and double-counted df/tf. A proper append batch still
    lands, and the failed attempt leaves the sidecar byte-identical."""
    import pytest
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _INDEX_SIDECAR_SCHEMA,
        _index_apply_batches,
        _index_frame,
        index_sidecar_apply,
    )

    path = str(tmp_path / "sidecar")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _index_frame(docs).write.partitionBy("shard").parquet(path)

    def rows(p):
        return {
            (r["term"], r["shard"]): (r["df_shard"], r["tf_shard"], r["postings"])
            for r in spark.read.schema(_INDEX_SIDECAR_SCHEMA).parquet(p).collect()
        }

    pre = rows(path)
    # a batch whose min doc_id is resident: the exact violation
    stale = docs.select("doc_id", "text").where("doc_id % 5 = 3").limit(50)
    with pytest.raises(ValueError, match="append-only contract violated"):
        index_sidecar_apply(spark, path, stale)
    assert rows(path) == pre  # nothing merged, nothing published

    batch_a, _b = _index_apply_batches(spark, sf_dir)
    index_sidecar_apply(spark, path, batch_a)  # proper append still lands
    assert rows(path) != pre

    # and a second violation against the EXTENDED top shard also trips
    # (resident max now comes from batch_a's postings)
    one = batch_a.orderBy("doc_id").limit(1)
    with pytest.raises(ValueError, match="append-only contract violated"):
        index_sidecar_apply(spark, path, one)


def test_search_indexed_recovery_is_opt_in(spark, sf_dir, tmp_path):
    """r12 ADVICE: a plain indexed read must NEVER mutate the sidecar —
    an in-flight writer's journal survives a concurrent search — and a
    PRE-COMMIT journal makes the plain read fail LOUDLY instead of
    silently scanning an index with journaled-away shards; recover=True
    (caller asserts no writer) heals an interrupted publish before
    reading, and a COMMITTED journal (all swaps landed) does not block
    reads."""
    import os
    import shutil

    import pytest

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _index_frame,
        q_search_conjunctive,
        search_conjunctive_indexed,
    )

    path = str(tmp_path / "sidecar")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _index_frame(docs).write.partitionBy("shard").parquet(path)
    want = [
        (r["doc_id"], r["score"])
        for r in q_search_conjunctive(spark, sf_dir).collect()
    ]

    # simulate a writer mid-publish: journal open, one pre-image moved
    resident = min(
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("shard=")
    )
    trash = os.path.join(path, "_apply_trash")
    os.makedirs(trash)
    with open(os.path.join(trash, "_MANIFEST"), "w") as fh:
        fh.write(str(resident))
    os.rename(
        os.path.join(path, f"shard={resident}"),
        os.path.join(trash, f"shard={resident}"),
    )

    # plain read: LOUD failure (missing shards would mean silently
    # wrong scores), and the journal stays untouched for the writer
    with pytest.raises(RuntimeError, match="interrupted index publish"):
        search_conjunctive_indexed(spark, path).collect()
    assert os.path.isdir(trash)
    assert os.path.isdir(os.path.join(trash, f"shard={resident}"))

    # a COMMITTED journal = every swap landed — reads are safe; only
    # the journal retirement is pending (restore the shard to make the
    # index complete, as a committed publish would have)
    os.rename(
        os.path.join(trash, f"shard={resident}"),
        os.path.join(path, f"shard={resident}"),
    )
    open(os.path.join(trash, "_COMMIT"), "w").close()
    got_committed = [
        (r["doc_id"], r["score"])
        for r in search_conjunctive_indexed(spark, path).collect()
    ]
    assert got_committed == want
    assert os.path.isdir(trash)  # still the writer's to retire

    # re-create the interrupted state; opt-in recovery heals, then the
    # search reproduces the direct scan
    os.remove(os.path.join(trash, "_COMMIT"))
    os.rename(
        os.path.join(path, f"shard={resident}"),
        os.path.join(trash, f"shard={resident}"),
    )
    got = [
        (r["doc_id"], r["score"])
        for r in search_conjunctive_indexed(spark, path, recover=True).collect()
    ]
    assert not os.path.isdir(trash)
    assert got == want and len(got) > 0
    shutil.rmtree(path)


def _posting_triples(rows):
    """Reconstruct the layout-independent index CONTENT — the
    (term, doc_id, tf) triple set — from sharded sidecar rows."""
    out = set()
    for r in rows:
        for item in r["postings"].split(","):
            d, tf = item.split(":")
            out.add((r["term"], int(d), int(tf)))
    return out


def test_index_shard_width_is_internal_layout(spark, sf_dir, tmp_path):
    """r13: POSTING_SHARD_WIDTH is layout, not semantics — the
    production-sizing note prescribes resizing it at scale, so pin
    what licenses that: indexes built at different widths hold the
    SAME (term, doc_id, tf) content, every row's shard matches its
    own width, and search served from either returns identical
    results (and = the direct corpus scan)."""
    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _INDEX_SIDECAR_SCHEMA,
        _index_frame,
        _write_width_marker,
        q_search_conjunctive,
        search_conjunctive_indexed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results, triples = [], []
    for width in (37, 100):
        p = str(tmp_path / f"idx_w{width}")
        _index_frame(docs, width).write.partitionBy("shard").parquet(p)
        _write_width_marker(p, width)
        rows = spark.read.schema(_INDEX_SIDECAR_SCHEMA).parquet(p).collect()
        assert all(
            r["shard"] == d // width
            for r in rows
            for d in (int(x.split(":")[0]) for x in r["postings"].split(","))
        )
        triples.append(_posting_triples(rows))
        results.append(
            [tuple(r) for r in search_conjunctive_indexed(spark, p).collect()]
        )
    assert triples[0] == triples[1] and triples[0]
    assert results[0] == results[1]
    direct = [tuple(r) for r in q_search_conjunctive(spark, sf_dir).collect()]
    assert results[0] == direct


def test_index_apply_uses_recorded_width_and_rejects_mismatch(
    spark, sf_dir, tmp_path
):
    """r13: an apply against a non-default-width sidecar resolves the
    width from the _WIDTH marker (delta shards at the RESIDENT width,
    apply ≡ rebuild at that width), and an explicit contradictory
    width fails loudly BEFORE anything merges — resizing is a rebuild,
    never an apply."""
    import pytest

    from etl_dagster_service_crawler_spark.workloads.corpus_wl import (
        _INDEX_SIDECAR_SCHEMA,
        _index_apply_batches,
        _index_frame,
        _write_width_marker,
        index_sidecar_apply,
    )

    width = 37
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = str(tmp_path / "idx_w37")
    _index_frame(docs, width).write.partitionBy("shard").parquet(p)
    _write_width_marker(p, width)
    batch_a, _batch_b = _index_apply_batches(spark, sf_dir)

    with pytest.raises(ValueError, match="width mismatch"):
        index_sidecar_apply(spark, p, batch_a, width=100)

    index_sidecar_apply(spark, p, batch_a)  # width=None -> marker's 37
    back = spark.read.schema(_INDEX_SIDECAR_SCHEMA).parquet(p)
    rows = back.collect()
    assert all(
        r["shard"] == d // width
        for r in rows
        for d in (int(x.split(":")[0]) for x in r["postings"].split(","))
    ), "apply did not shard the delta at the resident width"
    rebuild = _index_frame(
        docs.select("doc_id", "text").unionByName(
            batch_a.select("doc_id", "text")
        ),
        width,
    ).collect()
    assert _posting_triples(rows) == _posting_triples(rebuild)
    assert {(r["term"], r["shard"], r["df_shard"], r["tf_shard"])
            for r in rows} == {
        (r["term"], r["shard"], r["df_shard"], r["tf_shard"])
        for r in rebuild
    }
