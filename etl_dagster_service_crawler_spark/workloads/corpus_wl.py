"""Training-corpus preparation surface, round 4: the document-shaping
operators a 100 TB pretraining/RAG pipeline runs AFTER hygiene
(llm.py) and BEFORE tokenization — chunking, boilerplate detection,
duplicate-cluster representative selection, and the batch kNN join.

Every batch operator here is oracle-backed; the kNN join is
rows-only with a recall test against the exact brute-force twin
(tests/test_corpus.py), matching the dedup-family verification model.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.core import QuerySpec
from etl_dagster_service_crawler_spark.functions.text import (
    LANG_STOPWORDS,
    quality_score,
    tokens_ws,
)
from etl_dagster_service_crawler_spark.io.tables import load_table
from etl_dagster_service_crawler_spark.operators.ranking import (
    distributed_ntile,
)
from etl_dagster_service_crawler_spark.operators.similarity import knn_join_cells

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48
BOILER_WINDOW = 8
BOILER_MIN_DOCS = 3


def chunk_transform(d: DataFrame) -> DataFrame:
    """RAG-style chunking TRANSFORM over a documents-shaped frame:
    overlapping CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens
    (final partial chunk kept). Pure per-row array expressions — tokens
    never leave the row, the whole operator is map-side codegen with
    ZERO exchanges, so it scales embarrassingly: 100 TB of text in,
    ~1.3x that out, no shuffle anywhere. Property-tested against a
    Python recompute (tests/test_properties.py). The token array is
    materialized once per row — slicing the raw split() expression
    from inside the per-chunk lambda would re-split the text per
    chunk (docs/SCALE.md rule 1)."""
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    toks = F.col("t")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)),
                        F.lit(CHUNK_STRIDE))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.array_join(F.slice(toks, s, CHUNK_TOKENS), " ").alias(
                "chunk_text"
            ),
            F.least(
                F.lit(CHUNK_TOKENS), F.size(toks) - s + 1
            ).cast("int").alias("n_tokens"),
        ),
    )
    return dt.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_transform(load_table(spark, sf_dir, "documents"))


SQL_CHUNK = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
starts AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE}))
           AS s
  FROM toks
)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       array_to_string(t[s:s + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
       CAST(least({CHUNK_TOKENS}, len(t) - s + 1) AS INT) AS n_tokens
FROM starts
"""


def q_boilerplate_window_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate detection, adapted to a corpus with no
    line structure: hash every non-overlapping BOILER_WINDOW-token
    window, call a window boilerplate when it appears in >=
    BOILER_MIN_DOCS distinct documents, and report each document's
    boilerplate fraction + keep flag.

    Scale shape: windows are HASHED in place (md5) and only (whash,
    doc_id) pairs take the one frequency exchange — window text never
    leaves its row. The frequent-hash set is tiny by definition (it
    must repeat across docs), so it broadcasts back onto the exploded
    hashes and the per-doc rollup reuses the doc_id grouping."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the token array once per row: slicing the raw
    # split() expression from inside the per-window lambda would
    # re-split the text once per window (see docs/SCALE.md rule 1)
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    toks = F.col("t")
    nwin = F.floor(F.size(toks) / BOILER_WINDOW).cast("int")
    starts = F.when(
        nwin > 0, F.sequence(F.lit(1), (nwin - 1) * BOILER_WINDOW + 1,
                             F.lit(BOILER_WINDOW))
    ).otherwise(F.array().cast("array<int>"))
    wins = F.transform(
        starts,
        lambda s: F.md5(F.array_join(F.slice(toks, s, BOILER_WINDOW), " ")),
    )
    exploded = dt.select(
        "doc_id", F.explode_outer(wins).alias("whash")
    )
    freq = (
        exploded.where(F.col("whash").isNotNull())
        .groupBy("whash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= BOILER_MIN_DOCS)
        .select("whash", F.lit(1).alias("is_boiler"))
    )
    return (
        exploded.join(F.broadcast(freq), "whash", "left")
        .groupBy("doc_id")
        .agg(
            F.count("whash").cast("int").alias("n_windows"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("int")
            .alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_boiler",
            F.when(F.col("n_windows") > 0,
                   F.col("n_boiler") / F.col("n_windows"))
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
        .withColumn("keep", F.col("boiler_frac") < 0.5)
    )


SQL_BOILER = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
wins AS (
  SELECT doc_id,
         md5(array_to_string(t[s:s + {BOILER_WINDOW - 1}], ' ')) AS wtext
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(
             1, (len(t) // {BOILER_WINDOW} - 1) * {BOILER_WINDOW} + 1,
             {BOILER_WINDOW})) AS s
    FROM toks WHERE len(t) >= {BOILER_WINDOW}
  )
),
freq AS (
  SELECT wtext FROM wins GROUP BY wtext
  HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
per_doc AS (
  SELECT w.doc_id,
         CAST(count(*) AS INT) AS n_windows,
         CAST(count(f.wtext) AS INT) AS n_boiler
  FROM wins w LEFT JOIN freq f ON w.wtext = f.wtext
  GROUP BY w.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_windows, 0) AS n_windows,
       coalesce(p.n_boiler, 0) AS n_boiler,
       CASE WHEN coalesce(p.n_windows, 0) > 0
            THEN CAST(p.n_boiler AS DOUBLE) / p.n_windows
            ELSE 0.0 END AS boiler_frac,
       (CASE WHEN coalesce(p.n_windows, 0) > 0
             THEN CAST(p.n_boiler AS DOUBLE) / p.n_windows
             ELSE 0.0 END) < 0.5 AS keep
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE action for q_boilerplate_window_flags' detection:
    remove every boilerplate window (same BOILER_WINDOW /
    BOILER_MIN_DOCS contract) and reassemble the document from the
    surviving windows plus the partial tail — what a CCNet-style
    pipeline actually feeds the tokenizer after flagging.

    Scale shape: window TEXT never shuffles — only (whash, doc_id,
    widx) triples take the frequency exchange; the frequent-hash set
    broadcasts back; the per-doc boiler-index regroup carries only
    docs that HAVE boilerplate (a small minority by definition of
    "repeats across >= K docs"... per window); the final doc-key join
    reattaches those index arrays to the token arrays, and
    reassembly is pure per-row slicing. Reconstruction is
    position-exact: kept windows in order + tail, single-space join
    (the tokenizer's split convention), so a doc with zero boiler
    windows round-trips byte-identical."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    toks = F.col("t")
    nwin = F.floor(F.size(toks) / BOILER_WINDOW).cast("int")
    starts = F.when(
        nwin > 0, F.sequence(F.lit(1), (nwin - 1) * BOILER_WINDOW + 1,
                             F.lit(BOILER_WINDOW))
    ).otherwise(F.array().cast("array<int>"))
    wins = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / BOILER_WINDOW).cast("int").alias("widx"),
            F.md5(
                F.array_join(F.slice(toks, s, BOILER_WINDOW), " ")
            ).alias("whash"),
        ),
    )
    exploded = dt.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id", "w.widx", "w.whash"
    )
    freq = (
        exploded.groupBy("whash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= BOILER_MIN_DOCS)
        .select("whash")
    )
    boiler_idx = (
        exploded.join(F.broadcast(freq), "whash")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("widx")).alias("bw"))
    )
    out = dt.join(boiler_idx, "doc_id", "left")
    bw = F.coalesce(F.col("bw"), F.array().cast("array<int>"))
    keep_idx = F.when(
        nwin > 0,
        F.filter(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: ~F.array_contains(bw, i),
        ),
    ).otherwise(F.array().cast("array<int>"))
    kept = F.flatten(
        F.transform(
            keep_idx, lambda i: F.slice(toks, i * BOILER_WINDOW + 1,
                                        BOILER_WINDOW)
        )
    )
    tail = F.slice(
        toks,
        nwin * BOILER_WINDOW + 1,
        F.greatest(F.size(toks) - nwin * BOILER_WINDOW, F.lit(0)),
    )
    return out.select(
        "doc_id",
        F.array_join(F.concat(kept, tail), " ").alias("clean_text"),
        nwin.alias("n_windows"),
        F.size(bw).cast("int").alias("n_removed"),
    )


SQL_BOILER_STRIP = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
wins AS (
  SELECT doc_id, CAST((s - 1) // {BOILER_WINDOW} AS INT) AS widx,
         md5(array_to_string(t[s:s + {BOILER_WINDOW - 1}], ' ')) AS whash
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(
             1, (len(t) // {BOILER_WINDOW} - 1) * {BOILER_WINDOW} + 1,
             {BOILER_WINDOW})) AS s
    FROM toks WHERE len(t) >= {BOILER_WINDOW}
  )
),
freq AS (
  SELECT whash FROM wins GROUP BY whash
  HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
bwd AS (
  SELECT w.doc_id, list_sort(list(w.widx)) AS bw
  FROM wins w JOIN freq f ON w.whash = f.whash
  GROUP BY w.doc_id
)
SELECT d.doc_id,
       array_to_string(
         list_concat(
           flatten(list_transform(
             list_filter(range(0, len(t) // {BOILER_WINDOW}),
                         i -> NOT list_contains(
                                coalesce(bw, CAST([] AS INT[])),
                                CAST(i AS INT))),
             i -> t[i * {BOILER_WINDOW} + 1 : i * {BOILER_WINDOW}
                    + {BOILER_WINDOW}])),
           t[(len(t) // {BOILER_WINDOW}) * {BOILER_WINDOW} + 1 : len(t)]),
         ' ') AS clean_text,
       CAST(len(t) // {BOILER_WINDOW} AS INT) AS n_windows,
       CAST(coalesce(len(bw), 0) AS INT) AS n_removed
FROM toks d LEFT JOIN bwd ON d.doc_id = bwd.doc_id
"""


DUP_SPAN_WINDOW = 8
_DUP_SPAN_INF = 2_000_000_000


def _dup_window_frames(d):
    """(dt, occ) — the ONE definition of the sliding dup-window
    machinery shared by dup_span_coverage (the statistic) and
    dedup_span_strip (the rewrite), mirrored by _sql_dup_windows:
    dt = (doc_id, t tokens); occ = one row per occurrence of a window
    hash seen in >= 2 distinct docs, as (doc_id, s, is_first) with
    is_first marking the corpus-wide first occurrence (smallest
    (doc_id, s)). A change to the window rule lands HERE or the
    statistic and the rewrite silently diverge.

    The corpus is windowed and md5'd once, and one exchange on whash
    feeds three window aggregates over Window.partitionBy('whash') —
    min(struct(doc_id, s)), min(doc_id) and max(doc_id) — so every
    occurrence row learns whether its hash is duplicated and whether it
    is the first occurrence, with no join back to a stats frame.

    Skew: the r14 shape collected EVERY occurrence of a duplicated hash
    into one sort_array(collect_list) row — a boilerplate window shared
    by millions of docs at 100 TB became a multi-million-element array
    in a single aggregation buffer. The window form keeps no such
    array: WindowExec buffers one hash's rows and spills them past its
    threshold, so memory stays bounded. It does NOT spread a hot hash:
    AQE cannot split a window exchange, so all occurrences of one hash
    still run in one task — a residual single-task straggler on
    boilerplate-heavy corpora. The per-doc regroup downstream bounds
    every collected array by the DOC's own window count.
    Duplicated ≡ min(doc_id) != max(doc_id) ≡ countDistinct >= 2;
    first ≡ min(struct(doc_id, s)) ≡ head of the sorted occurrence
    list — identical rows (oracle-pinned on both consumers)."""
    w = DUP_SPAN_WINDOW
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    toks = F.col("t")
    starts = F.when(
        F.size(toks) >= w, F.sequence(F.lit(1), F.size(toks) - w + 1)
    ).otherwise(F.array().cast("array<int>"))
    wins = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("s"),
            F.md5(F.array_join(F.slice(toks, s, w), " ")).alias("whash"),
        ),
    )
    exploded = dt.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id", "w.s", "w.whash"
    )
    wspec = Window.partitionBy("whash")
    occ = (
        exploded.select(
            "doc_id",
            "s",
            F.min(F.struct("doc_id", "s")).over(wspec).alias("first"),
            (
                F.min("doc_id").over(wspec) != F.max("doc_id").over(wspec)
            ).alias("dup"),
        )
        .where(F.col("dup"))
        .select(
            "doc_id",
            "s",
            (F.struct("doc_id", "s") == F.col("first")).alias("is_first"),
        )
    )
    return dt, occ


def _sql_dup_windows() -> str:
    """DuckDB twin of _dup_window_frames as toks/wins/dup CTEs."""
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
wins AS (
  SELECT doc_id, len(t) AS n_tokens, s,
         md5(array_to_string(t[s:s + {DUP_SPAN_WINDOW - 1}], ' ')) AS whash
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, len(t) - {DUP_SPAN_WINDOW} + 1)) AS s
    FROM toks WHERE len(t) >= {DUP_SPAN_WINDOW}
  )
),
dup AS (
  SELECT whash FROM wins GROUP BY whash
  HAVING count(DISTINCT doc_id) >= 2
)"""


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (the Lee et al. "Deduplicating
    Training Data" statistic, at token-window granularity): slide a
    DUP_SPAN_WINDOW-token window over every doc with stride 1, call a
    window DUPLICATED when its text occurs in >=2 distinct documents,
    and report per doc the exact number of TOKENS covered by the union
    of its duplicated (overlapping) windows — the quantity a
    span-removal pass would delete.

    Differs from boilerplate_window_flags on all three axes: sliding
    (not tiled) windows, >=2-docs cross-doc duplication (not a
    frequency threshold), and token COVERAGE via exact interval union
    (not a window count). Coverage folds per doc from the sorted dup
    start positions: sum(min(W, next_start - start)) — exact integers,
    fully oracle-checkable.

    Scale shape: windows are hashed in place (md5) — window text never
    leaves its row; the frequency exchange carries (whash, doc_id,
    start) triples; the dup-hash set joins back by hash equi-join (NOT
    broadcast: at 100 TB the duplicated-window set is unbounded), and
    the coverage fold regroups by doc_id. Three key-hash exchanges
    total, zero vector/text payloads."""
    d = load_table(spark, sf_dir, "documents")
    w = DUP_SPAN_WINDOW
    dt, occ = _dup_window_frames(d)
    toks = F.col("t")
    per_doc = (
        occ.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
    )
    nxt = F.concat(
        F.slice(F.col("ss"), 2, F.greatest(F.size("ss") - 1, F.lit(0))),
        F.array(F.lit(_DUP_SPAN_INF)),
    )
    covered = F.aggregate(
        F.zip_with(F.col("ss"), nxt, lambda a, b: F.least(F.lit(w), b - a)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cov = per_doc.select(
        "doc_id",
        F.size("ss").cast("int").alias("n_dup_windows"),
        covered.cast("int").alias("covered_tokens"),
    )
    base = (
        dt.select("doc_id", F.size(toks).cast("int").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        )
    )
    # integer div (not float `/` + cast): float division can land an
    # ulp below an exact multiple and truncate differently than the
    # oracle's integer floor division. The multiply runs in BIGINT:
    # 10000 x an int32 covered count overflows at ~215k covered tokens
    # (a real doc size at crawl scale).
    return base.withColumn(
        "dup_frac_bp",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(10000 * CAST(covered_tokens AS BIGINT)) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


SQL_DUP_SPAN_COVERAGE = f"""
WITH {_sql_dup_windows()},
per_doc AS (
  SELECT doc_id, list_sort(list(s)) AS ss
  FROM wins JOIN dup USING (whash)
  GROUP BY doc_id
),
cov AS (
  SELECT doc_id,
         CAST(len(ss) AS INT) AS n_dup_windows,
         CAST(list_sum(list_transform(
           list_zip(ss, list_concat(ss[2:len(ss)], [{_DUP_SPAN_INF}])),
           p -> least({DUP_SPAN_WINDOW}, p[2] - p[1]))) AS INT)
           AS covered_tokens
  FROM per_doc
)
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens,
       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       coalesce(c.covered_tokens, 0) AS covered_tokens,
       CAST(CASE WHEN len(t.t) > 0
            THEN (10000 * CAST(coalesce(c.covered_tokens, 0) AS BIGINT))
                 // len(t.t)
            ELSE 0 END AS INT) AS dup_frac_bp
FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
"""


def q_dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE action for dup_span_coverage (the Lee et al.
    deduplication itself, not just its statistic): every duplicated
    DUP_SPAN_WINDOW-token window is removed from all but its FIRST
    occurrence (smallest (doc_id, start) corpus-wide; later repeats
    inside the SAME doc strip too once the window is cross-doc
    duplicated), and each doc is reassembled from its surviving
    tokens. Returns (doc_id, n_tokens, removed_tokens, kept_text) —
    kept_text is the rewritten document, so the whole rewrite is
    value-hash oracle-checked.

    Scale shape: identical exchanges to dup_span_coverage (window text
    hashes in place; frequency + ownership run on (whash, doc, start)
    triples; the removable-start list regroups by doc) plus the final
    token filter, a NARROW per-row map: token kept iff no removable
    start s has s <= i < s + W. The per-token check is O(|removable
    starts in the doc|) — dup spans are sparse in healthy corpora, and
    a doc that is mostly removable is exactly the doc you want
    rewritten."""
    d = load_table(spark, sf_dir, "documents")
    w = DUP_SPAN_WINDOW
    dt, occ = _dup_window_frames(d)
    toks = F.col("t")
    # all-but-first occurrence per duplicated hash = the is_first flag
    # from the shared frame — identical to the previous row_number() >
    # 1 over (whash ORDER BY doc_id, s) / sorted-list slice.
    removable = (
        occ.where(~F.col("is_first"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
    )
    joined = dt.join(removable, "doc_id", "left").select(
        "doc_id",
        toks.alias("t"),
        F.coalesce("ss", F.array().cast("array<int>")).alias("ss"),
    )
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size("t")),
        lambda i: ~F.exists(
            F.col("ss"), lambda s: (s <= i) & (i < s + w)
        ),
    )
    kept = F.when(F.size("t") > 0, kept_idx).otherwise(
        F.array().cast("array<int>")
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("int").alias("removed_tokens"),
        F.concat_ws(
            " ", F.transform(kept, lambda i: F.element_at(F.col("t"), i))
        ).alias("kept_text"),
    )


SQL_DEDUP_SPAN_STRIP = f"""
WITH {_sql_dup_windows()},
removable AS (
  SELECT doc_id, list_sort(list(s)) AS ss FROM (
    SELECT w.doc_id, w.s,
           row_number() OVER (PARTITION BY w.whash
                              ORDER BY w.doc_id, w.s) AS rn
    FROM wins w JOIN dup USING (whash)
  ) WHERE rn > 1
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens,
       CAST(len(t.t) - len(kept) AS INT) AS removed_tokens,
       coalesce(array_to_string(list_transform(kept, i -> t.t[i]), ' '), '')
         AS kept_text
FROM (
  SELECT t.doc_id, t.t,
         list_filter(
           generate_series(1, len(t.t)),
           i -> len(list_filter(coalesce(r.ss, []),
                                s -> s <= i AND i < s + {DUP_SPAN_WINDOW}))
                = 0
         ) AS kept
  FROM toks t LEFT JOIN removable r ON t.doc_id = r.doc_id
) t
"""


MIRROR_MIN_SHARED = 1


def q_source_mirror_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-community detection: connected components over the
    source-overlap graph (an edge wherever two sources share >=
    MIRROR_MIN_SHARED distinct 32-word segments — the
    _source_overlap_pairs relation), labeling every source with its
    community's REPRESENTATIVE: the lexicographically-smallest member.
    The mixture-design companion to the pairwise matrix: pairs say
    WHICH sources touch, communities say how many INDEPENDENT content
    pools the corpus actually has.

    Node ids are the source's rank in the sorted source vocabulary —
    a pure function of the source STRINGS (no format assumption; a
    digitless source name works) computed identically in both engines.
    Runs the SAME tuned label-propagation loop as the LSH/semantic
    dedup families (operators/dedup.cc_label_propagation — pair edges
    as 2-member buckets, per-source self-buckets keep singletons), and
    like semantic_dedup_clusters the ITERATIVE loop itself value-hash
    oracle-checks against a DuckDB recursive CTE. Scale: the node set
    is the source vocabulary (tiny by construction; the rank window is
    vocabulary-sized); the expensive part is the segment overlap,
    whose exchanges _source_overlap_pairs documents."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        cc_label_propagation,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = _source_overlap_pairs(d).where(
        F.col("shared_segments") >= MIRROR_MIN_SHARED
    )
    w_src = Window.orderBy("source")
    srcs = (
        d.select("source")
        .distinct()
        .withColumn("sn", (F.row_number().over(w_src) - 1).cast("int"))
    )
    # Pair-bucket ids are built from the INTEGER sn ranks, not the raw
    # source strings: a source name containing the separator ('|')
    # would alias two distinct pairs into one bucket and merge
    # communities Spark-side only — a parity break the recursive-CTE
    # oracle (which never forms these keys) cannot represent. Integers
    # stringify separator-free, so "p|3|7" is unambiguous.
    pa = pairs.join(
        srcs.select(F.col("source").alias("src_a"), F.col("sn").alias("sn_a")),
        "src_a",
    ).join(
        srcs.select(F.col("source").alias("src_b"), F.col("sn").alias("sn_b")),
        "src_b",
    )
    bh = F.concat_ws("|", F.lit("p"), "sn_a", "sn_b")
    members = pa.select(F.col("sn_a").alias("sn"), bh.alias("bh")).unionByName(
        pa.select(F.col("sn_b").alias("sn"), bh.alias("bh"))
    )
    # Self-buckets carry ONE member each, so key aliasing cannot merge
    # anything — the sn rank is still the collision-free choice.
    selfb = srcs.select(
        "sn", F.concat_ws("|", F.lit("self"), "sn").alias("bh")
    )
    edges = members.unionByName(selfb)
    labels = cc_label_propagation(edges, "sn", n_edges=1024).select(
        "sn", F.col("label").cast("int").alias("lab")
    )
    rep = srcs.select(F.col("sn").alias("lab"), F.col("source").alias("community_rep"))
    return (
        srcs.join(labels, "sn")
        .join(rep, "lab")
        .select(
            "source",
            "community_rep",
            (F.col("source") != F.col("community_rep")).alias("is_mirror"),
        )
    )


def _sql_source_mirror() -> str:
    return f"""
WITH RECURSIVE {_sql_source_overlap()},
srcs AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY source) - 1 AS INT) AS sn
  FROM (SELECT DISTINCT source FROM documents)
),
e AS (
  SELECT sa.sn AS a, sb.sn AS b
  FROM pairs p
  JOIN srcs sa ON sa.source = p.src_a
  JOIN srcs sb ON sb.source = p.src_b
  WHERE p.shared_segments >= {MIRROR_MIN_SHARED}
),
und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT sn AS n, sn AS lab FROM srcs
  UNION
  SELECT u.b AS n, r.lab FROM reach r JOIN und u ON u.a = r.n
),
lab AS (SELECT n, min(lab) AS lab FROM reach GROUP BY n)
SELECT s.source, rep.source AS community_rep,
       s.source <> rep.source AS is_mirror
FROM srcs s
JOIN lab ON lab.n = s.sn
JOIN srcs rep ON rep.sn = lab.lab
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster representative selection: within each
    exact-duplicate cluster (sha2 of text) keep the BEST copy — longest
    n_chars, ties to the smallest doc_id — instead of dedup_exact's
    arbitrary first. This is the policy knob real corpus pipelines
    need (keep the best-metadata copy of a re-crawl). One exchange on
    the 32-byte hash — and Catalyst computes sha2 in the scan-side
    projection and PRUNES text before the exchange (verified in the
    plan: the pre-shuffle Project carries only id/lang/source/n_chars/
    h), so the heavy column never shuffles even though the winner's
    metadata is the output."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("h").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("h", F.sha2(F.col("text"), 256))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_KEEP_BEST = """
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY sha256(text)
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
WHERE rn = 1
ORDER BY doc_id
"""


def _messy_url(col_expr: str, div: str) -> str:
    """Deterministic messy-URL synthesis shared by both engines: the
    documents table has no URL column, so crawl-record URLs are
    fabricated from doc_id — doc_id % 200 is the item key (collisions
    = re-crawls of the same listing) and the crawl ROUND
    (doc_id div 200) % 4 picks the mess, so one item key accumulates
    DIFFERENT messy forms across rounds (the cross-variant merge is
    what the canonicalizer must deliver): mixed-case scheme/host,
    utm_* tracking params, a per-crawl ref= click id + fragment, or a
    clean ?page=2 that must SURVIVE. ``col_expr`` is the doc_id SQL
    expression; ``div`` is the engine's integer-division token
    ('DIV' Spark, '//' DuckDB — the one dialect split)."""
    k = f"CAST({col_expr} % 200 AS STRING)"
    return (
        f"CASE CAST(({col_expr} {div} 200) % 4 AS INT) "
        f"WHEN 0 THEN 'https://Site.example/Jobs/item/' || {k} "
        f"WHEN 1 THEN 'HTTPS://site.example/Jobs/item/' || {k} "
        f"  || '?utm_source=feed&utm_campaign=x' "
        f"WHEN 2 THEN 'https://SITE.example/Jobs/item/' || {k} "
        f"  || '?page=2&ref=' || CAST({col_expr} AS STRING) || '#frag' "
        f"ELSE 'https://site.example/Jobs/item/' || {k} || '?page=2' END"
    )


def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (VERDICT r9 item 6) — the reference's
    natural record identity: its crawler derives the job key by
    stripping the query from the detail URL (reference test.py:417-419)
    and its incremental skip dedups on job_url (Q2, test.py:155-165).
    Canonical form: scheme and host lowercased (path stays
    case-sensitive per the URL spec), fragment stripped, tracking
    params (utm_*, ref, fbclid, gclid — anchored on '=') removed while
    real params like page= survive; first crawl occurrence wins per
    canonical URL with min-doc_id as the deterministic tie-break.

    Pure expression chain via functions.text.canonicalize_url (no
    UDF); the ONLY exchange is the keeper window on the canonical key,
    and the dup count rides the same partition — at 100 TB this is one
    hash shuffle of (url, id) pairs, the cheapest dedup identity after
    the content hash. Emits the kept row: (doc_id, url, canonical_url,
    n_dups)."""
    from etl_dagster_service_crawler_spark.functions.cleaning import (
        canonicalize_url,
    )

    d = load_table(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id", F.expr(_messy_url("doc_id", "DIV")).alias("url")
    ).withColumn("canonical_url", canonicalize_url(F.col("url")))
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    wc = Window.partitionBy("canonical_url")
    return (
        with_url.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(wc).cast("bigint"))
        .where(F.col("rn") == 1)
        .select("doc_id", "url", "canonical_url", "n_dups")
    )


def _sql_dedup_url_canonical() -> str:
    from etl_dagster_service_crawler_spark.functions.cleaning import (
        URL_TRACKING_RE,
    )

    return f"""
WITH raw AS (
  SELECT doc_id, {_messy_url("doc_id", "//")} AS url FROM documents
),
nofrag AS (
  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM raw
),
parts AS (
  SELECT doc_id, url,
         CASE WHEN strpos(nf, '?') > 0
              THEN substring(nf, 1, strpos(nf, '?') - 1) ELSE nf END AS base,
         CASE WHEN strpos(nf, '?') > 0
              THEN substring(nf, strpos(nf, '?') + 1) ELSE '' END AS qs
  FROM nofrag
),
pre AS (
  SELECT doc_id, url, base, qs,
         regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://)', 1) AS sch,
         regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)
           AS auth
  FROM parts
),
pre2 AS (
  -- greedy up-to-last-@ = userinfo (case-SENSITIVE per RFC 3986,
  -- preserved); only the host part after it is lowered
  SELECT *, regexp_extract(auth, '^([^/]*@)', 1) AS ui FROM pre
),
canon AS (
  SELECT doc_id, url,
         lower(sch) || ui || lower(substring(auth, length(ui) + 1))
           || substring(base, length(sch) + length(auth) + 1)
           || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
           AS canonical_url
  FROM (
    SELECT doc_id, url, base, sch, auth, ui,
           coalesce(array_to_string(
             list_filter(string_split(qs, '&'),
                         p -> p <> ''
                              AND NOT regexp_matches(p, '{URL_TRACKING_RE}')),
             '&'), '') AS kept
    FROM pre2
  )
)
SELECT doc_id, url, canonical_url, n_dups FROM (
  SELECT doc_id, url, canonical_url,
         row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_dups
  FROM canon
) WHERE rn = 1
"""


# production ANN default: calibrated nprobe targets this recall@5 with
# a small margin over the 0.8 pins in tests/test_corpus.py
# (test_knn_join_recall_vs_bruteforce) and tools/knn_recall_scale.py
# (RECALL_FLOOR) — measured organic recall@5 at sf0.1 is 0.849
KNN_TARGET_RECALL = 0.85
# survivors per query for the quantized-rerank arm; measured recall@5
# = 1.0 on the isotropic fixtures at 32 AND 16 (the coarse int8
# ordering is nearly the exact ordering — quantization noise, not
# index loss); 32 keeps 2x margin over the smallest measured-perfect R
KNN_RERANK_CANDIDATES = 32


def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-5 neighbors for EVERY embedding via IVF-cell
    blocking (operators/similarity.knn_join_cells). Approximate by
    construction — driver-checked rows-only; recall vs the exact
    brute-force twin is pinned in tests/test_corpus.py.

    Reuses the SAME persisted index as similarity_topk_ivf (one
    train+assign per corpus, atomic-rename publish keyed by sf_dir) —
    the batch join then reads centroids + cid-partitioned assignments
    instead of re-fitting k-means per call.

    nprobe is CALIBRATED, not fixed: the old c//8 heuristic delivered
    recall@5 0.54-0.60 on the organic fixtures because these vectors
    are near-isotropic (recall tracks probed candidate mass — there is
    no cluster structure to exploit). calibrate_nprobe picks the
    smallest probe count whose estimated recall meets
    KNN_TARGET_RECALL on THIS corpus, so a clustered (near-dup-heavy)
    corpus keeps its cheap small-nprobe plan while a structureless one
    honestly pays for its recall; the choice is cached with the
    persisted index.

    This op is EXPLICITLY the IVF arm (the index inspection surface);
    production batch kNN should call knn_join_auto, which routes away
    from IVF when the calibration curve shows it degenerating."""
    emb, c, _index_dir, centroids, assignments, nprobe, _curve, dim = (
        _knn_ivf_plan(spark, sf_dir)
    )
    # NB: dim is deliberately NOT passed here — unrolling the per-pair
    # dot (dot_fixed) inside the candidate projection code-generates a
    # method past the JIT's compilation limit and the 2M-candidate hot
    # loop drops to the bytecode interpreter: measured 20.6 s vs 3.5 s
    # at sf0.1 (r14 bisect). The HOF dot stays on Catalyst's cached
    # interpreted evaluators, which JIT fine.
    return knn_join_cells(
        emb, k=5, n_centroids=c, nprobe=nprobe,
        centroids=centroids, assignments=assignments,
    ).orderBy("qid", "rn")


def _knn_ivf_plan(spark: SparkSession, sf_dir: str):
    """Shared IVF planning for the knn_join family: persisted index
    (built once per corpus), cached calibration. Returns
    (emb, n_centroids, index_dir, centroids, assignments, nprobe,
    curve, dim) — dim peeked from the parquet leading rows (driver-side
    pyarrow read, no Spark job) so both arms unroll their per-pair
    dots (dot_fixed, r14)."""
    import os

    from etl_dagster_service_crawler_spark.operators.similarity import (
        calibration_cached,
        embedding_dim_from_parquet,
        ivf_build,
        ivf_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # C grows with sqrt(n): with C fixed, candidate volume is
    # |probes| x n/C = O(n^2/C) — measured 21x wall at 10x rows on the
    # scale replica. C ~ sqrt(n)/2 (nprobe scaled to keep the probed
    # fraction useful) bends that to O(n^1.5), the standard IVF sizing.
    # The row count comes from the parquet FOOTER (pyarrow metadata
    # read) — planning stays lazy, no Spark job fires while the
    # DataFrame is being built.
    import pyarrow.parquet as pq

    n_rows = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    c = max(16, int(n_rows**0.5 / 2))
    # c == 16 shares similarity_topk_ivf's persisted index; a larger
    # corpus gets its own — the dir key includes cell count AND the
    # source file's identity (regenerated fixtures miss, never reuse)
    index_dir = ivf_index_dir(sf_dir, n_centroids=c)
    if not os.path.isdir(index_dir):
        ivf_build(emb, index_dir, n_centroids=c)
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    assignments = spark.read.parquet(f"{index_dir}/assignments")
    nprobe, curve = calibration_cached(
        emb, centroids, index_dir, target_recall=KNN_TARGET_RECALL, k=5
    )
    dim = embedding_dim_from_parquet(f"{sf_dir}/embeddings.parquet")
    return emb, c, index_dir, centroids, assignments, nprobe, curve, dim


def q_sink_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force-build the persisted IVF index the knn_join family
    searches (r15, VERDICT r14 item 2): k-means train, full-corpus
    assign, bucketed cid-sorted parquet write, atomic publish, AND the
    nprobe calibration memo — then return the READ-BACK assignment
    rows (vec_id, cid, pb), so the on-disk artifact round-trips
    through the check, not just the in-memory frame (the
    sink_graph_sidecar / sink_lm_sidecar discipline).

    This makes the index BUILD a first-class benched cost: before it,
    knn_join_ivf / knn_join_auto / similarity_topk_ivf only ever timed
    the search against a /tmp index persisted across bench runs — the
    train+assign pass appeared in no timed entry. The consumers'
    amortize-across-queries contract is unchanged; this entry is the
    one that pays (and re-pays, every invocation) the build.

    Rows-only: MLlib's k-means centroids are seed-deterministic within
    Spark but not dialect-replayable, so there is no DuckDB twin for
    the cid VALUES. Anchors: the row count equals the corpus row count
    (every vector assigned exactly one cell — the driver's rows-only
    check pins it), pb == pmod(cid, _NDIRS) is pinned by unit test,
    and search parity over the rebuilt index is pinned by the
    similarity_topk_ivf == one-shot ivf_topk test."""
    import os

    from etl_dagster_service_crawler_spark.operators.similarity import (
        calibration_cached,
        ivf_build,
        ivf_index_dir,
    )
    import pyarrow.parquet as pq

    emb = load_table(spark, sf_dir, "embeddings")
    n_rows = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    c = max(16, int(n_rows**0.5 / 2))  # the _knn_ivf_plan sizing rule
    index_dir = ivf_index_dir(sf_dir, n_centroids=c)
    ivf_build(emb, index_dir, n_centroids=c, force=True)
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    # calibration is planning work that belongs to the index artifact:
    # computing (and persisting) it here keeps the search entries timing
    # search, not deferred planning
    calibration_cached(
        emb, centroids, index_dir, target_recall=KNN_TARGET_RECALL, k=5
    )
    return spark.read.parquet(os.path.join(index_dir, "assignments")).select(
        "vec_id", "cid", F.col("pb").cast("int").alias("pb")
    )


def q_knn_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive batch ANN (the production knn_join entry): runs
    the SAME calibration as knn_join_ivf, then lets route_knn
    adjudicate the curve. A clustered corpus — recall target reached
    within a few probes — keeps the IVF cell join (real pruning: the
    candidate volume is the probed fraction of all-pairs). An
    isotropic corpus — recall tracks probed mass, honest nprobe probes
    most cells — routes to knn_join_quantized, the int8 block scan +
    exact rerank (1/8th the coarse bytes, no index pretending to
    prune). Both arms return the same (qid, nid, cos, rn) contract and
    hold the recall pin (tests/test_corpus.py: >= 0.8 on both corpus
    shapes).

    Approximate by construction — driver-checked rows-only; the
    routing decision itself is a pure function of the published
    calibration curve (operators/similarity.route_knn), pinned by
    tests on both corpus shapes."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        knn_join_quantized,
        route_knn,
    )

    emb, c, _index_dir, centroids, assignments, nprobe, curve, dim = (
        _knn_ivf_plan(spark, sf_dir)
    )
    path, nprobe = route_knn(curve, c, KNN_TARGET_RECALL)
    if path == "ivf":
        # dim deliberately not passed — see q_knn_join_ivf's note on
        # the dot_fixed JIT pathology (r14 bisect: 20.6 s vs 3.5 s).
        out = knn_join_cells(
            emb, k=5, n_centroids=c, nprobe=nprobe,
            centroids=centroids, assignments=assignments,
        )
    else:
        import pyarrow.parquet as pq

        n_rows = pq.ParquetFile(
            f"{sf_dir}/embeddings.parquet"
        ).metadata.num_rows
        # the rerank leg keeps the pre-r14 shape: unroll the exact
        # rerank dot only for large corpora (n x R survivors make it
        # count); dim now comes from the plan's driver-side parquet
        # peek instead of a 1-row Spark probe job.
        out = knn_join_quantized(
            emb, k=5, r_candidates=KNN_RERANK_CANDIDATES, n_rows=n_rows,
            dim=dim if n_rows >= 10_000 else None,
        )
    return out.orderBy("qid", "rn")


# per-quality-decile retention thresholds, in md5-nibble sixteenths
# (bin 1 keeps ~1/16 of docs ... bin 10 keeps all; 'g' > 'f' admits
# every nibble — same hash-split idiom as mix_weighted_sample)
QBIN_THRESHOLDS = ["1", "3", "4", "6", "8", "9", "b", "c", "e", "g"]


def q_quality_bin_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/quality-aware downsampling: rank every document into
    a quality DECILE (ntile over the hygiene quality score), then keep
    a deterministic hash-sample whose rate RISES with the decile — the
    pretraining recipe step that upweights high-quality text without
    discarding the tail outright.

    Scale shape: the decile is `distributed_ntile` (operators/
    ranking.py) — range partition on (score, doc_id), per-partition
    row_number, broadcast 16-row offsets, closed-form exact ntile
    bucket — NEVER an unpartitioned `ntile` window, which would sort
    the whole documents table through one task (the trap
    pareto_customer_share documents). The sample filter itself is a
    pure map (md5 nibble vs per-bin threshold, no rand(), stable
    under reruns/repartition)."""
    d = load_table(spark, sf_dir, "documents")
    scored = distributed_ntile(
        d.select(
            "doc_id",
            quality_score(F.col("text"), F.col("n_chars")).alias("score"),
        ),
        10,
        [F.asc("score"), F.asc("doc_id")],
        "qbin",
    )
    thr = F.element_at(
        F.array(*[F.lit(t) for t in QBIN_THRESHOLDS]), F.col("qbin")
    )
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return scored.where(nib < thr).select("doc_id", "qbin", "score")


_EN_LIST = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
SQL_QUALITY_BIN = f"""
WITH scored AS (
  SELECT doc_id,
         0.5 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
       + 0.5 * (CAST(len(list_filter(t, x -> list_contains([{_EN_LIST}], x)))
                AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS score
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
binned AS (
  SELECT doc_id, score,
         ntile(10) OVER (ORDER BY score, doc_id) AS qbin
  FROM scored
)
SELECT doc_id, qbin, score
FROM binned
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      ['{"', '".join(QBIN_THRESHOLDS)}'][qbin]
ORDER BY doc_id
"""


VOCAB_TOP_K = 200
SALIENT_PER_DOC = 3


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top-200. The first
    step of any tokenizer-training / vocab-pruning pass over a
    pretraining corpus.

    Scale: explode is map-side; the groupBy count partial-aggregates
    per task BEFORE the exchange, so the shuffle carries one row per
    (task, distinct-term) — vocab-sized, not token-sized (a 100 TB
    corpus has trillions of tokens but a ~1e6-term vocab). The top-k
    is TakeOrderedAndProject: no global sort materialization. Ties
    break on the term so the result SET is engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_ws(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(VOCAB_TOP_K)
    )


SQL_VOCAB = f"""
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
GROUP BY term
ORDER BY cnt DESC, term
LIMIT {VOCAB_TOP_K}
"""


# The catch-all class excludes \x1f: bpe_train wraps symbols with that
# separator byte, and a pretoken containing it would corrupt the
# wrapped encoding (3-way split crash). Both engines (Java regex /
# DuckDB RE2) parse the \x1f escape identically, and the constant is
# embedded verbatim in the oracle SQL, so the two pretokenizers stay
# in lockstep.
BPE_PRETOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\x1f]+"
BPE_MAX_PIECE = 4


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token accounting: regex pretokenization (the GPT-2
    pretokenizer shape — letter runs / digit runs / punctuation runs)
    followed by a deterministic subword estimate of ceil(len/4) units
    per pretoken — short common words cost 1 unit, long words split,
    the budgeting signal a context-length planner needs before the
    real tokenizer runs. Pure map-side array expressions; the
    pretoken array is materialized ONCE per row before the per-element
    lambda (docs/SCALE.md rule 1). Division by 4 is exact in binary
    floating point (power of two), so the truncate matches the
    oracle's integer // everywhere."""
    d = load_table(spark, sf_dir, "documents")
    pt = d.select(
        "doc_id",
        F.regexp_extract_all(
            F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
        ).alias("pt"),
    )
    units = F.aggregate(
        F.col("pt"),
        F.lit(0),
        lambda acc, x: acc
        + ((F.length(x) + F.lit(BPE_MAX_PIECE - 1)) / F.lit(BPE_MAX_PIECE))
        .cast("int"),
    )
    return pt.select(
        "doc_id",
        F.size("pt").cast("int").alias("n_pretokens"),
        units.cast("int").alias("n_bpe_units"),
    )


SQL_TOKEN_BPE = f"""
SELECT doc_id,
       CAST(len(pt) AS INT) AS n_pretokens,
       CAST(list_sum(list_transform(pt,
            x -> (length(x) + {BPE_MAX_PIECE - 1}) // {BPE_MAX_PIECE}))
         AS INT) AS n_bpe_units
FROM (SELECT doc_id,
             regexp_extract_all(text, '{BPE_PRETOKEN_RE}') AS pt
      FROM documents)
"""


def q_token_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy — the perplexity-proxy
    quality filter: looping/boilerplate documents concentrate mass on
    few tokens and score low, diverse text scores near log2(vocab).
    entropy = log2(n) - (Σ c·log2 c)/n over per-token counts c.

    Scale: map-only — counts come from array expressions over the
    materialized token array (O(distinct·len) per row, distinct is
    vocab-bounded), never an explode/shuffle; the Σ runs in SORTED
    token order on BOTH engines (Spark: array_distinct of the sorted
    array; oracle: list(c ORDER BY term)), so double summation order
    is identical and only the final 4dp round guards the last ulp."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    t = F.col("t")
    uniq = F.array_distinct(F.array_sort(t))
    counts = F.transform(
        uniq, lambda u: F.size(F.filter(t, lambda x: x == u))
    )
    term_sum = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log2(c.cast("double")),
    )
    n = F.size(t)
    entropy = F.log2(n.cast("double")) - term_sum / n.cast("double")
    return tk.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        (F.floor(entropy * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)).alias(
            "token_entropy"
        ),
    )


SQL_TOKEN_ENTROPY = """
WITH cnts AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  GROUP BY doc_id, term
),
s AS (
  SELECT doc_id,
         list_sum(list_transform(list(c ORDER BY term),
                                 x -> x * log2(CAST(x AS DOUBLE)))) AS sterm,
         CAST(sum(c) AS BIGINT) AS n
  FROM cnts GROUP BY doc_id
)
SELECT doc_id, CAST(n AS INT) AS n_tokens,
       floor((log2(CAST(n AS DOUBLE)) - sterm / n) * 1e4 + 0.5) / 1e4
         AS token_entropy
FROM s
"""


OOV_VOCAB_K = 10


def q_oov_rate_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-K
    vocabulary — the tokenizer-coverage check run before committing a
    vocab: docs with high OOV get routed to vocab expansion or
    dropped. Two passes: (1) the vocab aggregate (explode partial-
    aggregates map-side, TakeOrdered top-K — vocab-sized, never a
    fact sort), (2) a BROADCAST of the K-term array cross-joined onto
    the unshuffled documents scan; membership tests are per-row array
    ops. Tie order (cnt DESC, term ASC) is pinned on both engines so
    the vocab SET is identical."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    vocab = (
        d.select(F.explode(tokens_ws(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(OOV_VOCAB_K)
        .agg(F.collect_list("term").alias("vocab"))
    )
    t = F.col("t")
    n_oov = F.size(
        F.filter(t, lambda x: ~F.array_contains(F.col("vocab"), x))
    )
    n = F.size(t)
    return tk.join(F.broadcast(vocab)).select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        n_oov.cast("int").alias("n_oov"),
        (
            F.floor(
                n_oov.cast("double") / n.cast("double") * F.lit(1e4)
                + F.lit(0.5)
            )
            / F.lit(1e4)
        ).alias("oov_rate"),
    )


SQL_OOV_RATE = f"""
WITH vocab AS (
  SELECT term, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term ORDER BY cnt DESC, term LIMIT {OOV_VOCAB_K}
),
v AS (SELECT list(term) AS vl FROM vocab),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS INT) AS n_tokens,
       CAST(len(list_filter(t, x -> NOT list_contains(vl, x))) AS INT)
         AS n_oov,
       floor(CAST(len(list_filter(t, x -> NOT list_contains(vl, x)))
                  AS DOUBLE)
             / CAST(len(t) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS oov_rate
FROM tk, v
"""


def q_salient_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by TF-IDF rank — the classic
    keyword-extraction / topic-tagging pass. The score is integer-
    scaled (tf * floor(1e6 * N / df)) so Spark and the oracle agree
    bit-for-bit with no float-log drift; the RANKING it induces is the
    same as tf * log-idf for fixed tf because floor(1e6*N/df) is
    monotone in N/df.

    Scale: three narrow frames — (doc,term,tf) partial-aggregates
    map-side before ONE token-keyed exchange; the doc-frequency frame
    folds to vocab size and is BROADCAST back (never a fact shuffle);
    the corpus row count joins in as a broadcast scalar (lazy — no
    eager count() job); the per-doc top-3 window re-keys by doc_id
    (second exchange of the tf frame, rows not text)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens_ws(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * F.floor(F.lit(1000000) * F.col("n_docs") / F.col("df")))
            .cast("bigint")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SALIENT_PER_DOC)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "tf", "score")
    )


SQL_SALIENT = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         CAST(tf * floor(1000000.0 * n.n_docs / df.df) AS BIGINT) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, score
FROM ranked WHERE rk <= {SALIENT_PER_DOC}
"""


# Fixture-sized. At production scale, size the width so one shard's
# (term, shard) rows land as a file of hundreds of MB (row-group
# multiples): the r13 ×10 A/B (docs/SCALE.md) measured the indexed
# probe's growth living entirely in the shard-DIR count (listing +
# per-file open over thousands of tiny dirs), so probe cost at 100 TB
# is bounded by term-sorted row-group pruning only when shards are
# file-sized, never when the dir count grows linearly with the corpus.
# Resizing is SAFE (r13): width is internal layout — same content and
# search results at any width (pinned by test) — and every sidecar
# records its build width in a _WIDTH marker, so an incremental apply
# always shards its delta at the RESIDENT width and a contradictory
# explicit width fails loudly (resize = rebuild, never an apply).
POSTING_SHARD_WIDTH = 100
SEARCH_TERMS = ("hash", "scan")
COLLOCATION_TOP_K = 50


def _write_width_marker(path: str, width: int) -> None:
    """Record the shard width a sidecar was built with (r13: the
    production-sizing note above makes resizing the constant the
    RECOMMENDED operation at scale — without a recorded width, the
    next incremental apply after a resize would compute delta shards
    with the new width against resident shards laid out with the old
    one and silently corrupt the range ordering). `_`-prefixed so
    Spark's file index ignores it like _SUCCESS."""
    with open(os.path.join(path, "_WIDTH"), "w") as fh:
        fh.write(str(int(width)))


def _read_width_marker(path: str):
    """Width the sidecar at `path` was built with, or None for a
    legacy sidecar predating the marker (those were always built at
    the module default)."""
    try:
        with open(os.path.join(path, "_WIDTH")) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def q_build_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a sharded inverted index (term -> sorted posting list of
    doc_ids) — the text-search layer over the corpus. Postings are
    sharded by doc_id range (shard = doc_id // 100) so NO single row
    ever holds a whole stopword's posting list: at 100 TB a term like
    'the' matches ~every doc, and an unsharded collect_list would
    OOM one reducer. Sharding bounds every row to the shard width and
    keeps the list range-ordered for merge-scans at query time.

    Scale: explode is map-side; one exchange on (term, shard) — the
    agg partial-combines the per-task postings first, and doc_ids are
    already distinct per (term, doc) after the tf fold."""
    # canonical CSV postings form: array cell representations differ
    # between Arrow and non-Arrow toPandas paths (list vs ndarray),
    # which breaks representation-sensitive value hashing; the string
    # form is identical everywhere
    return _index_frame(load_table(spark, sf_dir, "documents"))


SQL_INVERTED_INDEX = f"""
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term, doc_id
)
SELECT term, CAST(doc_id // {POSTING_SHARD_WIDTH} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS df_shard,
       CAST(sum(tf) AS BIGINT) AS tf_shard,
       array_to_string(
         list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
              ORDER BY doc_id),
         ',') AS postings
FROM tf
GROUP BY term, shard
"""


_INDEX_SIDECAR_SCHEMA = (
    "term string, df_shard bigint, tf_shard bigint, postings string, "
    "shard bigint"
)


def _index_frame(
    docs: DataFrame, width: int = POSTING_SHARD_WIDTH
) -> DataFrame:
    """The sharded inverted index over an arbitrary documents frame —
    factored from q_build_inverted_index (r12) so the sidecar create
    AND the incremental apply build postings with the literal same
    expressions. Postings carry ``doc_id:tf`` pairs (r12: ids alone
    could not serve tf-weighted ranking, so every scorer had to rescan
    the corpus — with tf in the posting, search_conjunctive_indexed
    reproduces the direct scan's scores from the sidecar alone),
    doc_id-sorted within the shard. `width` is INTERNAL LAYOUT (r13):
    it changes only how postings group into shard rows, never the
    (term, doc_id, tf) content — searches over indexes built at
    different widths return identical results (pinned by test), which
    is what licenses the production resizing the POSTING_SHARD_WIDTH
    note prescribes."""
    tf = (
        docs.select("doc_id", F.explode(tokens_ws(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    posting = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
            lambda r: F.concat_ws(
                ":", r["doc_id"].cast("string"), r["tf"].cast("string")
            ),
        ),
        ",",
    )
    return (
        # integer DIV, not float `/`+cast: identical here, but at
        # production id magnitudes double rounding could misplace a
        # boundary doc into the wrong shard
        tf.withColumn(
            "shard", F.expr(f"doc_id DIV {int(width)}").cast("bigint")
        )
        .groupBy("term", "shard")
        .agg(
            F.count("*").cast("bigint").alias("df_shard"),
            F.sum("tf").cast("bigint").alias("tf_shard"),
            posting.alias("postings"),
        )
    )


def index_sidecar_apply(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    width: int | None = None,
) -> None:
    """Fold a batch of NEW documents into the persisted sharded index
    WITHOUT rescanning the corpus (r11 verdict item 5 — the
    sink_lm_sidecar_apply / sink_pq_sidecar_apply discipline applied
    to the search index): delta postings are aggregated over the new
    docs only (persisted — the frame feeds both the affected-shard
    collect and the merge join), merged into the AFFECTED shards' rows
    by a (term, shard)-keyed full-outer join — postings concatenate in
    order because an append-only corpus only ever extends the top
    shard (every new doc_id exceeds every resident one),
    df_shard/tf_shard add because the doc sets are disjoint — and
    published by a JOURNALED stage→swap→commit (never Spark's
    read-modify-overwrite of its own input): the merged shards land in
    a staging dir, pre-image shard dirs move to a journal, new dirs
    swap in, and a commit marker retires the journal. A crash at ANY
    point leaves the sidecar recoverable — recover_index_apply (run at
    the start of every apply) rolls an interrupted publish back to the
    pre-image (or forward past the commit marker), so no resident
    posting is ever lost; untouched shards stay byte-identical (pinned
    by test).

    The append-only precondition is ENFORCED, not assumed (r12 ADVICE):
    before merging, the batch's min doc_id is checked against the
    resident top shard's max posting doc_id — a batch that re-ingests
    a resident doc_id would silently produce unsorted postings and
    double-counted df/tf, so it fails loudly instead (the
    require_local posture). The check is bounded: the resident max
    comes from ONE shard partition's rows (postings are doc_id-sorted,
    so the row max is the last pair), the batch min from a narrow agg
    over the already-persisted delta.

    Scale: apply cost = |new docs| + |affected shards' rows|, never
    the index — the hourly-crawl-drop profile; the affected-shard list
    is |batch|/POSTING_SHARD_WIDTH entries (a bounded driver-side
    collect, the sink_pq_sidecar_apply shape).

    Shard width (r13): the delta MUST shard with the width the
    RESIDENT index was built with, or merged postings land in
    wrong-range rows. The width is resolved from the sidecar's
    _WIDTH marker (legacy sidecars predate it and were always built
    at the module default); an explicit `width` argument that
    contradicts the marker fails loudly — resizing the width is a
    REBUILD, never an apply."""
    import shutil

    recover_index_apply(path)
    recorded = _read_width_marker(path)
    if width is None:
        width = recorded if recorded is not None else POSTING_SHARD_WIDTH
    elif recorded is not None and recorded != width:
        raise ValueError(
            f"index_sidecar_apply width mismatch: sidecar at {path!r} was "
            f"built with shard width {recorded}, caller passed {width} — "
            "a delta sharded at a different width would merge postings "
            "into wrong-range rows. Resizing the shard width requires a "
            "full index rebuild"
        )
    delta = _index_frame(new_docs, width).persist()
    try:
        affected = [
            r["shard"] for r in delta.select("shard").distinct().collect()
        ]
        if not affected:
            return
        _assert_append_only(spark, path, delta)
        base = (
            spark.read.schema(_INDEX_SIDECAR_SCHEMA)
            .parquet(path)
            .where(F.col("shard").isin(affected))
            .select("term", "shard", "df_shard", "tf_shard", "postings")
        )
        d = delta.select(
            "term", "shard",
            F.col("df_shard").alias("df_d"),
            F.col("tf_shard").alias("tf_d"),
            F.col("postings").alias("postings_d"),
        )
        merged = base.join(d, ["term", "shard"], "full_outer").select(
            "term",
            "shard",
            (
                F.coalesce(F.col("df_shard"), F.lit(0))
                + F.coalesce(F.col("df_d"), F.lit(0))
            ).cast("bigint").alias("df_shard"),
            (
                F.coalesce(F.col("tf_shard"), F.lit(0))
                + F.coalesce(F.col("tf_d"), F.lit(0))
            ).cast("bigint").alias("tf_shard"),
            F.when(
                F.col("postings").isNotNull() & F.col("postings_d").isNotNull(),
                F.concat_ws(",", F.col("postings"), F.col("postings_d")),
            )
            .otherwise(F.coalesce(F.col("postings_d"), F.col("postings")))
            .alias("postings"),
        )
        tmp = os.path.join(path, "_apply_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.partitionBy("shard").parquet(tmp)
        _publish_index_apply(path, tmp, affected)
    finally:
        delta.unpersist()


def _assert_append_only(spark: SparkSession, path: str, delta: DataFrame) -> None:
    """Fail loudly when a batch violates index_sidecar_apply's
    append-only contract (every new doc_id exceeds every resident one).
    Resident max doc_id is recovered from the TOP shard's postings
    alone — one partition dir's rows, never the index — and the batch
    min from the already-PERSISTED delta postings (never the new_docs
    lineage, which with a real transport would re-fetch every page —
    the r12 record-pipeline persist lesson): postings are doc_id-sorted,
    so a row's max is its last ``doc_id:tf`` pair and its min the
    first, and shard order is doc-range order, so min struct(shard,
    first_doc) is the batch's global min."""
    shards = [
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("shard=")
    ]
    if not shards:
        return
    top = max(shards)
    resident_max = (
        spark.read.schema(_INDEX_SIDECAR_SCHEMA)
        .parquet(path)
        .where(F.col("shard") == top)
        .agg(
            F.max(
                F.split_part(
                    F.split_part(F.col("postings"), F.lit(","), F.lit(-1)),
                    F.lit(":"),
                    F.lit(1),
                ).cast("bigint")
            )
        )
        .first()[0]
    )
    first_doc = F.split_part(
        F.split_part(F.col("postings"), F.lit(","), F.lit(1)),
        F.lit(":"),
        F.lit(1),
    ).cast("bigint")
    mrow = delta.agg(
        F.min(F.struct(F.col("shard"), first_doc.alias("d"))).alias("m")
    ).first()["m"]
    batch_min = None if mrow is None else mrow["d"]
    if resident_max is not None and batch_min is not None and batch_min <= resident_max:
        raise ValueError(
            f"index_sidecar_apply append-only contract violated: batch min "
            f"doc_id {batch_min} <= resident max doc_id {resident_max} "
            f"(shard={top}) — re-ingesting a resident doc_id would produce "
            "unsorted postings and double-counted df/tf; dedup or re-id the "
            "batch upstream"
        )


def _publish_index_apply(path: str, tmp: str, affected: list) -> None:
    """Swap the staged shard dirs in under a rollback journal.

    Phases, each marked on disk so recover_index_apply can tell them
    apart: (1) journal opens with a _MANIFEST of every affected shard
    (including brand-new ones with no pre-image); (2) ALL pre-image
    dirs move into the journal; (3) _SWAP marker, then staged dirs
    move in; (4) _COMMIT marker, journal retired. Rollback rules per
    phase are in recover_index_apply."""
    import shutil

    trash = os.path.join(path, "_apply_trash")
    shutil.rmtree(trash, ignore_errors=True)
    os.makedirs(trash)
    with open(os.path.join(trash, "_MANIFEST"), "w") as fh:
        fh.write(" ".join(str(s) for s in affected))
    for s in affected:  # phase 2: journal every pre-image
        dst = os.path.join(path, f"shard={s}")
        if os.path.isdir(dst):
            os.rename(dst, os.path.join(trash, f"shard={s}"))
    open(os.path.join(trash, "_SWAP"), "w").close()
    for s in affected:  # phase 3: swap staged dirs in
        os.rename(
            os.path.join(tmp, f"shard={s}"), os.path.join(path, f"shard={s}")
        )
    open(os.path.join(trash, "_COMMIT"), "w").close()
    shutil.rmtree(trash)
    shutil.rmtree(tmp, ignore_errors=True)


def recover_index_apply(path: str) -> None:
    """Heal an interrupted index_sidecar_apply publish. Safe to call
    any time there is no concurrent writer; run automatically at the
    start of every apply (readers after an unclean shutdown should
    call it too).

    - journal has _COMMIT: every swap completed — roll FORWARD (retire
      the journal).
    - journal has _SWAP but no _COMMIT: all pre-images are in the
      journal and any present affected dir is a swapped-in NEW dir —
      roll BACK (drop new dirs, restore every pre-image).
    - journal has _MANIFEST only: the swap phase never started — any
      affected dir still present IS the pre-image (never delete it);
      restore journaled pre-images whose dir is missing.
    - journal without even a _MANIFEST: nothing moved — drop it.
    The staging dir is always discarded (the next apply rebuilds it)."""
    import shutil

    trash = os.path.join(path, "_apply_trash")
    if os.path.isdir(trash):
        if os.path.exists(os.path.join(trash, "_COMMIT")):
            shutil.rmtree(trash)
        elif os.path.exists(os.path.join(trash, "_MANIFEST")):
            swapped = os.path.exists(os.path.join(trash, "_SWAP"))
            with open(os.path.join(trash, "_MANIFEST")) as fh:
                shards = [s for s in fh.read().split() if s]
            for s in shards:
                dst = os.path.join(path, f"shard={s}")
                pre = os.path.join(trash, f"shard={s}")
                if swapped and os.path.isdir(dst):
                    shutil.rmtree(dst)  # a swapped-in new dir
                if os.path.isdir(pre) and not os.path.isdir(dst):
                    os.rename(pre, dst)
            shutil.rmtree(trash, ignore_errors=True)
        else:
            shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(os.path.join(path, "_apply_tmp"), ignore_errors=True)


def _index_apply_batches(spark: SparkSession, sf_dir: str):
    """(batch_a, batch_b): two deterministic append generations. Every
    doc_id % 20 == 7 doc re-ingests twice with genuinely new token
    streams; ids are CONSECUTIVE from max(doc_id)+1 (the append-only
    contract), so generation A leaves the top shard PARTIAL and
    generation B extends it — the second apply exercises the
    (term, shard)-row merge, not just row appends (batch sizes n/20
    are never multiples of the shard width at the fixture sfs)."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id")).first()[0]
    sel = d.where("doc_id % 20 = 7")
    nb = sel.count()
    seq = F.expr("(doc_id - 7) DIV 20")
    batch_a = sel.select(
        (F.lit(mx + 1) + seq).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.col("source")).alias("text"),
    )
    batch_b = sel.select(
        (F.lit(mx + 1 + nb) + seq).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.col("lang")).alias("text"),
    )
    return batch_a, batch_b


def q_sink_index_sidecar_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create the sharded index sidecar from the base corpus, fold in
    TWO append generations via index_sidecar_apply (the second one
    merges into the partial shard the first created), and return the
    sidecar READ-BACK. The oracle is the FULL REBUILD over the unioned
    corpus — apply ≡ rebuild by value hash, the same contract as
    sink_lm_sidecar_apply / sink_pq_sidecar_apply."""
    import shutil

    from etl_dagster_service_crawler_spark.workloads.io_wl import _scratch

    path = _scratch(sf_dir, "index_sidecar")
    shutil.rmtree(path, ignore_errors=True)
    base = load_table(spark, sf_dir, "documents")
    _index_frame(base).write.partitionBy("shard").parquet(path)
    _write_width_marker(path, POSTING_SHARD_WIDTH)
    batch_a, batch_b = _index_apply_batches(spark, sf_dir)
    index_sidecar_apply(spark, path, batch_a)
    index_sidecar_apply(spark, path, batch_b)
    return (
        spark.read.schema(_INDEX_SIDECAR_SCHEMA)
        .parquet(path)
        .select("term", "shard", "df_shard", "tf_shard", "postings")
    )


def search_conjunctive_indexed(
    spark: SparkSession,
    index_path: str,
    terms=None,
    topk: int = 20,
    recover: bool = False,
) -> DataFrame:
    """Conjunctive keyword search served FROM the persisted sharded
    index — the deployment shape q_search_conjunctive's docstring
    names (probe the sidecar's postings instead of rescanning the
    corpus). Identical semantics and SCORES: postings carry doc_id:tf
    (r12), so summed-tf ranking reproduces the direct scan's output
    row-for-row (pinned by test, both before and after incremental
    applies) — the consume leg of the index family's
    create→maintain→consume story.

    Scale: the term predicate prunes at the index scan (query terms
    ≪ vocabulary); only matching postings explode; one doc_id-keyed
    exchange over O(matching postings) rows; TakeOrderedAndProject for
    the top-k. The corpus itself is never touched.

    Reader-vs-writer contract (r12 ADVICE): recovery is OPT-IN
    (``recover=True``), never automatic — recover_index_apply moves
    and deletes shard dirs, so a reader running it concurrently with
    an in-flight index_sidecar_apply publish could destroy the
    writer's journal mid-swap. A plain read never mutates the sidecar,
    and when a PRE-COMMIT publish journal is present at call time it
    fails loudly instead of silently scanning an index with
    journaled-away shards (missing postings would return wrong scores
    with no error): if the journal belongs to a dead writer, pass
    recover=True — only after an unclean shutdown AND with no writer
    running (the compact_minhash_state serialization discipline:
    maintenance runs BETWEEN drains). The journal check is best-effort
    crash DETECTION, not concurrency control — the serialization
    contract (don't race a live writer) still rests with the caller;
    a reader racing a live writer gets either this error or a loud
    missing-file scan failure, never a silent wrong answer on the
    file set pinned at DataFrame construction."""
    if terms is None:
        terms = SEARCH_TERMS
    if recover:
        recover_index_apply(index_path)
    else:
        # ONE listing snapshot (an isdir/exists pair could straddle a
        # writer's commit-and-retire and spuriously flag a healthy
        # index); a committed journal means every swap landed — only
        # its retirement is pending — so the read is safe
        try:
            trash_entries = os.listdir(os.path.join(index_path, "_apply_trash"))
        except FileNotFoundError:
            trash_entries = None
        if trash_entries is not None and "_COMMIT" not in trash_entries:
            raise RuntimeError(
                f"interrupted index publish detected at {index_path!r} "
                "(_apply_trash journal present without _COMMIT) — the "
                "sidecar may be missing journaled shards, so a plain read "
                "would silently return wrong results. If the writer is "
                "dead, re-run with recover=True; if a writer is running, "
                "wait for its commit"
            )
    idx = (
        spark.read.schema(_INDEX_SIDECAR_SCHEMA)
        .parquet(index_path)
        .where(F.col("term").isin(*list(terms)))
        .select("term", "postings")
    )
    posts = idx.select(
        "term", F.explode(F.split("postings", ",")).alias("p")
    ).select(
        "term",
        F.split_part(F.col("p"), F.lit(":"), F.lit(1))
        .cast("bigint")
        .alias("doc_id"),
        F.split_part(F.col("p"), F.lit(":"), F.lit(2))
        .cast("bigint")
        .alias("tf"),
    )
    hits = (
        posts.groupBy("doc_id")
        .agg(
            F.size(F.collect_set("term")).alias("n_terms"),
            F.sum("tf").alias("score"),
        )
        .where(F.col("n_terms") == len(list(terms)))
    )
    return (
        hits.select("doc_id", "score")
        .orderBy(F.desc("score"), "doc_id")
        .limit(topk)
    )


INDEX_SIDECAR_VER = 1


def index_sidecar_cached(spark: SparkSession, sf_dir: str) -> str:
    """Path to a built, _SUCCESS-gated inverted-index sidecar over the
    documents table — the bigram_lm_cached discipline applied to the
    search index: path keyed by index version + corpus file-metadata
    fingerprint (so regeneration, append, and in-place rewrite all
    force a rebuild), _SUCCESS-gated so a crashed writer never
    half-serves. Lives under its own leaf, disjoint from the apply
    entry's scratch dir.

    Layout: one file per shard, rows TERM-SORTED within it — doc_id
    sharding spreads every term across all shard dirs (that is the
    apply path's contract), so at scale the probe's pruning lever is
    the row-group statistics INSIDE each shard: term-sorted row groups
    give the pushed term predicate real min/max bounds to skip on once
    a shard exceeds one row group (measured ×10: the warm probe is
    index-bound, docs/SCALE.md r13 table)."""
    import os as _os

    from etl_dagster_service_crawler_spark.workloads.io_wl import (
        _scratch,
        _source_fingerprint,
    )

    fp = _source_fingerprint(sf_dir, "documents")
    path = _scratch(sf_dir, f"index_sidecar_cache/v{INDEX_SIDECAR_VER}_{fp}")
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        (
            _index_frame(load_table(spark, sf_dir, "documents"))
            .repartition("shard")
            .sortWithinPartitions("shard", "term")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
        _write_width_marker(path, POSTING_SHARD_WIDTH)
    return path


def q_search_conjunctive_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index family's CONSUME leg as a registered entry (r12
    verdict item 2): conjunctive search served from the persisted
    sharded sidecar (see search_conjunctive_indexed — postings carry
    doc_id:tf, so the scores reproduce the direct scan's exactly).
    Oracle = the direct-scan SQL (SQL_SEARCH): the sidecar-served
    top-k is value-hash-checked against a full corpus scan, closing
    the create→maintain→consume loop under the driver's checker."""
    return search_conjunctive_indexed(
        spark, index_sidecar_cached(spark, sf_dir)
    )


# full-rebuild oracle over the unioned corpus: apply ≡ rebuild. The id
# formulas mirror _index_apply_batches exactly.
SQL_INDEX_SIDECAR_APPLY = SQL_INVERTED_INDEX.replace(
    "FROM documents",
    """FROM (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT (SELECT max(doc_id) FROM documents) + 1 + (doc_id - 7) // 20,
         text || ' ' || source
  FROM documents WHERE doc_id % 20 = 7
  UNION ALL
  SELECT (SELECT max(doc_id) FROM documents) + 1
         + (SELECT count(*) FROM documents WHERE doc_id % 20 = 7)
         + (doc_id - 7) // 20,
         text || ' ' || lang
  FROM documents WHERE doc_id % 20 = 7
)""",
)


def q_search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search: documents containing ALL query
    terms, ranked by summed term frequency. The retrieval twin of the
    inverted index (expressed directly over the corpus so the oracle
    can replay it; a deployment would probe the index's (term, shard)
    partitions instead and merge postings).

    Scale: the term filter applies AT the explode — only query-term
    rows survive into the ONE doc_id exchange, so shuffle volume is
    O(matching tokens), not corpus size. The all-terms check is
    size(collect_set(term)), not countDistinct: the set is bounded by
    the query length and partial-aggregates map-side, where
    countDistinct would force a second (doc_id, term) exchange.
    Top-k is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    hits = (
        d.select("doc_id", F.explode(tokens_ws(F.col("text"))).alias("term"))
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


_TERM_LIST = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
SQL_SEARCH = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS score
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term IN ({_TERM_LIST})
GROUP BY doc_id
HAVING count(DISTINCT term) = {len(SEARCH_TERMS)}
ORDER BY score DESC, doc_id
LIMIT 20
"""


BM25_TERMS = ("hash", "scan", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 25


def q_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (r10) — the standard relevance scorer on
    top of the conjunctive/inverted-index search family: top-k
    documents by Okapi BM25 over the query terms, with the classic
    k1/b length normalization. Disjunctive (any matched term scores;
    n_terms reports how many), the production shape for corpus search
    and RAG candidate retrieval.

    Cross-engine float discipline (the token_entropy rules): every
    input to the formula is an exact integer (tf, df, dl, N, Σdl) and
    both engines evaluate the SAME expression tree (constants
    interpolated from one Python value via repr, so 1.2+1 is the same
    double on both sides); the per-document Σ over matched terms runs
    in SORTED term order on BOTH engines (Spark: fold over
    array_sort(collect_list(struct(term, s))); oracle: list_sum(list(s
    ORDER BY term))), and the final 4dp round guards the last ulp.
    Ranking uses the ROUNDED score with doc_id tie-break, so the
    top-k cut is deterministic on both engines.

    Scale: the term filter applies AT the explode — only query-term
    tokens survive into the ONE (doc, term) exchange (carrying dl, so
    no join back to the corpus); df and the (N, Σdl) stats are
    query-width / 1-row BROADCASTs; per-doc scoring aggregates ≤|Q|
    rows; top-k is TakeOrderedAndProject, never a fact sort."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    stats = dt.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).cast("bigint").alias("sum_dl"),
    )
    toks = dt.select(
        "doc_id", F.size("t").alias("dl"), F.explode("t").alias("term")
    )
    tf = (
        toks.where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    # association pinned to k1*(1-b + b*(dlN/S)) — the oracle and the
    # unit test group identically; a (b*dlN)/S variant differs in the
    # last ulp
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B)
        * (
            (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("sum_dl").cast("double")
        )
    )
    s = idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom
    per_doc = scored.select("doc_id", "term", s.alias("sc")).groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("sc")))
                ),
                lambda r: r["sc"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("raw"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_terms",
            (F.floor(F.col("raw") * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)).alias(
                "score_bm25"
            ),
        )
        .orderBy(F.desc("score_bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in BM25_TERMS)
SQL_SEARCH_BM25 = f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS sum_dl FROM tk
),
toks AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
tf AS (
  SELECT doc_id, term, dl, count(*) AS tf FROM toks
  WHERE term IN ({_BM25_TERM_LIST})
  GROUP BY doc_id, term, dl
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  -- every float constant CAST to DOUBLE: a bare 2.2 literal is
  -- DECIMAL(2,1) in DuckDB, so tf*2.2 would be computed exactly in
  -- decimal and rounded ONCE where Spark rounds double(2.2)*tf twice —
  -- a last-ulp divergence (review pass 3, confirmed at sf0.01)
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (tf.tf * CAST({BM25_K1 + 1.0!r} AS DOUBLE))
         / (tf.tf + CAST({BM25_K1!r} AS DOUBLE) * ({1.0 - BM25_B!r}
              + CAST({BM25_B!r} AS DOUBLE) * (CAST(tf.dl * s.n_docs AS DOUBLE)
                              / CAST(s.sum_dl AS DOUBLE)))) AS sc
  FROM tf JOIN dfreq d USING (term), stats s
)
SELECT doc_id, n_terms, score_bm25 FROM (
  SELECT doc_id, CAST(count(*) AS INT) AS n_terms,
         floor(list_sum(list(sc ORDER BY term)) * 1e4 + 0.5) / 1e4
           AS score_bm25
  FROM scored GROUP BY doc_id
)
ORDER BY score_bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


VOCAB_CURVE_RANKS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-coverage curve vs vocabulary size (r10) — the
    vocab-size-picking artifact tokenizer design starts from: at each
    candidate rank k (powers of two), what share of all corpus tokens
    the k most frequent terms cover, in integer ppm. The knee of this
    curve is where a vocab stops paying for itself; complements
    vocab_top_terms (the terms) and oov_rate_vocab (per-doc misses)
    with the corpus-level design curve.

    Exactness: counts and the cumulative sum are exact BIGINTs; share
    = (1e6 · cum) div total, integer on both engines; rank ties pinned
    (cnt DESC, term ASC).

    Scale: the term aggregate partial-combines map-side into ONE
    vocab-sized exchange; the global rank AND the cumulative token sum
    are the distributed two-level prefix sum (operators/ranking.py
    global_rank with sum_col — the _pack_doc_spans/pareto
    decomposition, r11 verdict item 4): range-partition the vocab by
    (cnt DESC, term), per-partition windows run in parallel, and the
    only serial window is the 16-row partition-offsets frame. A
    billion-term web vocabulary never serializes through one task —
    the r10 shape (one unpartitioned Window over the full distinct-term
    frame) did exactly that."""
    from etl_dagster_service_crawler_spark.operators.ranking import (
        global_rank,
    )

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens_ws(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    curve = (
        global_rank(
            counts,
            [F.desc("cnt"), F.asc("term")],
            sum_col=F.col("cnt"),
        )
        .where(F.col("__dnt_rank").isin(*VOCAB_CURVE_RANKS))
        .select(
            F.col("__dnt_rank").alias("vocab_rank"),
            F.col("__dnt_cum").alias("cum_tokens"),
        )
    )
    return curve.crossJoin(F.broadcast(total)).select(
        F.col("vocab_rank").cast("int").alias("vocab_rank"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.expr("CAST((1000000 * cum_tokens) DIV total AS INT)").alias(
            "coverage_ppm"
        ),
    )


_VOCAB_CURVE_LIST = ", ".join(str(r) for r in VOCAB_CURVE_RANKS)
SQL_VOCAB_COVERAGE_CURVE = f"""
WITH counts AS (
  SELECT term, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
curve AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, term) AS vocab_rank,
         sum(cnt) OVER (ORDER BY cnt DESC, term
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM counts
)
SELECT CAST(vocab_rank AS INT) AS vocab_rank,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((1000000 * CAST(cum_tokens AS BIGINT)) // total AS INT)
         AS coverage_ppm
FROM curve, total
WHERE vocab_rank IN ({_VOCAB_CURVE_LIST})
"""


PACK_SEQ_LEN = 512  # training sequence length (tokens)
PACK_OFFSET_BUCKETS = 256  # prefix-sum decomposition width (bounded)


def pack_doc_spans_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, start_tok) over an arbitrary (doc_id, text)
    frame — every document's token offset in the doc_id-ordered
    concatenated token stream, computed WITHOUT a global unpartitioned
    window: the classic two-level parallel prefix sum. Docs bucket by
    doc_id range into PACK_OFFSET_BUCKETS bounded buckets (width from
    a 1-row max(doc_id) broadcast scalar); the intra-bucket cumsum is
    a bucket-PARTITIONED window, and bucket offsets come from a window
    over the 256-row bucket-sum frame (bounded, plan-lint-clean). At
    1000 executors the only single-partition work is 256 rows; recurse
    the same decomposition for more levels if bucket counts must grow.
    Shared by the batch entry AND the streaming ingest
    (streaming/packing.py), so both compute offsets with the literal
    same expressions."""
    d = docs.select(
        "doc_id", F.size(tokens_ws(F.col("text"))).cast("bigint").alias("n")
    )
    mx = d.agg(F.max("doc_id").alias("mx"))
    # width >= 1; buckets 0..PACK_OFFSET_BUCKETS
    withb = d.join(F.broadcast(mx)).withColumn(
        "bkt",
        (F.col("doc_id") / ((F.col("mx") + PACK_OFFSET_BUCKETS)
                            / PACK_OFFSET_BUCKETS).cast("bigint")).cast("bigint"),
    )
    wl = Window.partitionBy("bkt").orderBy("doc_id")
    local = withb.select(
        "doc_id", "n", "bkt",
        (F.sum("n").over(wl) - F.col("n")).alias("local_off"),
    )
    bsum = local.groupBy("bkt").agg(F.sum("n").alias("bn"))
    wb = Window.orderBy("bkt")  # bounded: <= PACK_OFFSET_BUCKETS rows
    boff = bsum.select(
        "bkt", (F.sum("bn").over(wb) - F.col("bn")).alias("bkt_off")
    )
    return local.join(F.broadcast(boff), "bkt").select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (F.col("bkt_off") + F.col("local_off")).alias("start_tok"),
    )


def _pack_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_doc_spans_frame(load_table(spark, sf_dir, "documents"))


def pack_select(spans: DataFrame) -> DataFrame:
    """spans -> the packed mapping columns (sequence ids + the
    boundary flag); shared by the batch entry and the streaming
    ingest so the output shape cannot drift."""
    seq_first = F.expr(f"start_tok div {PACK_SEQ_LEN}")
    seq_last = F.expr(f"(start_tok + n_tokens - 1) div {PACK_SEQ_LEN}")
    return spans.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        seq_first.cast("bigint").alias("seq_first"),
        seq_last.cast("bigint").alias("seq_last"),
        (seq_first != seq_last).alias("crosses_boundary"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING for training (the GPT-style concat-then-chop):
    documents concatenate in doc_id order into one token stream chopped
    into PACK_SEQ_LEN-token sequences; per document, its token offset,
    first/last sequence, and whether it crosses a sequence boundary —
    the mapping a data loader materializes to build packed batches
    without padding waste.

    Exactness: offsets are an integer prefix sum (order pinned by
    doc_id), so the mapping is deterministic and fully oracle-checked;
    the oracle uses the plain window cumsum, the Spark side the
    scalable two-level decomposition (_pack_doc_spans) — same values,
    different plan, which is exactly the point."""
    return pack_select(_pack_doc_spans(spark, sf_dir))


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS start_tok
  FROM t
)
SELECT doc_id, n AS n_tokens, start_tok,
       CAST(start_tok // {PACK_SEQ_LEN} AS BIGINT) AS seq_first,
       CAST((start_tok + n - 1) // {PACK_SEQ_LEN} AS BIGINT) AS seq_last,
       (start_tok // {PACK_SEQ_LEN})
         <> ((start_tok + n - 1) // {PACK_SEQ_LEN}) AS crosses_boundary
FROM c
"""


def q_pack_sequences_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEQUENCE packing report: for every PACK_SEQ_LEN-token
    training sequence, how many documents contribute, how many tokens
    land in it (the final sequence is partial), and how many document
    boundaries it contains — the padding/fragmentation accounting a
    training run reads before choosing sequence length. Each doc
    explodes to only the sequences it overlaps (n/PACK_SEQ_LEN + 1
    rows), so the explode is stream-size-proportional, never
    quadratic; the rollup is a seq_id-keyed map-side-combined agg."""
    spans = _pack_doc_spans(spark, sf_dir)
    sl = PACK_SEQ_LEN
    ex = spans.select(
        "start_tok",
        "n_tokens",
        F.explode(
            F.sequence(
                F.expr(f"start_tok div {sl}"),
                F.expr(f"(start_tok + n_tokens - 1) div {sl}"),
            )
        ).alias("seq_id"),
    )
    tok_in_seq = F.least(
        F.col("start_tok") + F.col("n_tokens"), (F.col("seq_id") + 1) * sl
    ) - F.greatest(F.col("start_tok"), F.col("seq_id") * sl)
    return (
        ex.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(tok_in_seq).cast("bigint").alias("n_tokens"),
        )
        .select(
            "seq_id", "n_docs", "n_tokens",
            F.expr(f"CAST((10000 * n_tokens) DIV {sl} AS INT)").alias("fill_bp"),
        )
    )


SQL_PACK_REPORT = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS start_tok
  FROM t
),
ex AS (
  SELECT c.start_tok, c.n,
         CAST(unnest(generate_series(c.start_tok // {PACK_SEQ_LEN},
                                     (c.start_tok + c.n - 1) // {PACK_SEQ_LEN}))
              AS BIGINT) AS seq_id
  FROM c
)
SELECT seq_id, CAST(count(*) AS INT) AS n_docs,
       CAST(sum(least(start_tok + n, (seq_id + 1) * {PACK_SEQ_LEN})
                - greatest(start_tok, seq_id * {PACK_SEQ_LEN})) AS BIGINT)
         AS n_tokens,
       CAST((10000 * sum(least(start_tok + n, (seq_id + 1) * {PACK_SEQ_LEN})
                         - greatest(start_tok, seq_id * {PACK_SEQ_LEN})))
            // {PACK_SEQ_LEN} AS INT) AS fill_bp
FROM ex GROUP BY seq_id
"""


def _doc_bigram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bg array<string>) — each document's token bigrams,
    shared by the LM builder and the per-doc scorer."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return dt.select("doc_id", bigrams.alias("bg"))


def _bigram_lm_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus bigram LM table (bigram, c12, c1): bigram counts plus
    the context totals c(w1 ·). r14 shape: c1 is a windowed sum over
    the w1 partition of the counted LM — ONE w1-keyed exchange where
    the previous shape paid a w1 aggregate exchange AND re-shuffled the
    LM by the same expression for the join-back. Values identical
    (exact integer counts; oracle: SQL_LM_SIDECAR)."""
    db = _doc_bigram_frame(spark, sf_dir)
    lm = (
        db.select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    w1 = Window.partitionBy(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    )
    return lm.select(
        "bigram", "c12", F.sum("c12").over(w1).alias("c1")
    )


# Bump when the LM's semantics change (tokenization, smoothing inputs):
# the version is part of the sidecar path, so a stale on-disk LM from
# older code can never be served to the scorer.
LM_SIDECAR_VER = 1
_LM_SIDECAR_SCHEMA = "bigram string, c12 bigint, c1 bigint"


def _lm_sidecar_path(sf_dir: str) -> str:
    from etl_dagster_service_crawler_spark.workloads.io_wl import (
        _scratch,
        _source_fingerprint,
    )

    fp = _source_fingerprint(sf_dir, "documents")
    return _scratch(sf_dir, f"lm_sidecar/v{LM_SIDECAR_VER}_{fp}")


def bigram_lm_cached(
    spark: SparkSession, sf_dir: str, *, force_build: bool = False
) -> DataFrame:
    """The corpus bigram LM, served from the persisted sidecar when one
    exists — the mutual_graph_cached discipline applied to the LM: the
    LM is a pure deterministic function of the corpus and every
    perplexity scorer reads it many times, so a 100 TB deployment
    builds it once (this is the 'reusable artifact' the perplexity
    docstring names, made real). _SUCCESS-gated (a crashed writer
    never half-serves); path fingerprint carries the LM version AND
    a file-metadata fingerprint of the corpus (size+mtime of every
    parquet part — so regeneration, append, AND a same-count in-place
    rewrite are all invisible; the r10 row-count key missed the
    last of these); schema-pinned read-back; sorted by bigram so
    term-range consumers prune row groups. Scorer results are
    bit-identical with and without the sidecar because the build
    itself is value-hash oracle-checked (sink_lm_sidecar)."""
    import os

    path = _lm_sidecar_path(sf_dir)
    if force_build or not os.path.exists(os.path.join(path, "_SUCCESS")):
        lm = _bigram_lm_build(spark, sf_dir)
        lm.sort("bigram").coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.schema(_LM_SIDECAR_SCHEMA).parquet(path)


def q_sink_lm_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted bigram-LM SIDECAR (r10): force-rebuilds the LM,
    writes (bigram, c12, c1) sorted by bigram, and returns the
    READ-BACK — the oracle checks the on-disk bytes round-trip (the
    sink_graph_sidecar discipline). Keeps the LM build cost visible in
    the bench while doc_perplexity_bigram reads the sidecar and times
    only the scoring join."""
    return bigram_lm_cached(spark, sf_dir, force_build=True)


SQL_LM_SIDECAR = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN [t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]
              ELSE [] END AS bg
  FROM tk
),
lm AS (
  SELECT bigram, count(*) AS c12
  FROM (SELECT unnest(bg) AS bigram FROM bg)
  GROUP BY bigram
),
ctx AS (
  SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
  FROM lm GROUP BY 1
)
SELECT l.bigram, CAST(l.c12 AS BIGINT) AS c12, CAST(c.c1 AS BIGINT) AS c1
FROM lm l JOIN ctx c ON string_split(l.bigram, ' ')[1] = c.w1
"""


def q_sink_lm_sidecar_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LM-sidecar APPEND (r11, the cdc/sidecar-maintenance
    discipline applied to the bigram LM): a deterministic batch of NEW
    documents (every doc_id%10==7 re-ingested as doc_id+1000000 with
    text || ' ' || source — genuinely new bigrams cross the boundary)
    is folded into the PERSISTED LM without rescanning the corpus:
    delta bigram counts over the new docs only, a full-outer c12
    merge against the sidecar read-back, then the vocab-sized c1
    regroup (c1 is derived, so it must be recomputed from the merged
    c12 — adding deltas per-bigram would miss w1 contexts whose new
    bigrams are all unseen). The result is written as its own
    artifact and the READ-BACK returned; the oracle is the FULL
    REBUILD over the unioned corpus — append ≡ rebuild by value hash.

    Scale: the apply scans |new docs| + |LM| (vocab-sized), never the
    corpus — the cost profile an hourly crawl drop wants; the c1
    regroup is vocab-keyed, exchange carries (w1, partial)."""
    import shutil

    from etl_dagster_service_crawler_spark.workloads.io_wl import _scratch

    base = q_sink_lm_sidecar(spark, sf_dir)
    new_docs = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 10 = 7")
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.col("source")).alias("text"),
        )
    )
    dt = new_docs.select(tokens_ws(F.col("text")).alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    delta = (
        dt.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("dc12"))
    )
    merged = (
        base.select("bigram", "c12")
        .join(delta, "bigram", "full_outer")
        .select(
            "bigram",
            (
                F.coalesce(F.col("c12"), F.lit(0))
                + F.coalesce(F.col("dc12"), F.lit(0))
            ).alias("c12"),
        )
    )
    # c1 as a windowed sum over the merged counts (the _bigram_lm_build
    # r14 shape): one w1 exchange, no aggregate + join-back
    w1 = Window.partitionBy(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    )
    out = merged.select(
        "bigram",
        F.col("c12").cast("bigint").alias("c12"),
        F.sum("c12").over(w1).cast("bigint").alias("c1"),
    )
    path = _scratch(sf_dir, "lm_sidecar_apply")
    shutil.rmtree(path, ignore_errors=True)
    out.sort("bigram").coalesce(1).write.parquet(path)
    return spark.read.schema(_LM_SIDECAR_SCHEMA).parquet(path)


# full-rebuild oracle over the unioned corpus: append ≡ rebuild
SQL_LM_SIDECAR_APPLY = SQL_LM_SIDECAR.replace(
    "FROM documents",
    """FROM (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' ' || source
  FROM documents WHERE doc_id % 10 = 7
)""",
)


def q_doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bits-per-bigram under a corpus bigram LM — the
    CCNet-style perplexity filter: documents whose phrase structure is
    atypical for the corpus score high (more bits) and get routed to
    the low-quality bucket; the standard LM-based quality gate next to
    the heuristic ones (gopher rules, token entropy). Add-1 smoothed:
    P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V); score = -(Σ log2 P)/n
    over the doc's bigrams.

    Cross-engine float discipline (the token_entropy/BM25 rules): all
    LM inputs are exact integers (bigram count, context total, vocab
    size); each bigram's term folds cnt_in_doc · log2((c12+1)/(c1+V))
    with one association on both engines; the per-doc Σ runs in
    SORTED bigram order; one 4dp round at the end.

    Scale: the LM comes from the persisted sidecar (bigram_lm_cached —
    built once per corpus, oracle-checked by sink_lm_sidecar); scoring
    is an equi-join of per-doc bigram counts against the LM keyed by
    bigram (both sides reduced), then a doc-sized regroup. V is a
    1-row broadcast. Results are bit-identical with and without the
    sidecar."""
    db = _doc_bigram_frame(spark, sf_dir)
    doc_pairs = (
        db.select("doc_id", F.explode("bg").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c_doc"))
    )
    lm_full = bigram_lm_cached(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens_ws(F.col("text"))).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    term = F.col("c_doc") * F.log2(
        (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
    )
    scored = (
        doc_pairs.join(lm_full, "bigram")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "bigram", F.col("c_doc"), term.alias("term"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("c_doc").cast("int").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("bigram"), F.col("term")))
                ),
                lambda r: r["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (
            F.floor(
                (-F.col("s") / F.col("n_bigrams")) * F.lit(1e4) + F.lit(0.5)
            )
            / F.lit(1e4)
        ).alias("bits_per_bigram"),
    )


SQL_DOC_PERPLEXITY = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN [t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]
              ELSE [] END AS bg
  FROM tk
),
doc_pairs AS (
  SELECT doc_id, bigram, count(*) AS c_doc
  FROM (SELECT doc_id, unnest(bg) AS bigram FROM bg)
  GROUP BY doc_id, bigram
),
lm AS (
  SELECT bigram, count(*) AS c12
  FROM (SELECT unnest(bg) AS bigram FROM bg)
  GROUP BY bigram
),
ctx AS (
  SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
  FROM lm GROUP BY 1
),
lm_full AS (
  SELECT l.bigram, l.c12, c.c1
  FROM lm l JOIN ctx c ON string_split(l.bigram, ' ')[1] = c.w1
),
vocab AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM tk)
),
scored AS (
  SELECT p.doc_id, p.bigram, p.c_doc,
         p.c_doc * log2((l.c12 + 1.0) / (l.c1 + vocab.v)) AS term
  FROM doc_pairs p JOIN lm_full l USING (bigram), vocab
),
per_doc AS (
  SELECT doc_id, CAST(sum(c_doc) AS INT) AS n_bigrams,
         list_sum(list(term ORDER BY bigram)) AS s
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       floor((-s / n_bigrams) * 1e4 + 0.5) / 1e4 AS bits_per_bigram
FROM per_doc
"""


def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by Dice coefficient — phrase mining
    for tokenizer merges / stop-phrase lists. Dice = 2*c(xy)/(c(x)+
    c(y)), integer-scaled (x 1e6, floor division) so both engines
    agree bit-for-bit; unlike PMI there is no unigram-total product,
    so the score never overflows BIGINT at any corpus size.

    Scale: bigrams form per-row inside the token array (no
    self-join!) — the array is MATERIALIZED as a column first, then
    paired with zip_with over two slices: referencing the split()
    expression from inside a per-element lambda would re-split the
    text once per token (measured 10x the whole query's cost). The
    pair counts partial-aggregate before ONE bigram-keyed exchange;
    unigram counts are vocab-sized and broadcast back twice (left
    word, right word)."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select(tokens_ws(F.col("text")).alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cxy = (
        dt.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = (
        dt.select(F.explode(t).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    words = F.split(F.col("bigram"), " ")
    # join the SAME uni plan twice (alias only, no rename below the
    # exchange) so ReuseExchange builds the broadcast once
    scored = (
        cxy.withColumn("wx", words.getItem(0))
        .withColumn("wy", words.getItem(1))
        .join(F.broadcast(uni.alias("ux")), F.col("wx") == F.col("ux.term"))
        .join(F.broadcast(uni.alias("uy")), F.col("wy") == F.col("uy.term"))
        .select(
            "bigram",
            "c_xy",
            F.expr("(2000000 * c_xy) div (ux.c + uy.c)").alias("dice_scaled"),
        )
    )
    return scored.orderBy(F.desc("dice_scaled"), "bigram").limit(COLLOCATION_TOP_K)


SQL_COLLOCATIONS = f"""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks WHERE len(t) >= 2
),
cxy AS (SELECT bigram, count(*) AS c_xy FROM big GROUP BY bigram),
uni AS (
  SELECT term, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
)
SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy,
       CAST((2000000 * c_xy) // (ux.c + uy.c) AS BIGINT) AS dice_scaled
FROM cxy
JOIN uni ux ON ux.term = string_split(bigram, ' ')[1]
JOIN uni uy ON uy.term = string_split(bigram, ' ')[2]
ORDER BY dice_scaled DESC, bigram
LIMIT {COLLOCATION_TOP_K}
"""


CAP_PER_SOURCE = 20
CAP_SHARDS = 16


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-source downsampling: keep at most 20 docs per source,
    chosen by content-hash order (md5 of the id, not arrival order) so
    the kept set is a deterministic function of the data. The mixture-
    control knob every pretraining pipeline has — one domain cannot
    drown the mix.

    Scale: per-source top-N is the classic hot-key window — ONE source
    could hold half the corpus. Two-phase selection keeps it skew-
    proof: phase 1 ranks within (source, shard) — 16-way spread of the
    hottest source — and keeps N candidates per shard; phase 2 ranks
    the <= 16N survivors per source. The second window's partitions
    are bounded by 16N rows REGARDLESS of source skew; identical
    output to the single-window form (the global top-N by hash is
    always inside the per-shard top-Ns)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(F.col("doc_id"), F.lit(CAP_SHARDS))
    w1 = Window.partitionBy("source", shard).orderBy(h, "doc_id")
    cand = (
        d.select("doc_id", "source", h.alias("h"))
        .withColumn("rk1", F.row_number().over(w1))
        .where(F.col("rk1") <= CAP_PER_SOURCE)
    )
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= CAP_PER_SOURCE)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


SQL_CAP_PER_SOURCE = f"""
SELECT doc_id, source, CAST(rk AS INT) AS rk
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= {CAP_PER_SOURCE}
"""


def q_dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA report: the distribution of exact-duplicate cluster
    sizes (how much of the corpus is 1x, 2x, ... Nx duplicated) — the
    first chart anyone asks for after a dedup run, and the input to
    choosing pairs-vs-assign strategies (pair volume is
    O(Σ cluster²), readable directly off this table).

    Scale: one exchange on sha2(text) with text pruned scan-side
    (count-only agg), then a cluster-count-sized regroup."""
    d = load_table(spark, sf_dir, "documents")
    clusters = d.groupBy(F.sha2(F.col("text"), 256).alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        clusters.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("sz")).cast("bigint").alias("n_docs"),
        )
        .orderBy("sz")
    )


SQL_DUP_CLUSTER_DIST = """
WITH clusters AS (
  SELECT sha256(text) AS h, count(*) AS sz FROM documents GROUP BY 1
)
SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * sz AS BIGINT) AS n_docs
FROM clusters
GROUP BY sz
ORDER BY sz
"""


def q_pipeline_rag_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-ingestion flagship: quality gate -> best-copy
    representative per exact-duplicate cluster -> overlapping chunks.
    The composed daily build that feeds a retrieval index (pair it
    with build_inverted_index / stream_ivf_ingest downstream; the
    full hygiene stack incl. lang-consistency/repetition gates is
    pipeline_corpus_clean — this one keeps retrieval-oriented docs
    that corpus-clean's stricter training gates might drop).

    Scale shape: the gates are narrow and fuse into the scan; the
    representative window is the ONLY exchange, keyed on sha2(text).
    Unlike dedup_keep_best (metadata-only output, text pruned before
    the shuffle), the chunker needs the winner's TEXT, so this is the
    one-text-shuffle design — the unavoidable minimum when the payload
    must survive selection. Chunking then explodes map-side, zero
    further exchanges."""
    from etl_dagster_service_crawler_spark.functions.text import quality_score
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CLEAN_QUALITY_MIN,
    )

    d = load_table(spark, sf_dir, "documents")
    gated = d.where(
        quality_score(F.col("text"), F.col("n_chars")) >= CLEAN_QUALITY_MIN
    )
    w = Window.partitionBy("h").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    reps = (
        gated.withColumn("h", F.sha2(F.col("text"), 256))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    return chunk_transform(reps)


def _rag_ingest_sql() -> str:
    from etl_dagster_service_crawler_spark.workloads.llm import (
        CLEAN_QUALITY_MIN,
    )

    en = ", ".join(f"'{wd}'" for wd in LANG_STOPWORDS["en"])
    return f"""
WITH gated AS (
  SELECT doc_id, text, n_chars
  FROM (SELECT *, string_split(text, ' ') AS w FROM documents)
  WHERE 0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
      + 0.5 * (CAST(len(list_filter(w, x -> list_contains([{en}], x)))
               AS DOUBLE) / CAST(len(w) AS DOUBLE)) >= {CLEAN_QUALITY_MIN}
),
reps AS (
  SELECT doc_id, text
  FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY sha256(text)
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM reps),
starts AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       array_to_string(t[s:s + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
       CAST(least({CHUNK_TOKENS}, len(t) - s + 1) AS INT) AS n_tokens
FROM starts
"""


BIGRAM_COVERAGE_K = 500


def q_bigram_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model coverage per document: the share of a
    doc's bigrams found in the corpus top-K bigram table, in integer
    ppm — the cheap LM-fit proxy (a perplexity stand-in with no float
    log) used to rank docs by how "in-distribution" their phrase
    structure is. Complements oov_rate_vocab (unigram membership) at
    the phrase level.

    Scale: the vocabulary partial-aggregates map-side into ONE
    bigram-keyed exchange + TakeOrdered (vocab-sized); membership is a
    broadcast HASH join on the exploded bigrams — O(1) per probe,
    where the array_contains formulation this replaced paid O(K)
    string compares per bigram (measured 9.1 s at sf0.1 / 90 s at x10
    vs 0.5 s / 3.5 s; the same answer, 26x the cost). The per-doc
    regroup partial-aggregates each doc's contiguous bigrams map-side,
    so its exchange carries doc-count rows, never the bigram stream.
    Tie order (cnt DESC, bigram ASC) pinned on both engines."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    db = dt.select("doc_id", bigrams.alias("bg"))
    top = (
        db.select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(BIGRAM_COVERAGE_K)
        .select("bigram", F.lit(1).alias("hit"))
    )
    exploded = db.select(
        "doc_id", F.size("bg").alias("n_bigrams"), F.explode_outer("bg").alias("bigram")
    )
    return (
        exploded.join(F.broadcast(top), "bigram", "left")
        .groupBy("doc_id", "n_bigrams")
        # keep the hit count BIGINT through the ppm arithmetic: with ANSI
        # mode on, 1000000 * int overflows 32-bit past 2147 hits (a long
        # document at scale) — cast to int only in the final projection
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("in_top_l"))
        .select(
            "doc_id",
            F.col("n_bigrams").cast("int").alias("n_bigrams"),
            F.col("in_top_l").cast("int").alias("in_top"),
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("(1000000 * in_top_l) div n_bigrams"),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("coverage_ppm"),
        )
    )


SQL_BIGRAM_COVERAGE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
db AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN [t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]
              ELSE [] END AS bg
  FROM toks
),
top AS (
  SELECT bigram, count(*) AS cnt
  FROM (SELECT unnest(bg) AS bigram FROM db)
  GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT {BIGRAM_COVERAGE_K}
),
v AS (SELECT list(bigram) AS vocab FROM top)
SELECT doc_id,
       CAST(len(bg) AS INT) AS n_bigrams,
       CAST(len(list_filter(bg, x -> list_contains(vocab, x))) AS INT)
         AS in_top,
       CAST(CASE WHEN len(bg) > 0
            THEN (1000000 * len(list_filter(bg, x -> list_contains(vocab, x))))
                 // len(bg)
            ELSE 0 END AS INT) AS coverage_ppm
FROM db, v
"""


BPE_MERGE_TOP_K = 20


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step over the corpus: the top-K adjacent
    character pairs by corpus frequency — the statistic a tokenizer
    trainer (BPE / WordPiece) computes to pick its next merge. Uses the
    same GPT-2-shaped pretokenizer as token_count_bpe
    (BPE_PRETOKEN_RE), so the two queries describe the same token
    stream before and after budgeting.

    Scale shape — the production BPE-trainer structure (count words
    first, then walk the vocabulary, exactly how HF tokenizers trains):
    the ONLY full-corpus exchange is the pretoken-frequency aggregate,
    map-side combined down to a Zipf-bounded vocabulary; pair
    generation then explodes the VOCAB table (millions of rows, not
    trillions), and the pair aggregate is alphabet^2-bounded. A naive
    explode-pairs-from-documents formulation would shuffle one row per
    character of the corpus. Iterating the real trainer just repeats
    this step on the re-segmented vocab table — each round touches
    only vocab-sized data, never the corpus again.

    Tie order (pair_count DESC, pair ASC) pinned on both engines;
    counts stay BIGINT end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
            )
        ).alias("w")
    ).where(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("wcnt"))
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wcnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wcnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_MERGE_TOP_K)
    )


SQL_BPE_MERGE = f"""
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substring(w, CAST(i AS INT), 2))) AS pair,
         wcnt
  FROM wf
)
SELECT pair, CAST(sum(wcnt) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT {BPE_MERGE_TOP_K}
"""


BPE_TRAIN_MERGES = 6
_BPE_SEP = "\x1f"


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE-trainer loop: BPE_TRAIN_MERGES greedy merge
    rounds over the corpus, returning the learned merge table
    (rank, left, right, corpus pair count) — bpe_merge_pairs is one
    round of this; this is the whole tokenizer-training algorithm.

    Scale shape: the corpus is touched ONCE (the map-side-combined
    word-frequency aggregate, localCheckpointed so iterations never
    re-scan it); every merge round then runs on the Zipf-bounded
    VOCAB frame only — a vocab-local pair aggregate plus a ONE-ROW
    collect of the winning pair (bounded driver traffic, the
    calibrate_nprobe/minhash-CC pattern), with a per-round
    localCheckpoint keeping lineage depth constant. At 100 TB the
    per-merge cost is independent of corpus size; a production
    trainer doing 50k merges would batch non-conflicting merges per
    round to amortize the driver round-trips — the per-round plan is
    unchanged.

    Cross-engine exactness (full DuckDB oracle, unrolled CTE chain):
    each word's segmentation is encoded as concat(SEP||sym||SEP) with
    a DOUBLE separator at internal boundaries, which makes textbook
    greedy left-to-right non-overlapping pair merging IDENTICAL to
    standard replace() semantics in both engines (a run "aaaa" under
    merge (a,a) yields [aa][aa], and a pair can never match across a
    symbol boundary or against a symbol prefix). The winner tie-break
    orders by the raw pair key string on both engines."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d)
    return spark.createDataFrame(
        merges,
        "merge_rank int, merge_left string, merge_right string, "
        "pair_count bigint",
    )


BPE_CHECKPOINT_EVERY = 8  # merge rounds between lineage truncations


def bpe_train(
    d: DataFrame, n_merges: int = BPE_TRAIN_MERGES
) -> list[tuple[int, str, str, int]]:
    """Run the BPE-trainer loop over a documents-shaped frame; returns
    the learned merges as (rank, left, right, corpus_pair_count).
    See q_bpe_train_merges for the scale/exactness contract.

    r14: the vocab frame is localCheckpointed every
    BPE_CHECKPOINT_EVERY rounds instead of every round. The checkpoint
    exists to bound lineage depth (each round stacks one replace()),
    not to cache hot data — a handful of stacked narrow replaces
    re-evaluated from the last checkpoint is cheaper than one eager
    materialization job per round (the loop is driver-latency-bound:
    ~2 jobs/round before, ~1 after — the 6-round bench entry drops a
    full checkpoint job per merge). At a production merge count the
    cadence still bounds plan depth at O(BPE_CHECKPOINT_EVERY)."""
    words = d.select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
            )
        ).alias("w")
    ).where(F.length("w") >= 2)
    wrapped = F.array_join(
        F.transform(
            F.split("w", ""),
            lambda c: F.concat(F.lit(_BPE_SEP), c, F.lit(_BPE_SEP)),
        ),
        "",
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .select(wrapped.alias("r"), "wcnt")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        syms = F.filter(F.split("r", _BPE_SEP), lambda x: x != F.lit(""))
        s = vocab.select(syms.alias("s"), "wcnt")
        pk = F.zip_with(
            F.slice("s", 1, F.size("s") - 1),
            F.slice("s", 2, F.size("s") - 1),
            lambda a, b: F.concat(a, F.lit(_BPE_SEP), b),
        )
        best = (
            s.where(F.size("s") >= 2)
            .select(F.explode(pk).alias("pk"), "wcnt")
            .groupBy("pk")
            .agg(F.sum("wcnt").alias("c"))
            .orderBy(F.desc("c"), "pk")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right = best[0]["pk"].split(_BPE_SEP)
        merges.append((rank, left, right, int(best[0]["c"])))
        pat = _BPE_SEP + left + _BPE_SEP + _BPE_SEP + right + _BPE_SEP
        rep = _BPE_SEP + left + right + _BPE_SEP
        vocab = vocab.select(
            F.replace(F.col("r"), F.lit(pat), F.lit(rep)).alias("r"), "wcnt"
        )
        if rank % BPE_CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges


# Per-WORKER segmentation memo (r7 verdict item 6): module-level state
# survives across Arrow batches and across tasks inside one reused
# Python worker (spark.python.worker.reuse default) — the per-batch
# dict the UDF used to close over reset every batch, so the "vocab-
# sized per executor" claim was false. Keyed by the merge table's
# identity: one worker can serve UDFs trained on DIFFERENT corpora
# (the test suite does exactly that), and a word's segmentation under
# one merge table must never answer for another. Size is bounded by
# distinct-words-per-merge-table (Zipf/vocab-bounded by nature).
_SEGMENT_MEMO: dict[tuple, dict[str, int]] = {}


def bpe_segment_count(
    w: str, ranks: dict[tuple[str, str], int], ranks_key: tuple
) -> int:
    """Priority-based BPE segmentation of one pretoken: apply the
    lowest-rank present merge, exhaustively left-to-right, until no
    merge applies; returns the surviving symbol count. Memoized in
    _SEGMENT_MEMO[ranks_key] (see above)."""
    memo = _SEGMENT_MEMO.setdefault(ranks_key, {})
    hit = memo.get(w)
    if hit is not None:
        return hit
    syms = list(w)
    while True:
        present = [
            (syms[i], syms[i + 1])
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not present:
            break
        left, right = min(present, key=ranks.__getitem__)
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == left
                and syms[i + 1] == right
            ):
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    memo[w] = len(syms)
    return memo[w]


# batched-trainer knobs: BPE_BATCH_SIZE merges committed per driver
# round-trip, greedily picked (count desc, pk) among the TOP
# BPE_BATCH_WINDOW pairs subject to symbol-disjointness. The window
# bound is part of the ALGORITHM (both engines implement "greedy over
# the top-K frontier"), which is what keeps driver traffic bounded AND
# the oracle exact.
BPE_BATCH_SIZE = 3
BPE_BATCH_WINDOW = 48


def bpe_train_batched(
    d: DataFrame,
    n_rounds: int = BPE_TRAIN_MERGES // BPE_BATCH_SIZE,
    batch: int = BPE_BATCH_SIZE,
    window: int = BPE_BATCH_WINDOW,
) -> list[tuple[int, str, str, int]]:
    """The batched BPE trainer (r7 verdict item 5): per round, ONE
    pair-count aggregate, ONE bounded collect (the top-`window`
    frontier), a greedy symbol-DISJOINT pick of up to `batch` merges,
    ONE re-segmentation pass and ONE localCheckpoint. Symbol-disjoint
    picks cannot interact — merging (a,b) can neither create nor
    destroy occurrences of (c,d) when {a,b} ∩ {c,d} = ∅ — so every
    committed count is the true round-start corpus count and the
    replace applications commute. This is the standard trainer
    amortization: a 50k-merge vocabulary at batch 256 pays ~200
    driver round-trips instead of 50k (docs/SCALE.md, BPE trainer
    round-count envelope).

    Deviation from the sequential trainer is the documented batched
    semantics (a merge created THIS round cannot be consumed until
    next round); with batch=1 the output equals bpe_train exactly
    (pinned by test). Ranks are positional — (round-1)*batch + pick
    index — identically in the oracle, so a short round leaves rank
    holes rather than disagreeing with the SQL.

    Returns (rank, left, right, round_start_pair_count) rows."""
    words = d.select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
            )
        ).alias("w")
    ).where(F.length("w") >= 2)
    wrapped = F.array_join(
        F.transform(
            F.split("w", ""),
            lambda c: F.concat(F.lit(_BPE_SEP), c, F.lit(_BPE_SEP)),
        ),
        "",
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .select(wrapped.alias("r"), "wcnt")
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(n_rounds):
        syms = F.filter(F.split("r", _BPE_SEP), lambda x: x != F.lit(""))
        s = vocab.select(syms.alias("s"), "wcnt")
        pk = F.zip_with(
            F.slice("s", 1, F.size("s") - 1),
            F.slice("s", 2, F.size("s") - 1),
            lambda a, b: F.concat(a, F.lit(_BPE_SEP), b),
        )
        frontier = (
            s.where(F.size("s") >= 2)
            .select(F.explode(pk).alias("pk"), "wcnt")
            .groupBy("pk")
            .agg(F.sum("wcnt").alias("c"))
            .orderBy(F.desc("c"), "pk")
            .limit(window)
            .collect()
        )
        used: set[str] = set()
        picks: list[tuple[int, str, str, int]] = []
        for row in frontier:
            left, right = row["pk"].split(_BPE_SEP)
            if left in used or right in used:
                continue
            picks.append(
                (rnd * batch + len(picks) + 1, left, right, int(row["c"]))
            )
            used.update((left, right))
            if len(picks) == batch:
                break
        if not picks:
            break
        merges.extend(picks)
        col = F.col("r")
        for _, left, right, _ in picks:
            pat = _BPE_SEP + left + _BPE_SEP + _BPE_SEP + right + _BPE_SEP
            rep = _BPE_SEP + left + right + _BPE_SEP
            col = F.replace(col, F.lit(pat), F.lit(rep))
        vocab = vocab.select(col.alias("r"), "wcnt")
        # lineage bound, not a cache: truncate every few rounds instead
        # of paying one eager materialization job per round (see
        # bpe_train's r14 note)
        if (rnd + 1) % BPE_CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges


def q_bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched trainer as a declared capability (full unrolled
    DuckDB oracle, like the sequential twin): BPE_TRAIN_MERGES //
    BPE_BATCH_SIZE rounds of greedy symbol-disjoint top-BPE_BATCH_SIZE
    picks over the top-BPE_BATCH_WINDOW frontier. See bpe_train_batched
    for the algorithm and the 100 TB rationale."""
    d = load_table(spark, sf_dir, "documents")
    return spark.createDataFrame(
        bpe_train_batched(d),
        "merge_rank int, merge_left string, merge_right string, "
        "pair_count bigint",
    )


def q_tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer INFERENCE over the corpus with the merges the corpus
    itself trained (train + apply, end-to-end): per document, the
    pretoken count and the subword count after applying the
    BPE_TRAIN_MERGES learned merges — the real token budget that
    token_count_bpe's ceil(len/4) heuristic approximates.

    Applying merges in RANK ORDER, each exhaustively left-to-right,
    is exactly priority-based BPE segmentation: a merge's output
    symbol can only ever participate in HIGHER-rank pairs (the merge
    creating a symbol precedes every merge consuming it), and merging
    never makes two pre-existing symbols newly adjacent — so once
    rank r is exhausted, no pair of rank <= r can reappear.

    Scale: training touches the corpus once (see bpe_train); the
    apply stage embeds the 6 winners as literal expressions — a
    zero-exchange map-only pass (the 50k-merge production variant
    broadcasts the merge table into a Pandas-UDF segmenter; this
    expression form is the exact-oracle demonstrator)."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d)
    dt = d.select(
        "doc_id",
        F.regexp_extract_all(
            F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
        ).alias("ws"),
    )

    def seg_units(w):
        e = F.array_join(
            F.transform(
                F.split(w, ""),
                lambda c: F.concat(F.lit(_BPE_SEP), c, F.lit(_BPE_SEP)),
            ),
            "",
        )
        for _, left, right, _ in merges:
            pat = _BPE_SEP + left + _BPE_SEP + _BPE_SEP + right + _BPE_SEP
            rep = _BPE_SEP + left + right + _BPE_SEP
            e = F.replace(e, F.lit(pat), F.lit(rep))
        # each symbol is wrapped in exactly two separators
        return (
            F.length(e) - F.length(F.replace(e, F.lit(_BPE_SEP), F.lit("")))
        ) / 2

    units = F.aggregate(
        "ws", F.lit(0).cast("bigint"),
        lambda acc, w: acc + seg_units(w).cast("bigint"),
    )
    return dt.select(
        "doc_id",
        F.size("ws").cast("int").alias("n_pretokens"),
        units.cast("int").alias("n_subwords"),
    )


def q_tokenizer_apply_bpe_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-SCALE twin of q_tokenizer_apply_bpe: identical
    output (same oracle), but the apply stage is an Arrow-batched
    pandas UDF running a priority-based segmenter against the
    broadcast merge-rank table — the shape a real tokenizer needs,
    because a 50k-merge vocabulary cannot be a 50k-deep nested
    replace() expression. Segmentation memoizes per distinct word in
    the module-level _SEGMENT_MEMO — genuinely per Python WORKER
    (survives Arrow batches and reused-worker tasks, keyed by the
    merge table so corpora never collide) — so under a Zipf corpus the
    effective segmentation work is vocab-sized per worker, not
    corpus-sized; Arrow batches keep the Python boundary amortized
    (docs/SCALE.md "Python boundary").

    Equivalence to the expression form (rank-order exhaustive ==
    priority-based) is proven in q_tokenizer_apply_bpe's docstring and
    pinned by tests on both variants against the same recompute."""
    from pyspark.sql.functions import pandas_udf

    d = load_table(spark, sf_dir, "documents")
    ranks = {(left, right): rank for rank, left, right, _ in bpe_train(d)}
    ranks_key = tuple(sorted((l, r, rk) for (l, r), rk in ranks.items()))

    @pandas_udf("integer")
    def n_subwords_udf(ws: pd.Series) -> pd.Series:
        return ws.map(
            lambda words: sum(
                bpe_segment_count(w, ranks, ranks_key) for w in words
            )
        )

    dt = d.select(
        "doc_id",
        F.regexp_extract_all(
            F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
        ).alias("ws"),
    )
    return dt.select(
        "doc_id",
        F.size("ws").cast("int").alias("n_pretokens"),
        n_subwords_udf("ws").alias("n_subwords"),
    )


def _tokenizer_apply_sql(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Oracle for q_tokenizer_apply_bpe: the trainer CTE chain from
    _bpe_train_sql, a 1-row m CTE cross-joining the n winners, and a
    per-doc apply whose replace chain nests the winners in rank
    order."""
    sep = "chr(31)"
    blocks = f"WITH {','.join(_bpe_train_blocks(n_merges))}"
    m_cols = ", ".join(
        f"string_split(b{i}.pk, {sep})[1] AS l{i}, "
        f"string_split(b{i}.pk, {sep})[2] AS r{i}"
        for i in range(1, n_merges + 1)
    )
    m_from = ", ".join(f"b{i}" for i in range(1, n_merges + 1))
    expr = (
        f"list_aggregate(list_transform(string_split_regex(w, ''), "
        f"c -> {sep} || c || {sep}), 'string_agg', '')"
    )
    for i in range(1, n_merges + 1):
        expr = (
            f"replace({expr}, {sep} || l{i} || {sep} || {sep} || r{i} || {sep},"
            f" {sep} || l{i} || r{i} || {sep})"
        )
    return f"""{blocks},
m AS (SELECT {m_cols} FROM {m_from})
SELECT doc_id,
       CAST(len(ws) AS INT) AS n_pretokens,
       CAST(coalesce(list_sum(list_transform(ws,
            w -> (length({expr}) - length(replace({expr}, {sep}, ''))) // 2)),
            0) AS INT) AS n_subwords
FROM (SELECT doc_id, regexp_extract_all(text, '{BPE_PRETOKEN_RE}') AS ws
      FROM documents), m
"""


def _bpe_v0_block() -> str:
    """The wrapped word-frequency vocab CTE shared by the sequential
    trainer, the tokenizer-apply, and the batched-trainer oracles."""
    sep = "chr(31)"
    return f"""
v0 AS (
  SELECT list_aggregate(list_transform(string_split_regex(w, ''),
             c -> {sep} || c || {sep}), 'string_agg', '') AS r,
         CAST(count(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
)"""


def _bpe_train_blocks(n_merges: int) -> list[str]:
    """The unrolled trainer CTE chain: v0 is the wrapped word-
    frequency vocab; each round i derives pair counts p{i}, the
    one-row winner b{i}, and the re-segmented vocab v{i} (replace
    with the winner's wrapped pattern via a 1-row cross join).
    Shared by the trainer oracle and the tokenizer-apply oracle."""
    sep = "chr(31)"
    blocks = [_bpe_v0_block()]
    for i in range(1, n_merges + 1):
        blocks.append(f"""
p{i} AS (
  SELECT unnest(list_transform(range(1, len(s)),
                               j -> s[j] || {sep} || s[j + 1])) AS pk,
         wcnt
  FROM (SELECT list_filter(string_split(r, {sep}), x -> x <> '') AS s,
               wcnt
        FROM v{i - 1})
),
b{i} AS (
  SELECT pk, CAST(sum(wcnt) AS BIGINT) AS c
  FROM p{i} GROUP BY pk
  ORDER BY c DESC, pk LIMIT 1
),
v{i} AS (
  SELECT replace(v.r,
           {sep} || string_split(b.pk, {sep})[1] || {sep} ||
           {sep} || string_split(b.pk, {sep})[2] || {sep},
           {sep} || string_split(b.pk, {sep})[1] ||
                    string_split(b.pk, {sep})[2] || {sep}) AS r,
         v.wcnt
  FROM v{i - 1} v, b{i} b
)""")
    return blocks


def _bpe_train_sql(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Oracle for q_bpe_train_merges: the trainer CTE chain plus the
    UNION of the n one-row winners as the merge table."""
    sep = "chr(31)"
    blocks = _bpe_train_blocks(n_merges)
    selects = "\n  UNION ALL\n".join(
        f"""  SELECT {i} AS merge_rank,
         string_split(pk, {sep})[1] AS merge_left,
         string_split(pk, {sep})[2] AS merge_right,
         c AS pair_count
  FROM b{i}"""
        for i in range(1, n_merges + 1)
    )
    return f"WITH {','.join(blocks)}\n{selects}"


def _bpe_train_batched_sql(
    n_rounds: int = BPE_TRAIN_MERGES // BPE_BATCH_SIZE,
    batch: int = BPE_BATCH_SIZE,
    window: int = BPE_BATCH_WINDOW,
) -> str:
    """Oracle for q_bpe_train_merges_batched — the batched trainer
    unrolled: per round, a top-`window` frontier CTE, `batch` chained
    greedy-disjoint selection CTEs (pick j = highest (c desc, pk)
    frontier row sharing no symbol with picks 1..j-1 — exactly the
    Spark greedy walk), and one apply CTE whose replace chain uses
    chr(0) no-op sentinels so a short round degrades identically on
    both engines."""
    sep = "chr(31)"
    blocks = [_bpe_v0_block()]
    selects = []
    for r in range(1, n_rounds + 1):
        blocks.append(f"""
t{r} AS (
  SELECT pk, CAST(sum(wcnt) AS BIGINT) AS c
  FROM (SELECT unnest(list_transform(range(1, len(s)),
                                     j -> s[j] || {sep} || s[j + 1])) AS pk,
               wcnt
        FROM (SELECT list_filter(string_split(r, {sep}), x -> x <> '') AS s,
                     wcnt
              FROM v{r - 1}))
  GROUP BY pk
  ORDER BY c DESC, pk LIMIT {window}
)""")
        for j in range(1, batch + 1):
            if j == 1:
                blocks.append(
                    f"\ns{r}_1 AS (SELECT pk, c FROM t{r} "
                    f"ORDER BY c DESC, pk LIMIT 1)"
                )
            else:
                prior = " UNION ALL ".join(
                    f"SELECT pk FROM s{r}_{i}" for i in range(1, j)
                )
                blocks.append(f"""
s{r}_{j} AS (
  SELECT t.pk, t.c FROM t{r} t
  WHERE NOT EXISTS (
    SELECT 1 FROM ({prior}) p
    WHERE string_split(t.pk, {sep})[1]
            IN (string_split(p.pk, {sep})[1], string_split(p.pk, {sep})[2])
       OR string_split(t.pk, {sep})[2]
            IN (string_split(p.pk, {sep})[1], string_split(p.pk, {sep})[2]))
  ORDER BY t.c DESC, t.pk LIMIT 1
)""")
            selects.append(
                f"""  SELECT CAST({(r - 1) * batch + j} AS INT) AS merge_rank,
         string_split(pk, {sep})[1] AS merge_left,
         string_split(pk, {sep})[2] AS merge_right,
         c AS pair_count
  FROM s{r}_{j}"""
            )
        reps = "v.r"
        for j in range(1, batch + 1):
            pat = (
                f"coalesce((SELECT {sep} || string_split(pk, {sep})[1] || {sep}"
                f" || {sep} || string_split(pk, {sep})[2] || {sep}"
                f" FROM s{r}_{j}), chr(0))"
            )
            rep = (
                f"coalesce((SELECT {sep} || string_split(pk, {sep})[1]"
                f" || string_split(pk, {sep})[2] || {sep}"
                f" FROM s{r}_{j}), chr(0))"
            )
            reps = f"replace({reps}, {pat}, {rep})"
        blocks.append(f"""
v{r} AS (
  SELECT {reps} AS r, v.wcnt FROM v{r - 1} v
)""")
    union = "\n  UNION ALL\n".join(selects)
    return f"WITH {','.join(blocks)}\n{union}"


SQL_BPE_TRAIN = _bpe_train_sql()
SQL_BPE_TRAIN_BATCHED = _bpe_train_batched_sql()
SQL_TOKENIZER_APPLY = _tokenizer_apply_sql()


# --- r9: segment-level dedup + cross-source overlap --------------------------

SEG_TOKENS = 32


def _segment_hashes(d: DataFrame, key_col: str) -> DataFrame:
    """(key_col, seg_idx, h): md5 of every non-overlapping
    SEG_TOKENS-word window — the ONE definition of segment identity,
    shared by dedup_segment_exact and cross_source_dup_overlap and
    mirrored exactly by _sql_segment_hashes (post-review factoring:
    four copies of the boundary rule would drift). Segment text hashes
    in place and never leaves its row."""
    dt = d.select(key_col, tokens_ws(F.col("text")).alias("t"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(SEG_TOKENS)
    )
    return dt.select(
        key_col, F.explode(starts).alias("s"), F.col("t")
    ).select(
        key_col,
        ((F.col("s") - 1) / SEG_TOKENS).cast("int").alias("seg_idx"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("s"), SEG_TOKENS)))
        .alias("h"),
    )


def _sql_segment_hashes(key_col: str) -> str:
    """DuckDB twin of _segment_hashes as a `toks`+`segs` CTE pair."""
    return f"""toks AS (
  SELECT {key_col}, string_split(text, ' ') AS t FROM documents
),
segs AS (
  SELECT {key_col},
         CAST((s - 1) // {SEG_TOKENS} AS INT) AS seg_idx,
         md5(array_to_string(t[s:s + {SEG_TOKENS - 1}], ' ')) AS h
  FROM (
    SELECT {key_col}, t,
           unnest(generate_series(1, greatest(len(t), 1), {SEG_TOKENS})) AS s
    FROM toks
  )
)"""


def _source_overlap_pairs(d: DataFrame) -> DataFrame:
    """(src_a, src_b, shared_segments): distinct shared SEG_TOKENS-word
    segments per unordered source pair — the ONE definition of the
    source-overlap relation, shared by cross_source_dup_overlap (the
    matrix) and source_mirror_communities (the graph) and mirrored by
    _sql_source_overlap (post-review factoring, same argument as
    _segment_hashes)."""
    sh = _segment_hashes(d, "source").select("source", "h").distinct()
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_segments"))
    )


def _sql_source_overlap() -> str:
    """DuckDB twin of _source_overlap_pairs: the segment CTEs plus
    sh/pairs, with pairs carrying shared_segments."""
    return f"""{_sql_segment_hashes("source")},
sh AS (SELECT DISTINCT source, h FROM segs),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS INT) AS shared_segments
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)"""


def q_dedup_segment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (the MassiveText/CCNet 'paragraph
    dedup' shape on a corpus with no line structure): chunk every doc
    into non-overlapping SEG_TOKENS-word segments, keep the first
    occurrence of each distinct segment corpus-wide (smallest
    (doc_id, seg_idx)), and report per doc how much survives — the
    within-and-across-document repetition remover that whole-doc dedup
    cannot express (a doc that copies half of another is untouched by
    dedup_exact, halved here).

    Scale: segments are hashed IN PLACE (md5) — segment text never
    shuffles; the one exchange carries (hash, doc_id, seg_idx) triples;
    the keeper rule is a hash-partitioned window; the per-doc rollup
    regroups by doc_id. Same discipline as boilerplate_window_flags."""
    d = load_table(spark, sf_dir, "documents")
    segs = _segment_hashes(d, "doc_id")
    wk = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    kept = segs.withColumn(
        "k", F.when(F.row_number().over(wk) == 1, 1).otherwise(0)
    )
    n = F.count(F.lit(1))
    return kept.groupBy("doc_id").agg(
        n.cast("int").alias("n_segments"),
        F.sum("k").cast("int").alias("kept_segments"),
        (n - F.sum("k")).cast("int").alias("dropped_segments"),
        F.expr(
            "CAST(((count(1) - sum(k)) * 10000) DIV count(1) AS INT)"
        ).alias("drop_bp"),
    )


SQL_DEDUP_SEGMENT = f"""
WITH {_sql_segment_hashes("doc_id")},
kept AS (
  SELECT doc_id,
         CASE WHEN row_number() OVER (PARTITION BY h
                                      ORDER BY doc_id, seg_idx) = 1
              THEN 1 ELSE 0 END AS k
  FROM segs
)
SELECT doc_id, CAST(count(*) AS INT) AS n_segments,
       CAST(sum(k) AS INT) AS kept_segments,
       CAST(count(*) - sum(k) AS INT) AS dropped_segments,
       CAST(((count(*) - sum(k)) * 10000) // count(*) AS INT) AS drop_bp
FROM kept GROUP BY doc_id
"""


def q_cross_source_dup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source
    pair, how many distinct SEG_TOKENS-word segments appear in BOTH —
    the diagnostic that tells a mixture designer which 'independent'
    sources actually share material (and that dedup/decontamination
    must run across, not within, them). Segment granularity, not
    whole-doc: mirrors rarely ship byte-identical documents, they
    ship overlapping content.

    Scale: segments hash to md5 scan-side — segment text never
    shuffles; the (source, hash) frame is distinct-reduced BEFORE the
    self-join (shared material is small by definition), and the pair
    join is an equi-join on the hash — Σ per-hash |sources|², never
    corpus-sized."""
    return _source_overlap_pairs(load_table(spark, sf_dir, "documents"))


def _sql_cross_source_dup() -> str:
    return f"""
WITH {_sql_source_overlap()}
SELECT src_a, src_b, shared_segments FROM pairs
"""


SPECS: list[QuerySpec] = [
    QuerySpec("dedup_segment_exact", q_dedup_segment_exact, SQL_DEDUP_SEGMENT),
    QuerySpec(
        "cross_source_dup_overlap",
        q_cross_source_dup_overlap,
        _sql_cross_source_dup(),
    ),
    # r9: CC over the source-overlap graph through the shared
    # label-propagation loop; iterative loop oracle-checked via
    # recursive CTE (the semantic_dedup_clusters pattern)
    QuerySpec(
        "source_mirror_communities",
        q_source_mirror_communities,
        _sql_source_mirror(),
    ),
    QuerySpec(
        "quality_bin_sample", q_quality_bin_sample, SQL_QUALITY_BIN, bench=True
    ),
    QuerySpec("cap_per_source", q_cap_per_source, SQL_CAP_PER_SOURCE),
    QuerySpec("vocab_top_terms", q_vocab_top_terms, SQL_VOCAB, bench=True),
    QuerySpec("salient_terms_tfidf", q_salient_terms_tfidf, SQL_SALIENT),
    QuerySpec(
        "build_inverted_index", q_build_inverted_index, SQL_INVERTED_INDEX
    ),
    QuerySpec(
        "sink_index_sidecar_apply",
        q_sink_index_sidecar_apply,
        SQL_INDEX_SIDECAR_APPLY,
    ),
    QuerySpec("search_conjunctive", q_search_conjunctive, SQL_SEARCH),
    # r13: the index family's consume leg — sidecar-served search,
    # value-hash-checked against the direct corpus scan
    QuerySpec(
        "search_conjunctive_indexed", q_search_conjunctive_indexed, SQL_SEARCH
    ),
    # r10: Okapi BM25 ranked retrieval — the relevance scorer over the
    # search family, cross-engine float discipline per token_entropy
    QuerySpec(
        "search_bm25_topk", q_search_bm25_topk, SQL_SEARCH_BM25, bench=True
    ),
    # r10: CCNet-style LM perplexity filter — bits-per-bigram under the
    # in-plan corpus bigram LM, add-1 smoothed
    QuerySpec(
        "doc_perplexity_bigram",
        q_doc_perplexity_bigram,
        SQL_DOC_PERPLEXITY,
        bench=True,
    ),
    # r10: the vocab-size-picking coverage curve (integer ppm)
    QuerySpec(
        "vocab_coverage_curve",
        q_vocab_coverage_curve,
        SQL_VOCAB_COVERAGE_CURVE,
    ),
    # r10: the persisted bigram-LM sidecar — build+write+read-back
    # oracle-checked; the perplexity scorer reads it (graph-sidecar
    # discipline); benched so the build cost stays visible
    QuerySpec(
        "sink_lm_sidecar", q_sink_lm_sidecar, SQL_LM_SIDECAR, bench=True
    ),
    QuerySpec(
        "sink_lm_sidecar_apply", q_sink_lm_sidecar_apply, SQL_LM_SIDECAR_APPLY
    ),
    QuerySpec("bigram_collocations", q_bigram_collocations, SQL_COLLOCATIONS),
    QuerySpec("chunk_documents", q_chunk_documents, SQL_CHUNK),
    QuerySpec(
        "boilerplate_window_flags", q_boilerplate_window_flags, SQL_BOILER,
        bench=True,
    ),
    QuerySpec("boilerplate_strip", q_boilerplate_strip, SQL_BOILER_STRIP),
    # r8: the Lee-et-al exact-substring duplication statistic
    QuerySpec(
        "dup_span_coverage", q_dup_span_coverage, SQL_DUP_SPAN_COVERAGE
    ),
    QuerySpec(
        "dedup_span_strip", q_dedup_span_strip, SQL_DEDUP_SPAN_STRIP,
        bench=True,
    ),
    QuerySpec("dedup_keep_best", q_dedup_keep_best, SQL_KEEP_BEST),
    # r10: the crawler's natural record identity — canonical-URL
    # first-wins dedup (reference test.py:417-419 key derivation + Q2)
    QuerySpec(
        "dedup_url_canonical", q_dedup_url_canonical,
        _sql_dedup_url_canonical(),
    ),
    QuerySpec("knn_join_ivf", q_knn_join_ivf, None, bench=True),
    # r15: the IVF index build as a first-class benched sink — the
    # train+assign+write cost was previously amortized into a /tmp
    # cache and appeared in no timed entry (VERDICT r14 item 2)
    QuerySpec("sink_ivf_index", q_sink_ivf_index, None, bench=True),
    # the routed production entry (r7 item 1): IVF when the corpus
    # clusters, quantized block scan when calibration shows IVF
    # degenerating — bench tracks the routed cost
    QuerySpec("knn_join_auto", q_knn_join_auto, None, bench=True),
    QuerySpec(
        "pipeline_rag_ingest", q_pipeline_rag_ingest, _rag_ingest_sql(), bench=True
    ),
    QuerySpec(
        "dup_cluster_size_dist", q_dup_cluster_size_dist, SQL_DUP_CLUSTER_DIST
    ),
    QuerySpec("token_count_bpe", q_token_count_bpe, SQL_TOKEN_BPE),
    QuerySpec(
        "token_entropy_score", q_token_entropy_score, SQL_TOKEN_ENTROPY, bench=True
    ),
    QuerySpec("oov_rate_vocab", q_oov_rate_vocab, SQL_OOV_RATE),
    QuerySpec("bigram_lm_coverage", q_bigram_lm_coverage, SQL_BIGRAM_COVERAGE),
    QuerySpec("bpe_merge_pairs", q_bpe_merge_pairs, SQL_BPE_MERGE),
    # bench: the iterative trainer is the novel cost shape here (one
    # corpus exchange + N vocab-local rounds) — track its curve
    QuerySpec("bpe_train_merges", q_bpe_train_merges, SQL_BPE_TRAIN, bench=True),
    # r8: the production round-count amortization (one driver trip per
    # BATCH of disjoint merges), oracle-unrolled like the sequential twin
    QuerySpec(
        "bpe_train_merges_batched", q_bpe_train_merges_batched,
        SQL_BPE_TRAIN_BATCHED, bench=True,
    ),
    # r11: sequence packing — scalable two-level prefix sum vs the
    # oracle's plain window cumsum (same values, scalable plan)
    QuerySpec("pack_sequences", q_pack_sequences, SQL_PACK_SEQUENCES),
    QuerySpec(
        "pack_sequences_report", q_pack_sequences_report, SQL_PACK_REPORT
    ),
    QuerySpec("tokenizer_apply_bpe", q_tokenizer_apply_bpe, SQL_TOKENIZER_APPLY),
    # identical semantics and output => shares the exact oracle
    QuerySpec(
        "tokenizer_apply_bpe_udf", q_tokenizer_apply_bpe_udf, SQL_TOKENIZER_APPLY
    ),
]
