"""LLM-data-pipeline operator surface (BASELINE.json north-star:
dedup, similarity search, multimodal columns, text analysis).

Oracle-checkable entries verify exact semantics against DuckDB;
approximate/bucketed ops (MinHash LSH, SimHash, IVF) are rows-only by
nature — their exact counterparts (ngram jaccard, brute-force top-k)
ARE oracle-checked, so the approximation layers sit on verified math.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_dagster_service_crawler_spark.core import QuerySpec
from etl_dagster_service_crawler_spark.functions.compat import fround
from etl_dagster_service_crawler_spark.functions.text import (
    BPE_ISH_PATTERN,
    LANG_STOPWORDS,
    fingerprint_md5,
    fingerprint_rolling,
    lang_id,
    quality_score,
    token_count_bpe_ish,
    token_count_ws,
    tokens_ws,
    word_ngrams,
)
from etl_dagster_service_crawler_spark.functions.vectors import cosine, dot
from etl_dagster_service_crawler_spark.io.tables import load_table
from etl_dagster_service_crawler_spark.operators.dedup import (
    dedup_exact,
    make_affine_min_sig_udf,
    minhash_assign_representatives,
    minhash_cluster_cc,
    minhash_dedup_pairs,
    simhash_near_pairs,
)
from etl_dagster_service_crawler_spark.operators.multimodal import (
    build_multimodal,
    extract_features,
    frame_sample,
)
from etl_dagster_service_crawler_spark.operators.similarity import (
    cosine_topk_bruteforce,
    ivf_build,
    ivf_search,
    quantized_rerank_topk,
    srp_neardup_pairs,
)

# --- text analysis -----------------------------------------------------------


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws"),
        token_count_bpe_ish(F.col("text")).alias("n_bpe"),
    )


SQL_TOKEN_COUNT = rf"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT) AS n_bpe
FROM documents
"""


def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(tokens_ws(F.col("text")), 3)
    return d.where(F.col("doc_id") < 50).select(
        "doc_id", F.explode(grams).alias("ng")
    )


SQL_NGRAMS = """
SELECT doc_id,
       unnest([array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(len(t)-1, 1))]) AS ng
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50)
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def lang_guess_sql(words: str) -> tuple[str, str]:
    """The DuckDB twin of lang_id over a word-list SQL expression:
    (hit_cols, guess) — one `h_<lang>` stopword-hit column per language
    and the CASE that picks the language with the most hits (ties to
    the first in LANG_STOPWORDS order, no hit -> 'und'). The guess
    reads the h_ columns, so it runs one SELECT level above them."""
    langs = list(LANG_STOPWORDS)
    hits = {
        lang: (
            f"len(list_filter({words}, x -> list_contains(["
            + ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
            + "], x)))"
        )
        for lang in langs
    }
    whens = []
    for lang in langs:
        conds = [f"h_{lang} >= h_{other}" for other in langs if other != lang]
        conds.append(f"h_{lang} > 0")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    hit_cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    return hit_cols, f"CASE {' '.join(whens)} ELSE 'und' END"


def _lang_id_sql() -> str:
    hit_cols, guess = lang_guess_sql("string_split(text,' ')")
    return f"""
SELECT doc_id, {guess} AS lang_guess
FROM (SELECT doc_id, {hit_cols} FROM documents)
"""


def q_lang_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared `lang` vs the n-gram
    classifier's guess, counted per pair — the audit run before
    trusting lang_id to route a corpus into language buckets (a
    classifier that silently dumps one language into 'und' poisons
    the mixture weights downstream). Map-side classification, ONE
    (lang, guess) aggregation exchange."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang", "lang_guess")
    )


def _lang_confusion_sql() -> str:
    return f"""
WITH g AS ({_lang_id_sql()})
SELECT d.lang, g.lang_guess, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN g ON d.doc_id = g.doc_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", quality_score(F.col("text"), F.col("n_chars")).alias("score")
    )


_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
SQL_QUALITY_SCORE = f"""
SELECT doc_id,
       0.5 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
     + 0.5 * (CAST(len(list_filter(t, x -> list_contains([{_EN}], x))) AS DOUBLE)
              / CAST(len(t) AS DOUBLE)) AS score
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000


def gopher_rules_transform(d: DataFrame) -> DataFrame:
    """The rule-battery projection over a documents-shaped frame —
    shared by the batch query and its streaming twin (row-level
    expressions commute with streaming, so both drain to the same
    rows and share one oracle)."""
    en = LANG_STOPWORDS["en"]
    t = tokens_ws(F.col("text"))
    dt = d.select(
        "doc_id",
        F.size(t).cast("int").alias("n_words"),
        F.aggregate(
            t, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        ).alias("n_wchars"),
        F.size(F.array_distinct(t)).cast("int").alias("n_distinct"),
        F.size(F.filter(t, lambda w: F.length(w) <= 2)).cast("int").alias(
            "n_short"
        ),
        F.size(F.filter(t, lambda w: w.isin(en))).cast("int").alias("n_stop"),
    )
    r_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_meanlen = (F.col("n_wchars") >= 3 * F.col("n_words")) & (
        F.col("n_wchars") <= 10 * F.col("n_words")
    )
    r_stop = F.col("n_stop") >= 2
    r_distinct = 5 * F.col("n_distinct") >= F.col("n_words")
    r_short = 10 * F.col("n_short") <= 3 * F.col("n_words")
    return dt.select(
        "doc_id",
        "n_words",
        r_words.cast("int").alias("r_words"),
        r_meanlen.cast("int").alias("r_meanlen"),
        r_stop.cast("int").alias("r_stop"),
        r_distinct.cast("int").alias("r_distinct"),
        r_short.cast("int").alias("r_short"),
        (r_words & r_meanlen & r_stop & r_distinct & r_short)
        .cast("int")
        .alias("keep"),
    )


def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (the Rae et al. heuristic
    battery every pretraining pipeline runs before a learned filter),
    adapted to the fixture corpus: word-count bounds, mean-word-length
    band, stopword presence, distinct-word ratio, and short-word share
    — one boolean per rule plus the conjunction, so downstream can
    audit WHICH rule rejected a doc (the artifact a curation run
    actually needs, vs a single opaque score).

    Every rule compares exact integers (counts and cross-multiplied
    ratios — 3*n <= chars <= 10*n instead of a float mean), so the
    flags are deterministic and fully value-hash oracle-checkable.
    Scale: shuffle-free map-only HOF pass, 100 TB in -> doc-count rows
    out, zero exchanges (plan-pinned)."""
    return gopher_rules_transform(load_table(spark, sf_dir, "documents"))


SQL_GOPHER_RULES = f"""
WITH s AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_words,
         CAST(coalesce(list_sum(list_transform(t, w -> len(w))), 0)
              AS BIGINT) AS n_wchars,
         CAST(len(list_distinct(t)) AS INT) AS n_distinct,
         CAST(len(list_filter(t, w -> len(w) <= 2)) AS INT) AS n_short,
         CAST(len(list_filter(t, w -> list_contains([{_EN}], w))) AS INT)
           AS n_stop
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
SELECT doc_id, n_words,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS INT)
         AS r_words,
       CAST(n_wchars >= 3 * n_words AND n_wchars <= 10 * n_words AS INT)
         AS r_meanlen,
       CAST(n_stop >= 2 AS INT) AS r_stop,
       CAST(5 * n_distinct >= n_words AS INT) AS r_distinct,
       CAST(10 * n_short <= 3 * n_words AS INT) AS r_short,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND n_wchars >= 3 * n_words AND n_wchars <= 10 * n_words
            AND n_stop >= 2
            AND 5 * n_distinct >= n_words
            AND 10 * n_short <= 3 * n_words AS INT) AS keep
FROM s
"""


QC_WEIGHT_BUCKETS = 2001
QC_KEEP_MIL = 1_000_000


def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference at corpus scale — the
    fasttext-filter shape every pretraining pipeline runs (score each
    doc with a bag-of-words linear model, keep above threshold). The
    model here is a feature-hashed weight table: token w contributes
    weight md5_60bit(w) % QC_WEIGHT_BUCKETS (deterministic stand-in
    for learned weights, so the WHOLE inference — hashing, lookup,
    accumulation, thresholding — is oracle-verified; swap the hash
    for a broadcast weight-table join and the plan shape is
    unchanged). Doc score = mean token weight in exact integer
    milli-units; keep = score >= QC_KEEP_MIL (the weight-scale
    midpoint).

    Scale: shuffle-free map-only projection — the weight fold is ONE
    aggregate pass over the token array (md5 per token, no re-walks),
    entirely JVM-side codegen. 100 TB in, doc-count rows out, zero
    exchanges. Weights are kept non-negative so the milli-mean uses
    truncating integer division identically on both engines."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    raw = F.aggregate(
        "t",
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.pmod(
            F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint"),
            F.lit(QC_WEIGHT_BUCKETS),
        ),
    )
    scored = dt.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tokens"),
        raw.alias("raw_score"),
    )
    mil = F.when(
        F.col("n_tokens") > 0,
        F.expr("(1000 * raw_score) div n_tokens"),
    ).otherwise(F.lit(0))
    return scored.select(
        "doc_id",
        "n_tokens",
        "raw_score",
        mil.cast("int").alias("mean_weight_mil"),
        (mil >= QC_KEEP_MIL).alias("keep"),
    )


SQL_QUALITY_CLASSIFIER = f"""
WITH s AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(t,
              x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
                   % {QC_WEIGHT_BUCKETS})), 0) AS BIGINT) AS raw_score
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
SELECT doc_id, n_tokens, raw_score,
       CAST(CASE WHEN n_tokens > 0 THEN (1000 * raw_score) // n_tokens
            ELSE 0 END AS INT) AS mean_weight_mil,
       (CASE WHEN n_tokens > 0 THEN (1000 * raw_score) // n_tokens
        ELSE 0 END) >= {QC_KEEP_MIL} AS keep
FROM s
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        fingerprint_rolling(F.col("text")).alias("fp_roll"),
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(text) AS fp_md5,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split_regex(text, ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_roll
FROM documents
"""


def q_split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/holdout split by hashing the DOC ID, not by
    random(): reproducible across runs/engines, stable under
    repartitioning, and new documents never reshuffle old assignments
    — the properties a training pipeline needs from a split. md5 is
    the hash because Spark and DuckDB agree on it bit-for-bit (the
    oracle check is exactly the cross-engine-reproducibility claim).
    First hex nibble <= 'c' -> train (13/16 = 81.25%)."""
    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.select(
        "doc_id",
        F.when(nib <= "c", "train").otherwise("holdout").alias("split"),
    )


SQL_SPLIT_TRAIN_HOLDOUT = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c'
            THEN 'train' ELSE 'holdout' END AS split
FROM documents
"""


PACK_BUDGET_TOKENS = 2048
PACK_SHARDS = 16


def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to contiguous ~2048-token packs
    (running token sum; a doc lands in pack floor(tokens_before/budget)
    of its shard). The window key is (source, shard) — doc_id mod
    PACK_SHARDS — never source alone: at 100 TB one hot source would
    otherwise become a single unbounded sorted window partition. The
    shard key is arithmetic on the id (not an engine hash) so the
    oracle computes the identical shards; pack identity is
    (source, shard, pack_id). One shuffle on the window key."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("int")
    shard = F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("int")
    sized = d.select(
        "source", "doc_id", shard.alias("shard"), n_tok.alias("n_tok")
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tok").over(w)
    pack = F.floor((cum - F.col("n_tok")) / float(PACK_BUDGET_TOKENS)).cast("int")
    return sized.select("source", "doc_id", "shard", "n_tok", pack.alias("pack_id"))


SQL_PACK_TOKEN_BUDGET = f"""
SELECT source, doc_id,
       CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
       CAST(floor((sum(len(string_split(text, ' ')))
                     OVER (PARTITION BY source, doc_id % {PACK_SHARDS} ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - len(string_split(text, ' '))) / {float(PACK_BUDGET_TOKENS)}) AS INT)
         AS pack_id
FROM documents
"""


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d[\d -]{7,}\d"


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the pre-training hygiene pass: strip emails and
    phone-number-shaped digit runs before anything else sees the text.
    Pure regexp_replace chain (JVM-side, codegen). The fixtures carry
    no PII, so the query INJECTS a deterministic email+phone per doc
    and asserts the scrubber removes exactly those — the oracle check
    covers both the match and the non-match (body text untouched)."""
    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555 010"),
        F.col("doc_id").cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(dirty, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        (F.length(dirty) - F.length(scrubbed)).cast("int").alias("n_redacted_chars"),
    )


SQL_PII_SCRUB = f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555 010' || CAST(doc_id AS VARCHAR) AS d
  FROM documents
), s AS (
  SELECT doc_id, d,
         regexp_replace(regexp_replace(d, '{PII_EMAIL}', '<EMAIL>', 'g'),
                        '{PII_PHONE}', '<PHONE>', 'g') AS clean_text
  FROM dirty
)
SELECT doc_id, clean_text,
       CAST(length(d) - length(clean_text) AS INT) AS n_redacted_chars
FROM s
"""


# rate as an integer fraction: ceil(n/10) computes as (n + 9) DIV 10 on
# both engines — a float 0.1*n is DECIMAL-exact in DuckDB but
# double-rounded in Spark, a last-ulp seam at integer boundaries for
# huge strata (the BM25 review-pass-3 class)
STRATIFIED_NUM, STRATIFIED_DEN = 1, 10


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: ceil(rate * |stratum|) docs from EVERY
    source, chosen by md5-hash order — deterministic across runs,
    engines, and repartitioning (unlike rand()-based sample), and no
    stratum is ever empty, which is the guarantee a global hash sample
    can't give. One shuffle (the per-source window); at 100 TB the
    stratum key keeps window partitions bounded."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wc = Window.partitionBy("source")
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n_stratum"),
        )
        .where(
            F.col("rn")
            <= F.expr(
                f"(n_stratum * {STRATIFIED_NUM} + {STRATIFIED_DEN - 1}) "
                f"DIV {STRATIFIED_DEN}"
            )
        )
        .select("doc_id", "source")
    )


SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n_stratum
  FROM documents
)
WHERE rn <= (n_stratum * {STRATIFIED_NUM} + {STRATIFIED_DEN - 1}) // {STRATIFIED_DEN}
"""


EMB_EXPECTED_DIM = 64


def q_embedding_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene — the gate every ANN index needs upstream: flag
    wrong-dimension, NaN/null-element, and zero-norm vectors (each
    silently poisons cosine math downstream: zero vectors make cosine
    undefined, NaNs propagate through every dot product). Pure HOF
    expressions, map-only, shuffle-free at any scale. The fixture is
    clean, so the query INJECTS one of each defect deterministically
    (the pii_scrub pattern) — the oracle verifies flag AND pass paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    # deterministic defect injection on three known ids
    v = F.col("embedding")
    v = F.when(F.col("vec_id") == 1, F.slice(v, 1, 7)).otherwise(v)  # bad dim
    v = F.when(
        F.col("vec_id") == 2,
        F.transform(v, lambda x: x * F.lit(0.0)),  # zero norm
    ).otherwise(v)
    v = F.when(
        F.col("vec_id") == 3,
        F.transform(v, lambda x: F.lit(float("nan")).cast("float")),  # NaN elements
    ).otherwise(v)
    dim_ok = F.size(v) == EMB_EXPECTED_DIM
    finite = F.size(F.filter(v, lambda x: x.isNull() | F.isnan(x))) == 0
    nonzero = F.size(F.filter(v, lambda x: x != 0.0)) > 0
    return emb.select(
        "vec_id",
        dim_ok.cast("int").alias("dim_ok"),
        finite.cast("int").alias("finite_ok"),
        nonzero.cast("int").alias("nonzero_ok"),
        (dim_ok & finite & nonzero).cast("int").alias("usable"),
    )


SQL_EMB_QUALITY_GATE = f"""
WITH inj AS (
  SELECT vec_id,
         CASE WHEN vec_id = 1 THEN embedding[1:7]
              WHEN vec_id = 2 THEN list_transform(embedding, x -> x * 0.0)
              WHEN vec_id = 3 THEN list_transform(embedding, x -> CAST('nan' AS FLOAT))
              ELSE embedding END AS v
  FROM embeddings
)
SELECT vec_id,
       CAST(len(v) = {EMB_EXPECTED_DIM} AS INT) AS dim_ok,
       CAST(len(list_filter(v, x -> x IS NULL OR isnan(x))) = 0 AS INT) AS finite_ok,
       CAST(len(list_filter(v, x -> x <> 0.0)) > 0 AS INT) AS nonzero_ok,
       CAST(len(v) = {EMB_EXPECTED_DIM}
            AND len(list_filter(v, x -> x IS NULL OR isnan(x))) = 0
            AND len(list_filter(v, x -> x <> 0.0)) > 0 AS INT) AS usable
FROM inj
"""


def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization — the prep step every cosine index assumes.
    Expression-based fold (no UDF); emitted exploded to (vec_id, pos,
    val) scalars so the oracle hashes element values exactly. The fold
    order matches DuckDB's list_sum, so values are bit-identical."""
    from etl_dagster_service_crawler_spark.functions.vectors import norm2

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    nrm = F.sqrt(norm2(F.col("embedding")))
    # zero-vector guard: 0/0 is NaN in Spark but NULL in DuckDB — make
    # the zero-norm case explicitly NULL on both engines
    unit = F.transform(
        F.col("embedding"), lambda x: F.when(nrm > 0, x.cast("double") / nrm)
    )
    return emb.select("vec_id", F.posexplode(unit).alias("pos", "val"))


SQL_EMBEDDING_NORMALIZE = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
  WHERE vec_id < 100
)
SELECT vec_id,
       CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) AS pos,
       unnest(list_transform(embedding,
              x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE) / nrm END)) AS val
FROM n
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (q = round(x * 127/max|x|)): the
    4x storage/bandwidth cut an embedding index takes before sharding.
    floor(x+0.5) instead of round() so both engines agree at .5; scale
    is per-vector (one fold), quantized values exploded for the oracle."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        quantize_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    return quantize_rows(emb).select(
        F.col("id").alias("vec_id"),
        F.posexplode("q8").alias("pos", "qval"),
    )


SQL_EMBEDDING_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
         CASE WHEN list_aggregate(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), 'max') > 0
              THEN 127.0 / list_aggregate(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), 'max')
              ELSE 0.0 END AS scale
  FROM embeddings
  WHERE vec_id < 100
)
SELECT vec_id,
       CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) AS pos,
       CAST(floor(CAST(unnest(embedding) AS DOUBLE) * scale + 0.5) AS INT) AS qval
FROM s
"""


# --- dedup -------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup_exact(d, "doc_id", "text")


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, sha256(text) AS text_hash, count(*) AS n_dups
FROM documents
GROUP BY sha256(text)
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (rows-only: approximate by design;
    the exact-jaccard twin below is the oracle-checked ground truth).
    No orderBy: the driver's rows-only check is count-based, and a
    global sort of the pair set (which can be millions of rows on a
    dup-heavy corpus) would dominate the operator's own cost — it
    only looked free before because count() elided it."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(d, "doc_id", "text", threshold=0.9)


def q_dedup_minhash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cluster-representative assignment — the O(n) form of
    near-dup dedup that survives template-heavy corpora where pair
    enumeration is O(cluster^2) (rows-only: approximate by design)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_assign_representatives(d, "doc_id", "text")


def q_dedup_minhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full connected-components near-dup clustering (rows-only:
    approximate LSH graph, not SQL-expressible; unit-tested chain
    merging)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_cluster_cc(d, "doc_id", "text")


def q_dedup_assign_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(n) assignment plan under an EXACT oracle (sha2(text)
    buckets, injected re-crawl duplicates — see q_dedup_cc_exact):
    rep_id provably equals min(doc_id) per verbatim-text group."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    aug = d.unionByName(dups)
    return minhash_assign_representatives(aug, "doc_id", "text", exact=True)


SQL_DEDUP_ASSIGN_EXACT = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY text) AS rep_id,
       doc_id != min(doc_id) OVER (PARTITION BY text) AS is_dup
FROM aug
"""


def q_dedup_cc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (minhash_cluster_cc) under an EXACT oracle:
    sha2(text) buckets degenerate the LSH graph to the
    verbatim-duplicate relation, so labels provably equal min(doc_id)
    per text group (DuckDB-expressible). Verbatim duplicates are
    injected (every 10th doc re-crawled under a shifted id) so is_dup
    exercises both branches. At the oracle scales the bucket-star
    residual fits the driver, so the oracle checks the star contraction
    and the union-find finish; the distributed loop the approximate
    100 TB path falls back to is pinned to the same rows by
    tests/test_llm_ops.py::test_cc_oracle_queries_identical_on_forced_loop."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    aug = d.unionByName(dups)
    return minhash_cluster_cc(aug, "doc_id", "text", exact=True)


SQL_DEDUP_CC_EXACT = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY text) AS label,
       doc_id != min(doc_id) OVER (PARTITION BY text) AS is_dup
FROM aug
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(d, "doc_id", "text")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set jaccard over adjacent doc pairs (linear pair set:
    this checks the MATH; the all-pairs candidate problem is what
    MinHash solves above)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.array_distinct(tokens_ws(F.col("text"))).alias("t"))
    a, b = toks.alias("a"), toks.alias("b")
    ni = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
    na, nb = F.size(F.col("a.t")), F.size(F.col("b.t"))
    jac = ni.cast("double") / (na + nb - ni).cast("double")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jaccard"),
            (jac >= 0.9).alias("is_neardup"),
        )
    )


SQL_NGRAM_JACCARD = """
WITH tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) AS jaccard,
       (CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE)) >= 0.9 AS is_neardup
FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup on adjacent pairs (exact math check;
    the bucketed all-pairs path is similarity_topk_ivf's bucketing)."""
    e = load_table(spark, sf_dir, "embeddings")
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos"),
            (cos >= 0.4).alias("is_neardup"),
        )
    )


_COS_AB = (
    "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

SQL_EMBEDDING_COSINE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS_AB} AS cos,
       ({_COS_AB}) >= 0.4 AS is_neardup
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
"""


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding near-dup via signed-random-projection LSH
    (rows-only: recall < 1 by design; the exact adjacent-pair twin
    dedup_embedding_cosine is oracle-checked). The fixture corpus has
    no cos>=0.9 pairs at all, so this runs at 0.5 with short codes x
    more tables (recall ~0.8 at that angle); production near-dup runs
    >=0.9 with longer codes."""
    e = load_table(spark, sf_dir, "embeddings")
    return srp_neardup_pairs(
        e, threshold=0.5, n_tables=8, bits_per_table=4
    )


# --- similarity search --------------------------------------------------------

TOPK_QUERY_IDS = list(range(8))


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(e, TOPK_QUERY_IDS, k=5)


_COS_QN = (
    "list_sum(list_transform(list_zip(q.embedding, n.embedding),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

SQL_TOPK = f"""
SELECT qid, nid, cos, rn FROM (
  SELECT q.vec_id AS qid, n.vec_id AS nid, {_COS_QN} AS cos,
         CAST(row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY {_COS_QN} DESC, n.vec_id) AS INT) AS rn
  FROM embeddings q, embeddings n
  WHERE q.vec_id < 8 AND n.vec_id != q.vec_id
)
WHERE rn <= 5
"""


def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k against a PERSISTED index
    (rows-only: recall < 1 by design).

    The index is built once per corpus (atomic rename publish at
    ivf_index_dir, keyed by the corpus files) and reused by every
    subsequent search — the expensive train+assign pass is amortized,
    and the search scan reads only the probed buckets' partitions
    (and, within them, the probed cells' row groups). With nprobe equal
    to the cell count the search equals cosine_topk_bruteforce row for
    row, pinned by unit test."""
    import os

    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_index_dir,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # keyed by source-file identity, not path: regenerated fixtures must
    # MISS the cache, not silently serve a stale index
    index_dir = ivf_index_dir(sf_dir, n_centroids=16)
    if not os.path.isdir(index_dir):
        ivf_build(e, index_dir, n_centroids=16)
    q = e.where(F.col("vec_id").isin(TOPK_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_search(spark, index_dir, q, k=5, nprobe=4).orderBy("qid", "rn")


RERANK_CANDIDATES = 64

# exact-cosine fragment over the survivor CTE's (qvec, nvec) columns —
# the _COS_QN shape (parity with Spark's functions/vectors.cosine is
# proven by similarity_topk's oracle)
_COS_QN_VEC = (
    "list_sum(list_transform(list_zip(qvec, nvec),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(nvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


def q_similarity_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized coarse scan + exact re-rank top-k
    (operators/similarity.quantized_rerank_topk) — the ANN shape for
    corpora where IVF degenerates (isotropic vectors; docs/SCALE.md
    "Isotropic-corpus ANN envelope"): int8 coarse pass over the whole
    corpus (1/8th the scan bytes at scale), exact cosine only on the
    top RERANK_CANDIDATES per query.

    Unlike the IVF family this is fully ORACLE-CHECKED: the coarse
    ordering is built from exact integer dots of the
    embedding_quantize formula (floor(x·127/max|x| + 0.5) — cross-
    engine parity proven by that query), so the candidate cut and the
    final top-k are deterministic on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    return quantized_rerank_topk(
        e, TOPK_QUERY_IDS, k=5, r_candidates=RERANK_CANDIDATES
    )


SQL_TOPK_RERANK = f"""
WITH s AS (
  SELECT vec_id, embedding,
         CASE WHEN list_aggregate(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), 'max') > 0
              THEN 127.0 / list_aggregate(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), 'max')
              ELSE 0.0 END AS scale
  FROM embeddings
),
qz AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)) AS q8
  FROM s
),
nz AS (
  SELECT vec_id, embedding, q8,
         sqrt(CAST(list_sum(list_transform(q8,
              x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS DOUBLE)) AS qn8
  FROM qz
),
coarse AS (
  SELECT q.vec_id AS qid, n.vec_id AS nid,
         q.embedding AS qvec, n.embedding AS nvec,
         CASE WHEN q.qn8 * n.qn8 > 0
              THEN CAST(list_sum(list_transform(list_zip(q.q8, n.q8),
                       p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
                       AS DOUBLE) / (q.qn8 * n.qn8)
              ELSE -2.0 END AS coarse
  FROM nz q, nz n
  WHERE q.vec_id < 8 AND n.vec_id != q.vec_id
),
survivors AS (
  SELECT qid, nid, qvec, nvec
  FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY coarse DESC, nid) AS crn
    FROM coarse
  )
  WHERE crn <= {RERANK_CANDIDATES}
)
SELECT qid, nid, cos, rn FROM (
  SELECT qid, nid,
         {_COS_QN_VEC} AS cos,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY {_COS_QN_VEC} DESC, nid) AS INT) AS rn
  FROM survivors
)
WHERE rn <= 5
"""


# --- multimodal ----------------------------------------------------------------


def q_multimodal_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload + typed metadata struct; length/meta projection is
    oracle-checkable (payload bytes == utf-8 text bytes)."""
    mm = build_multimodal(load_table(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        "modality",
        F.length("payload").alias("payload_len"),
        F.col("meta.lang").alias("lang"),
        F.col("meta.n_chars").alias("n_chars"),
    )


SQL_MULTIMODAL = """
SELECT doc_id, 'text' AS modality,
       CAST(octet_length(encode(text)) AS INT) AS payload_len,
       lang, n_chars
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Oracle-checked: the fake extractor is pure byte arithmetic
    (feat[0] = payload[0]/255), and the documents fixture is pure ASCII
    at every scale factor, so utf-8 byte 0 == codepoint of char 1 and
    DuckDB's ord(substr(text,1,1)) reproduces it exactly."""
    mm = build_multimodal(load_table(spark, sf_dir, "documents"))
    feats = extract_features(mm)
    return feats.select(
        "doc_id",
        "modality",
        "payload_len",
        F.size("feat").alias("feat_dim"),
        F.col("feat")[0].alias("feat0"),
    )


SQL_MM_FEATURES = """
SELECT doc_id,
       'text' AS modality,
       CAST(octet_length(encode(text)) AS INT) AS payload_len,
       8 AS feat_dim,
       ord(substr(text, 1, 1)) / CAST(255 AS DOUBLE) AS feat0
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads via mapInPandas: one input
    row explodes to one row per 64-byte 'frame', the shape a real
    keyframe sampler has. Oracle-checked: the framing is deterministic
    byte-chunking and the ASCII fixture makes per-byte sums expressible
    as ord() over generate_series in DuckDB."""
    mm = build_multimodal(load_table(spark, sf_dir, "documents"))
    return frame_sample(mm.where(F.col("doc_id") < 100))


SQL_FRAME_SAMPLE = """
SELECT d.doc_id,
       CAST((p - 1) // 64 AS INT) AS frame_no,
       CAST(((p - 1) // 64) * 64 AS INT) AS offset,
       CAST(sum(ord(substr(d.text, CAST(p AS INT), 1))) % 100000 AS INT) AS frame_sum
FROM documents d, unnest(generate_series(1, length(d.text))) AS t(p)
WHERE d.doc_id < 100
GROUP BY d.doc_id, (p - 1) // 64
"""


PHASH_TILE = 16  # synthesized gray tile side (16x16 px per document)
PHASH_HAM_T = 3  # near-dup threshold; 4 bands make blocking EXACT for it

VIDEO_FRAMES = 8  # synthesized frames per clip
VIDEO_FRAME_STRIDE = 37  # codepoint offset between frames (prime)
VIDEO_CUT_T = 8000  # scene-cut bar on the inter-frame absolute-diff sum


def q_video_scenecut_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut export (r10) — the VIDEO analogue of the image
    dHash and audio fingerprint exports, completing the multimodal
    trio: per (clip, frame), the inter-frame absolute pixel difference
    and the scene-cut flag (diff > VIDEO_CUT_T) — the shot-boundary
    signal a video-curation pipeline persists before keyframe
    extraction (multimodal_frame_sample is the sampler; this is the
    detector that decides WHERE to sample).

    Each document synthesizes an 8-frame 16x16 gray clip from its text
    codepoints (frame f reads the text at offset f·37 — exact-dup
    texts yield exact-dup clips); every frame round-trips through REAL
    PNG bytes (encode_png -> the decode_image seam, lossless) before
    the diff. All-integer end to end, so the DuckDB oracle reproduces
    the diffs from codepoint arithmetic with no PNG machinery — the
    codec seam is what the Spark side additionally proves. Empty/NULL
    text synthesizes a constant clip: all diffs 0, no cuts.

    Scale: a narrow mapInPandas — frames never leave their row; output
    is (id, frame, int, bool) per frame."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_px = PHASH_TILE * PHASH_TILE

    def batches(it):
        import numpy as np

        from etl_dagster_service_crawler_spark.operators.multimodal import (
            decode_image,
        )
        from etl_dagster_service_crawler_spark.operators.png_codec import (
            encode_png,
        )

        for pdf in it:
            ids, fidx, diffs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                cps = np.array(
                    [ord(ch) % 256 for ch in text] if text else [0],
                    dtype=np.int64,
                )
                frames = []
                for f in range(VIDEO_FRAMES):
                    idx = (f * VIDEO_FRAME_STRIDE + np.arange(n_px)) % len(cps)
                    png = encode_png(
                        cps[idx].astype(np.uint8).reshape(PHASH_TILE, PHASH_TILE)
                    )
                    arr = np.asarray(decode_image(png), dtype=np.int64)
                    if arr.ndim == 3:  # decode seam may emit RGB planes
                        arr = arr[:, :, 0]
                    frames.append(arr)
                for f in range(1, VIDEO_FRAMES):
                    ids.append(doc_id)
                    fidx.append(f)
                    diffs.append(int(np.abs(frames[f] - frames[f - 1]).sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fidx, "diff_sum": diffs}
            )

    out = d.mapInPandas(
        batches, "doc_id bigint, frame_idx int, diff_sum bigint"
    )
    return out.select(
        "doc_id",
        "frame_idx",
        "diff_sum",
        (F.col("diff_sum") > VIDEO_CUT_T).alias("is_cut"),
    )


# the oracle replays the pixel arithmetic directly: frame f pixel i =
# ord(text[(f*37 + i) mod len]) % 256 (PNG round-trip lossless)
SQL_VIDEO_SCENECUT = f"""
WITH px AS (
  SELECT d.doc_id, f.f, i.i,
         CASE WHEN coalesce(length(d.text), 0) = 0 THEN 0
              ELSE ord(substr(d.text,
                     ((f.f * {VIDEO_FRAME_STRIDE} + i.i) % length(d.text)) + 1,
                     1)) % 256 END AS cur,
         CASE WHEN coalesce(length(d.text), 0) = 0 THEN 0
              ELSE ord(substr(d.text,
                     (((f.f - 1) * {VIDEO_FRAME_STRIDE} + i.i)
                      % length(d.text)) + 1, 1)) % 256 END AS prv
  FROM documents d,
       unnest(generate_series(1, {VIDEO_FRAMES - 1})) AS f(f),
       unnest(generate_series(0, {PHASH_TILE * PHASH_TILE - 1})) AS i(i)
)
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       CAST(sum(abs(cur - prv)) AS BIGINT) AS diff_sum,
       sum(abs(cur - prv)) > {VIDEO_CUT_T} AS is_cut
FROM px GROUP BY doc_id, f
"""


def q_phash_image_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash export (VERDICT r9 item 7) — the integer
    dHash signature per image, the multimodal analogue of
    simhash_signature_export: the signature an image-dedup pipeline
    persists next to the corpus.

    The fixture lake has no image column, so each document gets a
    deterministic 16x16 gray tile synthesized from its text
    codepoints (pixel i = ord(text[i mod len]) % 256 — exact-dup texts
    yield exact-dup images); the tile round-trips through REAL PNG
    bytes (png_codec.encode_png -> the multimodal decode_image seam,
    pillow or pure-python identically since PNG is lossless) before
    operators/multimodal.dhash_image computes the 9x8
    nearest-resize difference hash. All-integer end to end, so the
    DuckDB oracle reproduces the signatures from the same pixel
    arithmetic without any PNG machinery — the decode seam is what
    the Spark side additionally proves.

    Scale: a narrow mapInPandas — payload bytes never leave their
    row, output is (id, 2 ints) per image. Emits (doc_id, dhash_hi,
    dhash_lo), the 64-bit hash as two 32-bit halves (signed-BIGINT
    safe in both engines)."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import numpy as np

        from etl_dagster_service_crawler_spark.operators.multimodal import (
            decode_image,
            dhash_image,
        )
        from etl_dagster_service_crawler_spark.operators.png_codec import (
            encode_png,
        )

        for pdf in it:
            his, los = [], []
            for text in pdf["text"]:
                # empty/NULL text -> constant zero tile -> hash (0,0);
                # the oracle's CASE length=0 guard mirrors it (a bare
                # mod-by-zero would kill the worker on a degenerate doc)
                cps = np.array(
                    [ord(ch) % 256 for ch in text] if text else [0],
                    dtype=np.uint8,
                )
                idx = np.arange(PHASH_TILE * PHASH_TILE) % len(cps)
                png = encode_png(cps[idx].reshape(PHASH_TILE, PHASH_TILE))
                hi, lo = dhash_image(decode_image(png))
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "dhash_hi": his, "dhash_lo": los}
            )

    return d.mapInPandas(
        batches, "doc_id bigint, dhash_hi bigint, dhash_lo bigint"
    )


# the oracle replays the pixel arithmetic directly: gray(R, C) =
# ord(text[(R*16 + C) mod len]) % 256, nearest-resize row (r*16)//8,
# cols (c*16)//9 and ((c+1)*16)//9 — integer-identical to
# png_codec.resize_nearest + multimodal.dhash_image
SQL_PHASH_EXPORT = """
WITH bits AS (
  SELECT d.doc_id, r.r, c.c,
         CASE WHEN coalesce(length(d.text), 0) = 0 THEN 0 WHEN
           (ord(substr(d.text,
              ((((r.r*16)//8)*16 + (c.c*16)//9) % length(d.text)) + 1, 1))
            % 256) >
           (ord(substr(d.text,
              ((((r.r*16)//8)*16 + ((c.c+1)*16)//9) % length(d.text)) + 1, 1))
            % 256)
         THEN 1 ELSE 0 END AS b
  FROM documents d,
       unnest(generate_series(0, 7)) AS r(r),
       unnest(generate_series(0, 7)) AS c(c)
)
SELECT doc_id,
       CAST(sum(CASE WHEN r < 4
                     THEN CAST(b AS BIGINT) << ((r % 4) * 8 + c)
                     ELSE 0 END) AS BIGINT) AS dhash_hi,
       CAST(sum(CASE WHEN r >= 4
                     THEN CAST(b AS BIGINT) << ((r % 4) * 8 + c)
                     ELSE 0 END) AS BIGINT) AS dhash_lo
FROM bits
GROUP BY doc_id
"""


def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual hash — the multimodal
    half of the dedup brief: pairs whose dHash Hamming distance is at
    most PHASH_HAM_T, found via banded blocking over the
    phash_image_export signatures (the MinHash-LSH band pattern).

    The blocking is EXACT, not approximate: splitting the 64-bit hash
    into 4 16-bit bands means any pair within Hamming distance 3 has
    at most 3 differing bands, so at least one band matches
    (pigeonhole, the standard d+1-bands rule) — which is why the
    all-pairs DuckDB oracle and the banded Spark plan agree
    hash-for-hash. Scale: the only exchanges move (doc_id, two
    bigints) keyed by 16-bit band values; pair work is Σ|bucket|²,
    never n² — image bytes were already reduced to 8 bytes of
    signature upstream."""
    sig = q_phash_image_export(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    F.expr("shiftright(dhash_hi, 16) & 65535").alias("bv"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    F.expr("dhash_hi & 65535").alias("bv"),
                ),
                F.struct(
                    F.lit(2).alias("band_id"),
                    F.expr("shiftright(dhash_lo, 16) & 65535").alias("bv"),
                ),
                F.struct(
                    F.lit(3).alias("band_id"),
                    F.expr("dhash_lo & 65535").alias("bv"),
                ),
            )
        ).alias("b"),
    ).select(
        "doc_id", "dhash_hi", "dhash_lo",
        F.col("b.band_id").alias("band_id"), F.col("b.bv").alias("bv"),
    )
    left = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dhash_hi").alias("ha"),
        F.col("dhash_lo").alias("la"),
        "band_id", "bv",
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dhash_hi").alias("hb"),
        F.col("dhash_lo").alias("lb"),
        "band_id", "bv",
    )
    return (
        left.join(right, ["band_id", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.expr(
                "CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS INT)"
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= PHASH_HAM_T)
        .distinct()
    )


SQL_DEDUP_IMAGE_PHASH = f"""
WITH sig AS ({SQL_PHASH_EXPORT})
SELECT doc_a, doc_b, hamming FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
              + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INT) AS hamming
  FROM sig a, sig b
  WHERE a.doc_id < b.doc_id
)
WHERE hamming <= {PHASH_HAM_T}
"""


AUDIO_FP_SAMPLES = 256  # synthesized mono frames per document
AUDIO_FP_RATE = 8000  # synthesis rate; fingerprint taken after 2:1 resample
AUDIO_FP_WINDOWS = 16  # 128 resampled frames -> 16 energy windows of 8


def q_audio_fingerprint_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual-fingerprint export (r10) — the AUDIO analogue
    of phash_image_export, closing the multimodal signature symmetry
    the r9/r10 codecs opened: per document, an integer band-energy
    fingerprint of its (synthesized) waveform, the signature an
    audio-dedup pipeline persists next to the corpus.

    The fixture lake has no audio column, so each document gets a
    deterministic int16 mono PCM synthesized from its text codepoints
    (sample i = (ord(text[i mod len]) % 256 - 128) * 256 — exact-dup
    texts yield exact-dup audio); the samples round-trip through REAL
    WAV bytes (wav_codec.encode_wav -> the multimodal decode_audio
    seam — soundfile or pure-python identically, PCM is lossless),
    then the decoded signal is resampled 8000→4000 Hz by the codec's
    deterministic nearest rule (index 2j) and fingerprinted: 16
    windows of 8 frames, window energy = Σ|sample| (exact BIGINT),
    fingerprint bit w set iff energy[w] > energy[w+1] — the dHash
    rule in the time domain. All-integer end to end, so the DuckDB
    oracle reproduces fingerprints from the same codepoint arithmetic
    with no WAV machinery — the encode/decode/resample seams are what
    the Spark side additionally proves. Empty/NULL text synthesizes
    the constant -32768 wave: equal window energies, fingerprint 0.

    Scale: a narrow mapInPandas — waveform bytes never leave their
    row; output is (id, 3 ints) per clip."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import numpy as np

        from etl_dagster_service_crawler_spark.operators.multimodal import (
            decode_audio,
        )
        from etl_dagster_service_crawler_spark.operators.wav_codec import (
            encode_wav,
            resample_nearest,
        )

        for pdf in it:
            fps, totals = [], []
            for text in pdf["text"]:
                cps = np.array(
                    [ord(ch) % 256 for ch in text] if text else [0],
                    dtype=np.int64,
                )
                idx = np.arange(AUDIO_FP_SAMPLES) % len(cps)
                samples = ((cps[idx] - 128) * 256).astype(np.int16)
                wav = encode_wav(samples, AUDIO_FP_RATE)
                decoded, rate = decode_audio(wav)
                mono = resample_nearest(
                    decoded[:, 0], rate, AUDIO_FP_RATE // 2
                ).astype(np.int64)
                energy = np.abs(mono).reshape(AUDIO_FP_WINDOWS, -1).sum(axis=1)
                fp = 0
                for w in range(AUDIO_FP_WINDOWS - 1):
                    if energy[w] > energy[w + 1]:
                        fp |= 1 << w
                fps.append(fp)
                totals.append(int(np.abs(mono).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "audio_fp": fps,
                    "energy_total": totals,
                }
            )

    return d.mapInPandas(
        batches, "doc_id bigint, audio_fp bigint, energy_total bigint"
    )


AUDIO_DUP_ENERGY_BP = 100  # near-dup bar: loudness within 1% of the louder


def q_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs (r10) — the audio half of the
    multimodal dedup symmetry (dedup_image_phash's twin): clips whose
    band-energy fingerprints are EQUAL (same loudness shape) and whose
    total energies agree within AUDIO_DUP_ENERGY_BP basis points of
    the louder clip. Blocking is the fingerprint equi-join; the energy
    tolerance is the exact verify — all-integer (10000·|Δ| vs bp·max
    cross-multiplication, no division until the reported delta).

    Scale: exchanges move (id, 2 bigints) keyed by fingerprint; pair
    work is Σ|fp bucket|², never n². The 15-bit fingerprint is wide
    enough for fixture-scale buckets; a production deployment widens
    it (more energy windows) exactly as the image path would add
    bands — the plan shape is unchanged. greatest(·, 1) guards the
    all-silence pair (0 div 0) identically on both engines."""
    sig = q_audio_fingerprint_export(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        "audio_fp",
        F.col("energy_total").alias("ea"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        "audio_fp",
        F.col("energy_total").alias("eb"),
    )
    return (
        a.join(b, "audio_fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.lit(10000) * F.abs(F.col("ea") - F.col("eb"))
            <= F.lit(AUDIO_DUP_ENERGY_BP)
            * F.greatest(F.col("ea"), F.col("eb"), F.lit(1))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("audio_fp").cast("bigint").alias("audio_fp"),
            F.expr(
                "CAST((10000 * abs(ea - eb)) DIV greatest(ea, eb, 1) AS INT)"
            ).alias("energy_delta_bp"),
        )
    )


# the oracle replays the codepoint arithmetic directly: resampled frame
# j reads original sample 2j, i.e. text char (2j mod len); |sample| =
# |(ord % 256 - 128) * 256| — integer-identical to the synthesize ->
# encode_wav -> decode_audio -> resample_nearest chain (PCM lossless,
# nearest index (j*8000)//4000 = 2j)
SQL_AUDIO_FP_EXPORT = f"""
WITH frames AS (
  SELECT d.doc_id, w.w, j.j,
         abs((CASE WHEN coalesce(length(d.text), 0) = 0 THEN 0
               ELSE ord(substr(d.text,
                      ((2 * (w.w * 8 + j.j)) % length(d.text)) + 1, 1)) % 256
              END - 128) * 256) AS e
  FROM documents d,
       unnest(generate_series(0, {AUDIO_FP_WINDOWS - 1})) AS w(w),
       unnest(generate_series(0, 7)) AS j(j)
),
wins AS (
  SELECT doc_id, w, CAST(sum(e) AS BIGINT) AS energy
  FROM frames GROUP BY doc_id, w
),
pairs AS (
  SELECT a.doc_id,
         CASE WHEN a.energy > b.energy THEN CAST(1 AS BIGINT) << a.w
              ELSE 0 END AS bit
  FROM wins a JOIN wins b ON a.doc_id = b.doc_id AND b.w = a.w + 1
),
fp AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS audio_fp
       FROM pairs GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(sum(energy) AS BIGINT) AS energy_total
        FROM wins GROUP BY doc_id)
SELECT t.doc_id, coalesce(f.audio_fp, 0) AS audio_fp, t.energy_total
FROM tot t LEFT JOIN fp f USING (doc_id)
"""


SQL_DEDUP_AUDIO_FP = f"""
WITH sig AS ({SQL_AUDIO_FP_EXPORT})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.audio_fp AS BIGINT) AS audio_fp,
       CAST((10000 * abs(a.energy_total - b.energy_total))
            // greatest(a.energy_total, b.energy_total, 1) AS INT)
         AS energy_delta_bp
FROM sig a JOIN sig b
  ON a.audio_fp = b.audio_fp AND a.doc_id < b.doc_id
WHERE 10000 * abs(a.energy_total - b.energy_total)
      <= {AUDIO_DUP_ENERGY_BP} * greatest(a.energy_total, b.energy_total, 1)
"""


# --- spectral audio fingerprint (r10 verdict item 8) -------------------------

AUDIO_SPEC_FRAME_LEN = 32  # resampled samples per analysis frame
AUDIO_SPEC_FRAMES = 4  # 128 resampled samples -> 4 frames
AUDIO_SPEC_BINS = (1, 2, 3, 4)  # fixed DFT bins per frame
AUDIO_SPEC_Q = 127  # Q7 twiddle quantization
AUDIO_SPEC_MIN_COMMON = 2  # near-dup bar: >=2 shared frame spectra


def _audio_spec_twiddles() -> tuple[list[list[int]], list[list[int]]]:
    """Q7 integer DFT twiddle tables, computed ONCE in Python and
    embedded as literals in BOTH the pandas kernel and the DuckDB
    oracle — the transform is DEFINED as this fixed-point arithmetic
    (the float-discipline rule: constants interpolated from one
    Python value), so magnitudes are exact BIGINTs on both engines.
    floor(x+0.5), not round(): banker's rounding is the one
    Python/numpy disagreement this table must never inherit."""
    import math

    cos_t, sin_t = [], []
    for k in AUDIO_SPEC_BINS:
        cos_t.append([
            int(math.floor(AUDIO_SPEC_Q
                           * math.cos(2 * math.pi * k * n / AUDIO_SPEC_FRAME_LEN)
                           + 0.5))
            for n in range(AUDIO_SPEC_FRAME_LEN)
        ])
        sin_t.append([
            int(math.floor(-AUDIO_SPEC_Q
                           * math.sin(2 * math.pi * k * n / AUDIO_SPEC_FRAME_LEN)
                           + 0.5))
            for n in range(AUDIO_SPEC_FRAME_LEN)
        ])
    return cos_t, sin_t


_AS_COS, _AS_SIN = _audio_spec_twiddles()


def q_audio_spectral_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL audio fingerprint export (r11, the robustness upgrade
    over audio_fingerprint_export's time-domain band energies): per
    document, per analysis frame, the exact integer DFT magnitude² at
    four fixed bins — a Q7 fixed-point Goertzel/DFT (re = Σ s·C[k][n],
    im = Σ s·S[k][n], mag2 = re²+im²) over the codec-round-tripped
    waveform. Each clip synthesizes from its RECORDING KEY
    source:lang:md5(source:lang) — documents sharing (source, lang)
    are ingests of the same recording — and docs whose md5(doc_id)
    leads with an odd hex digit are trimmed by
    one analysis frame (64 pre-resample = 32 resampled samples), so
    the corpus genuinely contains time-shifted duplicate clips for the
    offset-tolerant pair query (dedup_audio_spectral) to find; the
    time-domain dedup_audio_fp family misses exactly these.

    The waveform takes the REAL codec path — int16 PCM -> encode_wav
    -> decode_audio -> 2:1 nearest resample — then drops back to the
    codepoint domain (sample div 256, exact: every decoded value is a
    multiple of 256) before the integer spectral transform; the
    oracle replays the codepoint arithmetic + the same literal twiddle
    tables with no WAV machinery, so the codec seams are what the
    Spark side additionally proves (PCM is lossless end to end).

    Scale: narrow mapInPandas — audio bytes never leave their row;
    the transform is one 4x32 integer matmul per clip; output is
    frames x bins small ints per clip."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    n_samples = AUDIO_SPEC_FRAMES * AUDIO_SPEC_FRAME_LEN * 2  # pre-resample

    def batches(it):
        import hashlib

        import numpy as np

        from etl_dagster_service_crawler_spark.operators.multimodal import (
            decode_audio,
        )
        from etl_dagster_service_crawler_spark.operators.wav_codec import (
            encode_wav,
            resample_nearest,
        )

        cos_t = np.array(_AS_COS, dtype=np.int64)
        sin_t = np.array(_AS_SIN, dtype=np.int64)
        for pdf in it:
            out_doc, out_frame, out_bin, out_mag = [], [], [], []
            for doc_id, source, lang in zip(
                pdf["doc_id"], pdf["source"], pdf["lang"]
            ):
                base = f"{source}:{lang}"
                key = f"{base}:{hashlib.md5(base.encode()).hexdigest()}"
                cps = np.array([ord(ch) % 256 for ch in key], dtype=np.int64)
                # one RESAMPLED frame = 2x pre-resample samples;
                # md5-derived parity — doc_id's own parity correlates
                # with (source, lang) in the fixture generator's id
                # strides, which would leave zero shifted pairs
                par = ord(hashlib.md5(str(doc_id).encode())
                          .hexdigest()[0]) % 2
                shift = par * 2 * AUDIO_SPEC_FRAME_LEN
                idx = (np.arange(n_samples) + shift) % len(cps)
                samples = ((cps[idx] - 128) * 256).astype(np.int16)
                wav = encode_wav(samples, AUDIO_FP_RATE)
                decoded, rate = decode_audio(wav)
                mono = resample_nearest(
                    decoded[:, 0], rate, AUDIO_FP_RATE // 2
                ).astype(np.int64)
                s = mono // 256  # back to exact codepoint domain
                frames = s.reshape(AUDIO_SPEC_FRAMES, AUDIO_SPEC_FRAME_LEN)
                re = frames @ cos_t.T
                im = frames @ sin_t.T
                mag2 = re * re + im * im
                for f in range(AUDIO_SPEC_FRAMES):
                    for bi, k in enumerate(AUDIO_SPEC_BINS):
                        out_doc.append(doc_id)
                        out_frame.append(f)
                        out_bin.append(k)
                        out_mag.append(int(mag2[f, bi]))
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "frame": out_frame,
                    "bin": out_bin,
                    "mag2": out_mag,
                }
            )

    return d.mapInPandas(
        batches, "doc_id bigint, frame int, bin int, mag2 bigint"
    )


def _sql_audio_spectral_export() -> str:
    tw_rows = ", ".join(
        f"({k}, {n}, {_AS_COS[bi][n]}, {_AS_SIN[bi][n]})"
        for bi, k in enumerate(AUDIO_SPEC_BINS)
        for n in range(AUDIO_SPEC_FRAME_LEN)
    )
    fl = AUDIO_SPEC_FRAME_LEN
    return f"""
WITH tw AS (SELECT * FROM (VALUES {tw_rows}) t(k, n, c, s)),
rkey AS (
  SELECT doc_id,
         source || ':' || lang || ':' || md5(source || ':' || lang) AS key
  FROM documents
),
aframes AS (
  SELECT d.doc_id, f.f, n.n,
         (ord(substr(d.key,
                ((2 * (f.f * {fl} + n.n)
                  + {2 * fl} * (ascii(substr(md5(CAST(d.doc_id AS VARCHAR)),
                                             1, 1)) % 2))
                 % length(d.key)) + 1, 1)) % 256 - 128) AS sv
  FROM rkey d,
       unnest(generate_series(0, {AUDIO_SPEC_FRAMES - 1})) AS f(f),
       unnest(generate_series(0, {fl - 1})) AS n(n)
),
spec AS (
  SELECT fr.doc_id, fr.f, t.k,
         CAST(sum(fr.sv * t.c) AS BIGINT) AS re,
         CAST(sum(fr.sv * t.s) AS BIGINT) AS im
  FROM aframes fr JOIN tw t ON t.n = fr.n
  GROUP BY fr.doc_id, fr.f, t.k
)
SELECT doc_id, CAST(f AS INT) AS frame, CAST(k AS INT) AS bin,
       CAST(re * re + im * im AS BIGINT) AS mag2
FROM spec
"""


SQL_AUDIO_SPECTRAL_EXPORT = _sql_audio_spectral_export()


def q_dedup_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-offset-tolerant AUDIO near-dup pairs (r11): clips pairing
    whenever at least AUDIO_SPEC_MIN_COMMON of their per-frame spectra
    are IDENTICAL — frame-ANCHORED banding: the blocking key is the
    frame's spectral signature with the frame INDEX deliberately
    dropped, so a clip shifted by whole frames still collides on its
    unshifted interior frames (the fixture's odd/even one-frame offset
    pairs share 3 of 4 spectra and are found; the time-domain
    dedup_audio_fp misses them because total-window energies shift).

    Scale: exchanges move (doc_id, one string key) rows keyed by frame
    spectrum; pair work is Σ|spectrum bucket|², never n²; audio bytes
    were reduced to 4 ints/frame upstream."""
    sig = q_audio_spectral_export(spark, sf_dir)
    fkeys = sig.groupBy("doc_id", "frame").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bin", "mag2"))),
                lambda r: r["mag2"].cast("string"),
            ),
            "-",
        ).alias("skey")
    )
    a = fkeys.select(F.col("doc_id").alias("doc_a"), "skey")
    b = fkeys.select(F.col("doc_id").alias("doc_b"), "skey")
    return (
        a.join(b, "skey")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "skey")
        .distinct()
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_common"))
        .where(F.col("n_common") >= AUDIO_SPEC_MIN_COMMON)
    )


SQL_DEDUP_AUDIO_SPECTRAL = f"""
WITH sig AS ({SQL_AUDIO_SPECTRAL_EXPORT}),
fkeys AS (
  SELECT doc_id, frame,
         string_agg(CAST(mag2 AS VARCHAR), '-' ORDER BY bin) AS skey
  FROM sig GROUP BY doc_id, frame
)
SELECT doc_a, doc_b, CAST(count(*) AS INT) AS n_common
FROM (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.skey
  FROM fkeys a JOIN fkeys b ON a.skey = b.skey AND a.doc_id < b.doc_id
)
GROUP BY doc_a, doc_b
HAVING count(*) >= {AUDIO_SPEC_MIN_COMMON}
"""


# --- corpus hygiene: repetition, contamination, mixture ----------------------


def repetition_exprs(text_col):
    """The repetition-signal column expressions, shared by the query
    and the property tests so the tested code IS the shipped code.
    Returns (words, bigrams, top_bigram_count) Columns. The top-bigram
    multiplicity is the max RUN LENGTH over the sorted bigram array,
    ONE aggregate pass per row: the previous distinct x filter nesting
    re-evaluated the whole split/zip chain per distinct bigram (O(L^2)
    with a huge constant — measured 103 s on the x10 corpus vs 3.6 s
    for this form, byte-identical output)."""
    w = F.split(text_col, " ")
    n = F.size(w)
    bg_len = F.greatest(n - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, bg_len),
        F.slice(w, 2, bg_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )

    def _step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    # coalesce preserves the pre-r4 null-safe contract: a NULL text
    # yields 0, not NULL (aggregate over a NULL array returns NULL;
    # the old coalesce(array_max(...), 0) form returned 0).
    top_bg = F.coalesce(
        F.aggregate(
            F.array_sort(bg),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            _step,
            lambda acc: acc.best,
        ),
        F.lit(0),
    )
    return w, bg, top_bg


def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals — the filter that catches boiler-
    plate and looping generations before training: per doc, the
    duplicate-word fraction and the share of bigrams taken by the single
    most frequent bigram. Pure higher-order-function expressions
    (split/zip_with/aggregate, see repetition_exprs), JVM-side,
    map-only — a narrow scan at 100 TB. Fractions are IEEE double
    divisions of identical integers on both engines, rounded to 4dp —
    hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    w, bg, top_bg = repetition_exprs(F.col("text"))
    n = F.size(w)
    n_words = n.cast("int").alias("n_words")
    n_distinct = F.size(F.array_distinct(w)).cast("int").alias("n_distinct")
    n_bigrams = F.size(bg).cast("int").alias("n_bigrams")
    return d.select(
        "doc_id",
        n_words,
        n_distinct,
        n_bigrams,
        top_bg.cast("int").alias("top_bigram_n"),
        fround(
            (n - F.size(F.array_distinct(w))).cast("double") / n.cast("double"), 4
        ).alias("dup_word_frac"),
        fround(
            top_bg.cast("double")
            / F.greatest(F.size(bg), F.lit(1)).cast("double"),
            4,
        ).alias("top_bigram_frac"),
    )


SQL_REPETITION_SCORE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), b AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
  FROM t
), m AS (
  SELECT doc_id, w, bg,
         coalesce(list_max(list_transform(list_distinct(bg),
                                          x -> len(list_filter(bg, y -> y = x)))),
                  0) AS top_bg
  FROM b
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_words,
       CAST(len(list_distinct(w)) AS INT) AS n_distinct,
       CAST(len(bg) AS INT) AS n_bigrams,
       CAST(top_bg AS INT) AS top_bigram_n,
       floor(CAST(len(w) - len(list_distinct(w)) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS dup_word_frac,
       floor(CAST(top_bg AS DOUBLE)
               / CAST(greatest(len(bg), 1) AS DOUBLE) * 1e4 + 0.5) / 1e4
         AS top_bigram_frac
FROM m
"""


CONTAM_NGRAM_N = 8
CONTAM_PROBE_MOD = 97
CONTAM_LEAK_MOD = 13
# exactly CONTAM_NGRAM_N words: appended to probe docs and to the
# "leaked" corpus docs so the fixture has true positives AND true
# negatives (the raw word-salad corpus shares no organic 8-grams)
CONTAM_PHRASE = "bench mark probe eval suite heldout secret phrase"


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag every training doc sharing any
    8-gram with the held-out probe set (here: doc_id % 97 == 0 stands
    in for the benchmark, and a constant benchmark phrase is injected
    into probes plus doc_id % 13 == 0 'leaked' docs so the oracle
    verifies both the hit and the miss path). Plan shape for 100 TB:
    the probe set's n-grams aggregate to ONE array row (benchmarks are
    small by definition — even a 100k-example suite is ~10 MB of
    grams), which broadcasts; the corpus is then a narrow map with
    arrays_overlap — never shuffled, never exploded. If the probe side
    ever outgrew a broadcast array, the fallback is the exploded
    broadcast semi-join (one corpus shuffle on doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    leaked = (F.col("doc_id") % CONTAM_LEAK_MOD == 0) | (
        F.col("doc_id") % CONTAM_PROBE_MOD == 0
    )
    text = F.when(
        leaked, F.concat(F.col("text"), F.lit(" " + CONTAM_PHRASE))
    ).otherwise(F.col("text"))
    # token array materialized once per row before the per-gram lambda
    # (docs/SCALE.md rule 1: never slice the raw split() inside it)
    dw = d.select("doc_id", F.split(text, " ").alias("w"))
    w = F.col("w")
    n = F.size(w)
    grams = F.when(
        n >= CONTAM_NGRAM_N,
        F.transform(
            F.sequence(F.lit(1), n - (CONTAM_NGRAM_N - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, CONTAM_NGRAM_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs_g = dw.select("doc_id", grams.alias("grams"))
    probe = (
        docs_g.where(F.col("doc_id") % CONTAM_PROBE_MOD == 0)
        .select(F.explode("grams").alias("g"))
        .agg(F.array_sort(F.collect_set("g")).alias("pg"))
        .select(F.lit(1).alias("j"), "pg")
    )
    return (
        docs_g.withColumn("j", F.lit(1))
        .join(F.broadcast(probe), "j")
        .select(
            "doc_id",
            (F.col("doc_id") % CONTAM_PROBE_MOD == 0).cast("int").alias("is_probe"),
            F.coalesce(F.arrays_overlap("grams", "pg"), F.lit(False))
            .cast("int")
            .alias("contaminated"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH t AS (
  SELECT doc_id,
         string_split(CASE WHEN doc_id % {CONTAM_LEAK_MOD} = 0
                             OR doc_id % {CONTAM_PROBE_MOD} = 0
                           THEN text || ' {CONTAM_PHRASE}'
                           ELSE text END, ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {CONTAM_NGRAM_N}
              THEN list_transform(range(1, len(w) - {CONTAM_NGRAM_N - 2}),
                                  i -> array_to_string(w[i:i+{CONTAM_NGRAM_N - 1}], ' '))
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t
), pg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {CONTAM_PROBE_MOD} = 0
), pl AS (
  SELECT list(gram) AS pgl FROM pg
)
SELECT g.doc_id,
       CAST(g.doc_id % {CONTAM_PROBE_MOD} = 0 AS INT) AS is_probe,
       CAST(coalesce(list_has_any(g.grams, pl.pgl), FALSE) AS INT) AS contaminated
FROM g, pl
"""


def q_cluster_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for data curation — discover the corpus's
    domain structure by k-means over embeddings (the step behind
    cluster-balanced sampling and domain-weighted mixtures). Reuses the
    IVF training path: centroids via MLlib treeAggregate (corpus
    scanned, never shuffled), assignment by broadcast-argmax. Output is
    per-cluster size + cohesion (mean cosine to own centroid) — the
    curation signals. Rows-only: k-means is seed-deterministic within
    Spark but not reproducible in DuckDB; the recall/consistency unit
    tests live with the IVF family, and the assignment SEMANTICS are
    anchored by the oracle-backed kmeans_assign_export (r10 — the
    frozen-centroid integer-argmin twin)."""
    from etl_dagster_service_crawler_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, assignments = ivf_assign(emb, n_centroids=8)
    scored = assignments.join(F.broadcast(centroids), "cid").select(
        "cid", cosine(F.col("embedding"), F.col("cvec")).alias("ccos")
    )
    return (
        scored.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_members"),
            fround(F.avg("ccos"), 4).alias("cohesion"),
        )
        .orderBy("cid")
    )


KMEANS_EXPORT_K = 8


def q_kmeans_assign_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-centroid k-means ASSIGNMENT export (VERDICT r9 item 8) —
    the oracle-backed anchor for the rows-only
    cluster_semantic_kmeans: under the deterministic md5-picked
    centroid set the assign step is a pure integer argmin in the int8
    domain, so (vec_id, cluster_id, d2_q8) value-hash oracle-checks
    exactly like ivf_assign_export does for the cosine-argmax IVF
    family. What a trained run cannot replay in DuckDB (the k-means
    iterations), this pins at the step every consumer feeds into:
    nearest-centroid assignment by squared-L2 over int8-quantized
    vectors, ties to the smallest cluster.

    Scale shape = assign_cells: broadcast the KMEANS_EXPORT_K
    quantized centroids, ONE corpus scan with a map-side-combining
    min aggregate — the exchange carries n (id, int, bigint) rows,
    never the n x k candidate frame; the seed-pick window is
    export-only scaffolding (8 rows)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _il2,
        hash_spread_seeds,
        quantize_rows,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cent = quantize_rows(hash_spread_seeds(e, KMEANS_EXPORT_K), "cid", "cvec").select(
        F.col("id").cast("int").alias("cluster_id"), F.col("q8").alias("qc")
    )
    # _il2, not an inline fold: its per-term coalesce is the
    # engine-parity seam for wrong-dim rows (zip_with pads NULL and a
    # bare fold would go NULL while DuckDB's list_sum skips terms —
    # the r9 invariant _sql_il2 states on the oracle side)
    d2 = _il2(F.col("qv"), F.col("qc"))
    return (
        quantize_rows(e).select(F.col("id").alias("vec_id"), F.col("q8").alias("qv"))
        .join(F.broadcast(cent))
        .select("vec_id", "cluster_id", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("cluster_id"))).alias("s"))
        .select(
            "vec_id",
            F.col("s.cluster_id").cast("int").alias("cluster_id"),
            F.col("s.d2").cast("bigint").alias("d2_q8"),
        )
    )


def _sql_kmeans_assign_export() -> str:
    return f"""
WITH {_SQL_Q8},
kc AS (
  SELECT CAST(rk - 1 AS INT) AS cluster_id, qv AS qc
  FROM (
    SELECT qv,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             AS rk
    FROM q8
  )
  WHERE rk <= {KMEANS_EXPORT_K}
),
sc AS (
  SELECT e.vec_id, c.cluster_id, {_sql_il2("e.qv", "c.qc")} AS d2
  FROM q8 e, kc c
)
SELECT vec_id, CAST(cluster_id AS INT) AS cluster_id,
       CAST(d2 AS BIGINT) AS d2_q8
FROM (
  SELECT vec_id, cluster_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id)
           AS rn
  FROM sc
)
WHERE rn = 1
"""


def q_kmeans_update_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-assignment k-means UPDATE export (r10) — the other half
    of Lloyd's iteration: given kmeans_assign_export's oracle-checked
    assignment, the new centroid of every cluster as the exact integer
    mean per (cluster, dim) in the int8 domain. With assign (argmin)
    AND update (recompute) both value-hash-checked, one full Lloyd's
    step is oracle-anchored end-to-end — what the trained
    cluster_semantic_kmeans cannot replay in DuckDB is now pinned at
    both of its constituent operations.

    Exactness: per-(cluster, dim) sums are exact BIGINTs in any order;
    the mean removes the remainder before dividing (pmod idiom —
    Spark `div` truncates, DuckDB `//` floors; identical once the
    remainder is gone, the embedding_centroids_int rule).

    Scale: the assignment join is vec_id-keyed equi; posexplode
    multiplies rows by the dim count but the (cluster, pos) partial
    aggregate combines map-side — the exchange carries k x dims rows
    per task, constant in n (treeAggregate semantics relationally)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        quantize_rows,
    )

    assign = q_kmeans_assign_export(spark, sf_dir).select(
        "vec_id", "cluster_id"
    )
    e = quantize_rows(load_table(spark, sf_dir, "embeddings")).select(
        F.col("id").alias("vec_id"), F.col("q8").alias("qv")
    )
    ex = e.join(assign, "vec_id").select(
        "cluster_id", F.posexplode("qv").alias("pos", "q")
    )
    agg = ex.groupBy("cluster_id", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    return agg.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("pos").cast("int").alias("pos"),
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("s"),
        F.expr("(s - pmod(s, n)) div n").cast("bigint").alias("mean_q"),
    )


def _sql_kmeans_update_export() -> str:
    return f"""
WITH {_SQL_Q8},
asg AS ({_sql_kmeans_assign_export()}),
ex AS (
  SELECT a.cluster_id,
         CAST(unnest(generate_series(0, len(e.qv) - 1)) AS INT) AS pos,
         CAST(unnest(e.qv) AS BIGINT) AS q
  FROM q8 e JOIN asg a USING (vec_id)
)
SELECT CAST(cluster_id AS INT) AS cluster_id, pos,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(q) AS BIGINT) AS s,
       CAST((CAST(sum(q) AS BIGINT)
             - ((CAST(sum(q) AS BIGINT) % count(*)) + count(*)) % count(*))
            // count(*) AS BIGINT) AS mean_q
FROM ex GROUP BY cluster_id, pos
"""


KMEANS_TRAIN_ITERS = 3


def q_kmeans_train_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multi-iteration Lloyd's loop, oracle-checked (r10
    verdict item 5): starting from the md5-picked seeds, run
    KMEANS_TRAIN_ITERS assign→update rounds and emit the complete
    centroid TRAJECTORY — (iter, cluster_id, pos, n, s, mean_q) for
    every iteration — value-hash-checked against an unrolled CTE chain
    (the bpe_train_merges discipline applied to k-means). Iteration 1
    is definitionally the r10 kmeans_assign_export+kmeans_update_export
    pair (pinned by test); iterations 2..N re-assign against the
    PREVIOUS iteration's exact integer means. This upgrades the
    k-means family from 'one iteration anchored' to 'the training
    loop itself oracle-checked' — what cluster_semantic_kmeans's
    MLlib-trained path cannot replay in DuckDB, this loop does, with
    the same argmin/integer-mean semantics.

    Exactness: assignment is integer argmin (ties to smallest
    cluster); means remove the remainder before dividing (pmod idiom);
    clusters that lose all members drop out of the trajectory on both
    engines (GROUP BY emits no empty groups).

    Scale: per iteration ONE corpus scan (broadcast k centroids,
    map-side-combining min) + one k×dims-row update aggregate; the
    per-iteration localCheckpoint truncates lineage so plan depth is
    constant in the iteration count (the CC-loop rule). The corpus
    frame is persisted once and re-scanned, never re-shuffled."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _il2,
        hash_spread_seeds,
        quantize_rows,
    )

    e_raw = load_table(spark, sf_dir, "embeddings")
    e = quantize_rows(e_raw).select(
        F.col("id").alias("vec_id"), F.col("q8").alias("qv")
    ).persist()
    cent = quantize_rows(
        hash_spread_seeds(e_raw, KMEANS_EXPORT_K), "cid", "cvec"
    ).select(F.col("id").cast("int").alias("cluster_id"), F.col("q8").alias("qc"))
    outs = []
    for it in range(1, KMEANS_TRAIN_ITERS + 1):
        d2 = _il2(F.col("qv"), F.col("qc"))
        assign = (
            e.join(F.broadcast(cent))
            .select("vec_id", "cluster_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min(F.struct(F.col("d2"), F.col("cluster_id"))).alias("m"))
            .select("vec_id", F.col("m.cluster_id").alias("cluster_id"))
        )
        upd = (
            e.join(assign, "vec_id")
            .select("cluster_id", F.posexplode("qv").alias("pos", "q"))
            .groupBy("cluster_id", "pos")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s"))
            .select(
                F.col("cluster_id").cast("int").alias("cluster_id"),
                F.col("pos").cast("int").alias("pos"),
                F.col("n").cast("bigint").alias("n"),
                F.col("s").cast("bigint").alias("s"),
                F.expr("(s - pmod(s, n)) div n").cast("bigint").alias("mean_q"),
            )
            .localCheckpoint()
        )
        outs.append(upd.select(F.lit(it).cast("int").alias("iter"), "*"))
        cent = upd.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_q"))),
                lambda r: r["mean_q"],
            ).alias("qc")
        )
    e.unpersist()  # every round's output is localCheckpointed already
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _sql_kmeans_train_iters() -> str:
    k = KMEANS_EXPORT_K
    ctes = [
        _SQL_Q8,
        f"""c0 AS (
  SELECT CAST(rk - 1 AS INT) AS cluster_id, qv AS qc
  FROM (
    SELECT qv,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             AS rk
    FROM q8
  )
  WHERE rk <= {k}
)""",
    ]
    for t in range(1, KMEANS_TRAIN_ITERS + 1):
        ctes.append(f"""a{t} AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_il2("e.qv", "c.qc")}, c.cluster_id)
             AS rn
    FROM q8 e, c{t - 1} c
  ) WHERE rn = 1
)""")
        ctes.append(f"""u{t} AS (
  SELECT CAST(cluster_id AS INT) AS cluster_id, CAST(pos AS INT) AS pos,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS s,
         CAST((CAST(sum(q) AS BIGINT)
               - ((CAST(sum(q) AS BIGINT) % count(*)) + count(*)) % count(*))
              // count(*) AS BIGINT) AS mean_q
  FROM (
    SELECT a.cluster_id,
           CAST(unnest(generate_series(0, len(e.qv) - 1)) AS INT) AS pos,
           CAST(unnest(e.qv) AS BIGINT) AS q
    FROM q8 e JOIN a{t} a USING (vec_id)
  )
  GROUP BY cluster_id, pos
)""")
        if t < KMEANS_TRAIN_ITERS:
            ctes.append(f"""c{t} AS (
  SELECT cluster_id, list(mean_q ORDER BY pos) AS qc
  FROM u{t} GROUP BY cluster_id
)""")
    unions = " UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS iter, cluster_id, pos, n, s, mean_q "
        f"FROM u{t}"
        for t in range(1, KMEANS_TRAIN_ITERS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


def q_mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling — downweight sources to a target mix
    (the pretraining recipe step: wiki x1.0, crawl x0.25, ...). Weights
    here are (src % 4 + 1)/4 in sixteenths; a doc survives iff the
    first md5 nibble of its id clears the source's threshold — the same
    cross-engine-reproducible hash-split as split_train_holdout, so the
    sample is stable under reruns, repartitioning, and appends. Pure
    filter: no shuffle, no rand(), trivially parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int")
    idx = F.pmod(src_num, F.lit(4))
    # thresholds per weight tier: 4/16, 8/16, 12/16, 16/16 ('g' > 'f'
    # admits every nibble)
    thr = F.element_at(F.array(F.lit("4"), F.lit("8"), F.lit("c"), F.lit("g")), idx + 1)
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.where(nib < thr).select(
        "doc_id",
        "source",
        ((idx + 1) * 4).cast("int").alias("weight_16"),
    )


SQL_MIX_WEIGHTED_SAMPLE = r"""
SELECT doc_id, source,
       CAST((CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4 + 1) * 4 AS INT)
         AS weight_16
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      CASE CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4
        WHEN 0 THEN '4' WHEN 1 THEN '8' WHEN 2 THEN 'c' ELSE 'g' END
"""


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health profile — the monitoring artifact
    an embedding pipeline persists to catch dead dimensions (all-zero),
    saturated ones (pinned at ±127 after quantization), and drifting
    magnitudes. Stats run in the int8 storage domain (the
    embedding_quantize formula, parity proven by that oracle), so every
    number is an exact integer and the whole profile value-hash
    oracle-checks — a float per-dim mean would fold in engine-specific
    order.

    Scale: one posexplode (narrow, 64 rows per vector of two small
    ints) + one 64-group aggregate with map-side combine. The exchange
    carries dim-partial sums, never vectors."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        quantize_rows,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("v")
    return (
        quantize_rows(e).select(F.posexplode("q8").alias("dim", "v"))
        .groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(
            F.sum(v).cast("bigint").alias("sum_q8"),
            F.min(v).cast("int").alias("min_q8"),
            F.max(v).cast("int").alias("max_q8"),
            F.sum(F.when(v == 0, 1).otherwise(0)).cast("bigint").alias("n_zero"),
            F.sum(F.when(F.abs(v) == 127, 1).otherwise(0))
            .cast("bigint")
            .alias("n_saturated"),
        )
    )


def _sql_embedding_dim_profile() -> str:
    # deferred: _SQL_Q8 is defined further down in the PQ section
    return f"""
WITH {_SQL_Q8},
ex AS (
  SELECT CAST(i - 1 AS INT) AS dim, qv[i] AS v
  FROM (
    SELECT qv, unnest(generate_series(1, len(qv))) AS i FROM q8
  )
)
SELECT dim,
       CAST(sum(v) AS BIGINT) AS sum_q8,
       CAST(min(v) AS INT) AS min_q8,
       CAST(max(v) AS INT) AS max_q8,
       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(sum(CASE WHEN abs(v) = 127 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_saturated
FROM ex GROUP BY dim
"""


def q_mix_sqrt_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (the multilingual-LM α<1
    sampling move): per-source keep budget = floor(sqrt(n_src · n_min))
    — the geometric mean with the SMALLEST source — so over-represented
    sources are compressed toward the small ones while ratios keep
    their order (α=0.5 in spirit, but integer-exact: one sqrt of an
    integer product per source, never a cross-row float sum that could
    fold differently per engine). Selection inside a source is the
    hash-rank idiom: keep the budget smallest by (md5(id), id) —
    rerun-, repartition-, and append-stable.

    Scale: one count aggregate by source, a 1-row min broadcast, a
    per-source rank window (sources are the partition key — the
    natural parallelism of mixture work), and a broadcast budget join.
    No rand(), no shuffle beyond the rank."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    nmin = cnt.agg(F.min("n_src").alias("n_min"))
    budget = cnt.crossJoin(F.broadcast(nmin)).select(
        "source",
        F.floor(F.sqrt(F.col("n_src") * F.col("n_min")))
        .cast("int")
        .alias("budget"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select("doc_id", "source").withColumn(
        "rk", F.row_number().over(w).cast("int")
    )
    return ranked.join(F.broadcast(budget), "source").where(
        F.col("rk") <= F.col("budget")
    ).select("doc_id", "source", "rk")


def q_mix_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-based source OVERSAMPLING (r10) — the other half of
    mixture design: where mix_sqrt_temperature compresses
    over-represented sources DOWN, this repeats under-represented
    sources UP to the largest source's size (the 'epochs per dataset'
    knob in LLM data recipes): every source emits exactly n_max rows —
    floor(n_max / n_src) full epochs of every doc plus one partial
    epoch of the (n_max mod n_src) hash-rank-smallest docs. Integer
    arithmetic end to end; the partial-epoch pick is the md5-rank
    idiom — rerun-, repartition-, and append-stable, no rand().

    Scale: one source-count aggregate, a 1-row max broadcast, the
    per-source rank window (sources partition the work), then a
    map-only sequence explode whose fan-out IS the oversampling ratio
    — data-inherent output size, no join amplification."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    nmax = cnt.agg(F.max("n_src").alias("n_max"))
    plan = cnt.crossJoin(F.broadcast(nmax)).select(
        "source",
        F.expr("n_max DIV n_src").alias("fe"),
        (F.col("n_max") % F.col("n_src")).alias("rem"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select("doc_id", "source").withColumn(
        "rk", F.row_number().over(w)
    )
    copies = ranked.join(F.broadcast(plan), "source").select(
        "doc_id",
        "source",
        (
            F.col("fe")
            + F.when(F.col("rk") <= F.col("rem"), F.lit(1)).otherwise(F.lit(0))
        ).alias("copies"),
    )
    return copies.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.col("copies") - 1)).alias("ep"),
    ).select("doc_id", "source", F.col("ep").cast("int").alias("epoch"))


SQL_MIX_UPSAMPLE_EPOCHS = """
WITH cnt AS (
  SELECT source, count(*) AS n_src FROM documents GROUP BY source
),
nmax AS (SELECT max(n_src) AS n_max FROM cnt),
plan AS (
  SELECT source, n_max // n_src AS fe, n_max % n_src AS rem FROM cnt, nmax
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rk
  FROM documents
),
cop AS (
  SELECT r.doc_id, r.source,
         p.fe + CASE WHEN r.rk <= p.rem THEN 1 ELSE 0 END AS copies
  FROM ranked r JOIN plan p USING (source)
)
SELECT doc_id, source, CAST(e.off AS INT) AS epoch
FROM cop, unnest(generate_series(0, copies - 1)) AS e(off)
"""


SQL_MIX_SQRT_TEMPERATURE = """
WITH cnt AS (
  SELECT source, count(*) AS n_src FROM documents GROUP BY source
),
nmin AS (SELECT min(n_src) AS n_min FROM cnt),
budget AS (
  SELECT source, CAST(floor(sqrt(n_src * n_min)) AS INT) AS budget
  FROM cnt, nmin
),
ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                          doc_id) AS INT) AS rk
  FROM documents
)
SELECT r.doc_id, r.source, r.rk
FROM ranked r JOIN budget b ON r.source = b.source
WHERE r.rk <= b.budget
"""


CLEAN_QUALITY_MIN = 0.2
CLEAN_REP_MAX = 0.65
CLEAN_PACK_BUDGET = 2048
CLEAN_PACK_SHARDS = 16


def q_pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining-corpus clean — the composed query a
    100 TB pipeline actually runs, chaining the hygiene operators in
    their production order:

      1. language consistency: lexicon lang_id must agree with the
         lang metadata column (drops mislabeled docs)       [narrow]
      2. quality gate: score >= 0.2                          [narrow]
      3. repetition gate: dup-word fraction <= 0.65          [narrow]
      4. exact dedup: smallest doc_id per md5(text) wins   [shuffle 1]
      5. sequence packing: ~2048-token packs per (source,
         doc_id % 16) shard                                [shuffle 2]

    Plan shape: all three filters are narrow map stages fused into the
    scan-side stage, so the expensive exchanges only ever see the
    SURVIVING rows; dedup and packing are the only two shuffles. At
    100 TB the filters typically drop 30-60% of the corpus before the
    first byte is exchanged — filter placement IS the optimization."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    dup_frac = (n - F.size(F.array_distinct(w))).cast("double") / n.cast("double")
    survivors = d.where(
        (lang_id(F.col("text")) == F.col("lang"))
        & (quality_score(F.col("text"), F.col("n_chars")) >= CLEAN_QUALITY_MIN)
        & (dup_frac <= CLEAN_REP_MAX)
    )
    wdup = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    wcnt = Window.partitionBy(F.md5(F.col("text")))
    deduped = (
        survivors.select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tok"),
            F.row_number().over(wdup).alias("rn"),
            F.count(F.lit(1)).over(wcnt).cast("int").alias("n_dups"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    shard = F.pmod(F.col("doc_id"), F.lit(CLEAN_PACK_SHARDS)).cast("int")
    wpack = (
        Window.partitionBy("source", shard)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tok").over(wpack)
    return deduped.select(
        "doc_id",
        "source",
        shard.alias("shard"),
        "n_tok",
        "n_dups",
        F.floor((cum - F.col("n_tok")) / float(CLEAN_PACK_BUDGET))
        .cast("int")
        .alias("pack_id"),
    )


# split point as an integer fraction: floor(0.7·n) computes as
# (n·7) DIV 10 on both engines — a float count*0.7 is DECIMAL-exact in
# DuckDB but double-rounded in Spark (the review-pass-3 class; at fixture
# scale the two agree, at 1e11-doc scale the double lands ~1e-5 from the
# integer boundary and floor can go off by one)
CLEAN_INCR_SPLIT_NUM, CLEAN_INCR_SPLIT_DEN = 7, 10


def q_corpus_clean_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY shape of the corpus clean: an existing cleaned corpus
    (docs below the split point stand in for yesterday's output) plus a
    new arrival batch — today's docs UNION a simulated re-crawl (every
    7th existing doc arrives again under a fresh id, the way a crawler
    re-fetches unchanged pages). The new batch runs the same hygiene
    gates, then drops every doc whose text-hash already exists in the
    cleaned corpus (LEFT ANTI join on md5 — the reference's
    incremental-skip, Q2, at corpus scale; provably exercised: all
    re-crawls must vanish), then dedups within itself. At 100 TB the
    anti-join probes yesterday's hash index (hash, 16 bytes/row — a
    fraction of corpus size, bucketable by hash prefix); today's text
    is touched once and never joined against yesterday's TEXT.

    The split point (what counts as "yesterday") is computed IN-PLAN:
    a single-row count aggregate broadcast-crossed onto the scan —
    mirroring the SQL's `split` CTE — so building this DataFrame stays
    lazy and the scan isn't paid once for a driver-side count and again
    for the query (the broadcast join adds no exchange to the
    doc-sized side)."""
    d = load_table(spark, sf_dir, "documents")
    split = d.agg(
        F.expr(
            f"(count(*) * {CLEAN_INCR_SPLIT_NUM}) DIV {CLEAN_INCR_SPLIT_DEN}"
        )
        .cast("bigint")
        .alias("sid"),
        F.count("*").alias("n_docs"),
    )
    d = d.crossJoin(F.broadcast(split))
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    dup_frac = (n - F.size(F.array_distinct(w))).cast("double") / n.cast("double")
    gates = (
        (lang_id(F.col("text")) == F.col("lang"))
        & (quality_score(F.col("text"), F.col("n_chars")) >= CLEAN_QUALITY_MIN)
        & (dup_frac <= CLEAN_REP_MAX)
    )
    existing = d.where(F.col("doc_id") < F.col("sid")).where(gates)
    existing_hashes = existing.select(
        F.md5(F.col("text")).alias("text_hash")
    ).distinct()
    recrawl = existing.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.col("n_docs")
    )
    new_batch = (
        d.where(F.col("doc_id") >= F.col("sid")).where(gates).unionByName(recrawl)
    )
    fresh = new_batch.join(
        existing_hashes,
        F.md5(new_batch["text"]) == existing_hashes["text_hash"],
        "left_anti",
    )
    wdup = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        fresh.select(
            "doc_id",
            "source",
            F.md5(F.col("text")).alias("text_hash"),
            F.row_number().over(wdup).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("doc_id")
    )


def _corpus_clean_incremental_sql() -> str:
    hit_cols, guess = lang_guess_sql("w")
    return f"""
WITH t AS (
  SELECT doc_id, text, lang, source, string_split(text, ' ') AS w FROM documents
), h AS (
  SELECT *, {hit_cols} FROM t
), f AS (
  SELECT doc_id, text, source FROM h
  WHERE ({guess}) = lang
    AND 0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
      + 0.5 * (CAST(h_en AS DOUBLE) / CAST(len(w) AS DOUBLE))
        >= {CLEAN_QUALITY_MIN}
    AND CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        <= {CLEAN_REP_MAX}
), split AS (
  SELECT CAST((count(*) * {CLEAN_INCR_SPLIT_NUM}) // {CLEAN_INCR_SPLIT_DEN}
              AS BIGINT) AS sid,
         count(*) AS n_docs
  FROM documents
), batch AS (
  SELECT f.doc_id, f.text, f.source FROM f, split WHERE f.doc_id >= split.sid
  UNION ALL
  SELECT f.doc_id + split.n_docs AS doc_id, f.text, f.source
  FROM f, split WHERE f.doc_id < split.sid AND f.doc_id % 7 = 0
), nw AS (
  SELECT b.* FROM batch b, split
  WHERE md5(b.text) NOT IN (
      SELECT md5(e.text) FROM f e, split WHERE e.doc_id < split.sid
    )
)
SELECT doc_id, source, md5(text) AS text_hash
FROM (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM nw
)
WHERE rn = 1
ORDER BY doc_id
"""


def _corpus_clean_sql() -> str:
    hit_cols, guess = lang_guess_sql("w")
    return f"""
WITH t AS (
  SELECT doc_id, text, lang, source, string_split(text, ' ') AS w FROM documents
), h AS (
  SELECT *, {hit_cols} FROM t
), f AS (
  SELECT doc_id, text, source, len(w) AS n_tok FROM h
  WHERE ({guess}) = lang
    AND 0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
      + 0.5 * (CAST(h_en AS DOUBLE) / CAST(len(w) AS DOUBLE))
        >= {CLEAN_QUALITY_MIN}
    AND CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        <= {CLEAN_REP_MAX}
), d AS (
  SELECT doc_id, source, n_tok,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS n_dups
  FROM f
)
SELECT doc_id, source,
       CAST(doc_id % {CLEAN_PACK_SHARDS} AS INT) AS shard,
       CAST(n_tok AS INT) AS n_tok,
       CAST(n_dups AS INT) AS n_dups,
       CAST(floor((sum(n_tok) OVER (PARTITION BY source, doc_id % {CLEAN_PACK_SHARDS}
                                    ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok) / {float(CLEAN_PACK_BUDGET)}) AS INT) AS pack_id
FROM d
WHERE rn = 1
"""


def q_source_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language mix report: doc count, language count,
    dominant language and its share in integer basis points — the
    crawl-curation dashboard that decides which sources feed which
    language buckets (generalizes the reference's per-keyword crawl
    accounting, test.py:129-144, to corpus composition). Dominance
    ties break to the lexicographically smallest lang via min over a
    (-cnt, lang) struct — pinned identically in the oracle's
    row_number ordering.

    Scale: ONE (source, lang) aggregation exchange (map-side
    combined), then a source-sized regroup — the fact text never
    moves."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    top = F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lang").alias("lg")))
    per = counts.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).cast("int").alias("n_langs"),
        top.alias("top"),
    )
    return per.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_langs",
        F.col("top.lg").alias("top_lang"),
        F.expr("int((10000 * -top.nc) div n_docs)").alias("top_share_bp"),
    )


SQL_SOURCE_LANG_MIX = """
WITH counts AS (
  SELECT source, lang, count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT source, lang, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, lang) AS rn
  FROM counts
),
per AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(count(*) AS INT) AS n_langs
  FROM counts GROUP BY source
)
SELECT p.source, p.n_docs, p.n_langs,
       r.lang AS top_lang,
       CAST((10000 * r.cnt) // p.n_docs AS INT) AS top_share_bp
FROM per p JOIN ranked r ON p.source = r.source AND r.rn = 1
"""


EMB_CENTROID_SCALE = 64


def q_embedding_centroids_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of quantized embeddings — the seed step of
    every IVF/k-means index build, made oracle-exact: elements snap to
    integer 1/64 units (floor(x*64+0.5)), so per-(label, dim) sums are
    exact BIGINTs in any order and the mean is a true floor division
    (pmod idiom: Spark `div` truncates, DuckDB `//` floors — removing
    the remainder first makes them identical on negatives).

    Scale: posexplode multiplies rows by the dimension count, but the
    (label, pos) partial aggregate combines map-side, so the exchange
    carries labels x dims rows per task — constant in n. The same
    shape trains real centroids at 100 TB (treeAggregate semantics
    expressed relationally)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * EMB_CENTROID_SCALE + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    exploded = emb.select("label", F.posexplode(q).alias("pos", "qv"))
    agg = exploded.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qv").alias("s")
    )
    return agg.select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("s"),
        F.expr("(s - pmod(s, n)) div n").cast("bigint").alias("mean_q"),
    )


SQL_EMB_CENTROIDS = f"""
WITH q AS (
  SELECT label,
         CAST(unnest(generate_series(0, len(embedding) - 1)) AS INT) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {EMB_CENTROID_SCALE}
                    + 0.5) AS BIGINT) AS qv
  FROM embeddings
)
SELECT label, pos,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(qv) AS BIGINT) AS s,
       CAST((CAST(sum(qv) AS BIGINT)
             - ((CAST(sum(qv) AS BIGINT) % count(*)) + count(*)) % count(*))
            // count(*) AS BIGINT) AS mean_q
FROM q GROUP BY label, pos
"""


MINHASH_EXPORT_SEEDS = 8
# Mersenne prime 2^31-1; affine coefficients pinned small so
# a * (h % P) + b stays far inside BIGINT on both engines
MINHASH_EXPORT_P = 2147483647
MINHASH_EXPORT_A = [3, 5, 7, 11, 13, 17, 19, 23]
MINHASH_EXPORT_B = [17, 29, 41, 53, 67, 79, 97, 113]


@functools.cache
def _export_sig_udf():
    """The export's signature kernel, built once on first use:
    sig[k] = min over hv of (a_k*h + b_k) mod P for the MINHASH_EXPORT
    coefficients, the all-P sentinel for an empty hv. Shared by the
    signature export and the band keys, so both fold alike."""
    return make_affine_min_sig_udf(
        MINHASH_EXPORT_A, MINHASH_EXPORT_B, MINHASH_EXPORT_P
    )


def minhash_hv_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, hv) over an arbitrary documents FRAME (batch or one
    micro-batch) — each document's distinct 3-token shingles hashed
    to BIGINTs in [0, P): md5 low 60 hex-bits mod P, identical in
    Spark's conv() and DuckDB's 0x-cast (the oracle-replayable hash the
    whole md5-anchored minhash chain builds on). Short docs (< 3
    tokens) get an empty array. Shared by the signature export, the
    r10 candidate-verify stage, AND the r11 streaming ingest
    (streaming/minhash.py), so every consumer uses the literal same
    shingling. Shuffle-free narrow projection."""
    dt = docs.select("doc_id", tokens_ws(F.col("text")).alias("t"))
    t = F.col("t")
    n = F.size(t) - 2
    shingles = F.when(
        n >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat_ws("\x1f", F.slice(t, i, 3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return dt.select(
        "doc_id",
        F.transform(
            shingles,
            lambda s: F.pmod(
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
                F.lit(MINHASH_EXPORT_P),
            ),
        ).alias("hv"),
    )


def _minhash_shingle_hv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_hv_frame(load_table(spark, sf_dir, "documents"))


def minhash_bands_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) over an arbitrary documents frame —
    the banded LSH join keys built on minhash_hv_frame's signatures
    (see q_minhash_band_export for the anchored batch entry). Factored
    out (r11) so the streaming ingest computes PER-MICRO-BATCH keys
    with the literal same expressions the batch pipeline verifies."""
    return minhash_bands_from_hv(minhash_hv_frame(docs))


def minhash_bands_from_hv(hv: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from an (doc_id, hv) frame. r14 shape:
    band keys are sliced straight out of the signature ARRAY — each
    band j is '-'-joined sig[j*W+1 .. j*W+W] in seed order, sliced
    from the `_export_sig_udf` signature and emitted by ONE explode.
    The previous shape posexploded all 8 (doc, seed) rows and
    re-grouped them with a collect_list + array_sort aggregate — a
    full corpus-keyed exchange spent re-assembling adjacency the array
    already had. Output rows are bit-identical (oracle:
    SQL_MINHASH_BAND_EXPORT); one exchange removed from every
    consumer (band export, candidate verify, streaming ingest)."""
    sig = _export_sig_udf()("hv")
    w = MINHASH_EXPORT_BAND_ROWS
    n_bands = MINHASH_EXPORT_SEEDS // w
    # sig is materialized as a column BELOW the Generate, so the
    # signature kernel runs once per doc even though the band structs
    # reference it 2*n_bands times.
    with_sig = hv.select("doc_id", sig.alias("__sig"))
    bands = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.element_at("__sig", j * w + r + 1).cast("string")
                        for r in range(w)
                    ],
                ).alias("band_key"),
            )
            for j in range(n_bands)
        ]
    )
    return with_sig.select("doc_id", F.explode(bands).alias("__b")).select(
        "doc_id", "__b.band", "__b.band_key"
    )


def q_minhash_signature_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable MinHash signature artifact: per (doc, seed),
    the minimum affine permutation (a_k*h + b_k) mod P of the doc's
    distinct 3-token shingle hashes. The production family
    (dedup_minhash_*) hashes with xxhash64 for speed, which no oracle
    can replay — this export derives h from md5 (low 60 hex-bits ->
    BIGINT, identical in Spark's conv() and DuckDB's 0x-cast) so the
    ENTIRE signature construction — shingling, shingle dedup, k-way
    permutation minima — is hash-verified end-to-end, anchoring the
    approximate family beyond the exact-mode twins.

    Each shingle is md5'd ONCE; the k components are integer affine
    maps of that hash, minimised per seed in one vectorized pass
    (`_export_sig_udf`, the kernel the band keys use too; the
    md5-per-seed formulation re-hashed k times — measured 8x the
    cost). Short docs (< 3 tokens) export the sentinel P, outside the [0, P) range.
    Scale: one shuffle-free projection per doc."""
    hv = _minhash_shingle_hv(spark, sf_dir)
    sig = _export_sig_udf()("hv")
    return hv.select("doc_id", F.posexplode(sig).alias("seed", "sig")).select(
        "doc_id", F.col("seed").cast("int").alias("seed"), F.col("sig").cast("bigint").alias("sig")
    )


# the (doc_id, hv) CTE chain — the oracle twin of _minhash_shingle_hv,
# shared by the signature export and the r10 verify/containment stages
_SQL_MINHASH_HV_CTES = f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || chr(31) || t[i + 1] || chr(31)
                                  || t[i + 2] FOR i IN range(1, len(t) - 1)])
              ELSE [] END AS sh
  FROM toks
),
hv AS (
  SELECT doc_id,
         list_transform(sh, s ->
           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
             % {MINHASH_EXPORT_P}) AS hv
  FROM sh
)"""


def _minhash_export_sql() -> str:
    p = MINHASH_EXPORT_P
    comps = ", ".join(
        f"coalesce(list_aggregate(list_transform(hv, h -> ({a} * h + {b}) % {p}),"
        f" 'min'), {p})"
        for a, b in zip(MINHASH_EXPORT_A, MINHASH_EXPORT_B)
    )
    return f"""
WITH {_SQL_MINHASH_HV_CTES}
SELECT doc_id,
       CAST(unnest(range(0, {MINHASH_EXPORT_SEEDS})) AS INT) AS seed,
       CAST(unnest([{comps}]) AS BIGINT) AS sig
FROM hv
"""


SQL_MINHASH_EXPORT = _minhash_export_sql()


SIMHASH_EXPORT_BITS = 16


def q_simhash_signature_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable SimHash twin of minhash_signature_export: a
    16-bit simhash per doc from md5-derived token hashes (bit b votes
    +1/-1 by the b-th bit of each distinct token's hash; the signature
    sets bit b iff the vote sum is positive). All-integer vote math —
    bit-for-bit on both engines — anchoring the production
    dedup_simhash (xxhash64, 63-bit) construction with an
    oracle-verified replica of its vote-and-sign shape.

    Scale: shuffle-free per-doc projection; the 16 vote counters fold
    in ONE pass over the token-hash array (aggregate carrying a
    16-wide counter array — not 16 re-walks)."""
    d = load_table(spark, sf_dir, "documents")
    hv = d.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens_ws(F.col("text"))),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        ).alias("hv"),
    )
    votes = F.aggregate(
        "hv",
        F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_EXPORT_BITS),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(h.bitwiseAND(F.lit(1 << b)) != 0, F.lit(1)).otherwise(
                        F.lit(-1)
                    )
                    for b in range(SIMHASH_EXPORT_BITS)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    hv_votes = hv.select("doc_id", F.size("hv").cast("int").alias("n_tokens"), votes.alias("v"))
    sig = sum(
        (
            F.when(F.element_at("v", b + 1) > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(SIMHASH_EXPORT_BITS)
        ),
        F.lit(0),
    )
    return hv_votes.select("doc_id", "n_tokens", sig.cast("bigint").alias("sig16"))


def _simhash_export_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hv, h -> CASE WHEN (h & {1 << b})"
        f" <> 0 THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_EXPORT_BITS)
    )
    return f"""
WITH hv AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
           s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hv
  FROM documents
)
SELECT doc_id,
       CAST(len(hv) AS INT) AS n_tokens,
       CAST(coalesce({bit_terms}, 0) AS BIGINT) AS sig16
FROM hv
"""


SQL_SIMHASH_EXPORT = _simhash_export_sql()


MINHASH_EXPORT_BAND_ROWS = 2  # 8 seeds -> 4 bands x 2 rows


def q_minhash_band_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable LSH BAND-KEY artifact: the banded join keys on
    top of minhash_signature_export's oracle-verified signatures —
    seeds grouped into bands of MINHASH_EXPORT_BAND_ROWS, band key =
    the '-'-joined signature components in seed order. This is the
    last un-anchored piece of the production minhash path
    (operators/dedup.py: signatures -> BANDING -> equi-join on
    (band, band_hash)): with it, shingling, permutation minima, AND
    the blocking keys are all value-hash-checked; only the join
    geometry itself remains approximate-by-nature.

    Scale: derived per doc from the signature projection —
    shuffle-free until the (doc, band)-sized aggregate."""
    return minhash_bands_frame(load_table(spark, sf_dir, "documents"))


SQL_MINHASH_BAND_EXPORT = f"""
SELECT doc_id,
       CAST(seed // {MINHASH_EXPORT_BAND_ROWS} AS INT) AS band,
       string_agg(CAST(sig AS VARCHAR), '-' ORDER BY seed) AS band_key
FROM ({SQL_MINHASH_EXPORT})
GROUP BY doc_id, seed // {MINHASH_EXPORT_BAND_ROWS}
"""


MINHASH_VERIFY_JACCARD_BP = 8000  # Lee-et-al-style near-dup bar (0.8)


def q_dedup_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production MinHash-dedup shape — LSH candidate
    generation then exact verification — with every stage
    oracle-checked (r10): band-key equi-join candidates (the
    minhash_band_export keys) are verified by the EXACT shingle-set
    Jaccard, computed on the md5-derived shingle hashes, and only
    pairs at or above MINHASH_VERIFY_JACCARD_BP basis points survive.
    This is the stage the rows-only dedup_minhash_lsh family feeds in
    production (operators/dedup.py: signatures -> bands -> candidate
    join -> verify); here the whole chain is value-hash-checked
    end-to-end, so the only remaining approximation anywhere in the
    minhash path is LSH recall itself (pairs no band catches).

    Jaccard is all-integer: |A∩B| and |A∪B| are set sizes over
    distinct BIGINT shingle hashes (dedup'd on both engines), reported
    as (10000·inter) div union — no float crosses the engine boundary.
    Docs with no shingles (< 3 tokens) carry the sentinel signature P
    in every band; they never collide with a real signature (minima
    live in [0, P)) and are dropped by the inner hv join before any
    pair math, so the degenerate bucket can't divide by zero.

    Scale: the only exchanges move (doc_id, band_key) pairs and the
    8-byte shingle-hash arrays of CANDIDATE docs — pair work is
    Σ|band bucket|², never n²; document text never joins. The verify
    join is doc_id-keyed equi, broadcast-eligible when the candidate
    set is small."""
    # r14: ONE md5 shingle pass — the hv frame is materialized eagerly
    # and feeds both the band keys and the exact-Jaccard verify (the
    # previous shape re-ran the full shingle+md5 projection for each
    # consumer: 2 x 0.88 s at sf0.1). The bands frame (4 tiny rows per
    # doc) is materialized too so the candidate self-join's two sides
    # don't each re-fold the signature. r15: localCheckpoint(eager)
    # instead of persist+count — same one-pass materialization inside
    # the operator's own invocation (nothing crosses runs), measured
    # FASTER (1.23-1.41 s vs 1.40-1.68 s interleaved at sf0.1), and no
    # CacheManager entry outlives the returned frame: checkpoint blocks
    # are released when the frame is garbage collected, where the old
    # persists accumulated across invocations until LRU eviction
    # (ADVICE r14: never unpersisted).
    hv_all = _minhash_shingle_hv(spark, sf_dir).localCheckpoint(eager=True)
    bands = minhash_bands_from_hv(hv_all).localCheckpoint(eager=True)
    hv = (
        hv_all
        .select("doc_id", F.array_distinct("hv").alias("hv"))
        .where(F.size("hv") > 0)
    )
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        left.join(right, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hv.select(F.col("doc_id").alias("doc_a"), F.col("hv").alias("ha"))
    hb = hv.select(F.col("doc_id").alias("doc_b"), F.col("hv").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            (F.size("ha") + F.size("hb") - inter).alias("uni"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST((10000 * inter) DIV uni AS INT)").alias("jaccard_bp"),
        )
        .where(F.col("jaccard_bp") >= MINHASH_VERIFY_JACCARD_BP)
    )


SQL_DEDUP_MINHASH_VERIFY = f"""
WITH bands AS ({SQL_MINHASH_BAND_EXPORT}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
{_SQL_MINHASH_HV_CTES},
ne AS (
  SELECT doc_id, list_distinct(hv) AS hv FROM hv WHERE len(hv) > 0
)
SELECT doc_a, doc_b, jaccard_bp FROM (
  SELECT c.doc_a, c.doc_b,
         CAST((10000 * len(list_intersect(x.hv, y.hv)))
              // (len(x.hv) + len(y.hv) - len(list_intersect(x.hv, y.hv)))
              AS INT) AS jaccard_bp
  FROM cand c
  JOIN ne x ON x.doc_id = c.doc_a
  JOIN ne y ON y.doc_id = c.doc_b
)
WHERE jaccard_bp >= {MINHASH_VERIFY_JACCARD_BP}
"""


def q_pipeline_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE oracle-backed MinHash dedup pipeline (r10):
    signatures → bands → candidate join → exact Jaccard verify
    (dedup_minhash_verify) → connected components over the verified
    pairs → every document labeled with its cluster representative
    (smallest doc_id; singletons label themselves). This is the
    composed flagship the production rows-only family
    (dedup_minhash_lsh → dedup_minhash_cc) ships — here every stage
    including connected components is value-hash-checked (the labels
    against a DuckDB recursive CTE, the semantic_dedup_clusters
    pattern), because verified pairs are a pure deterministic function
    of the corpus.

    Scale: inherits the verify stage's envelope (Σ|band bucket|² pair
    work, hash arrays only); connected components is the shared
    operators/dedup.cc_label_propagation — bucket-star contraction and
    a driver union-find finish (what the oracle checks at its scales),
    or the distributed label-propagation loop when the star outgrows
    one driver collect."""
    pairs = q_dedup_minhash_verify(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return minhash_label_members(pairs, d)


def minhash_label_members(pairs: DataFrame, doc_ids: DataFrame) -> DataFrame:
    """(doc_id, label, is_dup) from a verified near-dup pair frame plus
    the full id set — the SHARED tail of the batch pipeline and the
    streaming drain (stream_minhash_dedup): both must keep identical
    keeper semantics for the shared-oracle claim to hold, so the
    members construction and the label selection live in
    exactly one place.

    Pairs are persisted: both member legs read them in the one job
    that checkpoints the CC edge frame, and unpersisted once
    cc_label_propagation returns (its edges are checkpointed by then)."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        cc_label_propagation,
    )

    pairs = pairs.persist()
    bh = F.concat_ws("-", F.col("doc_a"), F.col("doc_b"))
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"), bh.alias("bh"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id"), bh.alias("bh")))
        .unionByName(
            doc_ids.select(
                "doc_id", F.concat(F.lit("self-"), F.col("doc_id")).alias("bh")
            )
        )
    )
    out = cc_label_propagation(members, "doc_id").select(
        "doc_id", "label", "is_dup"
    )
    pairs.unpersist()
    return out


SQL_PIPELINE_MINHASH_DEDUP = f"""
WITH RECURSIVE ver AS ({SQL_DEDUP_MINHASH_VERIFY}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM ver
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM ver
),
reach AS (
  SELECT doc_id AS n, doc_id AS lab FROM documents
  UNION
  SELECT u.b AS n, r.lab
  FROM reach r JOIN und u ON u.a = r.n
)
SELECT n AS doc_id, min(lab) AS label, min(lab) <> n AS is_dup
FROM reach GROUP BY n
"""


CONTAIN_POSTING_CAP = 200  # stop-shingle bar: hashes in more docs carry no signal
CONTAIN_BP_T = 8000  # report pairs where ≥80% of A's shingles appear in B


def q_doc_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup (r10) — the quote/wrapper detector
    Jaccard misses: a short document embedded verbatim in a long one
    has high containment |A∩B|/|A| but low Jaccard (the union is
    dominated by B), so the symmetric minhash family never pairs them.
    Emits (doc_a, doc_b, containment_bp): at least CONTAIN_BP_T basis
    points of doc_a's distinct 3-token shingles appear in doc_b.

    Candidate generation is one-sided bottom-1 blocking: each doc
    probes with the MINIMUM of its surviving shingle hashes; any doc
    whose posting set contains that hash is a candidate container. A
    fully-contained doc's min shingle is in the container BY
    CONSTRUCTION (it's in the intersection), and for containment ≥ τ
    the min lands in the intersection with probability ≥ τ — the
    blocking is deterministic (both engines compute the identical
    candidate set; recall < 1 vs an ideal all-pairs is the documented
    trade, exactly like LSH banding). Stop-shingles — hashes appearing
    in more than CONTAIN_POSTING_CAP docs, boilerplate with no
    identity signal — are pruned from postings AND probes before
    blocking, which bounds every posting bucket (the skew lever; at
    100 TB the cap is what keeps Σ|bucket|·|probes| from degenerating
    on 'the end of' shingles). Containment itself is then computed on
    the FULL shingle sets of candidates only — all-integer set sizes,
    (10000·inter) div |A|, no float crosses the engine boundary.

    Scale: postings are (8-byte hash, doc_id) rows — Σ|doc shingles|
    — combined map-side into the frequency aggregate; probes are 1
    row/doc; the verify join moves hash arrays for candidate docs
    only. Document text never shuffles."""
    hv = (
        _minhash_shingle_hv(spark, sf_dir)
        .select("doc_id", F.array_distinct("hv").alias("hv"))
        .where(F.size("hv") > 0)
    )
    post = hv.select("doc_id", F.explode("hv").alias("h"))
    freq = post.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    surv = post.join(
        freq.where(F.col("cnt") <= CONTAIN_POSTING_CAP).select("h"), "h"
    )
    probe = (
        surv.groupBy("doc_id")
        .agg(F.min("h").alias("h"))
        .select(F.col("doc_id").alias("doc_a"), "h")
    )
    cand = (
        probe.join(surv.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hv.select(F.col("doc_id").alias("doc_a"), F.col("hv").alias("ha"))
    hb = hv.select(F.col("doc_id").alias("doc_b"), F.col("hv").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a", "doc_b", inter.alias("inter"), F.size("ha").alias("na")
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST((10000 * inter) DIV na AS INT)").alias(
                "containment_bp"
            ),
        )
        .where(F.col("containment_bp") >= CONTAIN_BP_T)
    )


SQL_DOC_CONTAINMENT = f"""
WITH {_SQL_MINHASH_HV_CTES},
ne AS (
  SELECT doc_id, list_distinct(hv) AS hv FROM hv WHERE len(hv) > 0
),
post AS (SELECT doc_id, unnest(hv) AS h FROM ne),
freq AS (SELECT h, count(*) AS cnt FROM post GROUP BY h),
surv AS (
  SELECT p.doc_id, p.h FROM post p
  JOIN freq f ON p.h = f.h AND f.cnt <= {CONTAIN_POSTING_CAP}
),
probe AS (SELECT doc_id AS doc_a, min(h) AS h FROM surv GROUP BY doc_id),
cand AS (
  SELECT DISTINCT p.doc_a, s.doc_id AS doc_b
  FROM probe p JOIN surv s ON p.h = s.h AND p.doc_a != s.doc_id
)
SELECT doc_a, doc_b, containment_bp FROM (
  SELECT c.doc_a, c.doc_b,
         CAST((10000 * len(list_intersect(x.hv, y.hv))) // len(x.hv)
              AS INT) AS containment_bp
  FROM cand c
  JOIN ne x ON x.doc_id = c.doc_a
  JOIN ne y ON y.doc_id = c.doc_b
)
WHERE containment_bp >= {CONTAIN_BP_T}
"""


# --- SRP / IVF family exports (r7 item 4: shrink the rows-only set) ----------

# dedup_embedding_lsh's exact SRP config (workloads/llm.q_dedup_embedding_lsh)
SRP_EXPORT_TABLES = 8
SRP_EXPORT_BITS = 4
SRP_EXPORT_DIM = 64
SRP_EXPORT_SEED = 42


def q_srp_bucket_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable SRP-LSH bucket artifact: per (vector, table),
    the signed-random-projection bucket id — the EXACT blocking key
    dedup_embedding_lsh joins on (operators/similarity.srp_neardup_
    pairs, same srp_planes(64, 8, 4, seed 42) hyperplanes; the oracle
    SQL inlines those doubles verbatim, and repr/literal-parse
    round-trips are exact). Anchors the rows-only near-dup family's
    candidate generation end-to-end: sign(dot) per plane is
    bit-identical cross-engine because the dot fold order matches
    DuckDB's list_sum (functions/vectors.py), and the bucket fold is
    all-integer from there.

    Scale: shuffle-free per-vector projection (one broadcast of 32
    plane rows); the groupBy folds 32 sign rows per vector."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        srp_planes,
    )

    e = load_table(spark, sf_dir, "embeddings")
    planes = spark.createDataFrame(
        srp_planes(
            SRP_EXPORT_DIM, SRP_EXPORT_TABLES, SRP_EXPORT_BITS,
            SRP_EXPORT_SEED,
        ),
        "tbl int, bit int, plane array<double>",
    )
    sign = F.when(dot(F.col("embedding"), F.col("plane")) > 0, 1).otherwise(0)
    proj = e.join(F.broadcast(planes)).select(
        "vec_id", "tbl", "bit", sign.alias("sign")
    )
    # sign * 2^bit via pow (exact at these exponents) — shiftleft
    # needs a literal shift amount; this is the srp_neardup_pairs idiom
    return proj.groupBy("vec_id", "tbl").agg(
        F.sum(
            F.col("sign") * F.pow(F.lit(2.0), F.col("bit")).cast("bigint")
        ).alias("bkt")
    )


def _srp_bucket_export_sql() -> str:
    from etl_dagster_service_crawler_spark.operators.similarity import (
        srp_planes,
    )

    rows = ",\n    ".join(
        f"({t}, {b}, [{', '.join(repr(v) for v in plane)}])"
        for t, b, plane in srp_planes(
            SRP_EXPORT_DIM, SRP_EXPORT_TABLES, SRP_EXPORT_BITS,
            SRP_EXPORT_SEED,
        )
    )
    return f"""
WITH planes(tbl, bit, plane) AS (
  VALUES
    {rows}
),
proj AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN list_sum(list_transform(list_zip(e.embedding, p.plane),
              s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) > 0
              THEN 1 ELSE 0 END AS sign
  FROM embeddings e, planes p
)
SELECT vec_id, CAST(tbl AS INT) AS tbl,
       CAST(sum(sign << bit) AS BIGINT) AS bkt
FROM proj
GROUP BY vec_id, tbl
"""


SQL_SRP_BUCKET_EXPORT = _srp_bucket_export_sql()


def q_similarity_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide pairwise-similarity distribution (operators/
    similarity.similarity_pair_histogram): 20 cosine buckets over
    every unordered vector pair — the threshold-picking artifact a
    near-dup campaign runs FIRST. The O(n^2) compute rides the same
    quantized block equi-join as knn_join_auto's routed arm while the
    output is O(buckets); because the histogram is order-insensitive,
    a brute-force n^2 DuckDB oracle value-checks the quantized coarse
    cosine of EVERY pair — the direct hash anchor for the quantized
    ANN family's arithmetic."""
    import pyarrow.parquet as pq

    from etl_dagster_service_crawler_spark.operators.similarity import (
        similarity_pair_histogram,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n_rows = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    return similarity_pair_histogram(e, n_rows=n_rows)


SQL_SIM_PAIR_HIST = """
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * s + 0.5) AS INT)) AS q8
  FROM (
    SELECT vec_id, embedding,
           CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS s
    FROM (
      SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
      FROM embeddings))
),
qn AS (
  SELECT vec_id, q8,
         sqrt(CAST(list_sum(list_transform(q8,
           x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS n8
  FROM qe
),
pr AS (
  SELECT CAST(list_sum(list_transform(list_zip(a.q8, b.q8),
           s -> CAST(s[1] AS BIGINT) * s[2])) AS DOUBLE)
           / (a.n8 * b.n8) AS c
  FROM qn a, qn b
  WHERE a.vec_id < b.vec_id AND a.n8 > 0 AND b.n8 > 0
)
SELECT bucket, bucket / 10.0 - 1.0 AS cos_lo,
       CAST(count(*) AS BIGINT) AS pair_count
FROM (SELECT CAST(least(floor((c + 1.0) * 10.0), 19) AS INT) AS bucket
      FROM pr)
GROUP BY bucket
"""


IVF_EXPORT_CENTROIDS = 16
IVF_EXPORT_NPROBE = 4

# DuckDB twin of functions/vectors.cosine for (embedding, cvec) pairs
_COS_EC = (
    "list_sum(list_transform(list_zip(e.embedding, c.cvec),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(e.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(c.cvec,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

# deterministic 'centroids' both engines can construct: the
# IVF_EXPORT_CENTROIDS corpus vectors with the smallest
# (md5(vec_id), vec_id) — a hash-spread pick, no k-means iteration
# (trained centroids cannot be replayed in an oracle; what these
# exports anchor is the ASSIGN and PROBE projections the trained
# index feeds into, which are pure functions of (corpus, centroids))
_SQL_EXPORT_CENT = f"""
cent AS (
  SELECT CAST(rk - 1 AS INT) AS cid, embedding AS cvec
  FROM (
    SELECT embedding,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             AS rk
    FROM embeddings
  )
  WHERE rk <= {IVF_EXPORT_CENTROIDS}
)"""


def _export_centroids(e: DataFrame) -> DataFrame:
    # ONE definition of the deterministic seed pick (smallest
    # (md5(id), id), numbered in that order) shared with the PQ family
    # — _SQL_EXPORT_CENT mirrors it, and the cross-op consistency tests
    # (ivf_pq prune, knn_graph cells) are only valid while every
    # consumer uses the same pick
    from etl_dagster_service_crawler_spark.operators.similarity import (
        hash_spread_seeds,
    )

    return hash_spread_seeds(e, IVF_EXPORT_CENTROIDS)


def q_ivf_assign_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF cell ASSIGNMENT artifact: every corpus
    vector's cell under the deterministic md5-picked centroid set,
    computed by the PRODUCTION assign_cells operator (the max_by
    (ccos, -cid) partial aggregate that every index build runs —
    operators/similarity.assign_cells). Anchors the rows-only IVF
    family's assignment semantics — argmax cosine, ties to the
    smallest cid — with a full value-hash oracle. The single-partition
    seed-pick window is export-only scaffolding (16 rows); the
    assignment pass itself is the scale path (broadcast centroids, one
    corpus-sized aggregate)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        assign_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return assign_cells(e, _export_centroids(e)).select(
        "vec_id", F.col("cid").cast("int").alias("cid")
    )


SQL_IVF_ASSIGN_EXPORT = f"""
WITH {_SQL_EXPORT_CENT},
sc AS (
  SELECT e.vec_id, c.cid, {_COS_EC} AS ccos
  FROM embeddings e, cent c
)
SELECT vec_id, CAST(cid AS INT) AS cid FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid)
           AS rn
  FROM sc
)
WHERE rn = 1
"""


def q_ivf_probe_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF PROBE-ORDER artifact: for each of the 8
    standing query vectors, the IVF_EXPORT_NPROBE closest cells of the
    deterministic centroid set in probe order — computed by the
    PRODUCTION probe ranking (operators/similarity.probe_cells, the
    (qcos desc, cid) window ivf_search and knn_join_cells both use,
    mirrored by calibrate_nprobe's numpy kernel). Anchors the probe
    side of the rows-only IVF family with a full value-hash oracle."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        probe_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id").isin(TOPK_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return probe_cells(q, _export_centroids(e), IVF_EXPORT_NPROBE).select(
        "qid",
        F.col("rn").cast("int").alias("probe_rank"),
        F.col("cid").cast("int").alias("cid"),
    )


SQL_IVF_PROBE_EXPORT = f"""
WITH {_SQL_EXPORT_CENT},
q AS (
  SELECT vec_id AS qid, embedding FROM embeddings
  WHERE vec_id < {len(TOPK_QUERY_IDS)}
),
sc AS (
  SELECT e.qid, c.cid, {_COS_EC} AS qcos
  FROM q e, cent c
)
SELECT qid, CAST(rn AS INT) AS probe_rank, CAST(cid AS INT) AS cid FROM (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, cid) AS rn
  FROM sc
)
WHERE rn <= {IVF_EXPORT_NPROBE}
"""


# 8 subspaces x 32 hash-spread codes: the smallest deterministic
# configuration whose rerank arm meets the repo's 0.8 recall pin on the
# isotropic fixture (numpy sweep in docs/ROUND8.md §7; coarse-only
# recall stays weak there by nature — ann_recall_report publishes both)
PQ_EXPORT_SUB = 8
PQ_EXPORT_CODES = 32
PQ_RERANK_R = 128
_PQ_SUB_DIM = 8  # EMB_EXPECTED_DIM / PQ_EXPORT_SUB

# DuckDB twins of the int8-domain PQ math (operators/similarity.py):
# the embedding_quantize formula, then integer squared-L2 on slices.
_SQL_Q8_ABSMAX = (
    "list_aggregate(list_transform(embedding,"
    " x -> abs(CAST(x AS DOUBLE))), 'max')"
)
_SQL_Q8 = f"""
q8 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
           CASE WHEN {_SQL_Q8_ABSMAX} > 0
                THEN 127.0 / {_SQL_Q8_ABSMAX} ELSE 0.0 END
           + 0.5) AS BIGINT)) AS qv
  FROM embeddings
)"""
_SQL_PQ_CENT = f"""
pcent AS (
  SELECT CAST(rk - 1 AS INT) AS code, qv AS cv
  FROM (
    SELECT qv,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             AS rk
    FROM q8
  )
  WHERE rk <= {PQ_EXPORT_CODES}
)"""
_SQL_PQ_SLICES = f"""
subs AS (
  SELECT vec_id, m, qv[m*{_PQ_SUB_DIM}+1 : (m+1)*{_PQ_SUB_DIM}] AS vsub
  FROM q8, (SELECT unnest(range({PQ_EXPORT_SUB})) AS m)
),
csubs AS (
  SELECT code, m, cv[m*{_PQ_SUB_DIM}+1 : (m+1)*{_PQ_SUB_DIM}] AS csub
  FROM pcent, (SELECT unnest(range({PQ_EXPORT_SUB})) AS m)
)"""


def _sql_il2(a: str, b: str) -> str:
    # Two NULL seams closed, matching similarity._il2 exactly: the
    # outer coalesce covers list_sum([]) = NULL (Spark's fold starts at
    # 0), and the PER-TERM coalesce covers length-mismatched lists —
    # list_zip/zip_with both pad with NULL, but DuckDB's list_sum skips
    # NULL terms while Spark's fold would propagate; both engines now
    # count a padded term as 0.
    return (
        f"coalesce(list_sum(list_transform(list_zip({a}, {b}),"
        " s -> coalesce((s[1]-s[2])*(s[1]-s[2]), 0))), 0)"
    )


_SQL_PQ_ENC = f"""
enc AS (
  SELECT vec_id, m AS sub_id, code FROM (
    SELECT s.vec_id, s.m, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_sql_il2('s.vsub', 'c.csub')}, c.code)
             AS rn
    FROM subs s JOIN csubs c ON s.m = c.m
  ) WHERE rn = 1
)"""


def q_pq_encode_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization CODES for the whole corpus: nearest
    codebook entry per subspace by exact integer squared-L2 in the int8
    storage domain (PQ_EXPORT_SUB=8 subspaces, PQ_EXPORT_CODES=32
    hash-spread seed codes — the deterministic stand-in for a trained
    codebook, same argument as ivf_assign_export). At 100 TB this
    8-byte-per-vector sidecar IS the ANN corpus representation the ADC
    scan reads (64:1 vs float64). The codebook is collected in one
    bounded job and the argmin runs inside one shuffle-free Arrow map
    (operators/similarity.pq_encode) — no exchange, no join."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_encode,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return pq_encode(e, PQ_EXPORT_SUB, PQ_EXPORT_CODES).select(
        "vec_id",
        F.col("sub_id").cast("int").alias("sub_id"),
        F.col("code").cast("int").alias("code"),
    )


SQL_PQ_ENCODE_EXPORT = f"""
WITH {_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC}
SELECT vec_id, CAST(sub_id AS INT) AS sub_id, CAST(code AS INT) AS code
FROM enc
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 for the 8 standing queries: build
    the per-query n_sub x n_codes integer LUT once, scan the CODES
    table (never the vectors), sum LUT entries per (query, vector),
    keep the 5 nearest (adc asc, id asc), self excluded
    (operators/similarity.pq_adc_topk). The IVF-PQ search shape at
    100 TB: after encoding, the quadratic pass moves three small ints
    per (code row, query) and map-side-combines inside code partitions.
    Exact integer distances -> fully value-hash oracle-checkable."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_adc_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        e, TOPK_QUERY_IDS, k=5, n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES
    )


def _sql_pq_lut() -> str:
    return f"""
lut AS (
  SELECT q.vec_id AS qid, q.m, c.code, {_sql_il2('q.vsub', 'c.csub')} AS d
  FROM subs q JOIN csubs c ON q.m = c.m
  WHERE q.vec_id < {len(TOPK_QUERY_IDS)}
)"""


_SQL_ADC_PQ = """
adc_pq AS (
  SELECT l.qid, e.vec_id, sum(l.d) AS adc
  FROM enc e JOIN lut l ON e.sub_id = l.m AND e.code = l.code
  WHERE e.vec_id <> l.qid
  GROUP BY l.qid, e.vec_id
)"""

_SQL_CAND_ADC_IVF = """
cand AS (
  SELECT p.qid, a.vec_id
  FROM asg a JOIN prb p ON a.cid = p.cid
  WHERE a.vec_id <> p.qid
),
adc_ivf AS (
  SELECT cd.qid, cd.vec_id, sum(l.d) AS adc
  FROM cand cd
  JOIN enc e ON e.vec_id = cd.vec_id
  JOIN lut l ON l.qid = cd.qid AND l.m = e.sub_id AND l.code = e.code
  GROUP BY cd.qid, cd.vec_id
)"""


SQL_PQ_ADC_TOPK = f"""
WITH {_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_sql_pq_lut()},
{_SQL_ADC_PQ}
SELECT qid, CAST(rn AS INT) AS rn, vec_id AS nid, CAST(adc AS BIGINT) AS adc
FROM (
  SELECT qid, vec_id, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
  FROM adc_pq
)
WHERE rn <= 5
"""


def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ search for the 8 standing queries: IVF cells
    prune (nprobe=IVF_EXPORT_NPROBE of IVF_EXPORT_CENTROIDS cells), PQ
    codes score (exact-integer ADC over the 8-byte sidecar), top-5 by
    (adc, id), self excluded (operators/similarity.ivf_pq_search).
    This is the architecture a 100 TB ANN deployment actually runs —
    and with hash-spread seeds standing in for the trained index, every
    stage (assign, probe, encode, LUT, ADC) is a pure function of the
    corpus, so the ENTIRE pipeline is value-hash oracle-checked, not
    just its exported projections."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        ivf_pq_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_search(
        e, TOPK_QUERY_IDS, k=5,
        n_centroids=IVF_EXPORT_CENTROIDS, nprobe=IVF_EXPORT_NPROBE,
        n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES,
    )


def _sql_ivf_pq_search() -> str:
    return f"""
WITH {_SQL_EXPORT_CENT},
{_SQL_IVF_ASG},
{_sql_ivf_prb()},
{_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_sql_pq_lut()},
{_SQL_CAND_ADC_IVF}
SELECT qid, CAST(rn AS INT) AS rn, vec_id AS nid, CAST(adc AS BIGINT) AS adc
FROM (
  SELECT qid, vec_id, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
  FROM adc_ivf
)
WHERE rn <= 5
"""


def q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ search: integer ADC prune to PQ_RERANK_R
    candidates (codes-only scan), exact cosine re-rank of the
    survivors (vector reads constant in corpus size). Recall@5 = 0.80
    on the isotropic sf0.01 fixture (the deterministic-codebook
    envelope — ann_recall_report publishes it). Fully value-hash
    oracle-checked end to end (operators/similarity.pq_rerank_topk)."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        pq_rerank_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return pq_rerank_topk(
        e, TOPK_QUERY_IDS, k=5, r_candidates=PQ_RERANK_R,
        n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES,
    )



# shared DuckDB blocks for the composed ANN oracles — ONE text for each
# invariant (IVF assignment argmax, probe ranking, SDC table, the
# cell-blocked mutual-graph chain); every consumer composes these so a
# tie-break fix cannot silently diverge sibling oracles
_SQL_IVF_ASG = f"""
asg AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_EC} DESC, c.cid) AS rn
    FROM embeddings e, cent c
  ) WHERE rn = 1
)"""


def _sql_ivf_prb() -> str:
    return f"""
prb AS (
  SELECT qid, cid FROM (
    SELECT e.qid, c.cid,
           row_number() OVER (PARTITION BY e.qid
                              ORDER BY {_COS_EC} DESC, c.cid) AS rn
    FROM (SELECT vec_id AS qid, embedding FROM embeddings
          WHERE vec_id < {len(TOPK_QUERY_IDS)}) e, cent c
  ) WHERE rn <= {IVF_EXPORT_NPROBE}
)"""


_SQL_SDC = f"""
sdc AS (
  SELECT a.m AS sub_id, a.code AS code_a, b.code AS code_b,
         {_sql_il2('a.csub', 'b.csub')} AS d
  FROM csubs a JOIN csubs b ON a.m = b.m
)"""

_SQL_GRAPH_PAIRS = f"""
node AS (
  SELECT e.vec_id, e.sub_id, e.code, g.cid
  FROM enc e JOIN asg g USING (vec_id)
),
pair_d AS (
  SELECT x.vec_id AS aid, y.vec_id AS bid, sum(s.d) AS d
  FROM node x
  JOIN node y ON x.cid = y.cid AND x.sub_id = y.sub_id
             AND x.vec_id <> y.vec_id
  JOIN sdc s ON s.sub_id = x.sub_id AND s.code_a = x.code
            AND s.code_b = y.code
  GROUP BY 1, 2
)"""


def _sql_pq_rerank_topk() -> str:
    return f"""
WITH {_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_sql_pq_lut()},
{_SQL_ADC_PQ},
surv AS (
  SELECT qid, vec_id AS nid FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS crn
    FROM adc_pq
  ) WHERE crn <= {PQ_RERANK_R}
),
rr AS (
  SELECT s.qid, s.nid, q.embedding AS qvec, n.embedding AS nvec
  FROM surv s
  JOIN embeddings q ON q.vec_id = s.qid
  JOIN embeddings n ON n.vec_id = s.nid
)
SELECT qid, CAST(rn AS INT) AS rn, nid, cos FROM (
  SELECT qid, nid, {_COS_QN_VEC} AS cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY {_COS_QN_VEC} DESC, nid) AS rn
  FROM rr
) WHERE rn <= 5
"""


KNN_GRAPH_K = 3


def q_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked mutual-kNN graph under symmetric PQ distance
    (operators/similarity.knn_graph_mutual) — the SemDeDup-style
    clustering/near-dup backbone: edge (a, b) iff each is in the
    other's k=3 nearest same-cell neighbors. Hash-spread cells + int8
    codes + the broadcast SDC table make every pair distance an exact
    integer, so the whole GRAPH is value-hash oracle-checked. Scale:
    the quadratic stage is Σ|cell|² over code rows (five small ints),
    never n² and never a vector."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        knn_graph_mutual,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return knn_graph_mutual(
        e, k=KNN_GRAPH_K, n_centroids=IVF_EXPORT_CENTROIDS,
        n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES,
    )


def _sql_knn_graph_mutual() -> str:
    return f"""
WITH {_SQL_EXPORT_CENT},
{_SQL_IVF_ASG},
{_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_SQL_SDC},
{_SQL_GRAPH_PAIRS},
topk AS (
  SELECT aid, bid, d FROM (
    SELECT aid, bid, d,
           row_number() OVER (PARTITION BY aid ORDER BY d, bid) AS rn
    FROM pair_d
  ) WHERE rn <= {KNN_GRAPH_K}
)
SELECT f.aid AS src, f.bid AS dst, CAST(f.d AS BIGINT) AS d
FROM topk f JOIN topk r ON f.aid = r.bid AND f.bid = r.aid
WHERE f.aid < f.bid
"""


# Bump when the graph's semantics change (k, distance, cell policy):
# the version is part of the sidecar path, so a stale on-disk graph
# from older code can never be served to the new consumers.
GRAPH_SIDECAR_VER = 1
_GRAPH_SIDECAR_SCHEMA = "src bigint, dst bigint, d bigint"


def _graph_sidecar_path(sf_dir: str) -> str:
    from etl_dagster_service_crawler_spark.io.tables import _source_fingerprint
    from etl_dagster_service_crawler_spark.workloads.io_wl import _scratch

    fp = _source_fingerprint(sf_dir, "embeddings")
    return _scratch(
        sf_dir,
        f"graph_sidecar/v{GRAPH_SIDECAR_VER}_k{KNN_GRAPH_K}"
        f"_c{IVF_EXPORT_CENTROIDS}_s{PQ_EXPORT_SUB}_x{PQ_EXPORT_CODES}"
        f"_{fp}",
    )


def mutual_graph_cached(
    spark: SparkSession, sf_dir: str, *, force_build: bool = False
) -> DataFrame:
    """The mutual-kNN graph, served from the persisted sidecar when one
    exists (VERDICT r9 item 3): the Σ|cell|² pair stage is the dominant
    cost of every graph consumer (pagerank_knn_graph,
    semantic_dedup_clusters, pipeline_semantic_dedup each used to
    rebuild it), and the graph is a pure deterministic function of the
    corpus — exactly the artifact a 100 TB deployment builds once and
    reads many times, like the PQ codes sidecar (sink_pq_sidecar).

    A missing or incomplete sidecar (no _SUCCESS marker — a crashed
    writer never half-serves) triggers build+persist; the read-back
    pins the schema so consumers see identical types either way. The
    path fingerprint carries the graph parameters AND a file-metadata
    fingerprint of the embeddings table (size+mtime of every parquet
    part, io.tables._source_fingerprint), so an older configuration's
    sidecar, a regenerated/appended corpus, AND a same-count in-place
    rewrite (the residual the r10 row-count key missed) are all
    invisible. Consumers' results are bit-identical with and without
    the sidecar because the build is value-hash oracle-checked
    (knn_graph_mutual / sink_graph_sidecar), so existing oracles are
    untouched."""
    import os

    path = _graph_sidecar_path(sf_dir)
    if force_build or not os.path.exists(os.path.join(path, "_SUCCESS")):
        from etl_dagster_service_crawler_spark.operators.similarity import (
            knn_graph_mutual,
        )

        g = knn_graph_mutual(
            load_table(spark, sf_dir, "embeddings"),
            k=KNN_GRAPH_K, n_centroids=IVF_EXPORT_CENTROIDS,
            n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES,
        )
        # sorted by src: a consumer filtering on a node range prunes
        # row groups on the leading column (the pq-sidecar layout rule)
        g.sort("src", "dst").coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.schema(_GRAPH_SIDECAR_SCHEMA).parquet(path)


def q_sink_graph_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted mutual-kNN graph SIDECAR (r10): force-rebuilds the
    graph, writes (src, dst, d) sorted by src, and returns the
    READ-BACK — so the oracle checks the on-disk bytes round-trip, not
    just the in-memory frame (the sink_pq_sidecar discipline,
    io_wl.py). This entry keeps the build+write cost visible in the
    bench while the graph consumers (pagerank, semantic dedup) read
    the sidecar and time only their own algorithm."""
    return mutual_graph_cached(spark, sf_dir, force_build=True)


def q_knn_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the mutual-kNN graph (r10) — the graph-health
    gate before the consumers run: a healthy mutual graph has most
    degrees in [1, k]; a spike at 0 means cells too small / embeddings
    degenerate (nothing to cluster), a heavy tail means duplicate
    blow-up. Zero-degree nodes (corpus vectors absent from the graph)
    are counted explicitly via the left join — the failure mode the
    histogram exists to expose.

    Scale: reads the persisted sidecar (no Σ|cell|² rebuild); one
    endpoint union + two small aggregates — the exchanges carry (node,
    count) then (degree, count) rows."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    g = mutual_graph_cached(spark, sf_dir)
    ends = g.select(F.col("src").alias("vec_id")).unionByName(
        g.select(F.col("dst").alias("vec_id"))
    )
    per_node = ends.groupBy("vec_id").agg(F.count(F.lit(1)).alias("degree"))
    deg = e.join(per_node, "vec_id", "left").select(
        F.coalesce("degree", F.lit(0)).cast("int").alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def _sql_knn_graph_degree_hist() -> str:
    return f"""
WITH g AS ({_sql_knn_graph_mutual()}),
ends AS (
  SELECT src AS vec_id FROM g
  UNION ALL
  SELECT dst AS vec_id FROM g
),
deg AS (
  SELECT e.vec_id, count(x.vec_id) AS degree
  FROM embeddings e LEFT JOIN ends x ON e.vec_id = x.vec_id
  GROUP BY e.vec_id
)
SELECT CAST(degree AS INT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


DECON_EMB_COS_C = 35  # flag cos >= C/100 (0.35)


def q_decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-space decontamination (r11) — the semantic twin of
    decontaminate_ngram: corpus vectors too close to any benchmark
    PROBE vector (the 8 standing-query embeddings) are flagged,
    catching paraphrased eval leakage the n-gram probe misses. The
    cosine threshold (0.35 — the fixture's organic near-probe
    ceiling is ~0.39, so paraphrase-level hits exist beyond the
    verbatim self-leaks) is applied EXACTLY in integers: over int8
    quantized vectors, cos >= C/100 ⟺ dot > 0 ∧ 10000·dot² >=
    C²·‖a‖²·‖b‖² — no sqrt, no float, every term bounded inside
    BIGINT (dot² <= ~1e12, 10000·dot² <= 1e16), so the oracle
    replays the comparison bit-for-bit. A probe that leaked verbatim
    flags itself at cos = 1 (it IS contamination).

    Scale: the 8 quantized probe vectors broadcast over ONE corpus
    scan (the similarity_topk shape — flips to a block equi-join past
    ~100 probes); output is hit pairs only."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        quantize_rows,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = quantize_rows(e).select(F.col("id").alias("vec_id"), F.col("q8").alias("qv"))
    # filter before the kernel so the id predicate reaches the scan
    probes = quantize_rows(e.where(F.col("vec_id").isin(TOPK_QUERY_IDS))).select(
        F.col("id").alias("probe_id"), F.col("q8").alias("pv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("pv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.col(c), F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    scored = q.join(F.broadcast(probes)).select(
        "vec_id",
        "probe_id",
        dot.alias("dot"),
        sq("qv").alias("na"),
        sq("pv").alias("nb"),
    )
    return scored.where(
        (F.col("dot") > 0)
        & (
            F.lit(10000) * F.col("dot") * F.col("dot")
            >= F.lit(DECON_EMB_COS_C * DECON_EMB_COS_C)
            * F.col("na")
            * F.col("nb")
        )
    ).select("vec_id", "probe_id", "dot", "na", "nb")


def _sql_decontaminate_embedding() -> str:
    ids = ", ".join(str(i) for i in TOPK_QUERY_IDS)
    c2 = DECON_EMB_COS_C * DECON_EMB_COS_C
    return f"""
WITH {_SQL_Q8},
pr AS (
  SELECT vec_id AS probe_id, qv AS pv FROM q8 WHERE vec_id IN ({ids})
),
sc AS (
  SELECT e.vec_id, p.probe_id,
         CAST(list_sum(list_transform(list_zip(e.qv, p.pv),
                s -> coalesce(s[1] * s[2], 0))) AS BIGINT) AS dot,
         CAST(list_sum(list_transform(e.qv, x -> x * x)) AS BIGINT) AS na,
         CAST(list_sum(list_transform(p.pv, x -> x * x)) AS BIGINT) AS nb
  FROM q8 e, pr p
)
SELECT vec_id, probe_id, dot, na, nb
FROM sc
WHERE dot > 0 AND 10000 * dot * dot >= {c2} * na * nb
"""


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node TRIANGLE counts over the mutual-kNN graph (r11)
    — the local-clustering signal of the semantic-dedup stack: a
    cluster member in many triangles sits in a tight near-dup clique
    (keep one), a triangle-free node is a loose neighbor (keep it).
    The classic ordered-wedge algorithm: edges stored a<b once, wedge
    join (a,b)x(b,c), close with an (a,c) edge probe — every triangle
    a<b<c is found exactly once, so the count is exact and fully
    oracle-checked (the graph itself is the value-hash-verified
    knn_graph_mutual artifact, read from the persisted sidecar).

    Scale: two node-keyed equi-joins over the EDGE table (k-bounded:
    |E| <= k·n/2, wedges <= Σdeg² with deg <= k) — never a
    corpus-sized shuffle; zero-triangle nodes come back via the
    embeddings left anchor."""
    g = mutual_graph_cached(spark, sf_dir).select("src", "dst")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    e1 = g.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = g.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = g.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    members = (
        tri.select(F.col("a").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
    )
    return (
        e.join(members, e["vec_id"] == members["v"], "left")
        .groupBy("vec_id")
        .agg(F.count(F.col("v")).cast("int").alias("n_triangles"))
    )


def _sql_graph_triangle_count() -> str:
    return f"""
WITH g AS ({_sql_knn_graph_mutual()}),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM g e1
  JOIN g e2 ON e2.src = e1.dst
  JOIN g e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
m AS (
  SELECT a AS v FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT e.vec_id, CAST(count(m.v) AS INT) AS n_triangles
FROM embeddings e LEFT JOIN m ON m.v = e.vec_id
GROUP BY e.vec_id
"""


PAGERANK_ITERS = 3
PAGERANK_SCALE = 1_000_000_000  # ranks in parts-per-billion


def q_pagerank_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the mutual-kNN graph — the centrality layer of the
    semantic-dedup stack (which cluster members are HUBS vs periphery:
    the standard pick-the-prototype signal, and the second iterative
    numeric algorithm in the repo after the CC fixpoint).

    All arithmetic is INTEGER-scaled so both engines agree bit-for-bit:
    ranks live in parts-per-billion (bigint), every division is
    integer DIV — r_{i+1}(v) = (15·(S DIV n)) DIV 100 +
    (85·Σ_{u→v} (r_i(u) DIV deg(u))) DIV 100 with S = 1e9. A float
    PageRank would drift by summation order; this one value-hash
    oracle-checks against a PAGERANK_ITERS-deep unrolled CTE chain
    (the bpe_train unroll pattern). Dangling mass is dropped, the
    standard simplification — both engines drop it identically.

    Scale: each iteration is one (rank ⋈ degree) edge join + one
    group-by-destination aggregate — the textbook Pregel step as two
    aligned exchanges of (node, bigint) rows; the graph builds once.
    Fixed iteration count keeps the plan depth constant; a
    convergence-driven variant would reuse the CC loop's checkpoint
    discipline.

    r10: the edge list comes from the persisted graph sidecar
    (mutual_graph_cached) — the Σ|cell|² build stage that used to
    dominate this query's cost runs once per corpus and is
    oracle-checked by sink_graph_sidecar; this query times the rank
    loop, which is its own algorithm."""
    e = load_table(spark, sf_dir, "embeddings")
    g = mutual_graph_cached(spark, sf_dir).select("src", "dst")
    # The graph build (cells + PQ codes + Σ|cell|² pair scoring) is the
    # expensive chain, and the rank loop references it once per
    # iteration — checkpoint it ONCE so iterations read a materialized
    # edge list instead of recomputing the build (the CC loop's
    # lineage discipline; measured 11.4 s -> well under half at sf0.1)
    und = (
        g.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(g.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nodes = e.select("vec_id")
    n1 = nodes.agg(F.count(F.lit(1)).alias("cnt"))
    base = nodes.crossJoin(F.broadcast(n1))
    ranks = base.select(
        "vec_id",
        F.expr(f"CAST({PAGERANK_SCALE} DIV cnt AS BIGINT)").alias("r"),
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            und.join(ranks, und["u"] == ranks["vec_id"])
            .join(deg, "u")
            .select(F.col("v"), F.expr("CAST(r DIV d AS BIGINT)").alias("c"))
        )
        inc = contrib.groupBy("v").agg(F.sum("c").alias("inc"))
        # checkpoint each round (the CC-loop lineage discipline):
        # without it, iteration k's plan NESTS iterations 1..k-1 and
        # Spark re-evaluates the unshared subtrees — measured ~5 s of
        # pure re-execution over 16-byte rank rows at sf0.1
        ranks = (
            base.join(inc, base["vec_id"] == inc["v"], "left")
            .select(
                "vec_id",
                F.expr(
                    f"CAST((15 * ({PAGERANK_SCALE} DIV cnt)) DIV 100"
                    " + (85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100"
                    " AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(deg, nodes["vec_id"] == deg["u"], "left")
        .select("vec_id", F.coalesce("d", F.lit(0)).cast("int").alias("deg"))
        .join(ranks, "vec_id")
        .select("vec_id", "deg", F.col("r").alias("rank_ppb"))
    )


def _sql_pagerank_knn_graph() -> str:
    s = PAGERANK_SCALE
    its = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f"""i{i} AS (
  SELECT e.vec_id,
         CAST((15 * ({s} // n.cnt)) // 100
              + (85 * coalesce(sm.inc, 0)) // 100 AS BIGINT) AS r
  FROM embeddings e CROSS JOIN n
  LEFT JOIN (
    SELECT u.b AS v, sum({prev}.r // deg.d) AS inc
    FROM und u JOIN {prev} ON {prev}.vec_id = u.a
    JOIN deg ON deg.u = u.a
    GROUP BY u.b
  ) sm ON sm.v = e.vec_id
)""")
        prev = f"i{i}"
    chain = ",\n".join(its)
    return f"""
WITH {_SQL_EXPORT_CENT},
{_SQL_IVF_ASG},
{_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_SQL_SDC},
{_SQL_GRAPH_PAIRS},
topk AS (
  SELECT aid, bid FROM (
    SELECT aid, bid,
           row_number() OVER (PARTITION BY aid ORDER BY d, bid) AS rn
    FROM pair_d
  ) WHERE rn <= {KNN_GRAPH_K}
),
und AS (
  SELECT f.aid AS a, f.bid AS b
  FROM topk f JOIN topk r ON f.aid = r.bid AND f.bid = r.aid
),
deg AS (SELECT a AS u, count(*) AS d FROM und GROUP BY a),
n AS (SELECT count(*) AS cnt FROM embeddings),
r0 AS (
  SELECT vec_id, CAST({s} // cnt AS BIGINT) AS r FROM embeddings, n
),
{chain}
SELECT e.vec_id, CAST(coalesce(deg.d, 0) AS INT) AS deg,
       {prev}.r AS rank_ppb
FROM embeddings e
LEFT JOIN deg ON deg.u = e.vec_id
JOIN {prev} ON {prev}.vec_id = e.vec_id
"""


def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic clustering: connected components over
    the mutual-kNN graph (knn_graph_mutual), every corpus vector
    labeled with the smallest id in its component (singletons label
    themselves via per-node self-buckets). Runs the SAME components
    operator as the LSH dedup family
    (operators/dedup.cc_label_propagation: bucket-star contraction, a
    driver union-find finish when the star fits one collect, else the
    distributed label-propagation loop) — and because the mutual graph
    is a pure function of the corpus, the components are value-hash
    oracle-checked against a DuckDB recursive CTE, not just an
    exact-bucket twin. At the oracle scales that check covers the
    union-find finish. Returns
    (vec_id, label, is_dup). r10: the graph comes from the persisted
    sidecar (mutual_graph_cached; build oracle-checked by
    sink_graph_sidecar) instead of a per-query rebuild."""
    from etl_dagster_service_crawler_spark.operators.dedup import (
        cc_label_propagation,
    )

    e = load_table(spark, sf_dir, "embeddings")
    g = mutual_graph_cached(spark, sf_dir)
    bh = F.concat_ws("-", F.col("src"), F.col("dst"))
    members = (
        g.select(F.col("src").alias("vec_id"), bh.alias("bh"))
        .unionByName(g.select(F.col("dst").alias("vec_id"), bh.alias("bh")))
        .unionByName(
            e.select(
                "vec_id",
                F.concat(F.lit("self-"), F.col("vec_id")).alias("bh"),
            )
        )
    )
    return cc_label_propagation(members, "vec_id").select(
        "vec_id", "label", "is_dup"
    )


def _sql_semantic_dedup_clusters() -> str:
    # the mutual-graph CTE chain, then CC as a RECURSIVE min-label
    # reachability fold (undirected: both edge directions seeded)
    return f"""
WITH RECURSIVE {_SQL_EXPORT_CENT},
{_SQL_IVF_ASG},
{_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_SQL_SDC},
{_SQL_GRAPH_PAIRS},
topk AS (
  SELECT aid, bid FROM (
    SELECT aid, bid,
           row_number() OVER (PARTITION BY aid ORDER BY d, bid) AS rn
    FROM pair_d
  ) WHERE rn <= {KNN_GRAPH_K}
),
und AS (
  SELECT f.aid AS a, f.bid AS b
  FROM topk f JOIN topk r ON f.aid = r.bid AND f.bid = r.aid
),
reach AS (
  SELECT vec_id AS n, vec_id AS lab FROM embeddings
  UNION
  SELECT u.b AS n, r.lab
  FROM reach r JOIN und u ON u.a = r.n
)
SELECT n AS vec_id, min(lab) AS label, min(lab) <> n AS is_dup
FROM reach GROUP BY n
"""


def q_pipeline_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed SemDeDup pass as one call: embed-space mutual-kNN
    graph -> connected components -> keep the min-id representative per
    semantic cluster -> per-source survival report joined back to the
    documents table (vec_id aligns with doc_id in the fixture corpus).
    Emits (source, n_docs, n_kept, n_dropped, drop_bp) — the corpus-mix
    accounting a curation run records after semantic dedup. Everything
    upstream is deterministic, so the full pipeline (graph, iterative
    CC, policy, rollup) value-hash oracle-checks end to end."""
    d = load_table(spark, sf_dir, "documents")
    labels = q_semantic_dedup_clusters(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        (~F.col("is_dup")).alias("keep"),
    )
    return (
        d.join(labels, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("int").alias("n_dropped"),
            # BIGINT multiply: 10000 x an int32 drop count overflows at
            # ~215k dropped docs per source
            F.expr(
                "CAST((10000 * CAST(n_docs - n_kept AS BIGINT)) div n_docs"
                " AS INT)"
            ).alias("drop_bp"),
        )
        .orderBy("source")
    )


def _sql_pipeline_semantic_dedup() -> str:
    cc = _sql_semantic_dedup_clusters()
    # reuse the full recursive chain as a subquery over (vec_id, is_dup)
    return f"""
WITH lab AS ({cc})
SELECT d.source,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(CASE WHEN l.is_dup THEN 0 ELSE 1 END) AS INT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN l.is_dup THEN 0 ELSE 1 END) AS INT)
         AS n_dropped,
       CAST((10000 * CAST(count(*) - sum(CASE WHEN l.is_dup THEN 0 ELSE 1 END)
                          AS BIGINT))
            // count(*) AS INT) AS drop_bp
FROM documents d JOIN lab l ON d.doc_id = l.vec_id
GROUP BY d.source
ORDER BY d.source
"""


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall self-audit as a QUERY (measure, don't guess): for each
    standing query, how many of the exact cosine top-5 each
    deterministic approximate arm recovers — `pq_adc` (whole-corpus ADC
    over PQ codes), `ivf_pq` (cell-pruned ADC), and `pq_rerank` (ADC
    prune + exact re-rank, the production shape). All arms are pure
    functions of the corpus, so the recall numbers themselves are
    value-hash oracle-checked — the audit artifact a 100 TB deployment
    would persist next to the index to decide nprobe/code/R budgets.
    Returns (method, qid, hits, recall_bp), hits out of k=5."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _pq_adc_scores,
        ivf_pq_search,
        pq_adc_topk,
        pq_rerank_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    exact = (
        cosine_topk_bruteforce(e, TOPK_QUERY_IDS, k=5)
        .select("qid", "nid", F.lit(1).alias("hit"))
    )
    # ONE whole-corpus ADC pass shared by the pq_adc and pq_rerank arms:
    # Spark does not dedupe identical subtrees across union branches
    # (0 ReusedExchange measured), so the shared frame is lazily
    # localCheckpointed — computed once at the first action, reused by
    # both arms (the ivf arm's cell-pruned chain is distinct by design)
    adc = _pq_adc_scores(
        e, TOPK_QUERY_IDS, PQ_EXPORT_SUB, PQ_EXPORT_CODES
    ).localCheckpoint(eager=False)
    arms = [
        ("pq_adc", pq_adc_topk(
            e, TOPK_QUERY_IDS, k=5,
            n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES, scores=adc,
        )),
        ("ivf_pq", ivf_pq_search(
            e, TOPK_QUERY_IDS, k=5,
            n_centroids=IVF_EXPORT_CENTROIDS, nprobe=IVF_EXPORT_NPROBE,
            n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES,
        )),
        ("pq_rerank", pq_rerank_topk(
            e, TOPK_QUERY_IDS, k=5, r_candidates=PQ_RERANK_R,
            n_sub=PQ_EXPORT_SUB, n_codes=PQ_EXPORT_CODES, scores=adc,
        )),
    ]
    appr = None
    for name, df in arms:
        a = df.select(F.lit(name).alias("method"), "qid", "nid")
        appr = a if appr is None else appr.unionByName(a)
    return (
        appr.join(F.broadcast(exact), ["qid", "nid"], "left")
        .groupBy("method", "qid")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("int").alias("hits"))
        .select(
            "method", "qid", "hits",
            (F.col("hits") * 2000).cast("int").alias("recall_bp"),
        )
    )


def _sql_ann_recall_report() -> str:
    nq = len(TOPK_QUERY_IDS)
    return f"""
WITH {_SQL_EXPORT_CENT},
{_SQL_IVF_ASG},
{_sql_ivf_prb()},
{_SQL_Q8},
{_SQL_PQ_CENT},
{_SQL_PQ_SLICES},
{_SQL_PQ_ENC},
{_sql_pq_lut()},
{_SQL_ADC_PQ},
{_SQL_CAND_ADC_IVF},
surv AS (
  SELECT qid, vec_id AS nid FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS crn
    FROM adc_pq
  ) WHERE crn <= {PQ_RERANK_R}
),
rr AS (
  SELECT s.qid, s.nid, q.embedding AS qvec, n.embedding AS nvec
  FROM surv s
  JOIN embeddings q ON q.vec_id = s.qid
  JOIN embeddings n ON n.vec_id = s.nid
),
approx AS (
  SELECT 'pq_adc' AS method, qid, vec_id AS nid FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
    FROM adc_pq
  ) WHERE rn <= 5
  UNION ALL
  SELECT 'ivf_pq' AS method, qid, vec_id AS nid FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
    FROM adc_ivf
  ) WHERE rn <= 5
  UNION ALL
  SELECT 'pq_rerank' AS method, qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY {_COS_QN_VEC} DESC, nid) AS rn
    FROM rr
  ) WHERE rn <= 5
),
exact AS (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, n.vec_id AS nid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS_QN} DESC, n.vec_id) AS rn
    FROM embeddings q, embeddings n
    WHERE q.vec_id < {nq} AND n.vec_id != q.vec_id
  ) WHERE rn <= 5
)
SELECT method, qid, hits, CAST(hits * 2000 AS INT) AS recall_bp FROM (
  SELECT a.method, a.qid, CAST(count(e.nid) AS INT) AS hits
  FROM approx a
  LEFT JOIN exact e ON a.qid = e.qid AND a.nid = e.nid
  GROUP BY a.method, a.qid
)
"""


# --- r9: oracle anchors for knn_join_auto's routing and the IVF
# candidate cut (VERDICT r8 item 9 — shrink rows-only further) --------

# The export calibration runs over a deterministic md5-spread sample
# (the hash_spread idiom) instead of calibrate_nprobe's xxhash64
# modulus — same argument as hash_spread_seeds vs trained k-means: the
# deterministic twin anchors the MACHINERY (cell ranks -> recall curve
# -> route adjudication) with a full value hash, while the production
# sampler keeps its unit tests. 512 keeps the sample² truth pass
# bounded planning-size work in both engines.
KNN_ROUTE_SAMPLE = 512
KNN_ROUTE_TARGET_BP = 8500  # 0.85 — corpus_wl.KNN_TARGET_RECALL in bp


def q_knn_route_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable ANN ROUTING artifact: the full recall-vs-nprobe
    curve of the deterministic calibration twin, plus the adjudicated
    (nprobe, route) that knn_join_auto's rule derives from it — one row
    per probe count p with integer hit counts, so the whole decision
    value-hash oracle-checks.

    Method mirrors calibrate_nprobe step for step, through PRODUCTION
    operators: md5-spread sample, probe order over every deterministic
    cell (probe_cells, the (qcos desc, cid) window), cell assignment
    (assign_cells), exact in-sample cosine top-5 truth, recall(p) =
    hits(p)/total as exact integers. The route column applies
    route_knn's published thresholds (recall >= 0.85 in basis points;
    quantized when 4*nprobe > C) — parity with the float rule is
    pinned by unit test. Scale: sample and cell count are planning
    constants; the sample² truth pass is ~512² rows of matched-fold
    cosine (_cosine_topk, norms once per sample row), independent of
    corpus size."""
    from etl_dagster_service_crawler_spark.functions.vectors import norm2
    from etl_dagster_service_crawler_spark.operators.similarity import (
        _cosine_topk,
        assign_cells,
        probe_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    c_cells = IVF_EXPORT_CENTROIDS
    cent = _export_centroids(e)
    samp = (
        e.select(
            "vec_id", "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(KNN_ROUTE_SAMPLE)
        .select("vec_id", "embedding")
    )
    q = samp.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pos = probe_cells(q, cent, c_cells).select(
        "qid", "cid", F.col("rn").alias("pos")
    )
    cell = assign_cells(samp, cent).select(
        F.col("vec_id").alias("nid"), F.col("cid").alias("ncid")
    )
    v = samp.select("vec_id", "embedding", F.sqrt(norm2(F.col("embedding"))))
    a = v.toDF("qid", "qvec", "qnrm")
    b = v.toDF("nid", "nvec", "nnrm")
    truth = _cosine_topk(
        a.join(F.broadcast(b), F.col("qid") != F.col("nid")), 5
    ).select("qid", "nid")
    ranked = (
        truth.join(cell, "nid")
        .join(pos, ["qid"])
        .where(F.col("cid") == F.col("ncid"))
        .select("qid", "pos")
    )
    tot = ranked.agg(F.count(F.lit(1)).alias("total"))
    base = cent.select((F.col("cid") + 1).cast("int").alias("p"))
    hb = ranked.groupBy("pos").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        base.join(hb, base["p"] == hb["pos"], "left")
        .select("p", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .withColumn("hits", F.sum("cnt").over(wcum).cast("bigint"))
        .select("p", "hits")
        .crossJoin(F.broadcast(tot))
    )
    dec = (
        curve.where(
            F.col("hits") * 10000 >= F.lit(KNN_ROUTE_TARGET_BP) * F.col("total")
        )
        .agg(F.min("p").alias("np_raw"))
        .select(
            F.coalesce("np_raw", F.lit(c_cells)).cast("int").alias("nprobe")
        )
    )
    return curve.crossJoin(F.broadcast(dec)).select(
        "p",
        "hits",
        F.col("total").cast("bigint").alias("total"),
        F.expr("CAST((hits * 10000) DIV total AS INT)").alias("recall_bp"),
        "nprobe",
        F.when(F.lit(4) * F.col("nprobe") > F.lit(c_cells), F.lit("quantized"))
        .otherwise(F.lit("ivf"))
        .alias("route"),
    )


SQL_KNN_ROUTE_EXPORT = f"""
WITH {_SQL_EXPORT_CENT},
samp AS (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             AS rk
    FROM embeddings
  ) WHERE rk <= {KNN_ROUTE_SAMPLE}
),
sc AS (
  SELECT e.vec_id AS qid, c.cid, {_COS_EC} AS qcos
  FROM samp e, cent c
),
pos AS (
  SELECT qid, cid,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY qcos DESC, cid) AS INT) AS pos
  FROM sc
),
cell AS (SELECT qid AS nid, cid FROM pos WHERE pos = 1),
truth AS (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, n.vec_id AS nid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS_QN} DESC, n.vec_id) AS rn
    FROM samp q, samp n WHERE q.vec_id != n.vec_id
  ) WHERE rn <= 5
),
ranked AS (
  SELECT t.qid, p.pos FROM truth t
  JOIN cell cl ON cl.nid = t.nid
  JOIN pos p ON p.qid = t.qid AND p.cid = cl.cid
),
tot AS (SELECT count(*) AS total FROM ranked),
curve AS (
  SELECT c.cid + 1 AS p,
         (SELECT count(*) FROM ranked r WHERE r.pos <= c.cid + 1) AS hits
  FROM cent c
),
dec AS (
  SELECT coalesce(min(p), {IVF_EXPORT_CENTROIDS}) AS nprobe
  FROM curve, tot
  WHERE hits * 10000 >= {KNN_ROUTE_TARGET_BP} * total
)
SELECT CAST(p AS INT) AS p, CAST(hits AS BIGINT) AS hits,
       CAST(total AS BIGINT) AS total,
       CAST((hits * 10000) // total AS INT) AS recall_bp,
       CAST(nprobe AS INT) AS nprobe,
       CASE WHEN 4 * nprobe > {IVF_EXPORT_CENTROIDS}
            THEN 'quantized' ELSE 'ivf' END AS route
FROM curve, tot, dec
"""


def q_ivf_candidates_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF CANDIDATE-SET artifact: for each standing
    query, every corpus vector the probe cut admits — the composition
    of the two r8 exports (assign_cells x probe_cells over the
    deterministic centroid set) that similarity_topk_ivf / knn_join_ivf
    actually score. Anchors the PRUNING semantics of the rows-only IVF
    searches with a full value hash: which rows are in play, per query,
    before any distance ranking. Self-matches excluded for parity with
    ivf_search."""
    from etl_dagster_service_crawler_spark.operators.similarity import (
        assign_cells,
        probe_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cent = _export_centroids(e)
    asg = assign_cells(e, cent).select("vec_id", "cid")
    q = e.where(F.col("vec_id").isin(TOPK_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    probes = probe_cells(q, cent, IVF_EXPORT_NPROBE).select(
        "qid", "cid", F.col("rn").alias("probe_rank")
    )
    return (
        probes.join(asg, "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.col("cid").cast("int").alias("cid"),
            F.col("probe_rank").cast("int").alias("probe_rank"),
        )
    )


SQL_IVF_CANDIDATES_EXPORT = f"""
WITH {_SQL_EXPORT_CENT},
sc AS (
  SELECT e.vec_id, c.cid, {_COS_EC} AS ccos
  FROM embeddings e, cent c
),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid)
             AS rn
    FROM sc
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, embedding FROM embeddings
  WHERE vec_id < {len(TOPK_QUERY_IDS)}
),
qsc AS (
  SELECT e.qid, c.cid, {_COS_EC} AS qcos
  FROM q e, cent c
),
prb AS (
  SELECT qid, cid, CAST(rn AS INT) AS probe_rank FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, cid) AS rn
    FROM qsc
  ) WHERE rn <= {IVF_EXPORT_NPROBE}
)
SELECT p.qid, a.vec_id AS nid, CAST(p.cid AS INT) AS cid, p.probe_rank
FROM prb p JOIN asg a ON a.cid = p.cid
WHERE a.vec_id != p.qid
"""


SPECS = [
    QuerySpec("source_lang_mix", q_source_lang_mix, SQL_SOURCE_LANG_MIX),
    QuerySpec(
        "minhash_signature_export", q_minhash_signature_export, SQL_MINHASH_EXPORT
    ),
    QuerySpec(
        "simhash_signature_export", q_simhash_signature_export, SQL_SIMHASH_EXPORT
    ),
    # r8: oracle anchors for the rows-only SRP/IVF families
    QuerySpec(
        "minhash_band_export", q_minhash_band_export, SQL_MINHASH_BAND_EXPORT
    ),
    # r10: the candidates->exact-verify stage on top of the band keys —
    # the complete production minhash-dedup shape, oracle-checked
    # end-to-end (only LSH recall itself remains approximate)
    QuerySpec(
        "dedup_minhash_verify",
        q_dedup_minhash_verify,
        SQL_DEDUP_MINHASH_VERIFY,
        bench=True,
    ),
    # r10: asymmetric containment (quote/wrapper detection) — the
    # near-dup class symmetric Jaccard misses
    QuerySpec(
        "doc_containment_ngram", q_doc_containment_ngram, SQL_DOC_CONTAINMENT
    ),
    # r10: the composed flagship — bands -> verify -> CC -> labels, every
    # stage (including the iterative fixpoint) oracle-checked
    QuerySpec(
        "pipeline_minhash_dedup",
        q_pipeline_minhash_dedup,
        SQL_PIPELINE_MINHASH_DEDUP,
        bench=True,
    ),
    QuerySpec("srp_bucket_export", q_srp_bucket_export, SQL_SRP_BUCKET_EXPORT),
    # r8: O(n^2)-compute / O(buckets)-movement threshold artifact; the
    # quantized-cosine value anchor for the routed ANN arm
    QuerySpec(
        "similarity_pair_histogram", q_similarity_pair_histogram,
        SQL_SIM_PAIR_HIST, bench=True,
    ),
    QuerySpec("ivf_assign_export", q_ivf_assign_export, SQL_IVF_ASSIGN_EXPORT),
    QuerySpec("ivf_probe_export", q_ivf_probe_export, SQL_IVF_PROBE_EXPORT),
    # r8: the PQ leg of the ANN triad — int8-domain codes + ADC search,
    # both exact-integer and fully oracle-backed
    QuerySpec("pq_encode_export", q_pq_encode_export, SQL_PQ_ENCODE_EXPORT),
    QuerySpec("pq_adc_topk", q_pq_adc_topk, SQL_PQ_ADC_TOPK, bench=True),
    QuerySpec("ivf_pq_search", q_ivf_pq_search, _sql_ivf_pq_search()),
    QuerySpec("pq_rerank_topk", q_pq_rerank_topk, _sql_pq_rerank_topk()),
    QuerySpec(
        "knn_graph_mutual", q_knn_graph_mutual, _sql_knn_graph_mutual()
    ),
    QuerySpec(
        "graph_triangle_count", q_graph_triangle_count,
        _sql_graph_triangle_count(),
    ),
    QuerySpec(
        "decontaminate_embedding", q_decontaminate_embedding,
        _sql_decontaminate_embedding(),
    ),
    # r10: the persisted graph sidecar — build+write+read-back, the
    # artifact the graph consumers read instead of rebuilding; benched
    # so the build cost stays visible now that pagerank excludes it
    QuerySpec(
        "sink_graph_sidecar", q_sink_graph_sidecar, _sql_knn_graph_mutual(),
        bench=True,
    ),
    # r10: graph-health gate over the sidecar (degree distribution with
    # explicit zero-degree nodes)
    QuerySpec(
        "knn_graph_degree_hist",
        q_knn_graph_degree_hist,
        _sql_knn_graph_degree_hist(),
    ),
    QuerySpec(
        "semantic_dedup_clusters",
        q_semantic_dedup_clusters,
        _sql_semantic_dedup_clusters(),
    ),
    # r9: integer-scaled fixed-iteration PageRank over the mutual-kNN
    # graph, oracle-checked against an unrolled CTE chain
    QuerySpec(
        "pagerank_knn_graph", q_pagerank_knn_graph, _sql_pagerank_knn_graph(),
        bench=True,
    ),
    QuerySpec(
        "pipeline_semantic_dedup",
        q_pipeline_semantic_dedup,
        _sql_pipeline_semantic_dedup(),
    ),
    QuerySpec(
        "ann_recall_report", q_ann_recall_report, _sql_ann_recall_report()
    ),
    # r9: oracle anchors for knn_join_auto's route adjudication and
    # the IVF candidate cut (rows-only shrink, VERDICT r8 item 9)
    QuerySpec("knn_route_export", q_knn_route_export, SQL_KNN_ROUTE_EXPORT),
    QuerySpec(
        "ivf_candidates_export",
        q_ivf_candidates_export,
        SQL_IVF_CANDIDATES_EXPORT,
    ),
    QuerySpec(
        "embedding_centroids_int", q_embedding_centroids_int, SQL_EMB_CENTROIDS
    ),
    QuerySpec("text_pii_scrub", q_text_pii_scrub, SQL_PII_SCRUB),
    QuerySpec(
        "text_repetition_score",
        q_text_repetition_score,
        SQL_REPETITION_SCORE,
        bench=True,
    ),
    QuerySpec("pipeline_corpus_clean", q_pipeline_corpus_clean, _corpus_clean_sql(), bench=True),
    QuerySpec(
        "corpus_clean_incremental",
        q_corpus_clean_incremental,
        _corpus_clean_incremental_sql(),
    ),
    QuerySpec("decontaminate_ngram", q_decontaminate_ngram, SQL_DECONTAMINATE),
    QuerySpec("mix_weighted_sample", q_mix_weighted_sample, SQL_MIX_WEIGHTED_SAMPLE),
    QuerySpec(
        "mix_sqrt_temperature", q_mix_sqrt_temperature, SQL_MIX_SQRT_TEMPERATURE
    ),
    # r10: epoch-based oversampling — the repeat-up half of mixture
    # design (mix_sqrt_temperature compresses down)
    QuerySpec(
        "mix_upsample_epochs", q_mix_upsample_epochs, SQL_MIX_UPSAMPLE_EPOCHS
    ),
    QuerySpec(
        "embedding_dim_profile",
        q_embedding_dim_profile,
        _sql_embedding_dim_profile(),
    ),
    QuerySpec("cluster_semantic_kmeans", q_cluster_semantic_kmeans, None),
    # r10: the frozen-centroid assignment anchor for the kmeans family
    QuerySpec(
        "kmeans_assign_export", q_kmeans_assign_export,
        _sql_kmeans_assign_export(),
    ),
    # r10: the Lloyd's UPDATE step under the frozen assignment — with
    # assign + update both anchored, one full k-means iteration is
    # oracle-checked end-to-end
    QuerySpec(
        "kmeans_update_export", q_kmeans_update_export,
        _sql_kmeans_update_export(),
    ),
    QuerySpec(
        "kmeans_train_iters", q_kmeans_train_iters, _sql_kmeans_train_iters()
    ),
    QuerySpec("sample_stratified", q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    QuerySpec("embedding_normalize", q_embedding_normalize, SQL_EMBEDDING_NORMALIZE),
    QuerySpec("embedding_quality_gate", q_embedding_quality_gate, SQL_EMB_QUALITY_GATE),
    QuerySpec("embedding_quantize", q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    QuerySpec("text_token_count", q_text_token_count, SQL_TOKEN_COUNT),
    QuerySpec("multimodal_frame_sample", q_multimodal_frame_sample, SQL_FRAME_SAMPLE),
    QuerySpec("text_ngrams", q_text_ngrams, SQL_NGRAMS),
    QuerySpec("text_lang_id", q_text_lang_id, _lang_id_sql()),
    QuerySpec("lang_confusion_audit", q_lang_confusion_audit, _lang_confusion_sql()),
    QuerySpec("text_quality_score", q_text_quality_score, SQL_QUALITY_SCORE),
    # r8: the rule-battery curation filter (per-rule audit flags)
    QuerySpec("gopher_quality_rules", q_gopher_quality_rules, SQL_GOPHER_RULES),
    # bench: the model-inference map-only shape — zero exchanges, so
    # its curve isolates pure scan+expression throughput
    QuerySpec(
        "quality_classifier_score",
        q_quality_classifier_score,
        SQL_QUALITY_CLASSIFIER,
        bench=True,
    ),
    QuerySpec("doc_fingerprint", q_doc_fingerprint, SQL_FINGERPRINT),
    QuerySpec("split_train_holdout", q_split_train_holdout, SQL_SPLIT_TRAIN_HOLDOUT),
    QuerySpec("pack_token_budget", q_pack_token_budget, SQL_PACK_TOKEN_BUDGET),
    QuerySpec("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT, bench=True),
    QuerySpec("dedup_minhash_lsh", q_dedup_minhash, None, bench=True),
    QuerySpec("dedup_minhash_assign", q_dedup_minhash_assign, None, bench=True),
    # bench: the O(n) connected-components labeling is the dedup path
    # you'd actually run at 100 TB (pair enumeration is output-bound),
    # so its cost curve is tracked alongside the pair query's
    QuerySpec("dedup_minhash_cc", q_dedup_minhash_cc, None, bench=True),
    # exact-mode twins: the same assignment/CC plans, sha2(text)
    # buckets, full DuckDB oracles — the 100 TB labeling machinery's
    # correctness gates
    QuerySpec("dedup_assign_exact", q_dedup_assign_exact, SQL_DEDUP_ASSIGN_EXACT),
    QuerySpec("dedup_cc_exact", q_dedup_cc_exact, SQL_DEDUP_CC_EXACT),
    QuerySpec("dedup_simhash", q_dedup_simhash, None),
    QuerySpec("dedup_ngram_jaccard", q_dedup_ngram_jaccard, SQL_NGRAM_JACCARD),
    QuerySpec("dedup_embedding_cosine", q_dedup_embedding_cosine, SQL_EMBEDDING_COSINE),
    QuerySpec("dedup_embedding_lsh", q_dedup_embedding_lsh, None),
    QuerySpec("similarity_topk", q_similarity_topk, SQL_TOPK, bench=True),
    QuerySpec("similarity_topk_ivf", q_similarity_topk_ivf, None),
    QuerySpec("similarity_topk_rerank", q_similarity_topk_rerank, SQL_TOPK_RERANK),
    QuerySpec("multimodal_columns", q_multimodal_columns, SQL_MULTIMODAL),
    QuerySpec("multimodal_features", q_multimodal_features, SQL_MM_FEATURES),
    # r10: the multimodal half of the dedup brief — integer dHash
    # signatures through the REAL PNG decode seam, then exact banded
    # near-dup pairs (d+1 bands, no recall loss)
    QuerySpec("phash_image_export", q_phash_image_export, SQL_PHASH_EXPORT),
    QuerySpec(
        "dedup_image_phash", q_dedup_image_phash, SQL_DEDUP_IMAGE_PHASH
    ),
    # r10: the audio analogue of phash_image_export — band-energy
    # fingerprint through the real encode/decode/resample seams
    QuerySpec(
        "audio_fingerprint_export",
        q_audio_fingerprint_export,
        SQL_AUDIO_FP_EXPORT,
    ),
    # r10: the video leg of the multimodal trio — shot-boundary
    # detection through the real PNG codec seam
    QuerySpec(
        "video_scenecut_export", q_video_scenecut_export, SQL_VIDEO_SCENECUT
    ),
    # r10: near-dup audio pairs — fingerprint equi-blocking + integer
    # energy-tolerance verify (the image-phash twin)
    QuerySpec("dedup_audio_fp", q_dedup_audio_fp, SQL_DEDUP_AUDIO_FP),
    # r11: integer fixed-point DFT spectra through the real WAV codec;
    # frame-anchored banding finds the one-frame-offset near-dups
    QuerySpec(
        "audio_spectral_export", q_audio_spectral_export,
        SQL_AUDIO_SPECTRAL_EXPORT,
    ),
    QuerySpec(
        "dedup_audio_spectral", q_dedup_audio_spectral,
        SQL_DEDUP_AUDIO_SPECTRAL,
    ),
]
