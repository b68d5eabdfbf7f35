"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical parquet files and returns the same
ground truth. Files use the engine's fixture schemas
(`io.tables.TABLES`: `documents`, `embeddings`) so the engine reads
them through its own loader. Nothing here imports Spark.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stopwords per language, chosen so that no word is shared between two
# languages (the engine's lexicon lists share "de" and "un" between fr
# and es); a document carrying only its own language's words is then
# identified as that language by `functions.text.lang_id`.
LANG_WORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "ein", "zu"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "y"],
}
LANGS = list(LANG_WORDS)
SOURCES = ["news", "forum", "blog", "wiki", "shop"]


def _vocab(size: int) -> np.ndarray:
    """Lower-case filler words that collide with no stopword list."""
    letters = np.array(list("bcdfghjkmnpqrstvwxz"))
    idx = np.arange(size)
    words = []
    for i in idx:
        w, n = [], int(i)
        for _ in range(4):
            w.append(letters[n % len(letters)])
            n //= len(letters)
        words.append("q" + "".join(w))
    return np.array(words)


def _documents_table(ids, texts, langs, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# --- corpus_dedup ------------------------------------------------------------


@dataclass
class Corpus:
    """Ground truth of a generated crawl corpus."""

    n_docs: int
    cluster: np.ndarray  # planted cluster id per doc, indexed by doc_id
    exact_groups: list[list[int]]  # doc ids sharing one verbatim text, size >= 2

    def planted_dups(self) -> set[int]:
        """Docs that a perfect dedup drops: every member of a planted
        cluster except its smallest id."""
        order = np.lexsort((np.arange(self.n_docs), self.cluster))
        c = self.cluster[order]
        first = np.ones(len(c), dtype=bool)
        first[1:] = c[1:] != c[:-1]
        return set(order[~first].tolist())


SHAPE_SEED = 20_240_601


def make_corpus(path: str, seed: int, n_docs: int) -> Corpus:
    """A crawl-like corpus with planted near-duplicate clusters.

    About a third of the docs belong to planted clusters whose sizes
    follow a power law (2 to 64 members). A cluster grows either as a
    tree (each member edits 1 token of a random earlier member) or as a
    chain (each member edits 3 tokens of the previous one, so chain ends
    share no LSH band and connected components needs several rounds).
    A quarter of the cluster members are verbatim copies. Doc ids are a
    random permutation, so a cluster's kept doc is not its original.

    The cluster shapes (sizes, chain or tree, which member each one
    copies or edits) come from a fixed stream, the same for every seed:
    how many rounds connected components runs follows the shapes, and
    with per-seed shapes the write step's time varied with the seed.
    The seed picks the texts, the edited tokens and the doc ids."""
    rng = np.random.default_rng(seed)
    shape = np.random.default_rng(SHAPE_SEED)
    vocab = _vocab(30_000)
    texts: list[np.ndarray] = []
    cluster: list[int] = []
    n_clusters = 0

    def fresh() -> np.ndarray:
        return rng.choice(len(vocab), size=int(rng.integers(60, 140)), replace=False)

    def edit(toks: np.ndarray, n: int) -> np.ndarray:
        out = toks.copy()
        pos = rng.choice(len(out), size=n, replace=False)
        out[pos] = rng.integers(0, len(vocab), size=n)
        return out

    dup_budget = n_docs // 3
    while dup_budget > 0:
        size = min(64, int(2 + shape.pareto(1.3) * 2), dup_budget + 1)
        chain = shape.random() < 0.3
        members = [fresh()]
        for _ in range(size - 1):
            if shape.random() < 0.25:
                members.append(members[int(shape.integers(len(members)))].copy())
            elif chain:
                members.append(edit(members[-1], 3))
            else:
                members.append(edit(members[int(shape.integers(len(members)))], 1))
        texts.extend(members)
        cluster.extend([n_clusters] * size)
        n_clusters += 1
        dup_budget -= size - 1
    while len(texts) < n_docs:
        texts.append(fresh())
        cluster.append(n_clusters)
        n_clusters += 1
    texts, cluster = texts[:n_docs], cluster[:n_docs]

    perm = rng.permutation(n_docs)  # perm[i] = doc_id of generated doc i
    strs = [" ".join(vocab[t]) for t in texts]
    by_text: dict[str, list[int]] = {}
    for i, s in enumerate(strs):
        by_text.setdefault(s, []).append(int(perm[i]))
    cl = np.empty(n_docs, dtype=np.int64)
    cl[perm] = cluster
    order = np.argsort(perm)
    table = _documents_table(
        perm[order],
        [strs[i] for i in order],
        ["en"] * n_docs,
        [SOURCES[i % len(SOURCES)] for i in order],
    )
    pq.write_table(table, path, row_group_size=max(1, n_docs // 8))
    return Corpus(
        n_docs=n_docs,
        cluster=cl,
        exact_groups=[sorted(g) for g in by_text.values() if len(g) > 1],
    )


# --- vector_search -----------------------------------------------------------


@dataclass
class Vectors:
    corpus: np.ndarray  # n x d float32, row i has vec_id i
    query_batches: list[np.ndarray]  # each b x d float32
    qid_base: int  # qids of batch j are qid_base + j*b + arange(b)
    truth: list[np.ndarray]  # per batch: b x k exact top-k vec_ids


def _mixture(rng, n: int, d: int, centers: np.ndarray, iso_share: float) -> np.ndarray:
    """Gaussian-mixture rows plus an isotropic share: the clustered part
    lets a few probes reach high recall, the isotropic part does not."""
    which = rng.integers(0, len(centers), size=n)
    x = centers[which] + rng.normal(0.0, 0.35, size=(n, d))
    iso = rng.random(n) < iso_share
    x[iso] = rng.normal(0.0, 1.0, size=(int(iso.sum()), d))
    return x.astype(np.float32)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k vec_ids per query (ties to the smaller id)."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def make_vectors(
    path: str, seed: int, n: int, d: int, n_batches: int, batch: int, k: int
) -> Vectors:
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, size=(48, d))
    corpus = _mixture(rng, n, d, centers, iso_share=0.15)
    batches = [_mixture(rng, batch, d, centers, iso_share=0.15) for _ in range(n_batches)]
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(corpus), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, n // 8))
    return Vectors(
        corpus=corpus,
        query_batches=batches,
        qid_base=10 * n,
        truth=[exact_topk(corpus, b, k) for b in batches],
    )


# --- scheduled_ingest --------------------------------------------------------


@dataclass
class CrawlBatch:
    table: pa.Table
    survivors: list[tuple[int, str]]  # (doc_id, text) that pass the clean gates


def make_crawl_batches(seed: int, n_ticks: int, rows: int) -> list[CrawlBatch]:
    """Per-tick crawl drops for the corpus-clean job.

    Each doc carries 50-90 distinct filler words plus stopwords of its
    language, so it passes the quality and repetition gates and
    `lang_id` names its language. A tenth of the docs carry a wrong
    `lang` label and are dropped by the language gate. A fifth repeat
    the text of an earlier doc (same or earlier tick), which the
    transform's exact dedup folds into one sink row."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(30_000)
    seen: list[str] = []
    out = []
    next_id = 0
    for _ in range(n_ticks):
        ids, texts, langs, sources, survivors = [], [], [], [], []
        for _ in range(rows):
            lang = LANGS[int(rng.integers(len(LANGS)))]
            if seen and rng.random() < 0.2:
                text = seen[int(rng.integers(len(seen)))]
                lang = _lang_of(text)
            else:
                words = list(vocab[rng.choice(len(vocab), int(rng.integers(50, 90)), replace=False)])
                stops = LANG_WORDS[lang]
                for w in rng.choice(stops, size=len(stops), replace=False):
                    words.insert(int(rng.integers(len(words) + 1)), str(w))
                text = " ".join(words)
                seen.append(text)
            label = lang
            if rng.random() < 0.1:
                label = LANGS[(LANGS.index(lang) + 1) % len(LANGS)]
            else:
                survivors.append((next_id, text))
            ids.append(next_id)
            texts.append(text)
            langs.append(label)
            sources.append(SOURCES[int(rng.integers(len(SOURCES)))])
            next_id += 1
        out.append(CrawlBatch(_documents_table(ids, texts, langs, sources), survivors))
    return out


def _lang_of(text: str) -> str:
    toks = set(text.split(" "))
    return next(lang for lang, ws in LANG_WORDS.items() if toks & set(ws))


def expected_clean_sink(batches: list[CrawlBatch]) -> set[tuple[str, int, int]]:
    """(md5(text), min doc_id, count) per distinct surviving text: the
    complete-mode result of `corpus_clean_transform` over the batches."""
    groups: dict[str, list[int]] = {}
    for b in batches:
        for doc_id, text in b.survivors:
            groups.setdefault(text, []).append(doc_id)
    return {
        (hashlib.md5(t.encode()).hexdigest(), min(ids), len(ids))
        for t, ids in groups.items()
    }


def write_batch(landing_dir: str, tick: int, batch: CrawlBatch) -> None:
    """Land one drop atomically: write under a dot name (the file
    source ignores it), then rename into place."""
    tmp = os.path.join(landing_dir, f".tick-{tick:05d}.parquet")
    pq.write_table(batch.table, tmp)
    os.replace(tmp, os.path.join(landing_dir, f"tick-{tick:05d}.parquet"))
