"""The three workloads. Each drives the engine only through its public
functions, times write steps and read steps, and checks every step's
output against ground truth the generator planted.

A workload object lives for one run: `generate` writes its inputs
(untimed), `warm` runs one untimed pass, `step` runs one timed pass and
returns its write and read timings, the `_check_*` methods feed the
correctness counters, and `quality` reports recall and precision.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

import inputs
from spans import Tracer

# correctness floors, fixed in advance
DUP_RECALL_FLOOR = 0.95
DUP_PRECISION_FLOOR = 0.95
RECALL_AT_10_FLOOR = 0.80
COS_TOL = 1e-6


class Checks:
    """Counts checked operations and failures; keeps the first failures'
    messages for stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 10:
                self.messages.append(what)


class Workload:
    name = ""

    def __init__(self, run_dir: str, seed: int, checks: Checks, tracer: Tracer):
        self.dir = run_dir
        self.seed = seed
        self.checks = checks
        self.tracer = tracer
        self.inputs = os.path.join(run_dir, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def final_check(self) -> None:
        """Checks over the whole run, after the last pass."""

    def _fresh_dir(self, *parts: str) -> str:
        d = os.path.join(self.dir, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


# --- corpus_dedup ------------------------------------------------------------


class CorpusDedup(Workload):
    """Write step: raw corpus -> connected-component clusters of
    near-duplicates -> kept documents written as parquet. Read step:
    audit the written corpus with `dedup_exact` and
    `minhash_dedup_pairs`; it must hold no verbatim duplicate and no
    near-dup pair (any pair shares an LSH bucket, so a cluster)."""

    name = "corpus_dedup"
    N_DOCS = 6_000
    PASS_S = 3.3

    def generate(self) -> None:
        self.truth = inputs.make_corpus(
            os.path.join(self.inputs, "documents.parquet"), self.seed, self.N_DOCS
        )
        self.planted = self.truth.planted_dups()
        self.labelled: set[int] | None = None

    def warm(self, spark) -> None:
        self._write(spark)
        self._read(spark)

    def step(self, spark) -> tuple[list[float], list[float]]:
        with self.tracer.span("pass.write"):
            write_s, kept = _timed(lambda: self._write(spark))
        self._check_write(kept)
        with self.tracer.span("pass.read"):
            read_s, residual = _timed(lambda: self._read(spark))
        self.checks.record(residual == 0, f"{residual} duplicates left in the written corpus")
        return [write_s], [read_s]

    def _write(self, spark) -> str:
        from etl_dagster_service_crawler_spark.io.tables import load_table
        from etl_dagster_service_crawler_spark.operators import dedup

        tr = self.tracer
        with tr.span("io.scan") as c:
            docs = load_table(spark, self.inputs, "documents")
            if tr.enabled:
                c["rows"] = docs.count()
        if tr.enabled:
            with tr.span("dedup.signatures"):
                # the noop sink evaluates every column; count() would
                # prune the signature away
                sig = dedup.minhash_signatures(docs, "doc_id", "text")
                sig.write.format("noop").mode("overwrite").save()
        with tr.span("dedup.cc") as c:
            labels = dedup.minhash_cluster_cc(docs, "doc_id", "text")
        if tr.enabled:
            # counted after the span closes, so its jobs stay out of it
            c["clusters"] = labels.select("label").distinct().count()
        out = self._fresh_dir("out", "dedup_corpus")
        with tr.span("io.sink") as c:
            kept = labels.where(~labels.is_dup).select("doc_id")
            docs.join(kept, "doc_id").write.parquet(out)
            if tr.enabled:
                c.update(_dir_size(out))
        return out

    def _read(self, spark) -> int:
        from etl_dagster_service_crawler_spark.operators import dedup

        tr = self.tracer
        with tr.span("io.scan") as c:
            kept = spark.read.parquet(os.path.join(self.dir, "out", "dedup_corpus"))
            if tr.enabled:
                c["rows"] = kept.count()
        with tr.span("dedup.exact") as c:
            n = dedup.dedup_exact(kept, "doc_id", "text").where("n_dups > 1").count()
            c["groups_out"] = n
        with tr.span("dedup.pairs") as c:
            pairs = dedup.minhash_dedup_pairs(kept, "doc_id", "text").count()
            c["pairs_out"] = pairs
        return n + pairs

    def _check_write(self, out: str) -> None:
        import pyarrow.parquet as pq

        kept = set(pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist())
        uncollapsed = sum(1 for g in self.truth.exact_groups if sum(d in kept for d in g) > 1)
        self.checks.record(uncollapsed == 0, f"{uncollapsed} exact-duplicate groups kept twice")
        self.labelled = set(range(self.truth.n_docs)) - kept
        r, p = self.quality()
        self.checks.record(
            r >= DUP_RECALL_FLOOR and p >= DUP_PRECISION_FLOOR,
            f"dup recall {r:.4f} / precision {p:.4f} under the floor",
        )

    def quality(self) -> tuple[float, float]:
        hit = len(self.labelled & self.planted)
        return hit / max(1, len(self.planted)), hit / max(1, len(self.labelled))


# --- vector_search -----------------------------------------------------------


class VectorSearch(Workload):
    """Write step: IVF index build plus nprobe calibration into a fresh
    index dir. Read steps: query batches sent one after the other by one
    closed-loop client, each timed on its own. Every returned cosine is
    checked against numpy."""

    name = "vector_search"
    N, DIM, K = 10_000, 64, 10
    N_CENTROIDS = 16
    BATCH, N_BATCHES, BATCHES_PER_STEP = 32, 16, 2
    TARGET_RECALL = 0.9
    PASS_S = 5.0

    def generate(self) -> None:
        path = os.path.join(self.inputs, "embeddings.parquet")
        self.v = inputs.make_vectors(
            path, self.seed, self.N, self.DIM, self.N_BATCHES, self.BATCH, self.K
        )
        cn = self.v.corpus.astype(np.float64)
        self.unit = cn / np.linalg.norm(cn, axis=1, keepdims=True)
        self.next_batch = 0
        self.hits = 0
        self.returned = 0
        self.expected = 0

    def warm(self, spark) -> None:
        self._build(spark)
        self._search(spark, 0)

    def step(self, spark) -> tuple[list[float], list[float]]:
        with self.tracer.span("pass.write"):
            write_s, nprobe = _timed(lambda: self._build(spark))
        self.checks.record(1 <= nprobe <= self.N_CENTROIDS, f"nprobe {nprobe} out of range")
        times = []
        for _ in range(self.BATCHES_PER_STEP):
            j = self.next_batch % self.N_BATCHES
            self.next_batch += 1
            with self.tracer.span("pass.read"):
                t, rows = _timed(lambda: self._search(spark, j))
            times.append(t)
            self._check_batch(j, rows)
        return [write_s], times

    def _build(self, spark) -> int:
        from etl_dagster_service_crawler_spark.io.tables import load_table
        from etl_dagster_service_crawler_spark.operators import similarity as sim

        tr = self.tracer
        self.index = self._fresh_dir("ivf", "index")
        with tr.span("io.scan") as c:
            emb = load_table(spark, self.inputs, "embeddings")
            if tr.enabled:
                c["rows"] = emb.count()
        with tr.span("similarity.ivf_build"):
            sim.ivf_build(emb, self.index, self.N_CENTROIDS)
        with tr.span("similarity.calibrate") as c:
            cents = spark.read.parquet(f"{self.index}/centroids")
            self.nprobe, _ = sim.calibration_cached(
                emb, cents, self.index, self.TARGET_RECALL, self.K
            )
            c["nprobe"] = self.nprobe
        return self.nprobe

    def _search(self, spark, j: int):
        from etl_dagster_service_crawler_spark.operators import similarity as sim

        q = self.v.query_batches[j]
        base = self.v.qid_base + j * self.BATCH
        queries = spark.createDataFrame(
            [(base + i, [float(x) for x in q[i]]) for i in range(len(q))],
            "qid bigint, qvec array<float>",
        )
        with self.tracer.span("similarity.ivf_search") as c:
            rows = sim.ivf_search(
                spark, self.index, queries, k=self.K, nprobe=self.nprobe
            ).collect()
        if self.tracer.enabled:
            # counted after the span closes, so its jobs stay out of it
            c.update(self._probe_counts(spark, queries))
        return rows

    def _probe_counts(self, spark, queries) -> dict:
        """Candidates scored per query and the share of the corpus they
        are: the rows in each query's nprobe closest cells."""
        from etl_dagster_service_crawler_spark.operators import similarity as sim

        cents = spark.read.parquet(f"{self.index}/centroids")
        probes = sim.probe_cells(queries, cents, self.nprobe).select("qid", "cid")
        sizes = spark.read.parquet(f"{self.index}/assignments").groupBy("cid").count()
        cand = probes.join(sizes, "cid").groupBy().sum("count").collect()[0][0]
        per_q = cand / self.BATCH
        return {"candidates_per_query": per_q, "probed_fraction": per_q / self.N}

    def _check_batch(self, j: int, rows) -> None:
        base = self.v.qid_base + j * self.BATCH
        q = self.v.query_batches[j].astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        worst = 0.0
        got: dict[int, set[int]] = {}
        for r in rows:
            i = r["qid"] - base
            worst = max(worst, abs(float(q[i] @ self.unit[r["nid"]]) - r["cos"]))
            got.setdefault(i, set()).add(r["nid"])
        self.checks.record(worst <= COS_TOL, f"cosine off by {worst:.2e}")
        ok_shape = len(got) == self.BATCH and all(len(s) == self.K for s in got.values())
        self.checks.record(ok_shape, "search did not return k rows for every query")
        for i, truth in enumerate(self.v.truth[j]):
            self.hits += len(got.get(i, set()) & set(truth.tolist()))
        self.returned += len(rows)
        self.expected += self.BATCH * self.K

    def quality(self) -> tuple[float, float]:
        recall = self.hits / max(1, self.expected)
        precision = self.hits / max(1, self.returned)
        return recall, precision

    def final_check(self) -> None:
        r, _ = self.quality()
        self.checks.record(r >= RECALL_AT_10_FLOOR, f"recall@10 {r:.4f} under the floor")


# --- scheduled_ingest --------------------------------------------------------


class ScheduledIngest(Workload):
    """An episode lands one crawl drop per tick into a fresh landing dir;
    each tick is one `ScheduledPipeline.run_once` of the deploy default
    job (corpus-clean transform, complete mode) into the deploy dual
    parquet sink, wired as `deploy.run_tick` wires it: a complete-mode
    job gets no checkpoint, so every tick re-reads all landed drops and
    rebuilds its state, and the sink is overwritten with the full
    result. Each tick is followed by a read: the deploy status report, a
    quality report over every landed row and the sink, and a
    reconciliation of the sink with the batch transform. Each tick is a
    write sample, each read a read sample."""

    name = "scheduled_ingest"
    TICKS, ROWS = 4, 2_000
    PASS_S = 10.0

    def generate(self) -> None:
        self.batches = inputs.make_crawl_batches(self.seed, self.TICKS, self.ROWS)
        self.expected = [
            inputs.expected_clean_sink(self.batches[: t + 1]) for t in range(self.TICKS)
        ]
        self.episode = 0
        self.state = None  # state-size listener, traced runs only
        self.sink_hits = self.sink_got = self.sink_expected = 0

    def warm(self, spark) -> None:
        self._new_episode(spark)
        self._tick(spark)
        self._read(spark)

    def _new_episode(self, spark) -> None:
        from etl_dagster_service_crawler_spark.deploy import DEFAULT_JOB
        from etl_dagster_service_crawler_spark.io.sinks import dual_sink_parquet_foreach_batch
        from etl_dagster_service_crawler_spark.streaming.ingest import DOCUMENTS_SCHEMA
        from etl_dagster_service_crawler_spark.streaming.jobs import (
            RUN_HISTORY_TABLE,
            job_registry,
        )

        self.episode += 1
        ep = self._fresh_dir("ingest", f"ep{self.episode}")
        self.landing = os.path.join(ep, "landing")
        self.output = os.path.join(ep, "out")
        os.makedirs(self.landing)
        # a new session's catalog forgets the ledger but the warehouse
        # keeps its files, which status_report would re-register
        spark.sql(f"DROP TABLE IF EXISTS {RUN_HISTORY_TABLE}")
        shutil.rmtree(os.path.join(self.dir, "warehouse", RUN_HISTORY_TABLE), ignore_errors=True)
        main = f"{self.output}/main"
        # the wiring of deploy.run_tick, with the job's source pointed at
        # a landing dir that grows by one file per tick (run_tick's
        # source is a single fixture file)
        job = job_registry()[DEFAULT_JOB]
        sink = dual_sink_parquet_foreach_batch(
            main, f"{self.output}/side", ["doc_id"],
            mode="overwrite" if job.output_mode == "complete" else "append",
        )
        self.job = dataclasses.replace(
            job,
            build=lambda s, src: _clean(s.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)),
            ledger_table=RUN_HISTORY_TABLE,
            foreach_batch=self._traced_sink(sink),
            result_reader=lambda s: s.read.parquet(main),
            # run_tick's rule: only append-mode jobs resume from a
            # checkpoint; complete-mode rollups recompute in full
            checkpoint_dir=(
                None if job.output_mode == "complete"
                else f"{self.output}/_checkpoints/{DEFAULT_JOB}"
            ),
        )
        self.tick = 0

    def _traced_sink(self, sink):
        def write(batch_df, epoch_id):
            with self.tracer.span("io.sink") as c:
                sink(batch_df, epoch_id)
                if self.tracer.enabled:
                    c.update(_dir_size(f"{self.output}/main"))
        return write

    def step(self, spark) -> tuple[list[float], list[float]]:
        """One episode: TICKS ticks, each followed by its read."""
        if self.tracer.enabled and self.state is None:
            self.state = StateRows()
            spark.streams.addListener(self.state)
        self._new_episode(spark)
        writes, reads = [], []
        for _ in range(self.TICKS):
            w, r = self._tick_and_read(spark)
            writes.append(w)
            reads.append(r)
        return writes, reads

    def _tick_and_read(self, spark) -> tuple[float, float]:
        with self.tracer.span("pass.write"):
            write_s, (t, status) = _timed(lambda: self._tick(spark))
        self._check_tick(t, status)
        with self.tracer.span("pass.read"):
            read_s, seen = _timed(lambda: self._read(spark))
        exp = self.expected[t]
        want = {
            "landed": self.ROWS * (t + 1),
            "rows": len(exp),
            "docs": sum(c for _, _, c in exp),
            "ledger_ok": t + 1,
            "differ": 0,
        }
        self.checks.record(seen == want, f"tick {t}: read saw {seen}, expected {want}")
        return write_s, read_s

    def _tick(self, spark):
        t = self.tick
        self.tick += 1
        inputs.write_batch(self.landing, t, self.batches[t])
        with self.tracer.span("streaming.run_once") as c:
            status = self.job.run_once(spark, self.landing)
            if self.tracer.enabled:
                c.update(batches=status.n_batches, rows_in=status.n_rows,
                         state_rows=self.state.rows)
        return t, status

    def _read(self, spark):
        from pyspark.sql import functions as F

        from etl_dagster_service_crawler_spark.deploy import status_report

        with self.tracer.span("deploy.status") as c:
            report = status_report(spark, self.output)
            c["ledger_rows"] = sum(report["counts"].values())
        with self.tracer.span("io.query"):
            # quality report over the whole crawl so far: every landed
            # row, whether its text reached the sink, per label and source
            raw = spark.read.parquet(self.landing)
            kept = spark.read.parquet(f"{self.output}/main").join(
                spark.read.parquet(f"{self.output}/side"), "doc_id"
            )
            by_label = (
                raw.join(kept, "doc_id", "left")
                .groupBy("lang", "source")
                .agg(
                    F.count(F.lit(1)).alias("landed"),
                    F.count("text_hash").alias("rows"),
                    F.sum("n_dups").alias("docs"),
                    F.avg("n_chars").alias("avg_chars"),
                )
                .collect()
            )
            top = kept.orderBy(F.col("n_dups").desc(), "doc_id").limit(20).collect()
        with self.tracer.span("functions.clean") as c:
            # reconcile the sink with the batch form of the same
            # transform over every landed drop: no row may differ
            batch = _clean(raw)
            main = spark.read.parquet(f"{self.output}/main")
            both = batch.alias("b").join(main.alias("m"), "text_hash", "full_outer")
            differ = both.where(
                "NOT (b.doc_id <=> m.doc_id AND b.n_dups <=> m.n_dups)"
            ).count()
            if self.tracer.enabled:
                c["rows_kept"] = batch.groupBy().sum("n_dups").collect()[0][0] or 0
        return {
            "landed": sum(r["landed"] for r in by_label),
            "rows": sum(r["rows"] for r in by_label) if top else 0,
            "docs": sum(r["docs"] or 0 for r in by_label),
            "ledger_ok": report["counts"].get("ok"),
            "differ": differ,
        }

    def _check_tick(self, t: int, status) -> None:
        # without a checkpoint each tick reads every drop landed so far
        resumed = self.job.checkpoint_dir is not None
        drops = self.batches[t : t + 1] if resumed else self.batches[: t + 1]
        landed = sum(b.table.num_rows for b in drops)
        self.checks.record(
            status.ok and status.n_rows == landed,
            f"tick {t}: run_once read {status.n_rows} rows, {landed} expected",
        )
        got = {
            (r["text_hash"], r["doc_id"], r["n_dups"])
            for r in status.result.collect()
        }
        exp = self.expected[t]
        self.checks.record(got == exp, f"tick {t}: sink differs from the landed survivors")
        self.sink_hits += len(got & exp)
        self.sink_got += len(got)
        self.sink_expected += len(exp)

    def quality(self) -> tuple[float, float]:
        """Sink rows (text hash, kept id, count) that match the landed
        survivors, over expected rows and over rows in the sink."""
        return (
            self.sink_hits / max(1, self.sink_expected),
            self.sink_hits / max(1, self.sink_got),
        )


class StateRows(StreamingQueryListener):
    """Keeps the state-store row count (stateOperators[].numRowsTotal)
    of the last streaming progress event."""

    rows = 0

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        ops = event.progress.stateOperators
        if ops:
            self.rows = sum(o.numRowsTotal for o in ops)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _clean(df):
    from etl_dagster_service_crawler_spark.workloads.streaming_wl import corpus_clean_transform

    return corpus_clean_transform(df)


def _dir_size(path: str) -> dict:
    n, size = 0, 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dp, f))
    return {"files_written": n, "bytes_written": size}


WORKLOADS = {w.name: w for w in (CorpusDedup, VectorSearch, ScheduledIngest)}
