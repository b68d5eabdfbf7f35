"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Inputs are generated from
--seed into a private run directory under `.perfbench_work/`; every
Spark temp, spill, warehouse, checkpoint, landing and IVF index dir
lives there too, and the directory is removed when the run ends.

--trace 0 prints the end-to-end metrics; --trace 1 prints the
per-layer metrics (spans plus the Spark event log, folded). The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
Exit code 0 means the run completed; a run whose checks fail still
exits 0 with "correct": false. Without the engine package next to this
directory the run exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_dagster_service_crawler_spark"

# Fixed driver heap: -Xms equal to -Xmx, so resident memory does not
# follow heap ergonomics of the host.
HEAP = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(run_dir: str) -> dict[str, str]:
    """Private dirs for everything Spark, Python workers and the engine
    write, set in the environment before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "ivf", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_IVF_ROOT=dirs["ivf"],
        PYSPARK_PYTHON=sys.executable,
        # no hsperfdata files in the system /tmp from the launcher JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # one BLAS thread per Python worker: local[nproc] already runs
        # nproc workers, so wider pools would oversubscribe the cores
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    return dirs


def start_session(dirs: dict[str, str], trace: bool):
    """The engine's session at local[nproc], pinned heap, private dirs;
    traced runs also write an uncompressed, non-rolling event log."""
    from etl_dagster_service_crawler_spark.session import get_spark

    n = _nproc()
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        ),
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it and
    every process it started (Python worker daemon and workers) exit."""
    from pyspark import SparkContext

    started = _descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            for p in started:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            break
        time.sleep(0.1)


def _descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and its Python workers): the JVM's kernel high-water mark plus
    the largest sampled sum of the other descendants' proportional set
    size (forked workers share pages, so their RSS would count those
    pages once per worker)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_hwm_kb = 0
        self.others_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def peak_mb(self) -> float:
        return (self.jvm_hwm_kb + self.others_peak_kb) / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        others = 0
        for pid in _descendants():
            st = _status(pid, "status")
            if st.get("Name") == "java":
                self.jvm_hwm_kb = max(self.jvm_hwm_kb, _kb(st.get("VmHWM")))
            elif st.get("Name", "").startswith("python"):
                # only Python workers: a helper the JVM spawns briefly
                # shares the JVM's pages until it execs
                others += _kb(_status(pid, "smaps_rollup").get("Pss"))
        self.others_peak_kb = max(self.others_peak_kb, others)


def _status(pid: int, name: str) -> dict[str, str]:
    """Key/value lines of /proc/<pid>/<name> (status, smaps_rollup)."""
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            pairs = (line.split(":", 1) for line in fh if ":" in line)
            return {k.strip(): v.strip() for k, v in pairs}
    except OSError:
        return {}


def _kb(v: str | None) -> int:
    return int(v.split()[0]) if v else 0


def _measure(wl, spark, seconds: float) -> tuple[list[float], list[float]]:
    """Closed loop, one client: as many passes as fit `seconds` at the
    workload's nominal pass time on a 4-core host. The count depends on
    `seconds` only, never on how fast passes run, so every run of one
    setting times the same passes of the warm-up curve."""
    writes, reads = [], []
    for _ in range(max(1, round(seconds / wl.PASS_S))):
        w, r = wl.step(spark)
        writes += w
        reads += r
    return writes, reads


LAYER_METRICS = [
    # (metric, span, field, unit)
    ("session.start_s", "session.start", "s", "s"),
    ("dedup.signatures_s", "dedup.signatures", "s", "s"),
    ("dedup.pairs_s", "dedup.pairs", "s", "s"),
    ("dedup.pairs_out", "dedup.pairs", "pairs_out", "count"),
    ("dedup.cc_s", "dedup.cc", "s", "s"),
    ("dedup.cc_jobs", "dedup.cc", "jobs", "count"),
    ("dedup.clusters", "dedup.cc", "clusters", "count"),
    ("io.scan_s", "io.scan", "s", "s"),
    ("io.sink_s", "io.sink", "s", "s"),
    ("io.bytes_written", "io.sink", "bytes_written", "B"),
    ("io.files_written", "io.sink", "files_written", "count"),
    ("similarity.ivf_build_s", "similarity.ivf_build", "s", "s"),
    ("similarity.calibrate_s", "similarity.calibrate", "s", "s"),
    ("similarity.nprobe", "similarity.calibrate", "nprobe", "count"),
    ("similarity.ivf_search_s", "similarity.ivf_search", "s", "s"),
    ("similarity.candidates_per_query", "similarity.ivf_search", "candidates_per_query", "count"),
    ("similarity.probed_fraction", "similarity.ivf_search", "probed_fraction", "ratio"),
    ("functions.clean_s", "functions.clean", "s", "s"),
    ("functions.rows_kept", "functions.clean", "rows_kept", "count"),
    ("streaming.run_once_s", "streaming.run_once", "s", "s"),
    ("streaming.batches", "streaming.run_once", "batches", "count"),
    ("streaming.rows_in", "streaming.run_once", "rows_in", "count"),
    ("streaming.jobs_per_tick", "streaming.run_once", "jobs", "count"),
    ("streaming.state_rows", "streaming.run_once", "state_rows", "count"),
    ("deploy.status_s", "deploy.status", "s", "s"),
    ("deploy.ledger_rows", "deploy.status", "ledger_rows", "count"),
]
# spans whose event-log fold is reported field by field
FOLDED_SPANS = [
    "io.scan", "io.sink", "io.query",
    "dedup.signatures", "dedup.cc", "dedup.exact", "dedup.pairs",
    "similarity.ivf_build", "similarity.calibrate", "similarity.ivf_search",
    "functions.clean", "streaming.run_once", "deploy.status",
]
FOLD_FIELDS = [
    ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("python_worker_s", "s"), ("shuffle_bytes", "B"),
]


def layer_metrics(folded: dict[str, dict]) -> dict[str, dict]:
    """Every per-layer metric by name; a span the workload never opens
    reports 0 (the layer is bypassed)."""
    out = {}

    def put(name, span, fld, unit):
        out[name] = {"value": folded.get(span, {}).get(fld, 0), "unit": unit}

    for name, span, fld, unit in LAYER_METRICS:
        put(name, span, fld, unit)
    for span in FOLDED_SPANS:
        for fld, unit in FOLD_FIELDS:
            put(f"{span}.{fld}", span, fld, unit)
    for span in ("pass.write", "pass.read"):
        put(f"{span}.self_s", span, "self_s", "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    from spans import Tracer, event_log_files, fold, read_event_logs
    from workloads import WORKLOADS, Checks

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, run_id)
    os.makedirs(run_dir)
    trace = bool(args.trace)
    spark = None
    rss = RssSampler()
    try:
        dirs = _isolate(run_dir)
        checks = Checks()
        tracer = Tracer(run_id, enabled=False)
        wl = WORKLOADS[args.workload](run_dir, args.seed, checks, tracer)
        wl.generate()

        rss.start()
        t0, w0 = time.perf_counter(), time.time()
        spark = start_session(dirs, trace)
        session = (w0, time.time())
        # one untimed pass pays JIT, codegen and worker start-up
        wl.warm(spark)
        setup_s = time.perf_counter() - t0

        if trace:
            # untraced passes first, then traced ones; the medians'
            # difference is the tracing overhead
            plain_w, plain_r = _measure(wl, spark, args.seconds / 2)
            tracer.spark, tracer.enabled = spark, True
            writes, reads = _measure(wl, spark, args.seconds / 2)
            tracer.enabled = False
            tracer.record("session.start", *session)
        else:
            writes, reads = _measure(wl, spark, args.seconds)
        wl.final_check()
        recall, precision = wl.quality()
        rss.sample()
        _stop_jvm(spark)
        spark = None
        rss.stop()

        if trace:
            trace_dir = os.path.join(work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{run_id}.jsonl"))
            jobs, stages = read_event_logs(event_log_files(dirs["eventlog"]))
            metrics = layer_metrics(fold(tracer.spans, jobs, stages))
            metrics["trace.write_overhead_s"] = {
                "value": statistics.median(writes) - statistics.median(plain_w), "unit": "s"}
            metrics["trace.read_overhead_s"] = {
                "value": statistics.median(reads) - statistics.median(plain_r), "unit": "s"}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "write_s": {"value": statistics.median(writes), "unit": "s"},
                "read_s": {"value": statistics.median(reads), "unit": "s"},
                "ok_rate": {
                    "value": (checks.attempted - checks.failed) / max(1, checks.attempted),
                    "unit": "ratio",
                },
                "recall": {"value": recall, "unit": "ratio"},
                "precision": {"value": precision, "unit": "ratio"},
                "peak_rss_mb": {"value": rss.peak_mb(), "unit": "MB"},
            }
        for m in checks.messages:
            print(f"perfbench: check failed: {m}", file=sys.stderr)
        print(
            f"perfbench: {args.workload} seed={args.seed} setup={setup_s:.3f} "
            f"session_start={session[1] - session[0]:.3f} "
            f"rss_kb=jvm:{rss.jvm_hwm_kb},others:{rss.others_peak_kb} "
            f"write={[round(x, 3) for x in writes]} read={[round(x, 3) for x in reads]}",
            file=sys.stderr,
        )
        print(json.dumps({
            "correct": checks.failed == 0,
            "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_jvm(spark)
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
