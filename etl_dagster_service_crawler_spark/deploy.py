"""Container/cluster entry point: the reference's runnable deployment
(`Dockerfile:22` starts dagster-webserver + daemon; `workspace.yaml:2-3`
loads definitions.py) re-expressed for Spark.

The reference's operational model is: a cron schedule (*/2 min, tz
Asia/Taipei, definitions.py:32-37) launches one pipeline RUN per tick,
logs the returncode per run (definitions.py:20-25), and appends to the
JSON + relational sinks. This entry point reproduces exactly that
shape:

  one tick == one `ScheduledPipeline.run_once` (availableNow catch-up
  of everything pending — also how a missed window recovers), followed
  by the dual K1+K3 sink write (main table + side projection, the
  reference's two output dirs test.py:577-580) and one `run_history`
  ledger row (the returncode log, as a SQL-queryable table).

Run modes:
  --once          single tick (CI smoke / backfill), then exit
  --cron EXPR     calendar-aligned ticks: fire at each match of the
                  5-field cron expression, evaluated on --tz local
                  wall time (default Asia/Taipei — the reference's
                  schedule, definitions.py:35-36). A tick that
                  overruns its window fires the next match
                  immediately after finishing (missed-tick catch-up).
  (default)       tick every --interval-seconds forever — the
                  fixed-cadence fallback
  --status        no tick: print the run-control report (recent
                  run_history rows, per-status counts, sink freshness
                  under --output) and exit — the reference's
                  dagster-webserver "runs" screen as a one-screen CLI
  --serve PORT    HTTP run surface; ALONE it only serves. With
                  --daemon (or --cron, which implies it) the SAME
                  process also runs the scheduled tick loop — the
                  reference container's webserver+daemon pair
                  (Dockerfile:22 starts both concurrently); scheduled
                  ticks share POST /run's lock, so a web trigger
                  during a scheduled tick gets 409

Other knobs:
  --transport     crawl jobs only: "http://host/listing" (urllib
                  transport against a real endpoint) or "pkg.mod:fn"
                  (dotted-path callable); default is the deterministic
                  no-network fake

Usage (container):
  docker build -t spark-graft .
  docker run -v /path/to/data:/data spark-graft --once

Usage (bare / spark-submit):
  python -m etl_dagster_service_crawler_spark.deploy \
      --source /root/testdata/sf0.001 --output /tmp/out --once
  python -m etl_dagster_service_crawler_spark.deploy \
      --job crawl_scan_2min --transport http://127.0.0.1:8080/listing \
      --cron "*/2 * * * *" --tz Asia/Taipei ...
  spark-submit --master local[8] -m ... (any Spark master works: the
  session is built from SPARK_MASTER, default local[<usable cores>])
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from etl_dagster_service_crawler_spark.session import get_spark
from etl_dagster_service_crawler_spark.streaming.jobs import (
    RUN_HISTORY_TABLE,
    job_registry,
)

DEFAULT_JOB = "corpus_clean_2min"
DEFAULT_TZ = "Asia/Taipei"  # the reference's execution_timezone


def build_session(app_name: str = "spark-graft-deploy") -> SparkSession:
    """Deployment session: the engine's own factory (get_spark), with
    the master from SPARK_MASTER (spark-submit overrides; unset means
    local[<usable cores>]) and the warehouse from SPARK_WAREHOUSE, so
    the run-history table persists across container restarts."""
    wh = os.environ.get("SPARK_WAREHOUSE")
    return get_spark(
        app_name=app_name,
        master=os.environ.get("SPARK_MASTER") or None,
        extra_conf={"spark.sql.warehouse.dir": wh} if wh else None,
    )


def run_tick(
    spark: SparkSession,
    job_name: str,
    source: str,
    output: str,
    side_cols: list[str],
    transport: str | None = None,
) -> bool:
    """One scheduled tick: run the job, append the dual sinks, ledger
    the outcome. Returns the run's ok flag."""
    from etl_dagster_service_crawler_spark.io.sinks import (
        dual_sink_parquet_foreach_batch,
    )

    job = job_registry(transport)[job_name]
    job.ledger_table = RUN_HISTORY_TABLE
    # K1+K3 dual sink via foreachBatch: micro-batches land columnar
    # files EXECUTOR-side (the memory sink would collect every row
    # into driver memory — test-only). complete-mode rollups re-land
    # the full result each tick; append-mode pipelines accumulate.
    main = f"{output}/main"
    job.foreach_batch = dual_sink_parquet_foreach_batch(
        main,
        f"{output}/side",
        side_cols,
        mode="overwrite" if job.output_mode == "complete" else "append",
    )
    job.result_reader = lambda s: s.read.parquet(main)
    if job.output_mode != "complete":
        # append-mode ticks must resume from the last processed offset
        # or every tick re-appends the whole source (duplicates)
        job.checkpoint_dir = f"{output}/_checkpoints/{job_name}"
    status = job.run_once(spark, source)
    print(
        f"tick job={job_name} ok={status.ok} batches={status.n_batches} "
        f"rows={status.n_rows} bad={status.n_bad}",
        flush=True,
    )
    return status.ok


def _sink_freshness(output: str) -> list[str]:
    lines = []
    for sub in ("main", "side"):
        d = os.path.join(output, sub)
        try:
            files = [
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            ]
        except OSError:
            lines.append(f"  {sub}: <absent>")
            continue
        total = sum(os.path.getsize(f) for f in files)
        newest = max((os.path.getmtime(f) for f in files), default=None)
        newest_s = (
            datetime.fromtimestamp(newest, tz=timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%SZ"
            )
            if newest
            else "-"
        )
        lines.append(
            f"  {sub}: {len(files)} file(s), {total} bytes, newest {newest_s}"
        )
    return lines


def status_report(
    spark: SparkSession, output: str, n_recent: int = 10
) -> dict:
    """The run-control report as DATA — one source for the CLI text
    (print_status) and the HTTP surface (serve_status): per-status
    counts, the n_recent most recent ledger rows, sink freshness."""
    from pyspark.sql import functions as F

    from etl_dagster_service_crawler_spark.io.sinks import (
        recover_warehouse_table,
    )

    # a fresh process has a fresh catalog; the ledger's data lives in
    # the (mounted) warehouse dir — re-register before reading
    have_ledger = recover_warehouse_table(spark, RUN_HISTORY_TABLE)
    counts: dict[str, int] = {}
    recent: list[dict] = []
    if have_ledger:
        hist = spark.table(RUN_HISTORY_TABLE)
        counts = {
            r["status"]: r["n"]
            for r in hist.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for r in (
            hist.orderBy(F.col("started_at").desc()).limit(n_recent).collect()
        ):
            d = r.asDict()
            recent.append(
                {
                    "started_at": r["started_at"].isoformat(),
                    "job": r["job"],
                    "mode": r["mode"],
                    "status": r["status"],
                    "n_rows": r["n_rows"],
                    "n_bad": r["n_bad"],
                    "duration_s": round(
                        (r["finished_at"] - r["started_at"]).total_seconds(), 1
                    ),
                    "error": r["error"],
                    # r11: per-run bounded log capture; .get — a
                    # warehouse predating the column stays readable
                    "log_tail": d.get("log_tail"),
                }
            )
    return {
        "generated_at": datetime.now(timezone.utc).isoformat(),
        "have_ledger": have_ledger,
        "counts": counts,
        "recent": recent,
        "sinks": _sink_freshness(output),
    }


def print_status(spark: SparkSession, output: str, n_recent: int = 10) -> int:
    """Run-control report — the reference's webserver runs screen as
    text: recent run_history rows, per-status counts, sink freshness.
    Returns 0 when a ledger exists, 2 when there is nothing to show."""
    rep = status_report(spark, output, n_recent)
    print(f"== spark-graft status ({datetime.now(timezone.utc):%Y-%m-%d %H:%M:%SZ}) ==")
    if not rep["have_ledger"]:
        print(f"run_history: no `{RUN_HISTORY_TABLE}` table in this warehouse "
              "(no runs ledgered yet)")
    else:
        total = sum(rep["counts"].values())
        by = ", ".join(f"{k}={v}" for k, v in sorted(rep["counts"].items()))
        print(f"run_history: {total} run(s) — {by}")
        print(f"last {len(rep['recent'])} run(s):")
        for r in rep["recent"]:
            err = f"  err={r['error']}" if r["error"] else ""
            print(
                f"  {r['started_at'][:19]} {r['job']:<20} "
                f"{r['mode']:<13} {r['status']:<14} rows={r['n_rows']:<8} "
                f"bad={r['n_bad']:<5} {r['duration_s']:6.1f}s{err}"
            )
    print("sinks:")
    for line in rep["sinks"]:
        print(line)
    return 0 if rep["have_ledger"] else 2


def serve_status(
    spark: SparkSession, output: str, port: int = 8387, n_recent: int = 25,
    run_job: str | None = None, run_source: str | None = None,
    side_cols: list[str] | None = None, transport: str | None = None,
    bind: str = "127.0.0.1",
):
    """The web run surface (reference parity: dagster-webserver's runs
    screen + launch button, Dockerfile:22, definitions.py:27-30) as a
    stdlib HTTP server over the SAME report the CLI prints:

    - ``/status.json`` — the status_report dict as JSON,
    - ``/``            — the same report as a minimal HTML runs table,
    - ``POST /run``    — trigger ONE tick (availableNow catch-up +
      dual sink + ledger row) of the configured job, synchronously;
      the response carries the tick's ok flag and the refreshed
      counts. Enabled only when run_job/run_source are configured
      (main() passes its --job/--source); otherwise 403. One tick at
      a time: a concurrent POST gets 409 instead of racing a second
      Spark query against the same checkpoint dir.

    Auth story: the server binds 127.0.0.1 by DEFAULT (same as the
    reference's dagster dev webserver) — the run trigger is reachable
    from the local host, never the network; put a reverse proxy with
    auth in front to expose it, as you would dagster-webserver. Inside
    a container the loopback is unreachable from published ports, so
    the Dockerfile's webserver mode passes ``--bind 0.0.0.0`` (the
    in-container equivalent of what dagster-webserver -h 0.0.0.0
    does); the container boundary is then the exposure decision.

    Returns the (started, not yet serving) ThreadingHTTPServer so the
    caller owns the loop: main() calls serve_forever in the
    foreground; tests drive it from a thread and shut it down. Every
    request re-queries the ledger — status is always current, and the
    handler stays stateless. Single-process planning surface by
    design (the ledger itself is the scalable artifact: a Spark table
    any cluster client can query)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    tick_lock = threading.Lock()

    class StatusHandler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep stdout for the report
            pass

        def _send(self, code: int, body: bytes, ctype: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 - stdlib naming
            path = self.path.split("?", 1)[0]
            if path not in ("/", "/status", "/status.json"):
                self._send(404, b"unknown route", "text/plain")
                return
            try:
                rep = status_report(spark, output, n_recent)
            except Exception as e:  # noqa: BLE001 - surface, don't die
                self._send(500, str(e).encode(), "text/plain")
                return
            if path == "/status.json":
                self._send(
                    200, _json.dumps(rep).encode(), "application/json"
                )
                return
            import html as _html

            # every cell escaped: exception reprs (the error column)
            # carry angle brackets too — e.g. "CAST(x AS array<bigint>)"
            # — and would otherwise corrupt the table markup
            rows = "".join(
                "<tr>" + "".join(
                    f"<td>{_html.escape(str(r[k]))}</td>"
                    for k in ("started_at", "job", "mode", "status",
                              "n_rows", "n_bad", "duration_s", "error")
                )
                # per-run log tail (r11): collapsed by default
                + "<td><details><summary>log</summary><pre>"
                + _html.escape(r.get("log_tail") or "")
                + "</pre></details></td></tr>"
                for r in rep["recent"]
            )
            counts = ", ".join(
                f"{k}={v}" for k, v in sorted(rep["counts"].items())
            )
            sinks = "".join(f"<li>{s}</li>" for s in rep["sinks"])
            html = (
                "<html><head><title>spark-graft runs</title></head><body>"
                f"<h1>spark-graft runs</h1><p>{counts or 'no ledger yet'}"
                f" (as of {rep['generated_at']})</p>"
                "<table border=1><tr><th>started</th><th>job</th>"
                "<th>mode</th><th>status</th><th>rows</th><th>bad</th>"
                f"<th>secs</th><th>error</th><th>log</th></tr>{rows}</table>"
                f"<h2>sinks</h2><ul>{sinks}</ul></body></html>"
            )
            self._send(200, html.encode(), "text/html")

        def do_POST(self) -> None:  # noqa: N802 - stdlib naming
            # Drain the request body BEFORE responding. Safe to skip
            # today only because BaseHTTPRequestHandler defaults to
            # HTTP/1.0 (one request per connection); under
            # protocol_version='HTTP/1.1' an unread body would be
            # parsed as the NEXT request on the kept-alive socket.
            # POST /run takes no body, so the bytes are discarded —
            # in bounded chunks with a hard cap, never one read of the
            # client-declared Content-Length (a hostile length would
            # buffer gigabytes in the driver process that also owns
            # the Spark session, now reachable via --bind 0.0.0.0).
            try:
                remaining = min(
                    int(self.headers.get("Content-Length", 0)), 1 << 20
                )
                while remaining > 0:
                    chunk = self.rfile.read(min(remaining, 65536))
                    if not chunk:
                        break
                    remaining -= len(chunk)
            except (ValueError, OSError):
                pass  # malformed length / dead socket: respond anyway
            path = self.path.split("?", 1)[0]
            if path != "/run":
                self._send(404, b"unknown route", "text/plain")
                return
            if run_job is None or run_source is None:
                self._send(
                    403,
                    b"run trigger not configured (start deploy --serve "
                    b"with --job/--source)",
                    "text/plain",
                )
                return
            if not tick_lock.acquire(blocking=False):
                self._send(409, b"a tick is already running", "text/plain")
                return
            try:
                # side_cols passes VERBATIM (None -> the CLI default):
                # a web-triggered tick must write the same side sink a
                # scheduled tick of this config writes, including an
                # explicitly-empty column list (post-review fix)
                cols = side_cols if side_cols is not None else ["doc_id"]
                ok = run_tick(
                    spark, run_job, run_source, output,
                    cols, transport=transport,
                )
                body = _json.dumps(
                    {
                        "ok": ok,
                        "job": run_job,
                        "triggered_at": datetime.now(
                            timezone.utc
                        ).isoformat(),
                    }
                ).encode()
                self._send(200, body, "application/json")
            except Exception as e:  # noqa: BLE001 - surface, don't die
                self._send(500, str(e).encode(), "text/plain")
            finally:
                tick_lock.release()

    srv = ThreadingHTTPServer((bind, port), StatusHandler)
    # exposed so a combined serve+daemon process (main --serve --daemon/
    # --cron) runs its SCHEDULED ticks under the same lock POST /run
    # uses: a web-triggered tick during a scheduled one gets 409, and a
    # scheduled tick waits out an in-flight web tick instead of racing
    # a second Spark query against the same checkpoint dir.
    srv.tick_lock = tick_lock
    return srv


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--job", default=DEFAULT_JOB, choices=sorted(job_registry()))
    p.add_argument("--source", default=os.environ.get("DATA_DIR", "/data"))
    p.add_argument("--output", default=os.environ.get("OUTPUT_DIR", "/output"))
    p.add_argument("--side-cols", default="doc_id")
    p.add_argument("--once", action="store_true", help="single tick, then exit")
    p.add_argument(
        "--status",
        action="store_true",
        help="print the run-control report (ledger + sinks) and exit",
    )
    p.add_argument(
        "--cron",
        default=None,
        help='5-field cron schedule, e.g. "*/2 * * * *" (reference '
        "definitions.py:35); overrides --interval-seconds",
    )
    p.add_argument(
        "--tz",
        default=DEFAULT_TZ,
        help=f"IANA timezone the cron fields are evaluated in "
        f"(default {DEFAULT_TZ}, the reference's execution_timezone)",
    )
    p.add_argument(
        "--transport",
        default=None,
        help="crawl jobs: http(s)://listing-endpoint or pkg.mod:fn "
        "(default: deterministic no-network fake)",
    )
    p.add_argument(
        "--interval-seconds",
        type=float,
        default=120.0,  # the reference's */2-minute cron
    )
    p.add_argument("--max-ticks", type=int, default=0, help="0 = forever")
    p.add_argument(
        "--serve",
        type=int,
        default=None,
        metavar="PORT",
        help="serve the run-control report over HTTP ('/' HTML, "
        "'/status.json' JSON, 'POST /run' triggers one tick of --job) "
        "— the reference's dagster-webserver runs screen + launch "
        "button; binds the --bind address (default 127.0.0.1)",
    )
    p.add_argument(
        "--bind",
        default="127.0.0.1",
        help="--serve bind address (default 127.0.0.1 — local only; "
        "pass 0.0.0.0 inside a container so published ports reach it)",
    )
    p.add_argument(
        "--daemon",
        action="store_true",
        help="with --serve: ALSO run the scheduled tick loop in this "
        "process — the reference container's webserver+daemon pair "
        "(Dockerfile:22 starts both concurrently). --serve with "
        "--cron implies --daemon; one-shot modes (--once/--status) "
        "ignore it. Scheduled ticks share POST /run's lock: a web "
        "trigger during a scheduled tick gets 409.",
    )
    args = p.parse_args(argv)
    side_cols = [c for c in args.side_cols.split(",") if c]

    spark = build_session()
    bg_srv = None
    try:
        combined = args.serve is not None and (
            args.daemon or args.cron is not None
        )
        if args.serve is not None and not combined:
            srv = serve_status(
                spark, args.output, port=args.serve, bind=args.bind,
                run_job=args.job, run_source=args.source,
                side_cols=side_cols, transport=args.transport,
            )
            host, port = srv.server_address[:2]
            print(f"serving run status on http://{host}:{port}/ "
                  f"(POST /run triggers one {args.job} tick)")
            try:
                srv.serve_forever()
            except KeyboardInterrupt:
                pass
            finally:
                srv.server_close()
            return 0
        if args.status:
            return print_status(spark, args.output)
        if args.once:
            ok = run_tick(
                spark, args.job, args.source, args.output, side_cols,
                transport=args.transport,
            )
            return 0 if ok else 1
        spec = None
        if args.cron:
            from etl_dagster_service_crawler_spark.streaming.cron import (
                parse_cron,
            )

            spec = parse_cron(args.cron)
        if combined:
            # combined webserver + daemon (reference Dockerfile:22
            # parity: one container runs BOTH): serve from a background
            # thread, run the tick loop in the foreground below. The
            # thread is daemonized so a loop crash still exits the
            # process instead of leaving a zombie status server.
            # Started only HERE — after the one-shot branches
            # (--status/--once ignore --daemon) and the cron parse —
            # so no early return or parse error can leave a started
            # server for the finally to shut down before it ever
            # served (review fix).
            import threading

            bg_srv = serve_status(
                spark, args.output, port=args.serve, bind=args.bind,
                run_job=args.job, run_source=args.source,
                side_cols=side_cols, transport=args.transport,
            )
            host, port = bg_srv.server_address[:2]
            print(f"serving run status on http://{host}:{port}/ "
                  f"(POST /run triggers one {args.job} tick)"
                  " + scheduled tick daemon")
            threading.Thread(target=bg_srv.serve_forever, daemon=True).start()
        def sleep_until_next_match() -> None:
            # calendar alignment: sleep until the next cron match in
            # the configured tz. A tick that overran its window gets
            # next_fire(now) — the first match after NOW — so missed
            # matches collapse into one catch-up tick, same as the
            # fixed-cadence branch below.
            from etl_dagster_service_crawler_spark.streaming.cron import (
                next_fire,
            )

            nxt = next_fire(spec, datetime.now(timezone.utc), args.tz)
            time.sleep(
                max(0.0, (nxt - datetime.now(timezone.utc)).total_seconds())
            )

        ticks = 0
        # combined mode: scheduled ticks hold the SAME lock POST /run
        # uses (409 arbitration); solo daemon mode ticks uncontended
        import contextlib

        tick_gate = (
            bg_srv.tick_lock if bg_srv is not None else contextlib.nullcontext()
        )
        try:
            if spec is not None:
                # fire ONLY on schedule matches, including the first
                # tick: the reference's ScheduleDefinition never runs
                # a catch-up tick at process start (r8 advice — two
                # ticks could land inside the first window). Inside
                # the try: Ctrl-C during this up-to-one-period sleep
                # gets the same clean rc-0 exit as the loop itself.
                sleep_until_next_match()
            while True:
                started = time.time()
                with tick_gate:
                    run_tick(
                        spark, args.job, args.source, args.output, side_cols,
                        transport=args.transport,
                    )
                ticks += 1
                if args.max_ticks and ticks >= args.max_ticks:
                    return 0
                if spec is not None:
                    sleep_until_next_match()
                else:
                    # cron-style fixed cadence: sleep out the remainder
                    # of the window (a tick longer than the interval
                    # fires the next one immediately — missed-tick
                    # catch-up)
                    time.sleep(
                        max(
                            0.0,
                            args.interval_seconds - (time.time() - started),
                        )
                    )
        except KeyboardInterrupt:
            # same clean Ctrl-C contract as solo --serve: stop the
            # loop, let the finally shut the server/session down, rc 0
            return 0
    finally:
        if bg_srv is not None:
            bg_srv.shutdown()
            bg_srv.server_close()
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
