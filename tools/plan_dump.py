"""Dump normalised `explain("formatted")` plans, one file per query.

Two dumps compare with `diff -r`: a change that must not alter any
executed plan (a refactor, a parameter deletion) shows an empty diff.
Run-dependent numbers are normalised away: expression ids (`#123`),
lambda variable numbers (`x_12`), plan and RDD ids, an RDD's JVM call
site (`NativeMethodAccessorImpl.java:0` in one run, `<unknown>:0` in
another, for the same plan), the path of the
persisted IVF index dir (its name hashes the corpus and layout), the
scratch root the engine writes under (`io.tables.scratch_dir`: the temp
root and the corpus tag, so dumps taken under different `TMPDIR`s, or
before the one-root layout, compare) and the random token in a push
sink's file names.

Usage: python tools/plan_dump.py sf_dir out_dir [module ...]

A module is a workloads module name (llm, corpus_wl, ...). The default
is every module whose source imports from operators.similarity,
operators.dedup or operators.joins. Each query writes
`<out_dir>/<name>.txt`; a query that raises while it is planned writes
the exception instead.
"""

from __future__ import annotations

import inspect
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPERATORS = ("operators.similarity", "operators.dedup", "operators.joins")

_NORMALISE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b([a-z]{1,5})_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(RDD\[N\] at \w+) at [^,\s]+"), r"\1 at CALLSITE"),
    (re.compile(r"file:\S*[/_][0-9a-f]{12}/(centroids|assignments)"), r"file:INDEX/\1"),
    (
        re.compile(r"/\S*?/spark_graft(?:_([a-z]+)/[0-9a-f]{8}|/[0-9a-f]{8}/([a-z]+))/"),
        r"SCRATCH/\1\2/",
    ),
    (re.compile(r"part-[0-9a-f]{12}-"), "part-N-"),
]


def normalise(plan: str) -> str:
    for pat, sub in _NORMALISE:
        plan = pat.sub(sub, plan)
    return plan


def main() -> None:
    sf_dir, out_dir, *modules = sys.argv[1:]

    import __spark_entry__ as entrymod
    from etl_dagster_service_crawler_spark.session import get_spark

    spark = get_spark(app_name="plan-dump")
    qs = entrymod.queries()
    if not modules:
        mods = {sys.modules[fn.__module__] for fn in qs.values()}
        modules = sorted(
            m.__name__.rsplit(".", 1)[-1]
            for m in mods
            if any(op in inspect.getsource(m) for op in OPERATORS)
        )
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for name, fn in sorted(qs.items()):
        if fn.__module__.rsplit(".", 1)[-1] not in modules:
            continue
        buf = io.StringIO()
        try:
            df = fn(spark, sf_dir)
            with redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # noqa: BLE001 - recorded, then compared
            buf.write(f"ERROR: {type(exc).__name__}: {exc}\n")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalise(buf.getvalue()))
        spark.catalog.clearCache()
        n += 1
    print(f"wrote {n} plans from {', '.join(modules)} to {out_dir}")


if __name__ == "__main__":
    main()
