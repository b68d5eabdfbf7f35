"""Steadiness check: run every workload of BENCHMARK.json in two sets
of seeds and print, per end-to-end metric, each set's median and
quartiles, the spread (q3 - q1) / median, and the ratio of the two
sets' medians.

    python3 perfbench/steady.py --runs 10

Run from the checkout root. Each run is `run.py` in its own process,
one at a time, at BENCHMARK.json's `run_seconds`; set A uses seeds
1..runs, set B seeds 1001..1000+runs. Results are appended to
`.perfbench_work/steady.jsonl` as they come. Bounds in BENCHMARK.json
were set from this output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}", "stderr": p.stderr[-2000:]}
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def summarize(records: list[dict]) -> str:
    rows = ["workload          metric         set   n      q1      median      q3   spread  B/A"]
    groups: dict[tuple[str, str], dict[str, list[float]]] = {}
    for r in records:
        res = r["result"]
        if "metrics" not in res:
            rows.append(f"{r['workload']} seed {r['seed']}: {res.get('error')}")
            continue
        if not res["correct"]:
            rows.append(f"{r['workload']} seed {r['seed']}: correct=false")
        for name, m in res["metrics"].items():
            groups.setdefault((r["workload"], name), {}).setdefault(r["set"], []).append(m["value"])
    for (w, name), sets in sorted(groups.items()):
        medians = {}
        for s, vals in sorted(sets.items()):
            if len(vals) < 2:
                continue
            q1, q2, q3, sp = spread(vals)
            medians[s] = q2
            ratio = ""
            if s == "B" and medians.get("A"):
                ratio = f"{q2 / medians['A']:.4f}"
            rows.append(
                f"{w:17s} {name:14s} {s:3s} {len(vals):3d} {q1:10.4f} {q2:10.4f} {q3:10.4f} "
                f"{sp:7.4f}  {ratio}"
            )
    return "\n".join(rows)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = os.path.join(ROOT, ".perfbench_work", "steady.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    records = []
    for w in (wl["name"] for wl in bench["workloads"]):
        for s, base in (("A", 1), ("B", 1001)):
            for i in range(args.runs):
                rec = {"workload": w, "set": s, "seed": base + i,
                       "result": run_once(w, base + i, bench["run_seconds"])}
                records.append(rec)
                with open(out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
    print(summarize(records))
    return 0


if __name__ == "__main__":
    sys.exit(main())
