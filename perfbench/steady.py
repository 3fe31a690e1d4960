"""Steadiness check: run every workload repeatedly, each time with another
seed, and report each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
        [--workloads a,b] [--out runs.jsonl] [--against earlier.jsonl]

Run from the root of a checkout. The spread of a metric is the distance
between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) as a share of their median; it is
compared with the metric's ``bound`` in BENCHMARK.json (``setup_s`` is
reported, not required to pass). With ``--against``, each median is also
compared with the median of an earlier set of runs, saved by ``--out``:
the two must differ by no more than the bound, in either direction. A run
that breaks prints its stderr and counts as incorrect. Exits non-zero if
a check fails or a run is incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [sys.executable, *bench["command"][1:], "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
           "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:  # no result: the run itself broke
        noise = ("Warning", "WARN ", "warnings.warn", "Picked up JAVA_TOOL")
        err = [ln for ln in proc.stderr.splitlines()
               if ln.strip() and not any(w in ln for w in noise)]
        print(f"{workload} seed {seed}: exit {proc.returncode}, no result; "
              "stderr:", *err[-40:], sep="\n", flush=True)
        return {"workload": workload, "seed": seed, "wall_s": wall,
                "correct": False, "metrics": None}
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"{workload} seed {seed} failures:",
              json.loads(lines[-2])["perfbench"]["failures"], flush=True)
    return {"workload": workload, "seed": seed, "wall_s": wall, **result}


def summarize(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--against", default="")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    earlier: list[dict] = []
    if args.against:
        with open(args.against) as f:
            earlier = [json.loads(line) for line in f if line.strip()]

    ok = True
    runs: list[dict] = []
    for workload in workloads:
        for i in range(args.runs):
            r = run_once(bench, workload, args.first_seed + i)
            runs.append(r)
            ok &= r["correct"]
            print(f"{workload} seed={r['seed']} wall={r['wall_s']:.1f}s "
                  f"correct={r['correct']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in (r["metrics"] or {}).items()),
                  flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")

    print(f"\n{'workload':<16}{'metric':<16}{'median':>12}{'spread':>9}"
          f"{'bound':>7}{'drift':>9}  verdict")
    for workload in workloads:
        mine = [r for r in runs if r["workload"] == workload and r["metrics"]]
        theirs = [r for r in earlier if r["workload"] == workload and r["metrics"]]
        if len(mine) < 2:
            print(f"{workload:<16}fewer than two runs with a result")
            ok = False
            continue
        for name, m in metrics.items():
            med, spread = summarize([r["metrics"][name]["value"] for r in mine])
            verdict = "ok" if spread <= m["bound"] or name == "setup_s" else "SPREAD"
            drift = float("nan")
            if theirs:
                old = statistics.median(r["metrics"][name]["value"] for r in theirs)
                drift = (med - old) / old
                if abs(drift) > m["bound"]:
                    verdict = "DRIFT"
            ok &= verdict == "ok"
            print(f"{workload:<16}{name:<16}{med:>12.4g}{spread:>9.3f}"
                  f"{m['bound']:>7.2f}{drift:>9.3f}  {verdict}")
    walls = [r["wall_s"] for r in runs]
    print(f"\nrun wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s over {len(walls)} runs")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
