"""Steadiness mode: run one workload repeatedly, one seed per run, and
report each metric's median, quartiles and spread against its bound.

    python3 benchmarks/steady.py --workload wap_gate --seeds 1-10 \\
        --seconds 15 --out .bench_work/steady-wap.json
    python3 benchmarks/steady.py --compare first.json second.json

The spread is (q3 - q1) / median with ``statistics.quantiles(n=4)``; a
metric is steady when its spread is at most a third of the bound in
BENCHMARK.json. ``--compare`` takes two saved run sets of the same
workload and reports, per end-to-end metric, how far the second median
moved in the worse direction against the bound; given an untraced and a
traced set, that is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from harness import ROOT, median, spread

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
# per-layer metrics have no bound; their spread is shown against None
BOUNDS = {m["name"]: m.get("bound") for m in
          BENCH["end_to_end"] + BENCH["per_layer"]}


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_set(workload: str, seeds: list[int], seconds: float,
            trace: int) -> list[dict]:
    runs = []
    for seed in seeds:
        cmd = [sys.executable, str(ROOT / "benchmarks" / "run.py"),
               "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n"
                  f"{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        result["seed"] = seed
        result["info"] = json.loads(lines[-2])
        runs.append(result)
        shown = ", ".join(f"{k}={v['value']:.4g}"
                          for k, v in result["metrics"].items()
                          if k in BOUNDS and BOUNDS[k] is not None)
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              f"{shown}", flush=True)
    return runs


def report(runs: list[dict]) -> bool:
    """Print the per-metric table; True when every bounded metric has a
    spread within its bound."""
    ok = True
    names = list(runs[0]["metrics"])
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s}  verdict")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        bound = BOUNDS.get(name)
        if bound is None:
            verdict = ""
        elif sp <= bound / 3:
            verdict = "steady"
        elif sp <= bound:
            verdict = "within bound"
        else:
            verdict = "UNSTEADY"
            ok = False
        print(f"{name:34s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.3f} "
              f"{bound if bound is not None else '-':>6}  {verdict}")
    bad = sum(r["failed"] for r in runs)
    print(f"runs={len(runs)} all_correct="
          f"{all(r['correct'] for r in runs)} failed_ops={bad}")
    return ok


def _end_to_end(run: dict, name: str) -> float:
    """An end-to-end figure of one run; a traced run carries them on its
    info line."""
    if name in run["metrics"]:
        return run["metrics"][name]["value"]
    return run["info"]["traced_end_to_end"][name]


def compare(first: dict, second: dict) -> bool:
    """Second run set's median against the first's, in the worse
    direction, per end-to-end metric. Comparing an untraced set with a
    traced one shows the tracing overhead."""
    ok = True
    for m in BENCH["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a = median([_end_to_end(r, name) for r in first["runs"]])
        b = median([_end_to_end(r, name) for r in second["runs"]])
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        verdict = "agree" if worse <= bound else "WORSE"
        ok = ok and worse <= bound
        print(f"{first['workload']:18s} {name:14s} {a:12.6g} {b:12.6g} "
              f"worse by {worse:+.3f} (bound {bound})  {verdict}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="save the run set as JSON")
    ap.add_argument("--compare", nargs=2, metavar="RUNSET")
    args = ap.parse_args()
    if args.compare:
        a, b = (json.loads(Path(p).read_text()) for p in args.compare)
        return 0 if compare(a, b) else 1
    if not args.workload:
        ap.error("--workload is required unless --compare is given")
    runs = run_set(args.workload, _seeds(args.seeds), args.seconds,
                   args.trace)
    if not runs:
        return 1
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "trace": args.trace,
             "seconds": args.seconds, "runs": runs}, indent=1))
    return 0 if report(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
