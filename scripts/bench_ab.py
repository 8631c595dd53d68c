#!/usr/bin/env python3
"""Paired A/B of one perfbench workload between two checkouts.

    python3 scripts/bench_ab.py --parent-dir ../parent --change-dir . \
        --workload crawl_uniform --pairs 10 --seed-start 301

The two directories are full checkouts of the two commits (for example
made with ``git worktree add`` or ``git clone``). Pair i runs
``perfbench/run.py`` with seed ``seed-start + i`` once in each checkout,
one run at a time; even pairs run the parent first, odd pairs the
change first, so a drift in machine speed does not favour either side.
Both sides use the identical command line.

For every end-to-end metric BENCHMARK.json declares, it prints each
side's median and quartiles, the change's win fraction over the pairs
(ties count for neither side), and a verdict:

- GAIN: at least 10 pairs, the change won at least 9/10 of them and
  the medians differ by more than the parent's interquartile distance;
- REGRESSION: the change's median is worse than the parent's by more
  than the metric's bound;
- unresolved: not a regression, but the parent's own spread
  (interquartile distance over median) is wider than the bound and
  not every change run beats every parent run;
- no regression: otherwise.

Runs write only to perfbench's own scratch directory, which it removes
at exit; this script writes nothing except its report (stdout, and
``--json`` if given).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

GAIN_WIN_FRACTION = 0.9
GAIN_MIN_PAIRS = 10


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent-dir", required=True, type=Path)
    ap.add_argument("--change-dir", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-start", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length; default BENCHMARK.json's run_seconds")
    ap.add_argument("--timeout", type=float, default=900.0,
                    help="seconds before one run is killed and counted failed")
    ap.add_argument("--json", type=Path, default=None,
                    help="also write runs and summary to this file")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be >= 1")
    for d in (args.parent_dir, args.change_dir):
        if not (d / "perfbench" / "run.py").is_file():
            ap.error(f"{d} has no perfbench/run.py")
    return args


def run_once(checkout: Path, workload: str, seed: int, seconds: float,
             timeout: float) -> dict:
    """One benchmark run in `checkout`: its metrics, or an error."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    # the run puts its own checkout on the workers' path; an inherited
    # path could import the other side's package
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    t0 = time.monotonic()
    try:
        proc = subprocess.run(cmd, cwd=checkout, env=env, timeout=timeout,
                              capture_output=True, text=True)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {timeout:.0f} s"}
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"error": f"exit {proc.returncode}: " + " | ".join(tail)}
    out = json.loads(lines[-1])
    return {
        "wall_s": wall,
        "correct": out.get("correct"),
        "attempted": out.get("attempted"),
        "failed": out.get("failed"),
        "metrics": {k: v["value"] for k, v in out["metrics"].items()},
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[dict], end_to_end: list[dict]) -> dict:
    """Per metric: each side's quartiles over its successful runs, the
    change's wins over pairs where both sides succeeded, and the gain
    and regression verdicts."""
    out = {}
    for spec in end_to_end:
        name, higher = spec["name"], spec["better"] == "higher"
        par, chg, wins, losses, n = [], [], 0, 0, 0
        for p in pairs:
            a = p["parent"].get("metrics", {}).get(name)
            b = p["change"].get("metrics", {}).get(name)
            if a is not None:
                par.append(a)
            if b is not None:
                chg.append(b)
            if a is None or b is None:
                continue
            n += 1
            if a != b:
                better = b > a if higher else b < a
                wins += better
                losses += not better
        row = {"unit": spec["unit"], "better": spec["better"],
               "bound": spec["bound"], "pairs": n, "wins": wins,
               "losses": losses,
               "win_fraction": wins / len(pairs)}
        if par and chg:
            pq, cq = quartiles(par), quartiles(chg)
            row["parent"] = dict(zip(("q1", "median", "q3"), pq))
            row["change"] = dict(zip(("q1", "median", "q3"), cq))
            diff = cq[1] - pq[1]
            gain = diff if higher else -diff
            row["median_gain"] = gain
            row["relative_gain"] = gain / pq[1] if pq[1] else 0.0
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
            dominates = (min(chg) > max(par)) if higher else \
                (max(chg) < min(par))
            if (len(pairs) >= GAIN_MIN_PAIRS
                    and row["win_fraction"] >= GAIN_WIN_FRACTION
                    and gain > pq[2] - pq[0]):
                row["verdict"] = "GAIN"
            elif -row["relative_gain"] > spec["bound"]:
                row["verdict"] = "REGRESSION"
            elif spread > spec["bound"] and not dominates:
                row["verdict"] = "unresolved"
            else:
                row["verdict"] = "no regression"
        out[name] = row
    return out


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def print_report(workload: str, pairs: list[dict], summary: dict) -> None:
    print(f"workload {workload}: {len(pairs)} pairs")
    for side in ("parent", "change"):
        failed_runs = sum("error" in p[side] for p in pairs)
        failed_ops = sum(p[side].get("failed") or 0 for p in pairs)
        attempted = sum(p[side].get("attempted") or 0 for p in pairs)
        print(f"  {side}: {failed_runs} failed runs, "
              f"{failed_ops}/{attempted} failed operations")
    hdr = (f"  {'metric':<13} {'parent q1/med/q3':<26} "
           f"{'change q1/med/q3':<26} {'wins':>7} {'gain':>8}  verdict")
    print(hdr)
    for name, r in summary.items():
        if "parent" not in r:
            print(f"  {name:<13} no successful run on one side")
            continue
        p, c = r["parent"], r["change"]
        ps = "/".join(_fmt(p[k]) for k in ("q1", "median", "q3"))
        cs = "/".join(_fmt(c[k]) for k in ("q1", "median", "q3"))
        print(f"  {name:<13} {ps:<26} {cs:<26} "
              f"{r['wins']:>3}/{len(pairs):<3} "
              f"{r['relative_gain']:>+8.1%}  {r['verdict']}")
    for p in pairs:
        for side in ("parent", "change"):
            if "error" in p[side]:
                print(f"  seed {p['seed']} {side}: {p[side]['error']}")


def main(argv=None) -> int:
    args = _parse_args(argv)
    spec = json.loads((args.change_dir / "BENCHMARK.json").read_text())
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    dirs = {"parent": args.parent_dir.resolve(),
            "change": args.change_dir.resolve()}
    pairs = []
    for i in range(args.pairs):
        seed = args.seed_start + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(dirs[side], args.workload, seed, seconds,
                                  args.timeout)
            m = pair[side].get("metrics", {})
            shown = ", ".join(f"{e['name']}={_fmt(m[e['name']])}"
                              for e in spec["end_to_end"] if e["name"] in m)
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  f"{shown or pair[side].get('error')}",
                  file=sys.stderr, flush=True)
        pairs.append(pair)
    summary = summarize(pairs, spec["end_to_end"])
    print_report(args.workload, pairs, summary)
    if args.json is not None:
        args.json.write_text(json.dumps(
            {"workload": args.workload, "seconds": seconds,
             "pairs": pairs, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
