#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise how steady it is.

    python3 perfbench/steadiness.py runs --workload grid_aoi --seeds 1-10 --out perfbench/results/a.json
    python3 perfbench/steadiness.py runs --workload grid_aoi --seeds 1 --busy 4 --out ...
    python3 perfbench/steadiness.py summary perfbench/results/a.json [...]

``runs`` executes ``run.py`` once per seed, one run at a time, and saves
every run's result and detail lines. ``--busy N`` keeps N busy-loop
processes running beside each run (a co-tenant). ``--trace 1`` makes
traced runs. ``summary`` prints, per file and end-to-end metric, the
median and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) over the median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def runs(args) -> None:
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    done = []
    for seed in parse_seeds(args.seeds):
        t0 = time.monotonic()
        busy = [subprocess.Popen([sys.executable, "-c", "while True: pass"])
                for _ in range(args.busy)]
        try:
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
        finally:
            for b in busy:
                b.kill()
                b.wait()
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: run failed")
        detail = json.loads(lines[-2].removeprefix("detail "))
        done.append({"seed": seed, "busy": args.busy, "run_wall_s": time.monotonic() - t0,
                     "result": json.loads(lines[-1]), "detail": detail})
        m = done[-1]["result"]["metrics"]
        print(seed, {k: round(v["value"], 4) for k, v in m.items()}, flush=True)
        Path(args.out).write_text(json.dumps(done, indent=1))


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def summary(args) -> None:
    """One markdown row per file and metric: median, spread, and the
    median's distance from the first file's, as a share of it."""
    sets = [(p, json.loads(Path(p).read_text())) for p in args.files]
    names = list(sets[0][1][0]["result"]["metrics"])
    print("| runs | metric | n | median | spread | vs first |")
    print("|---|---|---|---|---|---|")
    base = {}
    for path, rows in sets:
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in rows]
            med = statistics.median(vals)
            sp = f"{spread(vals)[1]:.3f}" if len(vals) >= 2 else "-"
            base.setdefault(name, med)
            print(f"| {Path(path).stem} | {name} | {len(vals)} | {med:.4g} | {sp} "
                  f"| {med / base[name] - 1:+.3f} |")
    for path, rows in sets:
        bad = sum(not r["result"]["correct"] for r in rows)
        steal = max(r["detail"]["provenance"]["steal_share_measured"] for r in rows)
        wall = sum(r.get("run_wall_s", 0.0) for r in rows)
        print(f"\n{Path(path).stem}: {len(rows)} runs, {bad} incorrect, "
              f"max steal share {steal:.3f}, {wall:.0f} s of runs")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--busy", type=int, default=0)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    args = ap.parse_args()
    runs(args) if args.cmd == "runs" else summary(args)


if __name__ == "__main__":
    main()
