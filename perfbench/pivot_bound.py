#!/usr/bin/env python3
"""How much of the ``batch_slots`` corpus a pivot bound could prune.

    python3 perfbench/pivot_bound.py --seeds 1-10

For each seed, generates the workload's embeddings and, for the five
queries ``similarity_bruteforce_topk`` ranks (vec_id < 5), reports the
share of the corpus an exact top-5 could skip by the triangle
inequality (ROADMAP #5, after REPOSE), in two forms:

- ``pivot``: 16 random pivots; a vector is skipped when
  max over pivots of |d(q, p) - d(x, p)| exceeds the query's 5th-best
  distance;
- ``partition``: 16 Lloyd partitions with their radii; a whole partition
  is skipped when d(q, centre) - radius exceeds that distance.

Distances are Euclidean on the unit vectors (||a - b||^2 = 2 - 2 cos).
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.batch_slots import BatchSlots  # noqa: E402
from perfbench.steadiness import parse_seeds  # noqa: E402

K, PIVOTS = 5, 16


def _dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.sqrt(np.maximum(0.0, 2.0 - 2.0 * a @ b.T))


def shares(emb: np.ndarray, seed: int) -> dict:
    rng = np.random.default_rng([seed, 7])
    piv = emb[rng.choice(len(emb), PIVOTS, replace=False)]
    cen = piv.copy()
    for _ in range(10):
        part = np.argmin(_dist(emb, cen), axis=1)
        cen = np.array([emb[part == j].mean(0) if (part == j).any() else cen[j]
                        for j in range(PIVOTS)])
    part = np.argmin(_dist(emb, cen), axis=1)
    d_part = _dist(emb, cen)[np.arange(len(emb)), part]
    radius = np.array([d_part[part == j].max() if (part == j).any() else 0.0
                       for j in range(PIVOTS)])
    d_xp = _dist(emb, piv)
    out = {"pivot": [], "partition": [], "kth_cos": []}
    for q in range(5):
        d = _dist(emb[q:q + 1], emb)[0]
        d[q] = np.inf
        tau = np.sort(d)[K - 1]
        out["pivot"].append(float((np.abs(d_xp - d_xp[q]).max(axis=1) > tau).mean()))
        skip = _dist(emb[q:q + 1], cen)[0] - radius > tau
        out["partition"].append(float(np.isin(part, np.nonzero(skip)[0]).mean()))
        out["kth_cos"].append(1.0 - tau * tau / 2.0)
    return {k: float(np.mean(v)) for k, v in out.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    work = ROOT / "perfbench" / "_work" / "pivot_bound"
    try:
        for seed in parse_seeds(args.seeds):
            wl = BatchSlots(seed, str(work))
            wl.generate()
            s = shares(wl.emb, seed)
            print(f"seed {seed}: pivot {s['pivot']:.3f}  partition {s['partition']:.3f}  "
                  f"5th-best cos {s['kth_cos']:.3f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
