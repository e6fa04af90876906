#!/usr/bin/env python3
"""The engine's benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload grid_aoi --seed 1 --seconds 20 --trace 0

One process, one closed-loop client, one ``get_spark`` session on
``local[n]`` with n the size of the CPU affinity mask and the heap the
engine's own rule gives for MemTotal. The run generates its inputs from
the seed (``gen_s``, not part of any other figure), starts the session,
lands the inputs and runs a fixed warm-up (together ``setup_s``), then
sends whole cycles of requests, one of each kind in a fixed order, until
the requests have taken ``--seconds``. Each output is checked outside the
timed region (``check_s``). The last line of stdout is the result; the
line before it holds the detail (per-kind medians, tail percentile,
provenance).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
requests with spans and prints the per-layer metrics; ``BENCHMARK.json``
names both sets and their units. Every file the run writes, Spark's
shuffle and temp files included, lives under ``perfbench/_work`` and is
removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "xarray_dataaccessor_spark"
sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402  (needs ROOT on the path)

#: warm-up requests per workload: two whole cycles of every kind, past the
#: steep drop in wall time after the first; a third cycle does not fit the
#: 3420 s a check of 48 runs may take. JIT time keeps decaying for many
#: cycles (every request brings newly generated classes). See
#: STEADINESS.md and ``results/warmup_*.json``.
WARMUP = {"grid_aoi": 22, "batch_slots": 12}


def _configure(work: Path, traced: bool) -> dict:
    """Pin the session to host properties and keep every file it writes
    inside ``work``. Must run before pyspark is imported."""
    cores = host.affinity_cores()
    total = host.mem_total_gib()
    heap = host.heap_for(total)
    for sub in ("tmp", "local", "conf", "events", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Two departures from the engine's defaults keep every file inside the
    # checkout: SPARK_LOCAL_DIRS below (the engine puts shuffle and spill
    # on /dev/shm) and -XX:-UsePerfData (the JVM's hsperfdata file goes to
    # /tmp whatever java.io.tmpdir says)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": (work / "warehouse").as_uri(),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if traced else "false",
        "spark.eventLog.dir": (work / "events").as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    (work / "conf" / "spark-defaults.conf").write_text(
        "".join(f"{k} {v}\n" for k, v in conf.items())
    )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_CONF_DIR": str(work / "conf"),
        "TMPDIR": str(work / "tmp"),
    })
    os.environ.pop("SPARK_DRIVER_JVM_OPTS", None)
    os.environ.pop("SPARK_GRAFT_UI", None)
    return {"cores": cores, "heap": heap, "mem_total_gib": round(total, 2)}


def _source_digest() -> str:
    h = hashlib.sha1()
    for p in sorted((ROOT / PKG).rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _workload(name: str, seed: int, work: str):
    if name == "grid_aoi":
        from perfbench.grid_aoi import GridAoi

        return GridAoi(seed, work)
    from perfbench.batch_slots import BatchSlots

    return BatchSlots(seed, work)


def _python_rss(tr) -> int:
    pids = [os.getpid()] + [
        p for p in host.tree(tr.jvm_pid) if p != tr.jvm_pid
    ]
    return sum(host.rss_bytes(p) for p in pids)


class Run:
    """One session's requests, their checks and what they cost."""

    def __init__(self, wl, spark, tr, seed: int, corrupt: str | None):
        import numpy as np

        self.wl, self.spark, self.tr = wl, spark, tr
        self.rng = np.random.default_rng([seed, 1])  # request parameters
        self.corrupt = corrupt
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.curve: list = []

    def one(self, kind: str, measured: bool):
        params = self.wl.draw(kind, self.rng)
        self.attempted += 1
        out = None
        try:
            with self.tr.request(kind) as req:
                out = self.wl.run(self.spark, self.tr, kind, params)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return req, False
        t0 = time.perf_counter()
        ok = True
        try:
            if self.corrupt == kind and measured:
                self.corrupt = None
                out = self.wl.corrupt(kind, out)
            if self.tr.traced:
                req.counts.update(self.wl.io_counts(kind, params, out))
            self.wl.check(kind, params, out)
        except Exception as exc:  # a check that cannot read the output fails it
            print(f"check failed: {kind}: {exc!r}", file=sys.stderr)
            self.failed += 1
            ok = False
        finally:
            self.wl.discard(kind, out)
        self.check_s += time.perf_counter() - t0
        return req, ok


def _metrics_e2e(records, cpu_per_req, setup_s, peak_rss):
    by_kind: dict[str, list] = {}
    for r in records:
        by_kind.setdefault(r.kind, []).append(r)
    med = {k: statistics.median(r.wall_s for r in rs) for k, rs in by_kind.items()}
    cpu = {k: statistics.fmean(r.cpu_s for r in rs) for k, rs in by_kind.items()}
    gm = math.exp(statistics.fmean(math.log(v) for v in med.values()))
    return {
        "latency_gm_p50_s": gm,
        # whole cycles: every kind weighs the same in the window
        "cpu_s_per_req": cpu_per_req,
        "peak_offheap_rss_mb": peak_rss / 2**20,
        "setup_s": setup_s,
    }, med, cpu


def _tail(records) -> dict:
    """The highest percentile with at least ten requests beyond it; none
    below 20 requests, where that percentile would not be a tail."""
    walls = sorted(r.wall_s for r in records)
    n = len(walls)
    pct = math.floor(100 * (1 - 10 / n))
    if pct < 50:
        return {"percentile": None, "value_s": None, "samples": n}
    return {"percentile": pct, "value_s": walls[min(n - 1, math.ceil(n * pct / 100) - 1)],
            "samples": n}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("grid_aoi", "batch_slots"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=None,
                    help="warm-up requests (default: the committed count)")
    ap.add_argument("--curve", default=None,
                    help="write per-request JIT and codegen counters here (JSON)")
    ap.add_argument("--corrupt", default=None,
                    help="corrupt the first measured output of this kind")
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: {PKG} is not in {ROOT}", file=sys.stderr)
        return 2
    traced = bool(args.trace) or args.curve is not None
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = bench["per_layer" if traced else "end_to_end"]
    work = ROOT / "perfbench" / "_work" / f"{args.workload}-{os.getpid()}"
    try:
        return _run(args, work, traced, wanted)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            work.parent.rmdir()


def _stop(spark) -> None:
    """Stop the session, then end the JVM it runs in and wait for it: the
    gateway JVM exits when its stdin closes, which would otherwise happen
    only after this process has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def _run(args, work: Path, traced: bool, wanted: list[dict]) -> int:
    prov = _configure(work, traced)
    from perfbench.trace import Tracer

    steal0, busy0 = host.steal_and_busy()
    prov["loadavg_start"] = host.loadavg()
    prov["source_sha1"] = _source_digest()

    wl = _workload(args.workload, args.seed, str(work))
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    t_setup = time.perf_counter()
    from xarray_dataaccessor_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_setup
    tr = Tracer(spark, traced, str(work / "events"))
    heap = host.heap_bytes(prov["heap"])
    try:
        with tr.request("land") as req:
            wl.land(spark, tr)
        land_s = req.wall_s
        if traced:
            tr.fold(req)
        run = Run(wl, spark, tr, args.seed, args.corrupt)
        warm = WARMUP[args.workload] if args.warmup is None else args.warmup
        plan: list[str] = []
        while len(plan) < warm:
            plan += wl.kinds
        last = tr.jvm_counters() if traced else None
        for i, kind in enumerate(plan[:warm]):
            req, _ = run.one(kind, measured=False)
            if args.curve is not None:
                tr.fold(req)
                now = tr.jvm_counters()
                run.curve.append({"i": i, "kind": kind, "wall_s": req.wall_s,
                                  "jit_ms": now["jit_ms"] - last["jit_ms"],
                                  "compiles": now["compiles"] - last["compiles"]})
                last = now
            elif traced:
                tr.fold(req)
        setup_s = time.perf_counter() - t_setup - run.check_s

        steal1, busy1 = host.steal_and_busy()
        jvm_cpu0, driver_cpu = host.tree_cpu_s(tr.jvm_pid), 0.0
        peak_rss, elapsed, records, n_measured = 0, 0.0, [], 0
        while elapsed < args.seconds:
            for kind in wl.kinds:
                last = tr.jvm_counters() if traced else None
                req, ok = run.one(kind, measured=True)
                elapsed += req.wall_s
                n_measured += 1
                driver_cpu += req.driver_cpu_s
                peak_rss = max(peak_rss, host.rss_bytes(tr.jvm_pid) - heap + _python_rss(tr))
                if traced:
                    tr.fold(req)
                    now = tr.jvm_counters()
                    req.jvm = {k: now[k] - last[k] for k in now}
                    req.counts["live_rdds"] = float(
                        spark.sparkContext._jsc.getPersistentRDDs().size())
                if ok:
                    records.append(req)
        # the JVM tree over the whole window (its compiler and GC threads
        # keep working between requests); the driver only inside requests
        cpu_per_req = (host.tree_cpu_s(tr.jvm_pid) - jvm_cpu0 + driver_cpu) / n_measured
        steal2, busy2 = host.steal_and_busy()
    finally:
        _stop(spark)

    prov["loadavg_end"] = host.loadavg()
    prov["steal_share_setup"] = (steal1 - steal0) / max(1, busy1 - busy0)
    prov["steal_share_measured"] = (steal2 - steal1) / max(1, busy2 - busy1)
    if not records:
        print("perfbench: no request succeeded", file=sys.stderr)
        return 1
    e2e, med, cpu = _metrics_e2e(records, cpu_per_req, setup_s, peak_rss)
    if traced:
        from perfbench.layers import per_layer

        metrics = per_layer(records, session_start_s, wl, [m["name"] for m in wanted])
    else:
        metrics = e2e
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": int(traced),
        "requests": len(records), "window_s": elapsed,
        "median_s_by_kind": med, "cpu_s_by_kind": cpu, "tail": _tail(records),
        "gen_s": gen_s, "check_s": run.check_s, "session_start_s": session_start_s,
        "land_s": land_s,
        "end_to_end": e2e, "provenance": prov,
    }
    if run.curve:
        Path(args.curve).write_text(json.dumps({"detail": detail, "curve": run.curve}, indent=1))
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
