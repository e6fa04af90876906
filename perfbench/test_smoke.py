"""Smoke test of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

- every metric ``BENCHMARK.json`` names is printed, with its unit, by a
  short untraced and a short traced run of each workload;
- a deliberately corrupted output is counted as ``failed``;
- the slot checkers accept what each slot's DuckDB oracle returns on the
  benchmark's generated tables, and reject a damaged copy of it;
- without the engine beside it, the benchmark exits non-zero and prints
  no result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*BENCH["command"], *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_its_unit(workload, trace):
    res = _result(_run("--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", str(trace), "--warmup", "0"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


@pytest.mark.parametrize("workload,kind", [("grid_aoi", "regrid_x2"), ("grid_aoi", "export_zarr"),
                                           ("batch_slots", "slot_topk")])
def test_corrupted_output_counts_as_failed(workload, kind):
    res = _result(_run("--workload", workload, "--seed", "7", "--seconds", "1",
                       "--warmup", "0", "--corrupt", kind))
    assert res["failed"] == 1 and not res["correct"]


def _oracle_frames(tmp_path):
    import duckdb

    from perfbench.batch_slots import BatchSlots
    from xarray_dataaccessor_spark import queries_ext  # noqa: F401  (registers the slots)
    from xarray_dataaccessor_spark.queries import ORACLES

    wl = BatchSlots(3, str(tmp_path))
    wl.generate()
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{wl.sf}/{t}.parquet'")
    frames = {
        name: con.execute(ORACLES[name]).fetchdf()
        for name in ("similarity_bruteforce_topk", "streaming_session_windows")
    }
    return wl, frames


def test_slot_checkers_agree_with_oracles(tmp_path):
    from perfbench import slot_checks

    wl, f = _oracle_frames(tmp_path)
    checks = {
        "similarity_bruteforce_topk": lambda o: slot_checks.check_topk(wl.docs, wl.ids, wl.emb, o),
        "streaming_session_windows": lambda o: slot_checks.check_sessions(wl.events, o),
    }
    for name, check in checks.items():
        check(f[name])
        bad = f[name].copy()
        col = {"streaming_session_windows": "n_events"}.get(name, "cos")
        bad.loc[bad[col].first_valid_index(), col] += 1
        with pytest.raises(AssertionError):
            check(bad)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = _run("--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
