"""Self-test of the benchmark on tiny inputs (scale factor 0.001).

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each case starts ``perfbench/run.py`` as a subprocess, the way the benchmark
is driven, so the whole file takes several minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

_runs: dict[tuple, subprocess.CompletedProcess] = {}


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def tiny(workload: str, seed: int = 1, trace: int = 0, *extra: str):
    """One benchmark run at sf 0.001, shared between the tests that need it."""
    key = (workload, seed, trace, extra)
    if key not in _runs:
        _runs[key] = bench("--workload", workload, "--seed", str(seed),
                           "--seconds", "1", "--trace", str(trace),
                           "--sf", "0.001", *extra)
    p = _runs[key]
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    res, _ = tiny(workload)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    res, _ = tiny(workload, 1, 1)
    assert res["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "ingest":
        for name in ("pipeline.table_s", "pipeline.jobs_per_table",
                     "sources.jdbc.roundtrips", "streaming.epochs",
                     "functions.hashing.ns_per_row", "operators.audit.rows_scanned"):
            assert m[name] > 0, name
    else:
        assert all(v > 0 for k, v in m.items() if k.startswith("queries."))


def test_injected_corruption_counts_as_failed():
    res, out = tiny("ingest", 1, 0, "--inject-corruption")
    assert res["correct"] is False
    assert 0 < res["failed"] < res["attempted"]
    ratio = float(re.search(r"failed_op_ratio ([0-9.]+)", out).group(1))
    assert ratio > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_two_seeds_give_the_same_totals(workload):
    (a, out_a), (b, out_b) = tiny(workload, 1), tiny(workload, 2)
    assert a["attempted"] == b["attempted"]

    def rows(out):
        return int(re.search(r" (\d+) rows", out).group(1))

    assert rows(out_a) == rows(out_b)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
              "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
