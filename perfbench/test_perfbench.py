"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The run tests start Spark at the tiny input size (about a minute each).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from digest import digest  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(out) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


# --- units -------------------------------------------------------------------------

def test_benchmark_file_matches_the_runner():
    import re

    import run

    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(BENCH["workloads"]) <= 8
    assert sorted(WORKLOADS) == sorted(run.WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]] + WORKLOADS
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCH["workloads"])
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.1, 0.2, 0.30000000001]})
    shuffled = df.sample(frac=1.0, random_state=3)[["c", "a", "b"]]
    assert digest(df) == digest(shuffled)
    changed = df.copy()
    changed.loc[1, "b"] = "Y"
    assert digest(df) != digest(changed)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True)
    tr.spans = [
        {"id": 1, "parent": None, "layer": "catalog", "name": "op", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "mapreduce", "name": "x", "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 1, "layer": "mapreduce", "name": "y", "start": 4.0, "end": 8.0},
    ]
    st = tr.self_times()
    assert st["catalog"] == pytest.approx(4.0)
    assert st["mapreduce"] == pytest.approx(7.0)


def test_generated_tables_are_deterministic_and_permutation_keeps_rows(tmp_path):
    a, b = datagen.generate(0.001), datagen.generate(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    base = datagen.ensure_base(str(tmp_path), 0.001)
    perm = datagen.permuted_copy(base, str(tmp_path / "p"), seed=5)
    import pyarrow.parquet as pq

    for t in ("orders", "documents"):
        x = pq.read_table(f"{base}/{t}.parquet").to_pandas()
        y = pq.read_table(f"{perm}/{t}.parquet").to_pandas()
        assert digest(x) == digest(y)
        assert not x.equals(y)


# --- runs --------------------------------------------------------------------------

@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    out = _run("--workload", workload, "--seed", "1", "--seconds", "1", "--scale", "tiny")
    res = _result(out)
    names = [m["name"] for m in BENCH["end_to_end"]]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert sorted(res["metrics"]) == sorted(names)
    for n in names:
        assert f"metric {n} " in out.stdout
        assert res["metrics"][n]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_prints_every_per_layer_metric(workload):
    out = _run("--workload", workload, "--seed", "2", "--seconds", "1", "--scale", "tiny",
               "--trace", "1")
    res = _result(out)
    names = [m["name"] for m in BENCH["per_layer"]]
    assert res["correct"]
    assert sorted(res["metrics"]) == sorted(names)
    for n in names:
        assert f"metric {n} " in out.stdout
    assert "trace.overhead_frac" in res["metrics"]


def test_corrupted_digest_raises_failed_op_frac(tmp_path):
    with open(os.path.join(HERE, "digests.json")) as f:
        digests = json.load(f)
    victim = random.Random(0).choice(sorted(digests["sf0.002"]))
    digests["sf0.002"][victim] = "0:corrupted"
    path = tmp_path / "digests.json"
    path.write_text(json.dumps(digests))
    out = _run("--workload", "llm-stream", "--seed", "1", "--seconds", "1", "--scale", "tiny",
               "--digests", str(path))
    res = _result(out)
    assert not res["correct"]
    failed = [ln for ln in out.stdout.splitlines() if ln.startswith("failed-op ")]
    assert res["failed"] == len(failed) >= 1  # once per pass, warm-up included
    assert all(ln.startswith(f"failed-op {victim}:") for ln in failed)
    frac = [ln for ln in out.stdout.splitlines() if ln.startswith("report failed_op_frac:")]
    assert frac and float(frac[0].split()[2]) > 0


def test_run_fails_without_the_engine_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
