"""The command line, the benchmark definition and the hermetic run."""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import run

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")


def _run(cwd, *args, timeout=170):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout)


def test_refuses_more_cores_than_the_machine_has():
    nproc = os.cpu_count()
    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "exact-eval", "--seed", "1", "--seconds", "1",
                        "--cores", str(nproc + 1)])
    assert run.parse_args(["--workload", "exact-eval", "--seed", "1",
                           "--seconds", "1"]).cores <= nproc


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(BENCH) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == ["exact-eval", "hnsw-ingest"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: unit for k, (unit, _moves) in run.PER_LAYER.items()}
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    # every workload name is one the runner accepts
    for w in bench["workloads"]:
        run.parse_args(["--workload", w["name"], "--seed", "1", "--seconds", "1"])


def test_benchmark_json_is_well_formed():
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert os.path.getsize(BENCH) <= 64 * 1024
    with open(BENCH) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/")
        assert ".." not in p.split("/")
    assert len(bench["command"]) <= 32 and all(len(c) <= 200 for c in bench["command"])
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(bench["end_to_end"]) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    names = []
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in bench["workloads"] + bench["end_to_end"] + bench["per_layer"]:
        assert name.match(m["name"]), m["name"]
        names.append(m["name"])
        if "unit" in m:
            assert unit.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert len(names) == len(set(names))
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"


def test_fails_without_output_where_the_engine_is_missing(tmp_path):
    shutil.copy(BENCH, tmp_path / "BENCHMARK.json")
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "exact-eval", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert "correct" not in p.stdout


def _snapshot(root):
    """Every file under the directories a run must not touch."""
    out = {}
    for d in (".artifacts", "reports", "spark-warehouse", "inside_vectordb_spark"):
        for dirpath, _dirs, files in os.walk(os.path.join(root, d)):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    out["<root>"] = tuple(sorted(n for n in os.listdir(root) if n != ".perfbench"))
    return out


def _git_status(root):
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=root,
                              capture_output=True, text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def test_untraced_run_is_hermetic_and_records_no_spans():
    root = run.ROOT
    status, files = _git_status(root), _snapshot(root)
    traces = os.path.join(root, ".perfbench", "traces")
    before = set(os.listdir(traces)) if os.path.isdir(traces) else set()
    p = _run(root, "--workload", "exact-eval", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert _git_status(root) == status
    assert _snapshot(root) == files
    after = set(os.listdir(traces)) if os.path.isdir(traces) else set()
    assert after == before  # no spans written
    leftovers = [d for d in os.listdir(os.path.join(root, ".perfbench"))
                 if d.startswith("run-")]
    assert leftovers == []
