"""Smoke runs of every workload on a tiny corpus, and the contract of
the printed result."""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME_RX = re.compile(r"[A-Za-z0-9_.-]+")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def test_metric_names_are_well_formed():
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[key]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RX.fullmatch(name), name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--notes", "6")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, p.stdout[-3000:]
    assert res["failed"] == 0 and res["attempted"] >= 6
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(v["value"] > 0 for v in res["metrics"].values())


# Runs perfbench/run.py with the workload's first pipe raising on call.
RAISING = """
import sys
sys.path.insert(0, sys.argv[1])
from perfbench import run

build = run.build_pipeline


def broken(wl):
    nlp, layers = build(wl)

    def fail(*args):
        raise RuntimeError("injected failure")

    layers[0][1].entities = fail
    return nlp, layers


run.build_pipeline = broken
sys.exit(run.main(sys.argv[2:]))
"""


@pytest.mark.parametrize("trace", ["0", "1"])
def test_raising_pipe_is_counted_as_failed(trace):
    p = subprocess.run(
        [sys.executable, "-c", RAISING, ROOT, "--workload",
         "corpus_lexicon", "--seed", "3", "--seconds", "1", "--trace", trace,
         "--notes", "6"], cwd=ROOT, capture_output=True, text=True,
        timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] > 0
    metrics = res["metrics"]
    if trace == "0":    # no pass annotated its notes
        assert metrics["notes_per_s"]["value"] == 0
        return
    assert {m["name"] for m in SPEC["per_layer"]} == set(metrics)
    assert metrics["terminology.cim10.plan_s"]["value"] > 0
    assert metrics["terminology.cim10.exec_s"]["value"] == 0
    assert metrics["terminology.cim10.rows_out"]["value"] == 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", "1", "--trace", "0", cwd=tmp_path, timeout=170)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
