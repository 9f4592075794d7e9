"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The generator tests take seconds; each smoke run starts Spark on tiny
inputs and takes about a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import driver, gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in sorted(files):
            p = os.path.join(base, f)
            out[os.path.relpath(p, d)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def _generate(d: str, seed: int) -> None:
    uni = gen.music_reference(os.path.join(d, "ref"), seed, users=500, songs=800)
    for h in range(2):
        gen.music_hour(os.path.join(d, "land"), seed, h, uni, "2024-06-01", rows=300)


def test_generators_are_deterministic(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_music_inputs_carry_the_edge_cases(tmp_path):
    uni = gen.music_reference(str(tmp_path), 5, users=2000, songs=3000)
    users = open(tmp_path / "users.csv").read().splitlines()[1:]
    songs = open(tmp_path / "songs.csv").read().splitlines()[1:]
    assert len(set(users)) < len(users)  # duplicate rows
    assert any(u.startswith(",") for u in users) and any(s.startswith(",") for s in songs)  # null keys
    genres = {s.split(",")[3] for s in songs}
    assert genres - set(gen.GENRES)  # off-whitelist and mixed-case genres
    paths = gen.music_hour(str(tmp_path / "land"), 5, 0, uni, "2024-06-01", rows=2000)
    files = [open(p).read().splitlines()[1:] for p in paths]
    assert all(len(set(f)) < len(f) for f in files)  # in-file duplicates
    assert set(files[0]) & set(files[1])  # cross-file overlap
    assert any(",ORPHAN" in r for r in files[0])  # orphan tracks


def _run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--small", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]), p.stderr
    except (IndexError, ValueError):
        return p.returncode, None, p.stderr


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_reports_exactly_the_end_to_end_metrics(workload):
    rc, out, err = _run(workload, "--trace", "0")
    assert rc == 0, err[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_exactly_the_per_layer_metrics(workload):
    rc, out, err = _run(workload, "--trace", "1")
    assert rc == 0, err[-3000:]
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["trace.op_s"]["value"] > 0


def test_per_layer_names_match_the_driver():
    assert [m["name"] for m in SPEC["per_layer"]] == driver.layer_names()
    assert all(m["unit"] == driver.layer_unit(m["name"]) for m in SPEC["per_layer"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_result_is_counted(workload):
    rc, out, err = _run(workload, "--trace", "0", "--plant-fault")
    assert rc == 0, err[-3000:]
    assert out["failed"] >= 1 and not out["correct"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _ = _run(WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and out is None


def test_mix_rows_have_registry_oracles():
    from s3_to_redshift_with_airflow_spark.plans import REGISTRY
    from perfbench import mix

    assert all(q in REGISTRY and REGISTRY[q].oracle for q in mix.ROWS)
