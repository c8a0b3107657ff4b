"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repo root. The end-to-end cases start Spark several times and
take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, seed: int, trace: int, *extra: str):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1])


@pytest.mark.parametrize("kind", ["transcripts", "corpus"])
def test_same_seed_same_inputs_and_oracle_other_seed_differs(kind, tmp_path):
    gen = {"transcripts": inputs._gen_transcripts, "corpus": inputs._gen_corpus}[kind]
    orc = {"transcripts": inputs._oracle_transcripts, "corpus": inputs._oracle_corpus}[kind]
    size = inputs.SIZES[kind]["tiny"]
    dirs = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        d = str(tmp_path / name)
        os.makedirs(d)
        gen(d, seed, size)
        dirs[name] = d
    digest = {k: _digest(inputs.parquet_files(d)) for k, d in dirs.items()}
    assert digest["a"] == digest["b"]
    assert digest["a"] != digest["c"]
    assert orc(dirs["a"]) == orc(dirs["b"])


def test_benchmark_json_matches_the_program():
    import run
    import workloads

    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == run.per_layer_catalog()


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_prints_with_its_unit_and_counts_repeat(workload):
    rc0, lines0, out0 = _run(workload, 1, 0)
    rc1, _, out1 = _run(workload, 1, 1)
    assert rc0 == 0 and rc1 == 0
    assert out0["correct"] and out1["correct"]
    assert out0["failed"] == 0 and out0["attempted"] >= 1
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out0["metrics"].items()} == e2e
    assert {k: v["unit"] for k, v in out1["metrics"].items()} == layer
    assert all(v["value"] > 0 for v in out0["metrics"].values())
    table = {ln.split()[0]: ln.split()[-1] for ln in lines0[:-1] if not ln.startswith("#")}
    assert all(table.get(k) == u for k, u in e2e.items())
    # same seed, traced or not: every count the program produced repeats
    counts0 = _latest_record(workload, 0)["per_layer"]
    counts1 = out1["metrics"]
    for name, unit in layer.items():
        if unit == "count":
            assert counts0[name] == counts1[name]["value"], name


def test_wrong_oracle_answer_is_a_failure():
    rc, lines, out = _run("validate_resume", 1, 0, "--inject-oracle-error")
    assert rc != 0
    assert out["correct"] is False
    assert out["failed"] >= 1
    assert any(ln.startswith("# FAILED runner.execute: n_dup_keys") for ln in lines)


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _latest_record(workload: str, trace: int) -> dict:
    d = os.path.join(inputs.WORK, "results")
    names = sorted(
        (n for n in os.listdir(d) if n.startswith(f"{workload}-s1-t{trace}-")),
        key=lambda n: os.path.getmtime(os.path.join(d, n)),
    )
    with open(os.path.join(d, names[-1])) as f:
        return json.load(f)
