"""The benchmark's own tests: seeded inputs are reproducible, emitted metric
names match BENCHMARK.json, every workload runs end to end at toy size,
and a directory without the engine is refused.

    python3 -m pytest perfbench/tests -q
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

from perfbench import common, gen, run, wl_curate, wl_ingest, wl_mix  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(d: str, seed: int) -> dict[str, str]:
    gen.stage_backlog(os.path.join(d, "events"), seed, 1_700_000_000_000, 3, 50)
    gen.write_curate_inputs(os.path.join(d, "corpus"), seed, 60, 40, 4)
    gen.write_mix_inputs(os.path.join(d, "tables"), seed, 0.001)
    return _digest(d)


def test_same_seed_same_bytes_new_seed_new_bytes(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    c = _inputs(str(tmp_path / "c"), 8)
    assert a == b
    assert a.keys() == c.keys()
    # region/nation are fixed dimension tables; everything else is seeded
    changed = {k for k in a if a[k] != c[k]}
    assert changed >= set(a) - {"tables/region.parquet", "tables/nation.parquet"}


def test_planted_ground_truth_is_consistent():
    cols, truth = gen.corpus(3, 200)
    text = dict(zip(cols["doc_id"].tolist(), cols["text"]))
    for g in truth["exact_groups"]:
        assert len({text[x].strip() for x in g}) == 1
    for c in truth["near_clusters"]:
        base = text[c["members"][0]]
        for m, j in zip(c["members"][1:], c["jaccard"]):
            assert j == round(gen.jaccard(base, text[m]), 4)
            assert 0.6 < j < 1.0
    _, _, top = gen.embeddings(3, 50, 5)
    assert all(len(v) == 10 for v in top.values())


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


@pytest.fixture
def toy_sizes(monkeypatch):
    monkeypatch.setattr(wl_ingest, "RATE", 200)
    monkeypatch.setattr(wl_ingest, "BACKLOG_S", 5)
    monkeypatch.setattr(common, "SCAN_REPS", 1)
    monkeypatch.setattr(wl_curate, "N_BASE_DOCS", 150)
    monkeypatch.setattr(wl_curate, "N_VECTORS", 200)
    monkeypatch.setattr(wl_curate, "N_QUERIES", 10)
    monkeypatch.setattr(wl_mix, "SF", 0.002)


@pytest.mark.parametrize("workload,trace", [
    ("ingest_ad_events", 0), ("curate_corpus", 1), ("analytics_mix", 0)])
def test_toy_run(workload, trace, toy_sizes, capsys):
    rc = run.main(["--workload", workload, "--seed", "1", "--seconds", "2",
                   "--trace", str(trace)])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0, last
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    names = run.PER_LAYER if trace else run.E2E
    assert set(last["metrics"]) == set(names)
    assert all(isinstance(m["value"], float) for m in last["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, run.WORK_DIR))


def test_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
