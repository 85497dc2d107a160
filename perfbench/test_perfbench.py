"""Self-tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench -q

Each test drives ``run.main`` in-process (each call starts and stops
its own JVM) and reads the JSON line it prints.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import run
import workloads

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(autouse=True)
def tiny(monkeypatch, tmp_path):
    # counts pinned in expected.json are for the benchmark's own sizes
    monkeypatch.setattr(run, "EXPECTED", tmp_path / "expected.json")
    monkeypatch.setattr(workloads.DedupSkewed, "n_docs", 1_500)
    monkeypatch.setattr(workloads.LinkFiltered, "n_docs", 1_500)
    monkeypatch.setattr(workloads.NearDupText, "n_sources", 100)


def result_of(capsys, workload: str, trace: int) -> dict:
    code = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace)])
    assert code == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def assert_all_printed(result: dict, declared: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    printed = {name: m["unit"] for name, m in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_end_to_end_metrics_printed_with_units(capsys, workload):
    result = result_of(capsys, workload, trace=0)
    assert_all_printed(result, BENCH["end_to_end"])
    values = {n: m["value"] for n, m in result["metrics"].items()}
    assert values["ok_frac"] == 1.0
    assert all(values[n] > 0 for n in values)


def layers_of(capsys, workload: str) -> dict:
    result = result_of(capsys, workload, trace=1)
    assert_all_printed(result, BENCH["per_layer"])
    return {n: m["value"] for n, m in result["metrics"].items()}


def test_dedup_skewed_routes(capsys):
    m = layers_of(capsys, "dedup_skewed")
    assert m["grouped_scored_pairs.pairs"] > 0
    assert m["candidate_pairs.pairs"] == 0
    assert m["greedy_one_to_one.in"] == 0
    assert m["connected_components.edges"] > 0
    assert m["connected_components.distributed"] == 0
    # the distributed-route probe ran on the same graph and agreed
    assert m["connected_components_distributed.edges"] == m["connected_components.edges"]
    assert m["connected_components_distributed.nodes"] == m["connected_components.nodes"]
    assert m["split_clique_members.clusters"] > 0
    assert m["kernel_jw.pairs_per_s"] > 0 and m["kernel_date.pairs_per_s"] > 0
    assert m["trace.run_s_traced"] > 0 and m["trace.layer_sum_ratio"] > 0


def test_link_filtered_routes(capsys):
    m = layers_of(capsys, "link_filtered")
    assert m["candidate_pairs.pairs"] > 0
    assert 0 < m["candidate_pairs.keep_ratio"] < 1
    assert m["grouped_scored_pairs.wall_s"] == 0
    assert m["greedy_one_to_one.in"] == m["scored_pairs.pairs"] > 0
    assert m["connected_components.wall_s"] == 0
    # the near-dup text probe: signatures for the docs with shingles,
    # every doc (empty windows too) in the groups
    assert m["minhash_signatures.docs"] > 0
    assert m["minhash_lsh_pairs.pairs"] > 0
    assert m["groups_from_pairs.docs"] >= m["minhash_signatures.docs"]


def test_link_filtered_counts_scored_pairs_before_the_prune(capsys):
    result = result_of(capsys, "link_filtered", trace=0)
    assert result["correct"] is True
    inputs = workloads.LinkFiltered().generate(3)
    # pairs_per_s divides the scored pairs the run counted, which
    # Session.check compared with this input-derived count
    run_s = result["metrics"]["run_s"]["value"]
    pairs = result["metrics"]["pairs_per_s"]["value"] * run_s
    assert round(pairs) == inputs.oracle["scored_pairs"]


def test_dedup_skewed_hot_block_is_salted_at_benchmark_size(monkeypatch):
    monkeypatch.undo()  # the benchmark's own size, not the tiny one
    inputs = workloads.DedupSkewed().generate(1)
    blocks = inputs.frames["docs"]["blk"].value_counts()
    # only the hot block takes the salted cells
    assert blocks.iloc[0] > workloads.DedupSkewed.salt_threshold > blocks.iloc[1]


def test_generators_are_seeded():
    wl = workloads.NearDupText()
    a, b, c = wl.generate(1), wl.generate(1), wl.generate(2)
    assert a.frames["docs"].equals(b.frames["docs"]) and a.gold == b.gold
    assert not a.frames["docs"].equals(c.frames["docs"])


def test_near_dup_text_plants_groups_of_several_sizes():
    inputs = workloads.NearDupText().generate(1)
    docs = inputs.frames["docs"]
    sizes = docs.groupby("text").size()
    assert {1, 2, 3, 4} <= set(sizes)  # the copy count varies per source
    assert (docs["text"] == "").any()  # short sources leave empty windows
    # every planted pair is a pair of identical texts
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert all(text[a] == text[b] for a, b in inputs.gold)


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_skewed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
