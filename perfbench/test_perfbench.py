"""The benchmark's own tests: seeded inputs, the oracle gate, the metric
names against BENCHMARK.json, and the failure outside a full checkout.

    python -m pytest perfbench -q

``test_quick_run_prints_benchmark_metrics`` starts Spark twice on tiny
inputs (``--scale``) and takes a few minutes; the rest take seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import harness, oracle, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _read_bytes(paths: list[str]) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes(tmp_path, name):
    wl = workloads.WORKLOADS[name]
    a = workloads.input_files(str(tmp_path / "a"), wl, seed=5, scale=0.05)
    b = workloads.input_files(str(tmp_path / "b"), wl, seed=5, scale=0.05)
    c = workloads.input_files(str(tmp_path / "c"), wl, seed=6, scale=0.05)
    assert len(a) == wl.files
    assert _read_bytes(a) == _read_bytes(b)
    assert _read_bytes(a) != _read_bytes(c)
    assert sum(len(pd.read_parquet(p)) for p in a) == int(wl.turns * 0.05)


def test_synthetic_dim_is_seeded_and_production_sized():
    dim = workloads.synthetic_dim(3)
    assert dim == workloads.synthetic_dim(3)
    assert dim != workloads.synthetic_dim(4)
    assert len(oracle.normalize_keywords(dim)) == workloads.BIG_DIM_SIZE


def _oracle_case():
    wl = workloads.WORKLOADS["markup_dirty"]
    df = workloads.generate(wl.mix, 40, seed=9)
    kws = oracle.normalize_keywords(wl.keywords(9))
    rows = oracle.expect_turns(list(df["text"]), kws)
    keys = list(zip(df["conv_id"], df["turn_idx"].astype(int)))
    expected = dict(zip(keys, rows))
    actual = pd.DataFrame(
        [
            (c, t, e[0], e[1], e[2], e[3],
             [{"keyword": k, "start": s, "end": n} for k, s, n in e[4]])
            for (c, t), e in expected.items()
        ],
        columns=["conv_id", "turn_idx", "clean_text", "status", "passes", "quality", "spans"],
    )
    return expected, actual


def _wrong(expected, actual) -> int:
    return oracle.compare(expected, actual)[0]


def test_oracle_gate_counts_each_wrong_turn():
    expected, actual = _oracle_case()
    assert any(e[4] for e in expected.values()), "the case must carry spans"
    assert oracle.compare(expected, actual) == (0, 0)

    bad = actual.copy()
    bad.loc[3, "clean_text"] = bad.loc[3, "clean_text"] + "x"
    assert _wrong(expected, bad) == 1
    assert _wrong(expected, bad) / len(expected) > 0

    shifted = actual.copy()
    shifted.loc[1, "quality"] = shifted.loc[1, "quality"] + 1e-6
    assert _wrong(expected, shifted) == 1

    with_spans = actual.copy()
    i = next(i for i, s in enumerate(with_spans["spans"]) if s)
    with_spans.at[i, "spans"] = with_spans.at[i, "spans"][1:]
    assert _wrong(expected, with_spans) == 1

    assert _wrong(expected, actual.drop(index=0)) == 1
    assert _wrong(expected, pd.concat([actual, actual.iloc[[2]]])) == 1


def test_rounding_tie_is_reported_not_failed():
    # unrounded quality 98.025 (stored as 98.0250000000000057): round()
    # gives 98.03, half-even on the decimal repr gives 98.02
    text = "\n".join([
        "proba răspuns signală text întrebare ședință signală extras",
        "reclamant da dosar pentru reclamant contract cuvant către pe nu aliniat ana din către ședință și",
        "extras mediu factura civilă decizie o rand legală judecator",
        "inscris cu dar termen de cerere foarte de cuvant este răspuns are are răspuns aliniat recurs",
        "hotarare către cuvant decizie proba proba care aliniat care pere pagina rand legală text către sunt",
        "factura ședință juridică penală pere la pere dar bloc martor dosar valoare 1, 4% din total",
    ])
    [row] = oracle.expect_turns([text], [])
    assert (row[3], row[5]) == (98.03, 98.02)
    key = ("c", 0)
    actual = pd.DataFrame(
        [("c", 0, row[0], row[1], row[2], row[5], [])],
        columns=["conv_id", "turn_idx", "clean_text", "status", "passes", "quality", "spans"],
    )
    assert oracle.compare({key: row}, actual) == (0, 1)
    actual.loc[0, "quality"] = row[5] + 0.02
    assert oracle.compare({key: row}, actual) == (1, 0)


def test_metric_tables_match_benchmark_json():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == harness.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)


def test_tail_needs_ten_samples_beyond():
    assert harness.tail([1.0] * 10) is None
    p, v = harness.tail([float(i) for i in range(20)])
    assert p == 50.0 and v == 10.0
    p, v = harness.tail([float(i) for i in range(100)])
    assert p == 90.0 and v == 90.0


def test_own_operators_skips_cached_subtrees():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- MapInPandas run",
        "   +- InMemoryTableScan [a]",
        "         +- InMemoryRelation [a], StorageLevel(disk, memory)",
        "               +- Exchange RoundRobinPartitioning(4)",
        "                  +- FileScan parquet",
        "+- Exchange hashpartitioning(a, 4)",
    ])
    ops = harness.own_operators(plan)
    assert sum("Exchange" in ln for ln in ops) == 1
    assert any("InMemoryRelation" in ln for ln in ops)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".inputs", ".work", ".traces", "__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "markup_dirty",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize(
    "workload,trace,section",
    [("chat_mixed", 0, "end_to_end"), ("incremental_commit", 1, "per_layer")],
)
def test_quick_run_prints_benchmark_metrics(workload, trace, section):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in _benchmark_json()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    table = p.stdout
    for name in want:
        assert name in table
