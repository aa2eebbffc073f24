"""Smoke test of the benchmark runner at tiny sizes.

    python -m pytest perfbench/test_smoke.py -q

The traced runs check that every metric BENCHMARK.json names is emitted
with its unit (end-to-end numbers go to the results file in both modes,
per-layer numbers to the last stdout line with --trace 1). The gate tests
hand the correctness check a wrong table state and a wrong change feed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

SEED = 7


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int, scale: str = "tiny"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", "2", "--trace", str(trace)]
    if scale:
        cmd += ["--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_traced_run_emits_every_metric_with_its_unit(workload):
    spec = _spec()
    p = _run(ROOT, workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want

    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{SEED}-trace1.json")) as f:
        e2e = json.load(f)["end_to_end"]
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in e2e.items()} == want
    assert all(v["value"] > 0 for v in e2e.values())
    for name in want:
        assert f"  {name} = " in p.stdout


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "bulk-replay", trace=0, scale="")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.fixture(scope="module")
def reference(tmp_path_factory):
    from csv_cruncher_spark.cdc.fixtures import (
        ChangeLogSpec,
        generate_change_log,
        reference_fold,
    )

    d = tmp_path_factory.mktemp("log")
    paths = generate_change_log(
        ChangeLogSpec(n_urls=40, n_batches=3, events_per_batch=30, seed=5, out_dir=str(d))
    )
    return [reference_fold(paths[:k]) for k in range(len(paths) + 1)]


def test_gate_fails_on_a_wrong_table_state(reference):
    from gate import compare_state

    want = reference[-1]
    assert compare_state({u: dict(r) for u, r in want.items()}, want, "t") == []
    url = sorted(want)[0]
    wrong_text = {u: dict(r) for u, r in want.items()}
    wrong_text[url]["text"] += " "
    assert compare_state(wrong_text, want, "t")
    missing = {u: r for u, r in want.items() if u != url}
    assert compare_state(missing, want, "t")
    stale = {u: dict(r) for u, r in want.items()}
    stale[url]["warc_ts"] = "1999-01-01 00:00:00"
    assert compare_state(stale, want, "t")


def test_gate_fails_on_a_wrong_change_feed(reference):
    from gate import compare_feed, feed_diff

    want = feed_diff(reference[1], reference[3])
    rows = [{"url": u, "__op": op, "lang": lang, "text": text}
            for u, (op, lang, text) in want.items()]
    assert compare_feed(rows, want, "f") == []
    assert compare_feed(rows[1:], want, "f")
    flipped = [dict(rows[0], __op="D" if rows[0]["__op"] != "D" else "I")] + rows[1:]
    assert compare_feed(flipped, want, "f")
