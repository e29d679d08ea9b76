"""Tests of the benchmark itself, at a tiny scale.

    python3 -m pytest perfbench/tests -q

Each workload runs in-process at sf0.001 (and one diagnosis code per
category for the sheets) with one session set-up, through the same
``main`` the command uses.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402
import sheets  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("serve_headline", "llm_batch_cold", "etl_refresh")


@pytest.fixture(autouse=True)
def tiny(monkeypatch, tmp_path):
    monkeypatch.setattr(workloads.ServeHeadline, "sf", 0.001)
    monkeypatch.setattr(workloads.LlmBatchCold, "sf", 0.001)
    monkeypatch.setattr(workloads.EtlRefresh, "diag_per_category", 1)
    monkeypatch.setattr(run, "SETUPS", 1)
    monkeypatch.chdir(tmp_path)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(var, raising=False)  # main() sets them; restored after


def bench(capsys, workload: str, trace: int, seed: int = 5) -> tuple[int, dict]:
    code = run.main(["--workload", workload, "--seed", str(seed), "--seconds", "0", "--trace", str(trace)])
    out = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(out[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(capsys, workload):
    code, res = bench(capsys, workload, 0)
    assert code == 0
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_corrupted_result_is_caught():
    cols = ["category", "separations"]
    rows = [("Injury", 12.0), ("Cancer", 7.0)]
    wl = object.__new__(workloads.EtlRefresh)
    good = {"op": "a", "kind": "read", "name": "x", "expected": check.digest(cols, rows),
            "result": (cols, list(reversed(rows)))}
    bad = {"op": "b", "kind": "read", "name": "x", "expected": check.digest(cols, rows),
           "result": (cols, [("Injury", 12.0), ("Cancer", 7.5)])}
    wl.verify([good, bad])
    assert good["ok"] and not bad["ok"]

    q = object.__new__(workloads.LlmBatchCold)
    q.expected = {}
    first = {"op": "c", "kind": "query", "name": "simhash_dup_clusters", "result": (cols, rows)}
    again = {"op": "d", "kind": "query", "name": "simhash_dup_clusters", "result": (cols, rows[:1])}
    q.verify([first, again])
    assert first["ok"] and not again["ok"]


def test_inputs_are_byte_identical_per_seed(tmp_path):
    a = sheets.Batch(3, 1, 2020, 2)
    b = sheets.Batch(3, 1, 2020, 2)
    c = sheets.Batch(4, 1, 2020, 2)
    assert repr(a.sheets) == repr(b.sheets) and a.records == b.records
    assert repr(a.sheets) != repr(c.sheets)

    def files(seed, name):
        corpus.write(str(tmp_path / name), seed, 0.001)
        return {t: (tmp_path / name / f"{t}.parquet").read_bytes() for t in corpus.TABLES}

    assert files(3, "a") == files(3, "b") != files(4, "c")


def _counts(capsys, workload: str) -> dict:
    code, res = bench(capsys, workload, 1)
    assert code == 0 and res["correct"]
    keys = ("scheduler.jobs_per_op", "scheduler.stages_per_op", "scheduler.tasks_per_op",
            "shuffle.write_bytes", "shuffle.read_bytes", "txlog.stored_bytes_per_row",
            "sheet_ingest.rows_out", "txlog.files_added", "txlog.files_removed")
    return {k: res["metrics"][k]["value"] for k in keys}


@pytest.mark.parametrize("workload", ["llm_batch_cold", "etl_refresh"])
def test_single_client_counts_repeat(capsys, workload):
    first = _counts(capsys, workload)
    assert first == _counts(capsys, workload)
