"""The benchmark's own tests. The smoke runs use ``--smoke``: a tiny input and
one repetition per workload, through the same output checks and, traced,
the same span file as a full run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _bench(*args: str, cwd: str = ROOT, timeout: int = 600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["backfill", "serve"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_checks_outputs_and_reports_every_metric(workload, trace):
    out = _bench("--workload", workload, "--seed", "5", "--seconds", "1",
                 "--trace", str(trace), "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    info, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, info
    assert info["host"]["nproc"] >= 1 and info["seed"] == 5
    assert info["named"]["failed_ratio"]["value"] == 0
    assert ("backfill_s" if workload == "backfill" else "fetch_p50_ms") in info["named"]
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == units
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
        return
    path = info["span_file"]
    try:
        recs = [json.loads(line) for line in open(path)]
    finally:
        os.remove(path)
    assert recs and all(
        {"id", "name", "parent", "run", "request", "start", "end"} <= set(r) for r in recs
    )
    ids = {r["id"] for r in recs}
    assert all(r["parent"] is None or r["parent"] in ids for r in recs)
    layers = {r["name"].split(".")[0] for r in recs}
    if workload == "backfill":
        assert {"sources", "sessionize", "groupby", "join"} <= layers
        assert result["metrics"]["groupby.self_s"]["value"] > 0
    else:
        assert {"sources", "upload", "online", "service"} <= layers
        assert result["metrics"]["service.spark_jobs_per_request"]["value"] > 0


def test_without_the_program_the_benchmark_fails_without_a_result():
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        out = _bench("--workload", "backfill", "--seed", "1", "--seconds", "1", "--trace", "0",
                     cwd=bare, timeout=120)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_oracle_compare_reports_a_leaked_or_missing_row():
    want = {("c", 1): {"t": 10, "prev_role": "user", "session_id": 0,
                       **{f: 1 for f in common.FEATURES}}}
    same = {("c", 1): [dict(want[("c", 1)])]}
    assert oracle.compare(want, same) == []
    leaked = {("c", 1): [dict(want[("c", 1)], turn_idx_count_1d=2)]}
    assert oracle.compare(want, leaked) == ["('c', 1).turn_idx_count_1d: got 2, want 1"]
    assert oracle.compare(want, {}) == ["('c', 1): 0 output rows, want 1"]


def test_request_plan_is_seeded_and_mixes_batches_into_single_lookups():
    pool = [f"conv_{i:06d}" for i in range(50)]
    a = common.RequestPlan(3, pool, 0)
    b = common.RequestPlan(3, pool, 0)
    reqs = [a.request(i) for i in range(2 * common.CYCLE)]
    assert reqs == [b.request(i) for i in range(2 * common.CYCLE)]
    assert [len(r) for r in reqs] == [1, 1, 1, common.BATCH_KEYS] * 2
    keys = [k for r in reqs for k in r]
    assert all(0 <= k["ts"] < common.DAY_MS for k in keys)
    assert any(k["conv_id"].startswith("conv_nohist_") for k in keys)
    assert reqs != [common.RequestPlan(4, pool, 0).request(i) for i in range(2 * common.CYCLE)]


def test_self_time_subtracts_direct_children():
    recs = [
        {"id": 1, "parent": None, "name": "join.part", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "groupby", "start": 1.0, "end": 7.0},
        {"id": 3, "parent": 2, "name": "groupby.exec", "start": 2.0, "end": 6.0},
    ]
    assert spans.self_times(recs) == {1: 4.0, 2: 2.0, 3: 4.0}
    assert spans.layer_self_s(recs, "groupby") == 6.0
    assert [s["id"] for s in spans.under(recs, "join.part")] == [2, 3]
