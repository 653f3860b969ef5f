"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload is run traced twice on one seed, from the root of the
repository, the way the benchmark is meant to be run. Counts taken at the
layer boundaries (py4j calls, Spark jobs and tasks, snapshot commits,
snapshot directories) must repeat exactly; the span file of the run must
form the tree the README describes. About five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SECONDS = 2

# expected parent of each span name, per workload
PARENTS = {
    "daily_backfill": {
        "pipeline.create_tables": "daily_backfill.run_for_date",
        "pipeline.load_to_staging": "daily_backfill.run_for_date",
        "pipeline.run_dq_check": "daily_backfill.run_for_date",
        "pipeline.promote": "daily_backfill.run_for_date",
        "pipeline.drop_staging": "daily_backfill.run_for_date",
        "pipeline.cumulate_day": "daily_backfill.run_for_date",
        "sources.stock_api.fetch_bars": "pipeline.load_to_staging",
        "sources.stock_api.bars_to_df": "pipeline.load_to_staging",
        "operators.dq.dq_checks": "pipeline.run_dq_check",
        "operators.cumulate.cumulate": "pipeline.cumulate_day",
    },
    "mixed_passes": {"sources.snapshots.commit": "mixed_passes.snapshot_stream"},
}


def _run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_out", f"trace-{workload}-{SEED}.json")) as f:
        return result, json.load(f)


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def two_runs(request):
    return request.param, _run(request.param), _run(request.param)


def test_result_line_has_every_layer_metric(two_runs):
    _, (result, _), _ = two_runs
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(workloads.LAYER_METRICS)


def test_counts_repeat_exactly(two_runs):
    workload, (first, _), (second, _) = two_runs
    counts = [k for k, u in workloads.LAYER_METRICS.items() if u == "count"]
    a = {k: first["metrics"][k]["value"] for k in counts}
    b = {k: second["metrics"][k]["value"] for k in counts}
    assert a == b
    exercised = {
        "daily_backfill": ["pipeline.py4j_calls", "pipeline.jobs", "pipeline.tasks"],
        "mixed_passes": [
            "streaming.batches",
            "sources.snapshots.commits",
            "sources.snapshots.head_dirs",
            "sources.snapshots.py4j_calls_per_batch",
            *[
                f"{m}.{k}"
                for m in ("plans.tpch_suite", "plans.relational_ext", "plans.llm_queries")
                for k in ("build_py4j_calls", "action_jobs", "tasks")
            ],
        ],
    }[workload]
    assert all(a[k] > 0 for k in exercised), a


def test_span_tree_nests(two_runs):
    workload, (_, trace), _ = two_runs
    spans = {s["id"]: s for s in trace["spans"]}
    assert spans
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is None:
            continue
        parent = spans[s["parent"]]
        assert parent["start"] <= s["start"] and s["end"] <= parent["end"], (s, parent)
        assert s["op"] == parent["op"]
        want = PARENTS[workload].get(s["name"])
        if want is not None:
            assert parent["name"] == want, (s["name"], parent["name"])
    names = {s["name"] for s in spans.values()}
    assert set(PARENTS[workload]) <= names
    if workload == "mixed_passes":
        # foreachBatch runs on a py4j callback thread, not the driver's
        commits = [s for s in spans.values() if s["name"] == "sources.snapshots.commit"]
        assert all(c["thread"] != spans[c["parent"]]["thread"] for c in commits)
        assert set(Counter(c["parent"] for c in commits).values()) == {workloads.STREAM_FILES}
    for name, self_s in trace["self_s"].items():
        total = sum(s["end"] - s["start"] for s in spans.values() if s["name"] == name)
        assert -1e-9 <= self_s <= total + 1e-9, name
