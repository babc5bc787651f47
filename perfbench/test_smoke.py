"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once with tracing on and checks that the output
checks pass, that the result line carries every per-layer metric of
BENCHMARK.json with its unit, that the detail line carries every
end-to-end metric (measured on the untraced passes) and the workload's
own figures, and that the span file holds a span for every layer the
workload calls.  Each run starts its own Spark session (one to two
minutes per workload on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# figures each workload prints for itself, and the layers it must reach
WORKLOAD_FIGURES = {
    "images_pipeline": ["images_per_s", "second_round_s", "stage_bytes_per_input_byte"]
    + ["pass_s", "op_p50_ms", "op_p90_ms", "peak_rss_mb"],
    "small_queries": ["small_query_p50_ms", "small_query_p90_ms"]
    + ["lsh_pairs_s", "dedup_cc_s", "simhash_pairs_s", "ann_pairs_s"]
    + ["pass_s", "op_p50_ms", "op_p90_ms", "peak_rss_mb"],
}
LAYERS_CALLED = {
    "images_pipeline": [
        "pipeline.run", "pipeline.checkpoint", "operators.dedupe", "operators.blocking",
        "operators.verify", "operators.connected_components", "operators.canonical",
        "operators.diagnostics", "operators.network",
    ],
    "small_queries": [
        "operators.dedupe", "operators.blocking", "operators.verify", "functions.vectors",
        "operators.connected_components", "operators.canonical",
    ],
}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_traced(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, proc.stderr[-3000:]
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert len(result["metrics"]) == len(SPEC["per_layer"])
    for m in SPEC["end_to_end"]:
        got = detail["end_to_end_untraced"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    for name in WORKLOAD_FIGURES[workload]:
        assert detail["metrics"][name]["value"] > 0, name

    with open(os.path.join(ROOT, detail["span_file"])) as f:
        spans = json.load(f)["spans"]
    layers = {s["layer"] for s in spans if s["pass"] is not None}
    for layer in LAYERS_CALLED[workload] + ["op"]:
        assert layer in layers, layer
    assert any(s["layer"] == "session" for s in spans)
    for s in spans:
        assert s["end"] >= s["start"] and s["self_s"] <= s["wall_s"] + 1e-6
    # the layer shares of an operation add up to its wall time
    for acc in detail["accounting"].values():
        assert abs(sum(acc["share_s"].values()) - acc["wall_s"]) < 1e-3 * max(acc["wall_s"], 1)
