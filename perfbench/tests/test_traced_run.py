"""End-to-end check of the traced run: every layer listed for a
workload records at least one span, and the last output line carries
every per-layer metric of BENCHMARK.json.  Starts one Spark session
per workload (about a minute each on four cores)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from workloads import WORKLOADS

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_run_records_every_layer(name):
    seed = 901
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"], p.stdout
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"] for m in bench["per_layer"]} <= set(last["metrics"])
    with open(os.path.join(PERFBENCH, ".work", "traces", f"{name}-{seed}.json")) as fh:
        spans = json.load(fh)["spans"]
    seen = {s["name"] for s in spans}
    missing = set(WORKLOADS[name].layers) - seen
    assert not missing, f"no span for {sorted(missing)}"
    assert "session.get_spark" in seen
    # every traced request is one root span with its request id
    roots = [s for s in spans if s["parent"] is None and s["request"] is not None]
    assert roots and all(s["name"] == "request" for s in roots)
