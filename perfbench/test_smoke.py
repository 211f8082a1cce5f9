"""The benchmark's own test: smoke runs at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced. The last stdout line
must carry every metric BENCHMARK.json names, each with its unit, the
outputs must match the oracles, and the traced batch run must account
for every input row through the fight join.
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

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# per-layer counts that must be non-zero on the workload that runs them
OWN_LAYER = {"batch_night": ("route.routed_events", "runner.write_files",
                             "sessionize.fights", "aggregate.pulls_rows",
                             "operators.minhash_pairs",
                             "operators.simhash_pairs",
                             "operators.emb_pairs", "operators.jobs"),
             "live_feed": ("streaming.rows_in", "streaming.pulls_out",
                           "streaming.jobs")}


def _bench(cwd: str, workload: str, trace: int, smoke: bool = True,
           env: dict | None = None):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600, env=env)


def test_spec_matches_harness():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] \
        == run.PER_LAYER
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run(workload, trace):
    p = _bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0, p.stdout
    assert last["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = last["metrics"]
    assert {m["name"]: m["unit"] for m in spec} \
        == {k: v["unit"] for k, v in got.items()}
    for name, v in got.items():
        assert isinstance(v["value"], (int, float)), name
    if not trace:
        assert all(v["value"] > 0 for v in got.values()), got
        return
    for name in OWN_LAYER[workload]:
        assert got[name]["value"] > 0, name
    if workload == "batch_night":
        # the fight join neither drops nor duplicates events
        rows = got["sources.rows"]["value"]
        assert rows > 0
        assert got["grammar.rows_out"]["value"] == rows
        assert got["sessionize.assign_rows_out"]["value"] == rows


def test_fails_without_the_package(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: no result, exit != 0."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for rel in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, rel), tmp_path / rel,
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = _bench(str(tmp_path), WORKLOADS[0], 0, smoke=False, env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
