"""Smoke test of the benchmark itself, at scale 0.001 (about half a minute).

    python3 -m pytest -q perfbench/test_smoke.py

Runs both workloads once, side by side, for one second each: ``headline``
untraced and ``odata_mix`` traced with a planted wrong expected result. It
asserts that every metric ``BENCHMARK.json`` names is printed with its
unit, and that the planted mismatch is counted as a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _start(workload: str, trace: int, *extra: str) -> subprocess.Popen:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEMORY="1g")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.001", *extra]
    return subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)


def _result(proc: subprocess.Popen) -> dict:
    out, _ = proc.communicate(timeout=170)
    assert proc.returncode == 0, out
    return json.loads(out.strip().splitlines()[-1])


def test_metrics_printed_and_planted_mismatch_counted():
    sys.path.insert(0, HERE)
    import datagen

    # generate once up front so the two runs below only read the data
    datagen.ensure(0.001)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    untraced = _start("headline", 0)
    traced = _start("odata_mix", 1, "--plant-mismatch")
    plain, planted = _result(untraced), _result(traced)

    for result, names in ((plain, spec["end_to_end"]), (planted, spec["per_layer"])):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert set(result["metrics"]) == {m["name"] for m in names}
        for m in names:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"], m["name"]
            assert isinstance(got["value"], (int, float)), m["name"]

    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] > 0
    assert not planted["correct"] and planted["failed"] == 1
