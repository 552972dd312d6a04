"""Self-tests of the gateway benchmark at scale 0.001.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixture, run  # noqa: E402
from perfbench.trace import PER_LAYER_UNITS  # noqa: E402

SF = 0.001
SECONDS = 20


@pytest.fixture(scope="module")
def spark():
    run._prepare_env()
    session, _ = run.start_spark()
    yield session
    run._stop_spark(session)


def _run(spark, capsys, workload, trace=False, rollup=True):
    fx = fixture.make_fixture(run.LAYOUT[workload], SF)
    bench = run.Bench(spark, workload, 3, SECONDS, trace, fx, rollup=rollup)
    result = run.execute(bench)
    final = run.report(bench, result, 0.0, 1)
    return bench, result, final, capsys.readouterr().out


@pytest.mark.parametrize("workload", sorted(run.RATE))
def test_every_metric_printed_with_unit(spark, capsys, workload):
    _, _, final, out = _run(spark, capsys, workload)
    assert final["correct"], out
    for name, unit in run.END_TO_END.items():
        assert f"metric {name} = " in out
        assert final["metrics"][name]["unit"] == unit
        assert final["metrics"][name]["value"] > 0
    for route in ("range", "instant", "export"):
        assert f"{route}_p50_ms " in out
        assert f"{route}_tail_ms " in out
    assert "failed_ratio 0.0000 ratio" in out
    json.dumps(final)


def test_corrupted_value_counts_as_failure(spark, capsys):
    bench, _, final, _ = _run(spark, capsys, "dashboard")
    assert final["failed"] == 0
    rec = next(r for r in bench.records if r["route"] == "range")
    body = json.loads(rec["body"])
    body["result"][0]["value"] += 1e-6 * abs(body["result"][0]["value"]) + 1e-3
    rec["body"] = json.dumps(body).encode()
    failures, _ = bench.check(None)
    assert len(failures) == 1 and "value at" in failures[0]


def test_rollup_off_trips_served_from_guard(spark, capsys):
    bench, _, final, out = _run(spark, capsys, "dashboard", rollup=False)
    guarded = [r for r in bench.records if r["route"] in ("range", "instant")]
    assert guarded and all(not r["ok"] for r in guarded)
    assert final["failed"] == len(guarded)
    assert "expected rollup*" in out and not final["correct"]


@pytest.mark.parametrize("workload", sorted(run.RATE))
def test_traced_run_prints_layers_and_overhead(spark, capsys, workload):
    _, _, final, out = _run(spark, capsys, workload, trace=True)
    assert final["correct"], out
    assert set(final["metrics"]) == set(PER_LAYER_UNITS)
    assert "metric trace.overhead_pct = " in out
    ratio = final["metrics"]["query.rollup_hit_ratio"]["value"]
    assert ratio == (1.0 if workload == "dashboard" else 0.0)
    assert final["metrics"]["spark.jobs"]["value"] > 0
