"""Self-tests of the benchmark: BENCHMARK.json schema, a scale-0.001 smoke of
every workload, and proof that the output checks can fail.

Run from the repository root: python3 -m pytest perfbench/tests -q
The smoke tests start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [REPO, BENCH]

import live  # noqa: E402
import run  # noqa: E402
from layers import layer_totals, streaming_summary  # noqa: E402

SMOKE_SCALE = "0.001"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_schema():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in run.WORKLOADS
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def test_metric_names_match_what_the_code_emits():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    emitted = set(layer_totals())
    emitted |= {f"streaming.{k}" for k in streaming_summary([])}
    emitted |= {"session.get_spark_s", "session.jvm_peak_rss_mb", "trace.untraced_wall_s",
                "trace.traced_wall_s", "trace.overhead_frac"}
    assert {m["name"] for m in spec["per_layer"]} == emitted


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    """Run the benchmark at the smoke scale; returns (environment record, result)."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--scale", SMOKE_SCALE, *extra],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    record, out = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return record, out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced_run_of_every_workload(workload, tmp_path):
    spans = tmp_path / "spans.json"
    record, out = _run(workload, "--trace", "1", "--local1", "1", "--trace-out", str(spans))
    assert out["attempted"] > 0
    assert out["failed"] == 0 and out["correct"] is True
    assert set(out["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    assert out["metrics"]["trace.traced_wall_s"]["value"] > 0
    # every workload's consuming actions launch jobs: zero means the job meter lost them
    assert out["metrics"]["exec.jobs"]["value"] > 0
    assert record["local1"]["speedup"] > 0
    trace = json.loads(spans.read_text())
    names = {s["name"] for s in trace["spans"]}
    want = {"live", "build", "batch", "source", "sink"} if workload == "live_enrichment" \
        else {"pass", "query", "build", "plan", "exec", "release"}
    assert want <= names
    assert all(s["end"] >= s["start"] for s in trace["spans"])


def test_corrupted_reference_digest_is_counted_as_failure(tmp_path):
    with open(os.path.join(BENCH, f"reference_digests_sf{SMOKE_SCALE}.json")) as f:
        ref = json.load(f)
    ref["queries"]["q6_revenue_forecast"]["hash"] = "12345"
    bad = tmp_path / "bad_reference.json"
    bad.write_text(json.dumps(ref))
    _, out = _run("batch_relational", "--trace", "0", "--reference", str(bad))
    assert out["failed"] > 0 and out["correct"] is False
    assert {n: m["unit"] for n, m in out["metrics"].items()} == run.E2E_UNITS


def test_live_replay_enriches_purchases_only():
    ev = pd.DataFrame({"event_id": [0, 1, 2, 3, 4],
                       "user_id": [7, 7, 7, 8, 7],
                       "event_type": ["purchase", "signup", "view", "purchase", "purchase"],
                       "value": [1.0, 2.0, 3.0, 4.0, 5.0]})
    got = live.expected_output(ev)
    assert got.event_id.tolist() == [0, 3, 4]
    assert got.signup_event_id.tolist()[2] == 1 and got.signup_value.tolist()[2] == 2.0
    assert got.signup_event_id.isna().tolist()[:2] == [True, True]


def test_live_verification_counts_missing_duplicate_and_wrong_rows():
    expected = pd.DataFrame({"event_id": [1, 2, 3, 4],
                             "signup_event_id": [None, 0, 0, 5],
                             "signup_value": [None, 9.5, 9.5, 7.0]})
    assert live.verify(expected.copy(), expected) == 0
    emitted = pd.DataFrame({"event_id": [1, 2, 2, 4],  # 2 twice, 3 missing
                            "signup_event_id": [None, 0, 0, 6],  # 4 wrong
                            "signup_value": [None, 9.5, 9.5, 7.0]})
    assert live.verify(emitted, expected) == 3


def test_benchmark_refuses_to_run_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            with open(os.path.join(BENCH, name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch_relational",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout.strip() == ""
