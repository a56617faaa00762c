"""Smoke test for the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Run from the repository root. Each workload in BENCHMARK.json runs end to
end (warm-up, the fixed timed passes, verification) on tiny inputs, on two
seeds untraced and on one traced. Every run must be correct, print every
named metric with its unit, and time as many ops as every other run of its
workload.
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

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_runs_are_correct_complete_and_fixed_work(workload):
    attempted = set()
    for seed, trace in ((7, 0), (8, 0), (7, 1)):
        proc = _run(ROOT, "--workload", workload, "--seed", str(seed),
                    "--seconds", str(SPEC["run_seconds"]), "--trace",
                    str(trace), "--tiny")
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, \
            proc.stdout[-3000:]
        want = SPEC["per_layer" if trace else "end_to_end"]
        assert {k: v["unit"] for k, v in result["metrics"].items()} == \
            {m["name"]: m["unit"] for m in want}
        values = {k: v["value"] for k, v in result["metrics"].items()}
        assert all(isinstance(v, (int, float)) for v in values.values())
        assert f"timed_ops {result['attempted']}" in lines
        attempted.add(result["attempted"])
        if trace:
            # the workloads' roles: only sentiment_tweets crosses into
            # Python, only catalog_queries broadcasts and iterates
            sentiment = workload == "sentiment_tweets"
            assert (values["python.udf_s"] > 0) == sentiment
            assert (values["sql.broadcasts"] > 0) != sentiment
            assert (values["components.cc_s"] > 0) != sentiment
            assert values["spark.jobs"] > 0
            assert values["spark.executor_run_s"] > 0
            assert os.path.isfile(os.path.join(
                ROOT, ".perfbench_trace", f"spans-{workload}-{seed}.json"))
    assert len(attempted) == 1


def test_missing_engine_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_inputs_are_seeded_with_fixed_row_counts(tmp_path):
    import gen

    def generate(seed, sub):
        d = tmp_path / sub
        d.mkdir()
        counts = gen.tweets_csv(ROOT, str(d / "t.csv"), 300, seed)
        counts.update(gen.catalog_tables(str(d), 0.001, seed))
        return counts, {p.name: p.read_bytes() for p in sorted(d.iterdir())}

    counts, first = generate(3, "a")
    assert (counts, first) == generate(3, "b")
    other_counts, other = generate(4, "c")
    assert other_counts == counts
    assert other != first


def test_timed_passes_depend_on_seconds_only():
    from workloads import PASS_S, timed_passes

    assert timed_passes(1) == 2
    assert timed_passes(SPEC["run_seconds"]) == 2
    assert timed_passes(4 * PASS_S) == 4


def test_parse_metric():
    from layers import parse_metric

    assert parse_metric("713 ms") == pytest.approx(0.713)
    assert parse_metric("1035.7 KiB") == pytest.approx(1035.7 * 1024)
    assert parse_metric("15,000") == 15000
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.1 s (0 ms, 1 ms, 1.8 s (stage 3.0: task 5))") == 2.1


def test_uncovered_interval():
    from layers import _uncovered

    assert _uncovered(0, 10, []) == 10
    assert _uncovered(0, 10, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4)
