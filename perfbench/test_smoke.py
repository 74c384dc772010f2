"""Smoke test of the benchmark at sf0.001.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced, and checks that the
last line of output names every metric of ``BENCHMARK.json`` with its
unit, that every key matched its oracle, that the traced task totals
agree with Spark's executor summary, and that a directory holding only
the benchmark fails without printing a result. Also checks that the
stage reader counts a stage that a later job re-uses once. Takes a few
minutes: each run starts its own Spark sessions.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_prints_every_metric(workload: str, trace: int) -> None:
    res = _run(ROOT, workload, trace)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, res.stdout
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in out["metrics"].items()
    }
    assert all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())
    assert "stats mismatch:" not in res.stdout
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_job_stats_count_a_reused_stage_once(tmp_path) -> None:
    """A job that starts while another job holding the same finished
    map stage still runs re-uses that stage's id; the status listener
    then records the stage as skipped, over its completed record."""
    sys.path.insert(0, HERE)
    from layers import SUMMARY_FIELDS, JobStats
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        sc, stats = spark.sparkContext, JobStats(spark)
        stats.settle()
        before, first = stats.summary(), stats.next_job_id()
        sums = sc.parallelize(range(1000), 4).map(lambda x: (x % 7, x)).reduceByKey(lambda a, b: a + b, 3)
        slow = threading.Thread(target=sums.map(lambda kv: (time.sleep(1), kv)[1]).collect)
        slow.start()
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            job = sc.statusTracker().getJobInfo(first)
            stage = job and sc.statusTracker().getStageInfo(min(job.stageIds))
            if stage and stage.numCompletedTasks == 4:
                break
            time.sleep(0.05)
        sums.collect()  # the map stage is finished and still held by the slow job
        slow.join(timeout=60)
        assert not slow.is_alive()
        end = stats.next_job_id()
        stats.settle()
        got, after = stats.read(first, end), stats.summary()
    finally:
        spark.stop()
    assert got["spark.jobs"] == 2
    assert got["spark.stages"] == 3  # the map stage once, two result stages
    assert got["spark.tasks"] == 4 + 3 + 3
    assert got["bytes.shuffle_write"] > 0
    for name in SUMMARY_FIELDS:
        assert got[name] == after[name] - before[name], name


def test_fails_without_the_program(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert res.returncode != 0
    assert res.stdout.strip() == ""
