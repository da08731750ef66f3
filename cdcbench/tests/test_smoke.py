"""Smoke tests for the benchmark itself (not part of the engine's suite).

    python3 -m pytest cdcbench/tests -q -p no:cacheprovider

Every workload runs end to end at ``--smoke`` sizes, traced and
untraced: the result line must name every metric of BENCHMARK.json with
its unit and pass every oracle. The negative test removes one row from
a drained table and expects the final-table gate to fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, *BENCH["command"][1:]), "--workload", workload,
         "--seed", "3", "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name


def test_missing_row_trips_the_gate(tmp_path):
    sys.path[:0] = [ROOT, os.path.join(ROOT, "cdcbench")]
    import feeds
    import workloads
    from nifi_spark.session import get_spark
    from nifi_spark.streaming.job import CdcPipeline

    spark = get_spark("cdcbench-test", cores=2)
    try:
        feed = feeds.build_feed(feeds.FeedSpec(n_events=300, n_files=2), 5, str(tmp_path / "feed"))
        workloads.pin_mtimes(feed)
        pipe = CdcPipeline(spark, str(tmp_path / "table"), str(tmp_path / "ckpt"),
                           n_buckets=4, from_json_payload=True, sink_mode="append")
        workloads.drain(pipe, feed.path)
        oracle = feeds.lww_fold(feed)
        res = workloads.Result()
        workloads.check_final_table(res, pipe.table, oracle)
        assert res.failed == 0, res.failures

        # one more feed file deletes one live row through the engine's own path
        victim = oracle.iloc[0]
        seq = int(feed.events["seq"].max()) + 1
        payload = (f'{{"type":"D","timestamp":"2030-01-01T00:00:00.000000Z","seq":{seq},'
                   f'"conv_id":"{victim.conv_id}","turn_idx":{int(victim.turn_idx)}}}')
        spark.createDataFrame([(payload, "binlog.999999", 0)],
                              "payload_json string, source_file string, source_pos long") \
            .coalesce(1).write.parquet(str(tmp_path / "extra"))
        extra = next(f for f in os.listdir(tmp_path / "extra") if f.endswith(".parquet"))
        os.replace(tmp_path / "extra" / extra, os.path.join(feed.path, "part-999999.parquet"))
        workloads.drain(pipe, feed.path)

        res = workloads.Result()
        workloads.check_final_table(res, pipe.table, oracle)
        assert res.failed == 1 and "final_table" in res.failures[0]
    finally:
        spark.stop()


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", str(BENCH["run_seconds"]), "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
