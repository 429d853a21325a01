"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q

The tests that start Spark read the engine's sf0.1 tables
(``SPARK_GRAFT_SF_DIR``); the last ones run the benchmark end to end at its
real size and take a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import datagen, stats
from perfbench.probe import QueryProfile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_refuses_a_tail_with_fewer_than_ten_samples_beyond():
    with pytest.raises(ValueError):
        stats.percentile(range(99), 0.9)  # rank 90 of 99 leaves 9 above
    with pytest.raises(ValueError):
        stats.percentile([], 0.9)
    assert stats.percentile(range(100), 0.9) == 89  # leaves 10 above


def test_failures_count_exceptions_and_oracle_mismatches():
    checks = {"a": None, "b": "AssertionError: b: row count 3 != 4"}
    profiles = [
        QueryProfile("a"),
        QueryProfile("a", ok=False, error="RuntimeError: boom"),
        QueryProfile("b"),
        QueryProfile("b"),
    ]
    # b's check and both of its runs fail (wrong answer), a fails once.
    assert stats.count_failures(checks, profiles) == (6, 4)
    assert stats.count_failures({"a": None}, [QueryProfile("a")]) == (2, 0)


@pytest.fixture(scope="module")
def spark():
    from hpcc_platform_spark.session import get_spark

    session = get_spark("perfbench_selftest", cpus=2)
    yield session
    session.stop()


def test_replicated_inputs_keep_joins_inside_each_replica(tmp_path, spark):
    from hpcc_platform_spark.queries import REGISTRY
    from hpcc_platform_spark.session import DEFAULT_SF_DIR

    rep = str(tmp_path / "x16")
    datagen.make_replicated(DEFAULT_SF_DIR, rep, seed=5, factor=16)
    datagen.check_replicated(DEFAULT_SF_DIR, rep, 16)  # 16x rows, same schema

    join = REGISTRY["join_inner"].fn
    one, sixteen = join(spark, DEFAULT_SF_DIR).count(), join(spark, rep).count()
    assert one > 0
    assert sixteen == 16 * one


@pytest.mark.xfail(
    strict=True,
    reason="sessionize compares whole-second gaps; its oracle compares exact "
    "intervals, so a gap of 1800.5 s splits a session only in the oracle",
)
def test_sessionize_splits_on_a_gap_just_over_30_minutes(tmp_path, spark):
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from hpcc_platform_spark.queries import REGISTRY
    from hpcc_platform_spark.session import DEFAULT_SF_DIR
    from tests.helpers import assert_matches_oracle

    events = pq.read_table(os.path.join(DEFAULT_SF_DIR, "events.parquet")).slice(0, 2)
    t0 = events.column("ts")[0].value
    ts = pc.cast([t0, t0 + 1_800_500_000], events.schema.field("ts").type)
    events = events.set_column(events.schema.get_field_index("ts"), "ts", ts)
    events = events.set_column(
        events.schema.get_field_index("user_id"), "user_id", pc.cast([1, 1], "int64")
    )
    pq.write_table(events, tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    qd = REGISTRY["sessionize"]
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle, "sessionize")


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = _run(tmp_path, "--workload", "ecl", "--seed", "1", "--seconds", "1")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_output_carries_every_metric_with_its_unit(trace, key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m["unit"] for m in json.load(f)[key]}
    out = _run(
        ROOT, "--workload", "ecl", "--seed", "3", "--seconds", "1",
        "--trace", str(trace),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == spec
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
