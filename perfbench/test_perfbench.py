"""The benchmark's own tests: a tiny-size run of each workload, a wrong
output for each gate to catch, and the phase split of traced runs.

    python -m pytest perfbench/test_perfbench.py -q

They start Spark (local mode) and take a few minutes; they are not part
of the repository's tests/ tiers.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import harness  # noqa: E402
import ticks  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(harness.REPO, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """A tiny-size run.py process; returns its result line and record."""
    pattern = os.path.join(BENCH, ".work", "records", f"{workload}-seed7-trace{trace}-*.json")
    before = set(glob.glob(pattern))
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=harness.REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [path] = set(glob.glob(pattern)) - before
    with open(path) as fh:
        return json.loads(proc.stdout.strip().splitlines()[-1]), json.load(fh)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_prints_every_end_to_end_metric(workload):
    result, record = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert record["op_fail_ratio"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_phases_sum_to_operation_wall_time(workload):
    result, record = _run(workload, 1)
    assert result["correct"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert record["per_op"]
    # tasks are attributed to timed operations only: they fit the slots
    assert 0 < result["metrics"]["spark.slot_util"]["value"] <= 1.0
    for op in record["per_op"]:
        assert abs(op["phase_sum_s"] - op["wall_s"]) <= 0.05 * op["wall_s"], op
        assert op["jobs"] >= 1, op


def test_phases_split_build_plan_job_gap():
    # build ends at 1.0; the job at 0.5-0.8 is an eager constructor job
    ph = eventlog.phases(0.0, 1.0, 5.0, [(0.5, 0.8), (1.5, 2.0), (1.8, 2.5), (3.0, 4.0)])
    assert ph == {"build_s": 1.0, "plan_s": 0.5, "job_s": 2.0, "gap_s": 1.5}
    assert eventlog.phases(0.0, 1.0, 2.0, []) == {
        "build_s": 1.0, "plan_s": 1.0, "job_s": 0.0, "gap_s": 0.0}


def test_peak_heap_reads_occupancy_after_each_collection_in_the_window(tmp_path):
    (tmp_path / "gc.log").write_text(
        "[0.010s][info][gc] Using G1\n"
        "[0.512s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 102M->14M(2048M) 3.1ms\n"
        "[0.900s][info][gc] GC(1) Pause Young (Concurrent Start) (G1 Humongous Allocation) "
        "1G->300M(2048M) 9.0ms\n"
        "[0.950s][info][gc] GC(2) Concurrent Mark Cycle\n"
        "[1.200s][info][gc] GC(2) Pause Remark 310M->2048K(2048M) 1.0ms\n")
    assert harness.peak_heap_after_gc_mb(str(tmp_path), 0.0, 2.0) == 300
    # only collections inside the timed window count
    assert harness.peak_heap_after_gc_mb(str(tmp_path), 0.0, 0.6) == 14
    assert harness.peak_heap_after_gc_mb(str(tmp_path), 1.0, 2.0) == 2
    with pytest.raises(RuntimeError):
        harness.peak_heap_after_gc_mb(str(tmp_path), 1.3, 2.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = harness.start_session(str(tmp_path_factory.mktemp("spark")), False)
    yield session
    session.stop()


def test_query_gate_catches_a_wrong_result(spark, tmp_path):
    import __spark_entry__ as contract

    sf = workloads.contract_fixtures(str(tmp_path / "sf"), 7)
    queries, oracles = contract.queries(), contract.oracle_sql()
    right = queries["tpch_q6"]

    def doubled(s, d):
        df = right(s, d)
        return df.withColumn(df.columns[0], df[df.columns[0]] * 2)

    def one_row_short(s, d):
        return queries["hourly_ohlc"](s, d).orderBy("symbol", "bucket_start").offset(1)

    gate = workloads.query_gate(spark, sf, {"tpch_q6": right}, oracles)
    assert gate == {"tpch_q6": True}
    gate = workloads.query_gate(
        spark, sf, {"tpch_q6": doubled, "hourly_ohlc": one_row_short}, oracles)
    assert gate == {"tpch_q6": False, "hourly_ohlc": False}


def test_tick_gate_catches_each_wrong_output(spark, tmp_path):
    from financial_data_ingestion_pipeline_spark.operators import warehouse

    drop = ticks.generate(str(tmp_path / "drop"), 7, **workloads.TINY_DROP)
    ctx = harness.Context("tick_etl", 7, False, str(tmp_path), spark=spark,
                          tracer=harness.Tracer())
    out = workloads.tick_pass(ctx, drop, str(tmp_path / "out"))
    assert all(workloads.tick_gate(spark, drop, out).values())

    def without_one_file(path):
        copy = str(tmp_path / f"copy-{os.path.basename(path)}")
        shutil.copytree(path, copy)
        os.remove(sorted(workloads._part_files(copy))[0])
        return copy

    reports = out["reports"]
    wrong_mv = str(tmp_path / "wrong_mv")
    warehouse.snapshot_commit(
        warehouse.read_snapshot(spark, out["mv"]).selectExpr(
            "symbol", "bucket_start", "open", "high", "low", "close + 0.01 AS close",
            "first_ts", "last_ts", "n_ticks"), wrong_mv)
    mutations = {
        "warehouse_rows": {"warehouse": without_one_file(out["warehouse"])},
        "invalid_values_report": {"reports": {
            **reports, "invalid_values": reports["invalid_values"].limit(1)}},
        "missing_tickers_report": {"reports": {
            **reports, "missing_tickers": reports["missing_tickers"].limit(0)}},
        "ohlc_reconciliation_report": {"reports": {
            **reports, "ohlc_reconciliation": reports["ohlc_reconciliation"].selectExpr(
                "*", "0.0 AS close_diff_").drop("close_diff")
            .withColumnRenamed("close_diff_", "close_diff")}},
        "pipeline_hourly_ohlc": {"hourly_ohlc": without_one_file(out["hourly_ohlc"])},
        "snapshot_rows": {"table": without_one_file(out["table"])},
        "mv_equals_batch": {"mv": wrong_mv},
        "mv_equals_duckdb": {"mv": wrong_mv},
    }
    for check, change in mutations.items():
        got = workloads.tick_gate(spark, drop, {**out, **change})
        assert got[check] is not True, (check, got)
