"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload contract_queries --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with Spark's event log on, one job group per operation and
spans around the public functions each layer exposes, and prints the
per-layer metrics instead.  The full record of the run (every
operation, its phases, span self times, sample counts, gate results)
goes to ``perfbench/.work/records/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402  (sets up sys.path for the package)
from harness import CORES, Context, Tracer  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
with open(os.path.join(harness.REPO, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
SPARK_KEYS = ["tasks", "task_run_s", "task_cpu_s", "gc_s", "slot_util",
              "shuffle_write_mb", "spill_mb", "max_plan_chars"]
PHASES = ["build_s", "plan_s", "gap_s", "job_s", "jobs"]


def install_wrappers(tracer: Tracer) -> None:
    """Traced runs only: spans around the public functions whose time
    the per-layer record splits out."""
    from financial_data_ingestion_pipeline_spark import materialize
    from financial_data_ingestion_pipeline_spark.plans import pipeline

    tracer.wrap(materialize, "pin", "materialize.pin")
    for stage in ("ingest", "quality_reports", "load_warehouse", "analytics_outputs"):
        tracer.wrap(pipeline, stage, f"plans.pipeline.{stage}")


def drift_probe(spark, work: str) -> float:
    """bench.py's frozen drift probe on a fixed-seed sf0.1 lineitem, so
    that records from different sessions can be normalised."""
    import bench
    import workloads

    out = os.path.join(work, "probe")
    workloads.gen_sf(out, "--scale", "1", "--seed", "42", "--tables", "lineitem")
    return bench._calibration_probe_s(spark, out)


def layer_metrics(ctx: Context, out: dict, log, probe_s: float) -> tuple[dict, list]:
    """Per-layer metrics of the timed passes, each per pass."""
    import eventlog
    from workloads import MODULES

    n_pass = len(out["passes"])
    by_group: dict[str, list] = {}
    for job in log.jobs.values():
        by_group.setdefault(job.group, []).append(job)

    per_op, mod = [], {m: dict.fromkeys(PHASES, 0.0) for m in MODULES}
    busy_s = 0.0  # union of all job intervals, eager constructor jobs included
    for op in ctx.ops:
        jobs = by_group.get(op.op_id, [])
        intervals = [(j.start, j.end) for j in jobs]
        ph = eventlog.phases(op.t0, op.tb, op.t1, intervals)
        ph["jobs"] = len(jobs)
        busy_s += eventlog.phases(op.t0, op.t0, op.t1, intervals)["job_s"]
        for k in PHASES:
            mod[op.module][k] += ph[k]
        per_op.append({"op": op.op_id, "module": op.module, "wall_s": op.wall_s,
                       "phase_sum_s": sum(ph[k] for k in PHASES[:4]), **ph})

    timed_jobs = [j for op in ctx.ops for j in by_group.get(op.op_id, [])]
    spark = {
        "tasks": sum(j.tasks for j in timed_jobs),
        "task_run_s": sum(j.run_s for j in timed_jobs),
        "task_cpu_s": sum(j.cpu_s for j in timed_jobs),
        "gc_s": sum(j.gc_s for j in timed_jobs),
        "shuffle_write_mb": sum(j.shuffle_write_b for j in timed_jobs) / 2**20,
        "spill_mb": sum(j.spill_b for j in timed_jobs) / 2**20,
    }
    util = spark["task_run_s"] / (busy_s * CORES) if busy_s else 0.0
    spark = {k: v / n_pass for k, v in spark.items()}
    spark["slot_util"] = util
    spark["max_plan_chars"] = log.max_plan_chars

    t_start = ctx.ops[0].t0
    timed_spans = [s for s in ctx.tracer.spans if s["start"] >= t_start and "dur" in s]

    def span_total(name):
        return sum(s["dur"] for s in timed_spans if s["name"] == name) / n_pass

    metrics = {f"{m}.{k}": v / n_pass for m, d in mod.items() for k, v in d.items()}
    metrics.update({f"spark.{k}": spark[k] for k in SPARK_KEYS})
    for stage in ("ingest", "quality_reports", "load_warehouse", "analytics_outputs"):
        metrics[f"plans.pipeline.{stage}_s"] = span_total(f"plans.pipeline.{stage}")
    for name in ("sources.ingest.read_tick_csvs", "operators.warehouse.snapshot_commit",
                 "operators.warehouse.maintain_ohlc_mv"):
        metrics[f"{name}_s"] = span_total(name)
    for name in ("plans.pipeline.run_pipeline_s", "operators.warehouse.files_written",
                 "operators.warehouse.bytes_per_input_byte"):
        metrics[name] = out["layers"].get(name, 0)
    metrics["materialize.pins"] = sum(
        1 for s in timed_spans if s["name"] == "materialize.pin") / n_pass
    metrics["materialize.pin_s"] = span_total("materialize.pin")
    metrics["session.evicted_entries"] = sum(op.evicted for op in ctx.ops) / n_pass
    metrics["session.get_spark_s"] = ctx.setup["get_spark_s"]
    metrics["setup.fixture_gen_s"] = ctx.setup["fixture_gen_s"]
    metrics["setup.first_op_s"] = ctx.ops[0].t0 - harness.PROCESS_START_EPOCH
    metrics["trace.wall_s"] = min(out["passes"])
    metrics["trace.cpu_s"] = min(out["passes_cpu"])
    metrics["drift.probe_s"] = probe_s
    return metrics, per_op


def main(argv: list[str] | None = None) -> int:
    import workloads
    from workloads import by_name

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a smoke-test size for the benchmark's own tests")
    args = p.parse_args(argv)

    work = os.path.join(WORK_ROOT, args.workload)
    harness.prepare_work(work)
    tracer = Tracer()
    ctx = Context(args.workload, args.seed, bool(args.trace), work, tracer=tracer)
    if args.trace:
        install_wrappers(tracer)
    try:
        out = workloads.WORKLOADS[args.workload](ctx, args.seconds, args.size == "tiny")
        log_path = probe_s = None
        if args.trace:
            probe_s = drift_probe(ctx.spark, work)
            log_path = os.path.join(work, "eventlog", ctx.spark.sparkContext.applicationId)
            ctx.spark.stop()
    finally:
        tracer.unwrap()
        harness.shutdown(ctx.spark)
    peak_heap_mb = harness.peak_heap_after_gc_mb(work, *ctx.timed_uptime)

    gate_misses = [k for k, v in out["gate"].items() if v is not True]
    failed_ops = [op for op in ctx.ops if not op.ok]
    attempted = len(ctx.ops) + len(out["gate"])
    failed = len(failed_ops) + len(gate_misses)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cores": CORES,
        "setup": ctx.setup, "passes_s": out["passes"], "passes_cpu_s": out["passes_cpu"],
        "latencies_s": by_name(out["op_samples"]),
        "op_cpu_s": by_name(out["op_samples"], "cpu_s"),
        "gate": out["gate"], "gate_s": out["gate_s"], "gate_pass_s": out.get("gate_pass_s"),
        "elapsed_s": time.perf_counter() - harness.PROCESS_START,
        "first_op_s": ctx.ops[0].t0 - harness.PROCESS_START_EPOCH,
        "failed_ops": [(o.op_id, o.error) for o in failed_ops],
        "op_fail_ratio": failed / attempted,
        "ops": [{"op": o.op_id, "build_s": o.build_s, "wall_s": o.wall_s, "cpu_s": o.cpu_s}
                for o in ctx.ops],
    }
    if args.trace:
        import eventlog

        metrics, per_op = layer_metrics(ctx, out, eventlog.read(log_path), probe_s)
        record.update(per_op=per_op, span_self_s=tracer.self_times())
    else:
        metrics = {
            "setup_s": ctx.setup["setup_s"],
            "cpu_s": min(out["passes_cpu"]),
            "op_cpu_geomean_s": statistics.geometric_mean(
                min(samples) for samples in by_name(out["op_samples"], "cpu_s").values()),
            "peak_heap_mb": peak_heap_mb,
        }
    record["metrics"] = metrics
    records = os.path.join(WORK_ROOT, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in SPEC["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
