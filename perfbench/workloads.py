"""The benchmark's workloads, their inputs and their correctness gates.

Each workload is one client in a closed loop: the next operation starts
when the previous one has finished.  A workload returns its pass wall
times, its latency samples per operation and its gate results; run.py
turns them into the result line.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import ticks
from harness import REPO, Context, jvm_uptime_s, set_up

# ---------------------------------------------------------------------------
# contract_queries
# ---------------------------------------------------------------------------

#: A fixed set of ``__spark_entry__.queries()`` entries, one per package
#: module a query calls, chosen among the cheap (overhead-bound) entries
#: plus the construction-heavy ones the roadmap names (customer_hierarchy,
#: phrase_search).  Fixed, so that every seed runs the same mix.
CONTRACT_QUERIES = {
    "tpch_q6": "entry",
    "price_change": "operators.analytics",
    "invalid_rows": "operators.quality",
    "dedup_exact": "functions.dedup",
    "fingerprint": "functions.text",
    "ann_lsh": "functions.similarity",
    "customer_hierarchy": "functions.graph",
}
TINY_QUERIES = ["tpch_q6", "customer_hierarchy"]

#: Timed passes per run, at least.  Every plan has run once in the gate
#: and the JIT (C1 only, see harness.session_conf) has settled, but the
#: first operation of the first timed pass still does about twice its
#: later work; the fastest of two passes is past it.  With passes over
#: 2.5 s and ``run_seconds`` = 5, every run makes exactly this many.
MIN_PASSES = 2

#: Modules an operation is tagged with; per-layer metrics are per module:
#: the contract queries' modules, the backfill and the daily increments.
MODULES = [*dict.fromkeys(CONTRACT_QUERIES.values()), "plans.pipeline",
           "operators.warehouse"]


def timed_passes(ctx: Context, seconds: float, tiny: bool, run_pass) -> tuple[list, list]:
    """Run ``run_pass(i)`` until ``seconds`` have elapsed, at least
    MIN_PASSES times (once when tiny).  Returns each pass's wall and CPU
    seconds, summed over its operations: the benchmark's own work between
    them (the forced collection, the eviction) is left out.  Marks the
    window in ``ctx.timed_uptime`` (driver JVM uptime, for the GC log)."""
    uptime0 = jvm_uptime_s(ctx.spark)
    walls, cpus, start = [], [], time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - start < seconds:
        first = len(ctx.ops)
        run_pass(len(walls))
        walls.append(sum(op.wall_s for op in ctx.ops[first:]))
        cpus.append(sum(op.cpu_s for op in ctx.ops[first:]))
        if tiny:
            break
    ctx.timed_uptime = (uptime0, jvm_uptime_s(ctx.spark))
    return walls, cpus


def by_name(ops, attr: str = "wall_s") -> dict[str, list[float]]:
    """Samples of one of the operations' measures, per operation name."""
    out: dict[str, list[float]] = {}
    for op in ops:
        out.setdefault(op.name, []).append(getattr(op, attr))
    return out


def gen_sf(*args: str) -> None:
    """``tools/gen_sf.py <args>``, run in this process with its output
    discarded (the last stdout line is the benchmark's result)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_sf", os.path.join(REPO, "tools", "gen_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv = sys.argv
    sys.argv = ["gen_sf.py", *args]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            mod.main()
    finally:
        sys.argv = argv


def contract_fixtures(out: str, seed: int) -> str:
    """The ten sf0.1-shaped tables the contract queries read, Heaps-law
    documents included: ``tools/gen_sf.py --heaps --scale 1`` plus the
    fixed region/nation dimensions, which that tool copies from elsewhere."""
    shutil.rmtree(out, ignore_errors=True)
    gen_sf(out, "--scale", "1", "--heaps", "--seed", str(seed), "--tables",
           "customer,supplier,part,orders,lineitem,events,documents,embeddings")
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(out, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))
    return out


def query_gate(spark, sf: str, queries: dict, oracles: dict) -> dict:
    """Each query's result against its DuckDB oracle (tests/oracle.py):
    True, False, or the error it raised."""
    from financial_data_ingestion_pipeline_spark.session import evict_persisted
    from tests.oracle import compare

    gate = {}
    for name, query in queries.items():
        try:
            gate[name] = compare(query(spark, sf), oracles[name], sf)["ok"]
        except Exception as exc:  # counted as a miss
            gate[name] = f"{type(exc).__name__}: {exc}"[:300]
        evict_persisted()
    return gate


def contract_queries(ctx: Context, seconds: float, tiny: bool) -> dict:
    import __spark_entry__ as contract

    sf = set_up(ctx, lambda: contract_fixtures(os.path.join(ctx.work, "sf"), ctx.seed),
                reps=1 if tiny else 3)
    queries, oracles = contract.queries(), contract.oracle_sql()
    names = TINY_QUERIES if tiny else list(CONTRACT_QUERIES)

    # gate, untimed (it is also the warm-up run of each plan)
    g0 = time.perf_counter()
    gate = query_gate(ctx.spark, sf, {n: queries[n] for n in names}, oracles)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def one_pass(_):
        for name in names:
            ctx.run_op(name, CONTRACT_QUERIES[name],
                       lambda n=name: queries[n](ctx.spark, sf), noop)

    start = time.perf_counter()
    passes, cpus = timed_passes(ctx, seconds, tiny, one_pass)
    return {
        "passes": passes,
        "passes_cpu": cpus,
        "op_samples": list(ctx.ops),
        "gate": gate,
        "gate_s": start - g0,
        "layers": {},
    }


# ---------------------------------------------------------------------------
# tick_etl
# ---------------------------------------------------------------------------

FULL_DROP = {"n_tickers": 3, "backfill_days": 2, "daily_days": 2, "seconds": 22_500}
TINY_DROP = {"n_tickers": 2, "backfill_days": 2, "daily_days": 1, "seconds": 1_800}


def _duck_ticks(con, glob: str, view: str) -> None:
    """The independent reading of raw tick CSVs: same cleaning rules
    (suffix strip, Date||Time, garbage -> NULL), no Spark."""
    con.execute(f"""
        CREATE OR REPLACE TABLE {view} AS SELECT
          regexp_replace(Ticker, '\\.NSE$', '') AS source_symbol,
          TRY_CAST(Date || ' ' || Time AS TIMESTAMP) AS timestamp,
          TRY_CAST(LTP AS DOUBLE) AS ltp, TRY_CAST(LTQ AS DOUBLE) AS ltq,
          TRY_CAST(OpenInterest AS DOUBLE) AS oi,
          TRY_CAST(BuyPrice AS DOUBLE) AS bid, TRY_CAST(BuyQty AS DOUBLE) AS bid_qty,
          TRY_CAST(SellPrice AS DOUBLE) AS ask, TRY_CAST(SellQty AS DOUBLE) AS ask_qty
        FROM read_csv('{glob}', header=true, all_varchar=true)""")


_WH_COLS = "source_symbol, timestamp, ltp, ltq, oi, bid, bid_qty, ask, ask_qty"


def _same_rows(con, expected: str, actual: str) -> bool:
    diff = con.execute(f"""
        SELECT (SELECT count(*) FROM (SELECT {_WH_COLS} FROM {expected}
                 EXCEPT ALL SELECT {_WH_COLS} FROM {actual}))
             + (SELECT count(*) FROM (SELECT {_WH_COLS} FROM {actual}
                 EXCEPT ALL SELECT {_WH_COLS} FROM {expected}))""").fetchone()[0]
    return diff == 0


def _duck_hourly(con, view: str) -> set:
    return set(con.execute(f"""
        SELECT source_symbol, date_trunc('hour', timestamp), arg_min(ltp, timestamp),
               max(ltp), min(ltp), arg_max(ltp, timestamp), count(*)
        FROM {view} GROUP BY 1, 2""").fetchall())


def _ohlc_rows(df) -> set:
    return {(r.symbol, r.bucket_start, r.open, r.high, r.low, r.close, r.n_ticks)
            for r in df.collect()}


def _part_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.startswith("part-") and not f.endswith(".crc")]


def tick_gate(spark, drop: ticks.TickDrop, out: dict) -> dict:
    """Check one pass's outputs against the generated drop.  Each check
    is True, False, or the error it raised."""
    from financial_data_ingestion_pipeline_spark.operators import ohlc, warehouse

    def warehouse_rows():
        con.execute(f"""CREATE OR REPLACE VIEW wh AS SELECT * FROM read_parquet(
            '{out["warehouse"]}/*/*.parquet', hive_partitioning=true)""")
        n_wh = con.execute("SELECT count(*) FROM wh").fetchone()[0]
        return n_wh == drop.backfill_rows and _same_rows(con, "backfill_csv", "wh")

    def invalid_values_report():
        got = {(r.Ticker, r.Timestamp.strftime("%Y-%m-%d %H:%M:%S")) for r in
               out["reports"]["invalid_values"].select("Ticker", "Timestamp").collect()}
        days = {p.split("_")[-1] for p in os.listdir(drop.backfill_root)}
        planted = {(s, ts) for s, ts, _ in drop.invalid
                   if ts[8:10] + ts[5:7] + ts[:4] in days}
        return got == planted

    def missing_tickers_report():
        got = {r.SYMBOL for r in out["reports"]["missing_tickers"].collect()}
        return got == {ticks.MISSING_SYMBOL}

    def ohlc_reconciliation_report():
        recon = out["reports"]["ohlc_reconciliation"].filter(
            f"trade_date = DATE'{drop.bhav_date}'").collect()
        off = {(r.symbol, c) for r in recon
               for c in ("open", "high", "low", "close") if r[f"{c}_diff"] != 0.0}
        return len(recon) == len(drop.symbols) and off == {(drop.mismatch_symbol, "close")}

    def pipeline_hourly_ohlc():
        got = _ohlc_rows(spark.read.parquet(out["hourly_ohlc"]))
        return got == _duck_hourly(con, "backfill_csv")

    def snapshot_rows():
        files = ", ".join(f"'{f}'" for f in _part_files(os.path.join(out["table"], "data")))
        con.execute(f"CREATE OR REPLACE VIEW snap AS SELECT * FROM read_parquet([{files}])")
        return _same_rows(con, "daily_csv", "snap")

    def mv_equals_batch():
        batch = _ohlc_rows(ohlc.bucketed_ohlc(warehouse.read_snapshot(spark, out["table"]), "hour"))
        return mv() == batch and len(batch) > 0

    def mv_equals_duckdb():
        return mv() == _duck_hourly(con, "daily_csv")

    def mv():
        return _ohlc_rows(warehouse.read_snapshot(spark, out["mv"]))

    checks = {}
    con = duckdb.connect()
    try:
        _duck_ticks(con, os.path.join(drop.backfill_root, "*", "*.csv"), "backfill_csv")
        _duck_ticks(con, os.path.join(drop.root, "daily", "*", "*.csv"), "daily_csv")
        for check in (warehouse_rows, invalid_values_report, missing_tickers_report,
                      ohlc_reconciliation_report, pipeline_hourly_ohlc, snapshot_rows,
                      mv_equals_batch, mv_equals_duckdb):
            try:
                checks[check.__name__] = bool(check())
            except Exception as exc:  # counted as a miss
                checks[check.__name__] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        con.close()
    return checks


def tick_pass(ctx: Context, drop: ticks.TickDrop, out_dir: str) -> dict:
    """One pass: the backfill through the reference DAG, then each
    daily increment landed and the hourly view refreshed."""
    from financial_data_ingestion_pipeline_spark.operators import warehouse
    from financial_data_ingestion_pipeline_spark.operators.cleaning import (
        clean_ticks,
        to_warehouse,
    )
    from financial_data_ingestion_pipeline_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from financial_data_ingestion_pipeline_spark.sources.ingest import read_tick_csvs

    spark, tracer = ctx.spark, ctx.tracer
    cfg = PipelineConfig(tick_root=drop.backfill_root, bhavcopy_csv=drop.bhavcopy_csv,
                         out_dir=os.path.join(out_dir, "backfill"))
    result = {}
    ctx.run_op("run_pipeline", "plans.pipeline", lambda: cfg,
               lambda c: result.update(run_pipeline(spark, c)))
    table, mv = os.path.join(out_dir, "table"), os.path.join(out_dir, "mv")

    def land(day_dir):
        with tracer.span("sources.ingest.read_tick_csvs"):
            raw = read_tick_csvs(spark, day_dir)
        rows = to_warehouse(clean_ticks(raw))
        with tracer.span("operators.warehouse.snapshot_commit"):
            warehouse.snapshot_commit(rows, table, mode="append")
        with tracer.span("operators.warehouse.maintain_ohlc_mv"):
            warehouse.maintain_ohlc_mv(spark, table, mv)

    for day_dir in drop.daily_dirs:
        ctx.run_op(f"increment_{day_dir[-8:]}", "operators.warehouse",
                   lambda d=day_dir: d, land)
    return {
        "warehouse": result.get("warehouse_path"),
        "reports": result.get("reports"),
        "hourly_ohlc": os.path.join(cfg.out_dir, "hourly_ohlc"),
        "table": table,
        "mv": mv,
    }


def tick_etl(ctx: Context, seconds: float, tiny: bool) -> dict:
    size = TINY_DROP if tiny else FULL_DROP
    root = os.path.join(ctx.work, "drop")

    def make_drop():
        shutil.rmtree(root, ignore_errors=True)
        return ticks.generate(root, ctx.seed, **size)

    drop = set_up(ctx, make_drop, reps=1 if tiny else 3)

    # gate pass, untimed (it is also the warm-up run of every plan)
    g0 = time.perf_counter()
    first = tick_pass(ctx, drop, os.path.join(ctx.work, "out", "gate"))
    gate_pass_s = time.perf_counter() - g0
    gate = tick_gate(ctx.spark, drop, first)
    written = (_part_files(first["warehouse"])
               + _part_files(os.path.join(first["table"], "data")))
    layers = {
        "operators.warehouse.files_written": len(written),
        "operators.warehouse.bytes_per_input_byte":
            sum(os.path.getsize(f) for f in written) / drop.input_bytes,
    }
    ctx.ops.clear()

    def one_pass(i):
        out_dir = os.path.join(ctx.work, "out", f"pass{i}")
        tick_pass(ctx, drop, out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)

    gate_s = time.perf_counter() - g0
    passes, cpus = timed_passes(ctx, seconds, tiny, one_pass)
    backfills = by_name(op for op in ctx.ops if op.name == "run_pipeline")
    layers["plans.pipeline.run_pipeline_s"] = min(backfills["run_pipeline"])
    return {"passes": passes, "passes_cpu": cpus,
            "op_samples": [op for op in ctx.ops if op.name != "run_pipeline"],
            "gate": gate, "gate_s": gate_s, "gate_pass_s": gate_pass_s, "layers": layers}


WORKLOADS = {"contract_queries": contract_queries, "tick_etl": tick_etl}
