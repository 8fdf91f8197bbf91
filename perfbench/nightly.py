"""The nightly batch: the reference's own job, raw CSVs to analytics CSVs.

One round is one batch on a fresh lakehouse directory:
``ingest_to_bronze`` -> ``bronze_to_silver`` -> ``run_quality_checks`` ->
``silver_to_gold`` -> ``register_gold_views`` + ``run_analytics``, each
step through ``pipeline.run_step`` so the program's own step report is
what is checked.  The first batch is the first work of a fresh driver,
so it is timed cold, as a nightly job pays it.
"""

from __future__ import annotations

import csv
import re
import shutil
from pathlib import Path

from . import gen
from .checks import canon, canon_csv, compare
from .common import Context, median

STEPS = (
    "pipeline.ingest_to_bronze",
    "pipeline.bronze_to_silver",
    "pipeline.run_quality_checks",
    "pipeline.silver_to_gold",
    "plans.ecommerce_analytics.run_analytics",
)
DISCOUNT_PCT = "(discount_amount / (unit_price * quantity)) * 100"
STEP_COUNTERS = ("wall_s", "self_s", "driver_gap_s", "jobs", "exec_cpu_s",
                 "shuffle_write_mb", "spill_mb")


def setup(ctx: Context) -> dict:
    """Write the raw CSVs."""
    raw = ctx.work / "raw"
    inputs = gen.write_raw_csvs(raw, ctx.seed, ctx.scale)
    if ctx.inject_fault:
        inputs.planted["null_emails"] += 1
    return {"raw": raw, "inputs": inputs}


def _duck_analytics(gold_paths: dict[str, str], run_date: str):
    """Run the program's ANALYTICS_SQL statements in DuckDB over the gold
    parquet, translating two dialect differences:

    - Spark's two-argument DATEDIFF(end, start) is DuckDB's
      datediff('day', start, end);
    - Spark divides DECIMALs exactly, DuckDB in DOUBLE.  Query 10 buckets
      a quotient of cent amounts at 10/25/50 %, so DuckDB's quotient is
      rounded to 12 places, which puts a value lying exactly on a bucket
      boundary back on it (a quotient that is not on the boundary is at
      least 1e-7 away from it at these magnitudes)."""
    import duckdb

    from ecommerce_data_pipeline_23a91a05i4_spark.plans.ecommerce_analytics import (
        ANALYTICS_SQL,
        split_statements,
    )

    con = duckdb.connect()
    for name, path in gold_paths.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    out = []
    for stmt in split_statements(ANALYTICS_SQL.format(run_date=run_date)):
        stmt = re.sub(r"DATEDIFF\((DATE '[^']+'), ([\w.]+)\)",
                      r"datediff('day', \2, \1)", stmt)
        stmt = stmt.replace(DISCOUNT_PCT, f"round({DISCOUNT_PCT}, 12)")
        rows = con.execute(stmt).fetchall()
        cols = [d[0] for d in con.description]
        out.append((cols, [tuple(canon(v) for v in r) for r in rows]))
    con.close()
    return out


def _read_csv(path: Path):
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    return rows[0], [tuple(canon_csv(v) for v in r) for r in rows[1:]]


def round_(ctx: Context, state: dict, r: int) -> dict:
    """One batch on a fresh lakehouse directory, then its checks."""
    from ecommerce_data_pipeline_23a91a05i4_spark import pipeline
    from ecommerce_data_pipeline_23a91a05i4_spark.plans.ecommerce_analytics import (
        run_analytics,
    )

    spark, tr, out = ctx.spark, ctx.tracer, ctx.outcome
    inputs: gen.RawInputs = state["inputs"]
    base = ctx.work / f"lake{r}"
    shutil.rmtree(base, ignore_errors=True)
    run_ts = f"{inputs.run_date} 00:00:00"
    report = pipeline.PipelineReport()
    got: dict = {}
    calls = {
        STEPS[0]: lambda: got.__setitem__(
            "recon", pipeline.ingest_to_bronze(spark, state["raw"], base, run_ts)),
        STEPS[1]: lambda: pipeline.bronze_to_silver(spark, base, run_ts),
        STEPS[2]: lambda: got.__setitem__(
            "quality", pipeline.run_quality_checks(spark, base, base / "reports")),
        STEPS[3]: lambda: pipeline.silver_to_gold(
            spark, base, inputs.run_date, run_ts),
        STEPS[4]: lambda: (
            pipeline.register_gold_views(spark, base),
            got.__setitem__("summary", run_analytics(
                spark, base / "analytics", inputs.run_date))),
    }
    step_s = []
    with tr.span("nightly.batch", round=r) as batch:
        for name, fn in calls.items():
            with tr.span(name) as step:
                ok = pipeline.run_step(name, fn, report, backoff=[])
            step_s.append(step.wall_s)
            out.check(name, None if ok else report.steps[-1].error)
            if not ok:
                break  # fail-fast, as the pipeline's own DAG does
    batch_s = batch.wall_s

    # ---- output checks (outside the timed batch)
    if "recon" in got:
        want = inputs.rows
        tables = got["recon"]["tables"]
        bad = [t for t in want if (tables.get(t, {}).get("expected"),
                                   tables.get(t, {}).get("actual")) != (want[t], want[t])]
        out.check("reconcile_counts", f"tables off: {bad}" if bad else None)
    if "quality" in got:
        checks = got["quality"]["checks"]
        bad = {k: (checks.get(k), v) for k, v in inputs.planted.items()
               if checks.get(k) != v}
        out.check("quality_counts", f"got vs planted: {bad}" if bad else None)
    if "summary" in got:
        gold = {t: pipeline._gold_path(base, t) for t in pipeline.GOLD_TABLES}
        oracle = _duck_analytics(gold, inputs.run_date)
        for i, (cols, rows) in enumerate(oracle, start=1):
            path = base / "analytics" / f"query{i}.csv"
            if not path.exists():
                out.check(f"analytics.query{i}", "csv missing")
                continue
            gcols, grows = _read_csv(path)
            out.check(f"analytics.query{i}",
                      compare(gcols, grows, cols, rows, rel=1e-6))
    lake_bytes = sum(f.stat().st_size for f in base.rglob("*") if f.is_file())
    shutil.rmtree(base, ignore_errors=True)
    return {"s": batch_s, "ops": step_s, "lake_bytes": lake_bytes}


def summary(ctx: Context, state: dict, rounds: list[dict]) -> dict:
    inputs: gen.RawInputs = state["inputs"]
    return {
        "batch_s": {"value": median([x["s"] for x in rounds]), "unit": "s"},
        "raw_input_mb": {"value": inputs.bytes_written / 2**20, "unit": "MB"},
        "lakehouse_mb": {"value": median([x["lake_bytes"] for x in rounds]) / 2**20,
                         "unit": "MB"},
    }


def layers(ledger: list[dict], state: dict) -> dict:
    """Per-step counters, median over rounds."""
    out = {}
    for name in STEPS:
        rows = [s for s in ledger if s["name"] == name]
        for c in STEP_COUNTERS:
            out[f"{name}.{c}"] = median([s[c] for s in rows]) if rows else 0.0
    ing = [s["input_mb"] for s in ledger if s["name"] == STEPS[0]]
    gold = [s["output_mb"] for s in ledger if s["name"] == STEPS[3]]
    out["pipeline.ingest_to_bronze.input_mb"] = median(ing) if ing else 0.0
    out["pipeline.silver_to_gold.output_mb"] = median(gold) if gold else 0.0
    return out
