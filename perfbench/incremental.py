"""The incremental part of ``ad_hoc_and_incremental``: small keyed writes
beside the reads that must stay fresh.

Set-up initialises a base TxTable (key stats on) from the generated
orders, a per-status SUM/COUNT materialized view over it, and an empty
copy table fed by the base's change feed.  One round is one seeded
change batch: ``append`` of new keys, ``merge`` of existing keys (a hot
range plus uniform keys), ``delete_dv`` of a key range, then
``mv_refresh`` and an availableNow drain of ``stream_table_changes``
into a ``TxTableStreamSink``.  Every batch first runs ``optimize_small``
as background compaction, so every batch does the same work and its
stall lands in that batch's freshness.  Set-up ends with one drain of
the still empty change feed: it starts the stream and its Python
data-source workers, which would otherwise cost the first measured
batch several seconds.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

from . import gen
from .checks import canon
from .common import Context, median, tail

COMPACT_TARGET_BYTES = 1 << 20
GROUP = ["o_orderstatus"]
MEASURES = {"revenue": "o_totalprice", "n_orders": "1"}
#: more batches than the most rounds a run makes
MAX_BATCHES = 8
VERBS = ("append", "merge", "delete_dv")


def setup(ctx: Context) -> dict:
    """Generate the base rows and the change batches, create the tables
    and start the change-feed stream with one drain."""
    ctx.work.mkdir(parents=True, exist_ok=True)
    src = ctx.work / "base_orders.parquet"
    rows = gen.base_orders(src, ctx.seed, ctx.scale)
    state = _tables(ctx, src)
    state.update(batches=gen.change_batches(ctx.seed, MAX_BATCHES, ctx.scale),
                 model={r[0]: r for r in rows}, next=0)
    _drain(ctx, state)
    return state


def _tables(ctx: Context, src: Path) -> dict:
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import matview as mvx
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTable,
        TxTableStreamSink,
    )

    spark = ctx.spark
    root = ctx.work / "tables"
    base = TxTable(spark, str(root / "base"), stats_col="o_orderkey")
    v0 = base.init(spark.read.parquet(str(src)).repartition(4))
    mv = TxTable(spark, str(root / "mv"))
    mvx.mv_init(mv, base.snapshot(), GROUP, MEASURES)
    copy = TxTable(spark, str(root / "copy"))
    copy.init(spark.createDataFrame(
        [], gen.BASE_SCHEMA + ", _change_type string, _commit_version long"))
    return {"root": root, "base": base, "mv": mv, "copy": copy, "v0": v0,
            "mv_at": v0, "sink": TxTableStreamSink(copy, app_id="perfbench")}


def _drain(ctx: Context, state: dict) -> int:
    """availableNow drain of the base's change feed into the copy;
    returns the number of micro-batches."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txstream import (
        stream_table_changes,
    )

    q = (
        stream_table_changes(ctx.spark, str(state["root"] / "base"),
                             starting_version=state["v0"])
        .writeStream.foreachBatch(state["sink"])
        .option("checkpointLocation", str(state["root"] / "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(q.recentProgress)


def round_(ctx: Context, state: dict, r: int) -> dict:
    """The next change batch, timed from hand-off until the MV and the
    copy reflect it."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.sources import matview as mvx

    spark, tr, out = ctx.spark, ctx.tracer, ctx.outcome
    b = state["next"]
    state["next"] += 1
    base, batch = state["base"], state["batches"][b]
    app = spark.createDataFrame(batch.append, gen.BASE_SCHEMA).coalesce(1)
    src = spark.createDataFrame(batch.merge, gen.BASE_SCHEMA).coalesce(1)
    lo, hi = batch.delete
    key = F.col("o_orderkey")
    lat = {}

    def verb(name, fn):
        with tr.span(f"sources.txtable.{name}") as s:
            out.attempt(name, fn)
        lat[name] = s.wall_s
        return s

    with tr.span("incremental.batch", round=r, batch=b) as whole:
        verb("optimize_small", lambda: base.optimize_small(COMPACT_TARGET_BYTES))
        verb("append", lambda: base.append(app))
        s = verb("merge", lambda: base.merge(src, "o_orderkey"))
        counts = base.last_merge_scan_counts or {}
        if counts.get("hit_scan_candidates"):
            s.attrs["files_read_ratio"] = (
                counts["hit_files"] / counts["hit_scan_candidates"])
        verb("delete_dv", lambda: base.delete_dv((key >= lo) & (key < hi)))
        head = base.latest_version()
        with tr.span("sources.matview.mv_refresh"):
            out.attempt("mv_refresh", lambda: mvx.mv_refresh(
                state["mv"], base, GROUP, MEASURES, state["mv_at"], head))
        state["mv_at"] = head
        with tr.span("streaming.ingest.drain") as s:
            n = out.attempt("drain", lambda: _drain(ctx, state))
        s.attrs["micro_batches"] = n or 0
    gen.apply_model(state["model"], batch)
    return {"s": whole.wall_s, "ops": [lat[v] for v in VERBS if v in lat], **lat}


def _signed(rows) -> Counter:
    c = Counter()
    for r in rows:
        c[tuple(canon(v) for v in r[:4])] += 1 if r[4] == "insert" else -1
    return Counter({k: v for k, v in c.items() if v})


def final_checks(ctx: Context, state: dict) -> None:
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import matview as mvx

    out, base = ctx.outcome, state["base"]
    model = state["model"]
    if ctx.inject_fault:
        k = next(iter(model))
        model[k] = model[k][:3] + (model[k][3] + 1.0,)
    snap = Counter(tuple(canon(v) for v in r) for r in base.snapshot().collect())
    want = Counter(tuple(canon(v) for v in r) for r in model.values())
    out.check("snapshot_equals_model", None if snap == want else
              f"{sum((snap - want).values())} extra rows, "
              f"{sum((want - snap).values())} missing rows")
    mv = {r[0]: tuple(canon(v) for v in r) for r in state["mv"].snapshot().collect()}
    agg = {r[0]: tuple(canon(v) for v in r) for r in mvx.mv_aggregate(
        base.snapshot(), GROUP, MEASURES).collect()}
    out.check("mv_equals_recompute", None if mv == agg else f"{mv} vs {agg}")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "_change_type"]
    streamed = _signed(state["copy"].snapshot().select(*cols).collect())
    net = _signed(mvx.table_changes(base, state["v0"]).select(*cols).collect())
    out.check("copy_equals_table_changes", None if streamed == net else
              f"{sum(abs(v) for v in (streamed - net).values())} rows differ")


def storage(root: Path, live_rows: int) -> dict:
    files = [f for f in root.rglob("*") if f.is_file() and "checkpoint" not in f.parts]
    total = sum(f.stat().st_size for f in files)
    # live user bytes: the four columns at their fixed widths (two
    # longs, a one-character status, a double)
    live = live_rows * (8 + 8 + 1 + 8)
    data_files = sum(1 for f in files if f.suffix == ".parquet"
                     and "base" in f.relative_to(root).parts[:1])
    return {"storage_mb": total / 2**20, "data_files": data_files,
            "storage_amp": total / live if live else 0.0}


def summary(ctx: Context, state: dict, rounds: list[dict]) -> dict:
    final_checks(ctx, state)
    fresh = [r["s"] for r in rounds]
    fresh_tail = tail(fresh)
    st = storage(state["root"], len(state["model"]))
    state["storage"] = st
    detail = {
        f"{v.replace('_dv', '')}_p50_s": {
            "value": median([r[v] for r in rounds if v in r]), "unit": "s"}
        for v in VERBS
    }
    detail.update({
        "freshness_p50_s": {"value": median(fresh), "unit": "s"},
        "freshness_tail_s": {"value": fresh_tail["value"], "unit": "s",
                             "percentile": fresh_tail["percentile"],
                             "samples": fresh_tail["samples"]},
        "storage_amp": {"value": st["storage_amp"], "unit": "ratio"},
    })
    return detail


def layers(ledger: list[dict], state: dict) -> dict:
    out = {}

    def med(rows, key):
        vals = [r.get(key, 0.0) for r in rows]
        return median(vals) if vals else 0.0

    for v in (*VERBS, "optimize_small"):
        rows = [s for s in ledger if s["name"] == f"sources.txtable.{v}"]
        for c in ("wall_s", "driver_gap_s", "jobs"):
            out[f"sources.txtable.{v}.{c}"] = med(rows, c)
    merges = [s for s in ledger if s["name"] == "sources.txtable.merge"
              and "files_read_ratio" in s]
    out["sources.txtable.merge.files_read_ratio"] = med(merges, "files_read_ratio")
    rows = [s for s in ledger if s["name"] == "sources.matview.mv_refresh"]
    for c in ("wall_s", "driver_gap_s", "jobs", "exec_cpu_s"):
        out[f"sources.matview.mv_refresh.{c}"] = med(rows, c)
    rows = [s for s in ledger if s["name"] == "streaming.ingest.drain"]
    for c in ("wall_s", "driver_gap_s", "jobs", "micro_batches"):
        out[f"streaming.ingest.drain.{c}"] = med(rows, c)
    st = state.get("storage", {})
    out["sources.fs.storage_mb"] = st.get("storage_mb", 0.0)
    out["sources.fs.data_files"] = st.get("data_files", 0)
    return out
