"""Cold end-to-end benchmark of the engine, one workload per run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A workload is a sequence of parts; one round runs one round of each part:

- ``nightly_batch``: the reference's nightly job, raw CSVs -> bronze ->
  silver -> quality -> gold -> analytics CSVs through the ``pipeline``
  step functions (``nightly.py``);
- ``ad_hoc_and_incremental``: small keyed writes beside read-only
  queries.  Its ``incremental`` part is one TxTable change batch
  (optimize_small, append, merge, delete_dv), a materialized-view
  refresh and a change-feed drain (``incremental.py``); its ``ad_hoc``
  part is one pass, in a fixed order, over q1-q10 and seven LLM-operator registry
  gates, each timed as ``fn()`` + first ``collect()`` (``adhoc.py``).

Each run is its own driver process with ``local[nproc]`` and one client
in a closed loop, so set-up time and memory belong to the workload.
Inputs come only from ``--seed`` (``perfbench/gen.py``); every output is
checked against an oracle the benchmark computes itself, and a failed
check counts in ``failed``.

A run measures a fixed number of whole rounds: ``--seconds`` divided by
the workload's nominal round length (a constant, at least one round).
The work a run measures therefore depends on ``--seconds`` only, never
on how fast the program is: with BENCHMARK.json's 40 s, one round of
either workload.

End-to-end metrics (the contract line) are CPU seconds, used by this
process, the driver JVM and the JVM's Python workers: ``setup_s`` (the
set-up: session start, input generation, oracle computation and the
unmeasured warm-ups) and ``round_cpu_s`` (median over rounds).  They are
gated instead of wall times because the benchmark runs on virtual
machines whose CPUs the hypervisor lends to other guests: the same
round took 41 s and 77 s of wall time, with 0 s and 78 s of CPU time
stolen, while its CPU time moved by 4 %.  The wall times a user waits
(``setup_wall_s``, ``round_s``, ``op_mean_s`` -- the mean latency of
the single operations: pipeline steps, registry gates, TxTable write
verbs) and the named metrics of ``perfbench/metrics.json`` (``batch_s``,
``ref_suite_s``, ``freshness_p50_s``, ``driver_rss_peak_mb``, ...) are
on the detail line with the stolen time of the round (``host_steal_s``);
they are not gated.

Output: a ``perfbench-detail`` line with the named metrics, the
per-layer ledger and any failures, then, as the last line, the result
object.  With ``--trace 0`` its metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, and
the span ledger is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

if __package__ in (None, ""):
    # run as a script: import the benchmark as a package from the repo root
    sys.path[0] = str(Path(__file__).resolve().parent.parent)

from perfbench import adhoc, incremental, nightly  # noqa: E402
from perfbench.common import (  # noqa: E402
    PACKAGE,
    Context,
    Outcome,
    cpu_s,
    driver_rss_peak_mb,
    jvm_pid,
    median,
    start_session,
    steal_s,
    stop_session,
)
from perfbench.spans import Tracer  # noqa: E402

#: workload -> (its parts, in the order a round runs them; the nominal
#: length of a round in seconds).  Each part is a module that sets up,
#: runs a round, checks and sums up.
WORKLOADS = {
    "nightly_batch": ((nightly,), 35.0),
    # the incremental set-up goes first: it pays the session's first
    # Spark jobs, so no gate of the pass does
    "ad_hoc_and_incremental": ((incremental, adhoc), 40.0),
}
#: upper bound on rounds, whatever --seconds asks for
MAX_ROUNDS = 4
#: per-layer metrics every workload reports: engine layers summed over
#: the measured spans, per round
ENGINE_LAYERS = {
    "L0_driver.gap_s": ("driver_gap_s", "s"),
    "L0_driver.jobs": ("jobs", "count"),
    "L0_driver.stages": ("stages", "count"),
    "L2_scan.input_mb": ("input_mb", "MB"),
    "L2_scan.output_mb": ("output_mb", "MB"),
    "L3_exchange.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "L3_exchange.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "L4_exec.tasks": ("tasks", "count"),
    "L4_exec.run_s": ("exec_run_s", "s"),
    "L4_exec.cpu_s": ("exec_cpu_s", "s"),
    "L4_exec.gc_s": ("gc_s", "s"),
    "L6_collect.result_mb": ("result_mb", "MB"),
}


def engine_layers(ledger: list[dict], rounds: int) -> dict:
    top = [s for s in ledger if s["parent"] is None]
    out = {
        name: {"value": sum(s[key] for s in top) / rounds, "unit": unit}
        for name, (key, unit) in ENGINE_LAYERS.items()
    }
    out["trace.spans"] = {"value": len(ledger) / rounds, "unit": "count"}
    return out


def rounds_for(workload: str, seconds: float) -> int:
    """Rounds a run measures: a function of --seconds and the workload's
    nominal round length, never of the program's speed."""
    nominal_s = WORKLOADS[workload][1]
    return min(MAX_ROUNDS, max(1, round(seconds / nominal_s)))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one expected result per part (tests the checks)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    root = Path.cwd()
    if not (root / PACKAGE).is_dir() or not (root / "__spark_entry__.py").is_file():
        print(f"perfbench: {root} holds no {PACKAGE}/ package and "
              "__spark_entry__.py; run from the repository root",
              file=sys.stderr)
        return 2
    parts = WORKLOADS[args.workload][0]
    n_rounds = rounds_for(args.workload, args.seconds)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = root / ".perfbench_work" / run_id
    out_dir = root / ".perfbench_out"
    spark = None
    try:
        t0, own0 = time.perf_counter(), sum(os.times()[:2])
        spark = start_session(root, work)
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = Context(spark, tracer, args.seed, args.scale, work, Outcome(),
                      args.inject_fault)
        states = [mod.setup(ctx) for mod in parts]
        jvm = jvm_pid(spark)
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = cpu_s(jvm) - own0
        tracer.spans.clear()  # warm-up spans are set-up, not measurement
        # rounds[r][i]: round r of part i; part_cpu[r][i] its CPU seconds
        rounds, part_cpu, steal = [], [], steal_s()
        for r in range(n_rounds):
            rounds.append([])
            part_cpu.append([])
            for mod, st in zip(parts, states):
                c0 = cpu_s(jvm)
                rounds[r].append(mod.round_(ctx, st, r))
                part_cpu[r].append(cpu_s(jvm) - c0)
        steal = steal_s() - steal
        named = {}
        for i, (mod, st) in enumerate(zip(parts, states)):
            named.update(mod.summary(ctx, st, [rd[i] for rd in rounds]))
        tracer.attach_counters()
        rss = driver_rss_peak_mb(spark)
        if args.trace:
            ledger = tracer.ledger()
            layers = {}
            for mod, st in zip(parts, states):
                layers.update(mod.layers(ledger, st))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    round_s = [sum(part["s"] for part in rd) for rd in rounds]
    round_cpu_s = [sum(c) for c in part_cpu]
    ops = [s for rd in rounds for part in rd for s in part["ops"]]
    out = ctx.outcome
    if not ops:
        print(f"perfbench: every operation failed: {out.failures[:5]}",
              file=sys.stderr)
        return 1
    e2e = {
        "setup_s": {"value": setup_cpu_s, "unit": "s"},
        "round_cpu_s": {"value": median(round_cpu_s), "unit": "s"},
    }
    named = {
        **e2e,
        "setup_wall_s": {"value": setup_wall_s, "unit": "s"},
        "round_s": {"value": median(round_s), "unit": "s"},
        "op_mean_s": {"value": sum(ops) / len(ops), "unit": "s"},
        "failed_frac": {"value": out.failed / max(1, out.attempted), "unit": "ratio"},
        "driver_rss_peak_mb": {"value": rss, "unit": "MB"},
        **named,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "round_s": round_s, "round_cpu_s": round_cpu_s,
        "part_cpu_s": {mod.__name__.split(".")[-1]: [c[i] for c in part_cpu]
                       for i, mod in enumerate(parts)},
        "host_steal_s": steal, "e2e": e2e, "metrics": named,
        "failures": out.failures,
    }
    if adhoc in parts:
        detail["per_gate_s"] = adhoc.per_gate([rd[parts.index(adhoc)] for rd in rounds])
    results = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    if args.trace:
        eng = engine_layers(ledger, n_rounds)
        eng["trace.overhead_s"] = {"value": tracer.overhead_s / n_rounds,
                                   "unit": "s"}
        untraced = out_dir / f"{args.workload}-seed{args.seed}-trace0.json"
        base = (json.loads(untraced.read_text())["detail"]["metrics"]
                if untraced.exists() else None)
        detail["trace_overhead"] = {
            "in_measurement_s": tracer.overhead_s,
            "counter_read_s": tracer.collect_s,
            **{f"{m}_traced_minus_untraced": (
                named[m]["value"] - base[m]["value"] if base else None)
               for m in ("round_s", "round_cpu_s")},
        }
        detail["layers"] = layers
        tracer.write(out_dir / f"{args.workload}-seed{args.seed}-spans.json",
                     {"layers": layers, "engine_layers": eng})
        metrics = eng
    else:
        metrics = e2e
    result = {"correct": out.failed == 0, "attempted": out.attempted,
              "failed": out.failed, "metrics": metrics}
    out_dir.mkdir(parents=True, exist_ok=True)
    results.write_text(json.dumps({"detail": detail, "result": result}, indent=1))
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
