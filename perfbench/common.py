"""Session lifetime, memory readings and the statistics the workloads
report."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import tempfile
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "ecommerce_data_pipeline_23a91a05i4_spark"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(root: Path, work: Path):
    """Start the engine's session with ``local[nproc]``, keeping every
    file Spark, the JVM and Python temp files write under ``work``.
    The status-store limits are raised so the trace can read every job
    of a run; the setting is the same for traced and untraced runs."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS", str(cpu_count()))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    # Python workers (pandas UDFs, the change-feed source) import the
    # package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p)
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))
    from ecommerce_data_pipeline_23a91a05i4_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": "3g",
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the status store the trace reads is kept without the web UI
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def driver_rss_peak_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def cpu_s(jvm: int) -> float:
    """CPU seconds (user + system) used so far by this process, the
    driver JVM and every process under the JVM (the Python workers),
    with the children they have reaped.  Time the hypervisor steals from
    a virtual machine's CPUs is not in it, so it does not move with the
    load of the machine's other guests, as wall time does."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # u, s, cu, cs time
    tree, todo = set(), [jvm]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo += [c for c, pp in parent.items() if pp == p and c not in tree]
    own = os.times()
    return (sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")
            + own.user + own.system)


def steal_s() -> float:
    """Seconds the hypervisor has stolen from this machine's CPUs so far,
    summed over the CPUs (0 on bare metal)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK") if len(f) > 8 else 0.0


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with
    the percentile and the sample count; with ten samples or fewer no
    such percentile exists and the maximum is reported instead."""
    n = len(values)
    v = sorted(values)
    if n > 10:
        return {"value": v[n - 11], "percentile": 100 * (n - 10) / n, "samples": n}
    return {"value": v[-1], "percentile": None, "samples": n}


@dataclass
class Outcome:
    """Per-run bookkeeping shared by the workloads."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, problem: str | None) -> bool:
        """Count one checked operation; ``problem`` None means it passed."""
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.failures.append(f"{name}: {problem}")
        return problem is None

    def attempt(self, name: str, fn, verify=None):
        """Run one operation and count it once: it fails when it raises
        or when ``verify(result)`` returns a problem.  Returns the
        result, or None when it raised."""
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — the benchmark reports and goes on
            self.check(name, f"raised {type(e).__name__}: {str(e)[:300]}")
            return None
        self.check(name, verify(result) if verify else None)
        return result


@dataclass
class Context:
    """What a workload gets from the command line and the session."""

    spark: object
    tracer: object
    seed: int
    scale: str
    work: Path
    outcome: Outcome
    #: tests only: corrupt one expected result, so one check must fail
    inject_fault: bool = False
