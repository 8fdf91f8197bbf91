"""The benchmark's own tests: BENCHMARK.json and the catalogue agree with
what the benchmark prints, inputs are a pure function of the seed, the
checks count a deliberately wrong result, and a checkout without the
program fails without printing a result.

Run from the repository root:  python -m pytest perfbench/tests -q
The smoke runs start Spark (about a minute per workload).
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench.checks import compare  # noqa: E402
from perfbench.common import tail  # noqa: E402
from perfbench.spans import union_length  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
CATALOGUE = json.loads((ROOT / "perfbench" / "metrics.json").read_text())


def test_benchmark_json_matches_the_benchmark():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCH["workloads"]} == set(run.WORKLOADS)
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layers = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    emitted = {n: u for n, (_, u) in run.ENGINE_LAYERS.items()}
    emitted.update({"trace.spans": "count", "trace.overhead_s": "s"})
    assert layers == emitted
    assert set(CATALOGUE["ledger"]) == set(run.WORKLOADS)
    for names in CATALOGUE["ledger"].values():
        assert len(names) == len(set(names))


def _inputs(base: Path, seed: int) -> Path:
    gen.write_raw_csvs(base / "raw", seed, "tiny")
    gen.write_star_tables(base / "sf", seed, "tiny")
    gen.base_orders(base / "base.parquet", seed, "tiny")
    return base


def _same_tree(a: Path, b: Path) -> bool:
    files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    return files == sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file()) \
        and all(filecmp.cmp(a / f, b / f, shallow=False) for f in files)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (_inputs(tmp_path / n, s) for n, s in (("a", 5), ("b", 5), ("c", 6)))
    assert _same_tree(a, b)
    assert not _same_tree(a, c)
    assert gen.change_batches(5, 8, "tiny") == gen.change_batches(5, 8, "tiny")
    assert gen.change_batches(5, 8, "tiny") != gen.change_batches(6, 8, "tiny")


def test_planted_defects_are_present(tmp_path):
    planted = gen.write_raw_csvs(tmp_path, 3, "tiny").planted
    for name in ("null_emails", "duplicate_emails", "duplicate_customer_ids",
                 "null_prices", "nonpositive_prices", "cost_not_below_price",
                 "invalid_discounts", "transaction_total_mismatches",
                 "orphan_transactions", "orphan_items_transaction",
                 "orphan_items_product", "transactions_without_items"):
        assert planted[name] > 0, name
    # the cleanse drops and recomputes these, so the checks must find none
    assert planted["nonpositive_quantities"] == 0
    assert planted["line_total_mismatches"] == 0


def test_change_batches_never_delete_a_key_twice():
    seen: set[int] = set()
    for b in gen.change_batches(9, 16, "tiny"):
        keys = set(range(*b.delete))
        assert not keys & seen
        assert not {r[0] for r in b.merge} & seen
        seen |= keys


def test_measured_work_depends_on_seconds_only():
    for name in run.WORKLOADS:
        assert run.rounds_for(name, BENCH["run_seconds"]) == 1
        assert run.rounds_for(name, 1) == 1
        assert run.rounds_for(name, 10_000) == run.MAX_ROUNDS
    assert run.rounds_for("nightly_batch", 2.1 * run.WORKLOADS["nightly_batch"][1]) == 2


def test_helpers():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tail(list(range(20)))["value"] == 9
    assert tail([1.0, 3.0])["percentile"] is None
    assert compare(["a", "b"], [(1.0, "x")], ["b", "a"], [("x", 1.0 + 1e-12)]) is None
    assert compare(["a"], [(1.0,)], ["a"], [(2.0,)]) is not None


def test_checkout_without_the_program_fails(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"],
                              "--seed", "1", "--seconds", "1", "--trace", "0"]
    res = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True,
                         timeout=120)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_tiny_smoke_run_counts_the_injected_fault(workload):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "2",
                              "--seconds", "1", "--trace", "1",
                              "--scale", "tiny", "--inject-fault"]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2].removeprefix("perfbench-detail "))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    # one corrupted expectation per part, and nothing else fails
    n_parts = len(run.WORKLOADS[workload][0])
    assert result["failed"] == n_parts, detail["failures"]
    assert result["correct"] is False
    assert detail["metrics"]["failed_frac"]["value"] == pytest.approx(
        n_parts / result["attempted"])
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert set(detail["e2e"]) == {m["name"] for m in BENCH["end_to_end"]}
    for block, units in ((result["metrics"], BENCH["per_layer"]),
                         (detail["e2e"], BENCH["end_to_end"])):
        for m in units:
            assert block[m["name"]]["unit"] == m["unit"]
    want = {n for n, m in CATALOGUE["named_metrics"].items()
            if workload in m["workloads"]}
    assert set(detail["metrics"]) == want
    assert set(detail["layers"]) == set(CATALOGUE["ledger"][workload])
