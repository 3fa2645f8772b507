"""Smoke test of the lake benchmark at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced with ``--size tiny``
and checks that each prints every metric it promises, with its unit,
and that every operation passed its correctness check. Also checks that
the generators are seed-deterministic, and that the runner refuses to
run (non-zero exit, no result line) without the program next to it.
Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# workload-specific report lines (name, unit) each untraced run prints
REPORTED = {
    "analyst_queries": [("query_p50_s", "s"), ("queries_per_s", "1/s")],
    "lake_ingest": [("ingest_batch_p50_s", "s"), ("read_after_write_p50_s", "s"),
                    ("ingest_rows_per_s", "rows/s"), ("stored_bytes_per_raw_byte", "ratio")],
    "corpus_curation": [("curation_p50_s", "s"), ("curation_docs_per_s", "docs/s")],
}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py") if cwd == ROOT else "perfbench/run.py",
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bm = json.load(fh)
    assert {m["name"]: m["unit"] for m in bm["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in bm["per_layer"]] == [(n, u) for n, u, _ in PER_LAYER]
    assert {w["name"] for w in bm["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = END_TO_END if not trace else {n: u for n, u, _ in PER_LAYER}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(result["metrics"][k]["value"] > 0 for k in END_TO_END)
        report = "\n".join(lines[:-1])
        for name, unit in REPORTED[workload] + [("setup_s", "s"), ("failed_ops_ratio", "ratio")]:
            line = next(ln for ln in lines if ln.startswith(f"# metric {name} "))
            assert f" {unit}" in line, line
        assert "failed_ops_ratio 0.0000" in report


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run("analyst_queries", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_generators_are_seed_deterministic(tmp_path):
    a = gen.IngestBatches(1, sensors_per_city=2, ticks=12).batch(3)
    b = gen.IngestBatches(1, sensors_per_city=2, ticks=12).batch(3)
    c = gen.IngestBatches(2, sensors_per_city=2, ticks=12).batch(3)
    assert a.iot_lines == b.iot_lines and a.iot_lines != c.iot_lines
    assert a.n_corrupt["iot"] == c.n_corrupt["iot"] > 0
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        gen.write_lake_tables(str(tmp_path / sub), seed, 0.001)
        gen.write_corpus(str(tmp_path / sub), seed, 50)

    def content(sub, name):
        return (tmp_path / sub / f"{name}.parquet").read_bytes()

    for name in ("lineitem", "orders", "events", "documents", "embeddings"):
        assert content("a", name) == content("b", name)
        assert content("a", name) != content("c", name)
