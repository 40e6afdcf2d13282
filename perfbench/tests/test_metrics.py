"""Pins the benchmark's metric names and units (not their values).

Run with ``python3 -m pytest perfbench/tests -q``; no Spark session is
started.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, benchmark_entries  # noqa: E402
from perfbench.trace import (  # noqa: E402
    PASS_COUNTERS,
    PHASE_COUNTERS,
    STREAM_COUNTERS,
    sql_metric_total,
)
from perfbench.worker import summarize  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

E2E_NAMES = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "query_geomean_s": "s",
}
LAYER_NAMES = {
    "session.start_s": "s",
    "build.s": "s", "build.jobs": "count", "build.stages": "count",
    "build.tasks": "count", "build.persisted_rdds": "count",
    "cold.build.s": "s", "cold.build.jobs": "count", "cold.exec.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.tasks": "count",
    "tasks.failed": "count", "jvm.task_run_s": "s", "jvm.task_cpu_s": "s",
    "jvm.gc_s": "s", "jvm.slot_busy_frac": "ratio",
    "scan.input_mb": "MB", "scan.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "spill.mb": "MB",
    "python.run_s": "s", "python.boot_s": "s", "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "stream.batches": "count", "stream.trigger_s": "s",
    "stream.add_batch_s": "s", "stream.commit_s": "s",
    "stream.planning_s": "s", "stream.input_rows": "count",
    "mem.jvm_peak_rss_mb": "MB", "mem.python_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def test_metric_names_and_units_are_pinned():
    assert {m.name: m.unit for m in END_TO_END} == E2E_NAMES
    assert {m.name: m.unit for m in PER_LAYER} == LAYER_NAMES


def test_benchmark_json_matches_the_tables():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert {k: doc[k] for k in ("end_to_end", "per_layer")} == benchmark_entries()
    assert doc["workloads"] == [{"name": w.name, "why": w.why}
                                for w in WORKLOADS.values()]
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def _fake_result(traced_passes: bool) -> dict:
    layer = dict.fromkeys(PHASE_COUNTERS + PASS_COUNTERS, 1.0)
    stream = dict.fromkeys(STREAM_COUNTERS, 1.0)

    def one(n: int, kind: str, traced: bool) -> dict:
        q = {"build_s": 0.5 + n, "exec_s": 0.25}
        if traced:
            q.update(build=layer, exec=layer, stream=stream)
        return {"pass": n, "kind": kind, "traced": traced, "wall_s": 2.0 + n,
                "hwm_mb": {"jvm": 90.0, "python": 10.0},
                "queries": {"a": dict(q), "b": dict(q)}}

    return {"slots": 4, "passes": [
        one(0, "cold", traced_passes), one(1, "warm", False),
        one(2, "warm", traced_passes)]}


@pytest.mark.parametrize("trace", [False, True])
def test_a_run_reports_every_metric_of_its_table(trace):
    # run.py adds the set-up numbers, which come from the worker's setup()
    added = {"session.start_s"} if trace else {"setup_s"}
    got = set(summarize(_fake_result(trace), trace)) | added
    assert got == {m.name for m in (PER_LAYER if trace else END_TO_END)}


def test_spark_sql_metric_strings_parse():
    text = "total (min, med, max (stageId: taskId))\n5.2 s (1.3 s, 1.3 s)"
    assert sql_metric_total(text) == pytest.approx(5.2)
    assert sql_metric_total("total (min, med, max)\n250 ms (1 ms)") == pytest.approx(0.25)
    assert sql_metric_total("total\n1.0 MiB (1.0 KiB)") == pytest.approx(1.048576)
    assert sql_metric_total("") == 0.0


def test_inputs_follow_the_seed(tmp_path):
    def fp(seed: int, sub: str) -> str:
        out = tmp_path / sub
        datagen.write_relational(out, seed, 0.0005, n_docs=20, n_vecs=20)
        datagen.write_zipf_corpus(out, seed, n_docs=30, n_vecs=20, vocab=500)
        return datagen.fingerprint(out)

    assert fp(5, "a") == fp(5, "b") != fp(6, "c")


def test_workload_queries_are_registered_with_oracles():
    from hdfs_mr_spark.registry import all_specs

    specs = all_specs()
    for w in WORKLOADS.values():
        for name in w.queries:
            assert name in specs and specs[name].oracle, (w.name, name)
