"""Names, units and meaning of every metric the benchmark prints.

``END_TO_END`` is what a user of the engine sees, printed by an untraced
run; ``PER_LAYER`` is what a traced run (``--trace 1``) prints.  Each
per-layer metric names the engine module it measures, the end-to-end
metric it should move and the workload it should move it on.  The
layer numbers are taken from outside the engine: from timing the
benchmark's own calls into it and from Spark's status stores.
``BENCHMARK.json`` repeats the names, units and bounds; a test keeps
the two in step.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    meaning: str
    bound: float | None = None  # end-to-end only: allowed worsening share
    layer: str = ""             # per-layer only: engine module measured
    moves: str = ""             # per-layer only: end-to-end metric it moves
    on: str = ""                # per-layer only: workload where it shows


END_TO_END = (
    Metric("setup_s", "s", "lower", bound=0.25, meaning=(
        "process start -> import hdfs_mr_spark -> get_spark -> first "
        "trivial job with a Python worker done, in the run's fresh "
        "process (JVM start plus Python worker fork)")),
    Metric("cold_pass_s", "s", "lower", bound=0.25, meaning=(
        "build + exec seconds of the first pass over the workload's "
        "queries in a fresh process: codegen, empty memo caches, index "
        "and lake stores built from nothing")),
    Metric("warm_pass_s", "s", "lower", bound=0.25, meaning=(
        "median build + exec seconds of the later passes in the same "
        "process (warm: caches filled, code generated)")),
    Metric("query_geomean_s", "s", "lower", bound=0.25, meaning=(
        "geometric mean over queries of each query's median warm "
        "seconds, so a short query counts as much as a long one")),
)

_LAYER_ROWS = (
    # (layer, moves, on, [(name, unit, better, meaning), ...])
    ("hdfs_mr_spark.session", "setup_s", "all", [
        ("session.start_s", "s", "lower", "seconds inside get_spark()"),
    ]),
    ("hdfs_mr_spark.operators / registry (build phase)",
     "cold_pass_s, warm_pass_s", "llm_zipf", [
        ("build.s", "s", "lower",
         "seconds inside queries()[name](spark, dir), per warm pass"),
        ("build.jobs", "count", "lower",
         "Spark jobs run while the DataFrame is built (eager "
         "localCheckpoint / collect / stream drains), per warm pass"),
        ("build.stages", "count", "lower", "stages run in the build phase"),
        ("build.tasks", "count", "lower", "tasks run in the build phase"),
        ("build.persisted_rdds", "count", "lower",
         "RDDs persisted by the build phase (barrier count: "
         "getPersistentRDDs entries newer than the phase start)"),
        ("cold.build.s", "s", "lower", "build seconds of the cold pass"),
        ("cold.build.jobs", "count", "lower", "build jobs of the cold pass"),
        ("cold.exec.s", "s", "lower", "exec seconds of the cold pass"),
    ]),
    ("Spark exec phase (noop-sink action)", "warm_pass_s", "etl", [
        ("exec.s", "s", "lower", "seconds in the noop-sink action"),
        ("exec.jobs", "count", "lower", "jobs run by the action"),
        ("exec.stages", "count", "lower", "stages run by the action"),
        ("exec.stages_skipped", "count", "higher",
         "stages the action's jobs skipped (shuffle output reused)"),
        ("exec.tasks", "count", "lower", "tasks run by the action"),
        ("tasks.failed", "count", "lower", "failed task attempts, both phases"),
        ("jvm.task_run_s", "s", "lower", "executor run time of all tasks"),
        ("jvm.task_cpu_s", "s", "lower", "executor CPU time of all tasks"),
        ("jvm.gc_s", "s", "lower",
         "GC time of the one local-mode JVM (GarbageCollectorMXBeans)"),
        ("jvm.slot_busy_frac", "ratio", "higher",
         "task run time / (pass seconds x task slots)"),
    ]),
    ("hdfs_mr_spark.sources / io", "warm_pass_s", "etl", [
        ("scan.input_mb", "MB", "lower", "bytes read by scans"),
        ("scan.input_rows", "count", "lower", "rows read by scans"),
    ]),
    ("exchange", "warm_pass_s", "llm_zipf", [
        ("shuffle.write_mb", "MB", "lower", "shuffle bytes written"),
        ("shuffle.read_mb", "MB", "lower", "shuffle bytes read"),
        ("spill.mb", "MB", "lower", "bytes spilled to disk"),
    ]),
    ("process memory (JVM heap sizing, Arrow batches in Python workers)",
     "none (memory is not an end-to-end metric: see README)", "both", [
        ("mem.jvm_peak_rss_mb", "MB", "lower",
         "VmHWM of the JVM, largest after any pass"),
        ("mem.python_peak_rss_mb", "MB", "lower",
         "summed VmHWM of the Python daemon and workers, largest after "
         "any pass"),
    ]),
    ("hdfs_mr_spark.functions.udfs + applyInPandas kernels in "
     "operators.llm_*", "warm_pass_s, query_geomean_s", "llm_zipf", [
        ("python.run_s", "s", "lower",
         "PythonSQLMetrics 'time to run Python workers'"),
        ("python.boot_s", "s", "lower",
         "'time to start' + 'time to initialize Python workers'"),
        ("python.sent_mb", "MB", "lower", "'data sent to Python workers'"),
        ("python.received_mb", "MB", "lower",
         "'data returned from Python workers'"),
    ]),
    ("hdfs_mr_spark.streaming", "warm_pass_s", "etl, llm_zipf", [
        ("stream.batches", "count", "lower", "micro-batches run"),
        ("stream.trigger_s", "s", "lower", "sum of triggerExecution"),
        ("stream.add_batch_s", "s", "lower", "sum of addBatch"),
        ("stream.commit_s", "s", "lower", "sum of walCommit + commitOffsets"),
        ("stream.planning_s", "s", "lower", "sum of queryPlanning"),
        ("stream.input_rows", "count", "lower", "rows read by micro-batches"),
    ]),
    ("benchmark tracing", "none (reported, not gated)", "all", [
        ("trace.overhead_s", "s", "lower",
         "median traced warm pass minus median untraced warm pass, "
         "both in the same traced run"),
    ]),
)

PER_LAYER = tuple(
    Metric(name, unit, better, meaning, layer=layer, moves=moves, on=on)
    for layer, moves, on, rows in _LAYER_ROWS
    for name, unit, better, meaning in rows
)


def benchmark_entries() -> dict:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    return {
        "end_to_end": [{"name": m.name, "unit": m.unit, "better": m.better,
                        "bound": m.bound} for m in END_TO_END],
        "per_layer": [{"name": m.name, "unit": m.unit, "better": m.better}
                      for m in PER_LAYER],
    }
