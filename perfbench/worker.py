"""One fresh benchmark process: ``worker.py SPEC OUT``.

Sets the engine up, runs the cold pass (checking every query's output
against its DuckDB oracle right after the query's timed phases), then
warm passes until the run's seconds are spent.  The result, with every
span, goes to the JSON file ``OUT``.

The process is started by ``run.py`` with the run's own working
directory and temp directories; the engine is imported from the
checkout that holds this file, at its default settings.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def setup(spec: dict) -> tuple[object, dict]:
    """Import the engine, start a session and finish a first trivial job
    that forks a Python worker.  ``setup_s`` counts from the moment the
    parent launched this process."""
    import hdfs_mr_spark  # noqa: F401  (import time belongs to set-up)
    from hdfs_mr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t0
    spark.sparkContext.parallelize(range(4), 1).map(lambda x: x + 1).sum()
    return spark, {"setup_s": time.time() - spec["launch_wall"],
                   "session.start_s": session_s}


def _order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    import numpy as np

    rng = np.random.default_rng([seed, 100 + pass_no])
    return [queries[i] for i in rng.permutation(len(queries))]


def _peak_rss_mb(root_pid: int) -> dict[str, float]:
    """VmHWM summed over the descendants of ``root_pid``: the JVM, and
    the Python daemon with its workers."""
    parent: dict[int, int] = {}
    for pid, fields in proc_stats():
        parent[pid] = int(fields[1])
    seen, frontier = set(), [root_pid]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid and p not in seen]
        seen.update(kids)
        frontier.extend(kids)
    out = {"jvm": 0.0, "python": 0.0}
    for pid in seen:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            kind = "jvm" if status["Name"].strip() == "java" else "python"
            out[kind] += int(status["VmHWM"].split()[0]) / 1024.0
    return out


def proc_stats():
    """(pid, fields after the command name) of every process in /proc."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                yield int(entry), f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue


class OracleCache:
    """DuckDB oracle answers keyed by input fingerprint and SQL, so the
    oracle runs once per seed."""

    def __init__(self, cache_dir: Path, data_dir: str, fingerprint: str):
        self.dir, self.data_dir, self.fp = cache_dir, data_dir, fingerprint
        self._con = None

    def answer(self, sql: str):
        import hashlib

        import pandas as pd

        key = hashlib.sha256(f"{self.fp}\n{sql}".encode()).hexdigest()[:24]
        path = self.dir / f"{key}.pkl"
        if path.exists():
            return pd.read_pickle(path)
        if self._con is None:
            from hdfs_mr_spark.check import oracle_connection

            self._con = oracle_connection(self.data_dir)
        df = self._con.execute(sql).fetchdf()
        self.dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        df.to_pickle(tmp)
        tmp.replace(path)
        return df


def check(spec, df, oracle: OracleCache) -> str:
    """'' when ``df`` matches the oracle, else why it does not."""
    from hdfs_mr_spark.check import compare_frames

    if spec.oracle is None:
        return "no oracle registered"
    try:
        ours = df.toPandas()
    except Exception as e:  # noqa: BLE001 - any engine error is a failure
        return f"collect raised: {e!r:.300}"
    res = compare_frames(spec.name, ours, oracle.answer(spec.oracle),
                         ordered="ordered" in spec.tags)
    return "" if res.ok else res.detail


def run(spec: dict, spark, result: dict) -> None:
    from hdfs_mr_spark.registry import all_specs

    from perfbench.trace import LayerTracer, Spans, StreamProgress

    specs = all_specs()
    queries = spec["queries"]
    missing = [q for q in queries if q not in specs]
    if missing:
        raise SystemExit(f"queries not in the registry: {missing}")
    data_dir, trace = spec["data_dir"], spec["trace"]
    spans = Spans(spec["run_id"])
    tracer = LayerTracer(spark) if trace else None
    stream = StreamProgress() if trace else None
    oracle = OracleCache(Path(spec["oracle_cache"]), data_dir, spec["fingerprint"])
    run_span = spans.open(spec["workload"], "run", None, seed=spec["seed"])
    failures: dict[str, str] = {}
    passes: list[dict] = []
    deadline = spec["deadline_wall"]

    def one_pass(pass_no: int, traced: bool, check_outputs: bool) -> dict:
        if traced:
            spark.streams.addListener(stream.listener)
        kind = "cold" if pass_no == 0 else "warm"
        pid = spans.open(f"pass{pass_no}", "pass", run_span, pass_kind=kind,
                         traced=traced)
        rec = {"pass": pass_no, "kind": kind, "traced": traced, "queries": {}}
        for name in _order(queries, spec["seed"], pass_no):
            qid = spans.open(name, "query", pid)
            marks = [tracer.mark()] if traced else []
            bid = spans.open("build", "build", qid)
            if traced:
                stream.current = bid
            df, err = None, ""
            try:
                df = specs[name].fn(spark, data_dir)
            except Exception as e:  # noqa: BLE001 - recorded as a failure
                err = f"build raised: {e!r:.300}"
            build_s = spans.close(bid)
            exec_s = 0.0
            if df is not None:
                if traced:
                    marks.append(tracer.mark())
                eid = spans.open("exec", "exec", qid)
                try:
                    df.write.mode("overwrite").format("noop").save()
                except Exception as e:  # noqa: BLE001
                    err = f"exec raised: {e!r:.300}"
                exec_s = spans.close(eid)
            spans.close(qid)
            q = {"build_s": build_s, "exec_s": exec_s}
            if traced:
                marks.append(tracer.mark())
                tracer.drain()
                layers = tracer.phases(marks)
                q["build"] = layers[0]
                q["exec"] = layers[1] if len(layers) > 1 else {}
                q["stream"] = stream.take(bid)
                stream.current = None
            if err:
                failures.setdefault(name, err)
            elif check_outputs:
                t = time.perf_counter()
                why = check(specs[name], df, oracle)
                q["check_s"] = time.perf_counter() - t
                if why:
                    failures.setdefault(name, why)
            rec["queries"][name] = q
        rec["wall_s"] = spans.close(pid)
        rec["hwm_mb"] = _peak_rss_mb(os.getpid())
        if traced:
            spark.streams.removeListener(stream.listener)
        return rec

    # cold pass: timed phases, each output checked outside its timing
    passes.append(one_pass(0, trace, check_outputs=True))
    warm_start = time.perf_counter()
    pass_no = 1
    while (pass_no <= spec["min_warm"]
           or time.perf_counter() - warm_start < spec["seconds"]):
        if time.time() > deadline:
            break
        # a traced run alternates traced and untraced warm passes, so
        # the tracing overhead is measured inside one process
        passes.append(one_pass(pass_no, trace and pass_no % 2 == 0,
                               check_outputs=False))
        pass_no += 1
    spans.close(run_span)
    result.update(passes=passes, failures=failures, spans=spans.items,
                  slots=spark.sparkContext.defaultParallelism,
                  attempted=len(queries))


def main(argv: list[str]) -> None:
    spec_path, out_path = argv
    spec = json.loads(Path(spec_path).read_text())
    spark, result = setup(spec)
    # keep the engine's index / lake store inside this run's directory, so
    # every run starts from an empty store and leaves nothing behind
    from hdfs_mr_spark.sources import scans

    scans.FIXTURE_ROOT = Path(spec["store_dir"])
    run(spec, spark, result)
    Path(out_path).write_text(json.dumps(result))
    # skip the SparkContext stop: the JVM exits, running its shutdown
    # hooks, as soon as this process's pipe to it closes
    sys.stdout.flush()
    os._exit(0)


def summarize(result: dict, trace: bool) -> dict:
    """End-to-end (or, for a traced run, per-layer) metric values."""
    from perfbench.trace import PASS_COUNTERS, PHASE_COUNTERS, STREAM_COUNTERS

    passes = result["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    if not warm or (trace and not (traced and plain)):
        raise RuntimeError("too few warm passes finished within the run limit")
    names = list(cold["queries"])

    def pass_s(p: dict) -> float:
        return sum(q["build_s"] + q["exec_s"] for q in p["queries"].values())

    per_query = [statistics.median(p["queries"][n]["build_s"]
                                   + p["queries"][n]["exec_s"] for p in warm)
                 for n in names]
    if not trace:
        return {
            "cold_pass_s": pass_s(cold),
            "warm_pass_s": statistics.median(pass_s(p) for p in warm),
            "query_geomean_s": math.exp(statistics.fmean(
                math.log(max(v, 1e-6)) for v in per_query)),
        }

    def phase_sum(p: dict, phase: str, key: str) -> float:
        return sum(q[phase][key] for q in p["queries"].values() if phase in q
                   and key in q[phase])

    def both(p: dict, key: str) -> float:
        return phase_sum(p, "build", key) + phase_sum(p, "exec", key)

    def med(f) -> float:
        return statistics.median(f(p) for p in traced)

    out = {
        "build.s": med(lambda p: sum(q["build_s"] for q in p["queries"].values())),
        "exec.s": med(lambda p: sum(q["exec_s"] for q in p["queries"].values())),
        "cold.build.s": sum(q["build_s"] for q in cold["queries"].values()),
        "cold.build.jobs": phase_sum(cold, "build", "jobs"),
        "cold.exec.s": sum(q["exec_s"] for q in cold["queries"].values()),
        "jvm.slot_busy_frac": med(lambda p: both(p, "jvm.task_run_s")
                                  / (pass_s(p) * result["slots"])),
    }
    for phase, key in [("build", k) for k in PHASE_COUNTERS
                       if k != "stages_skipped"] + [
            ("exec", k) for k in PHASE_COUNTERS if k != "persisted_rdds"]:
        out[f"{phase}.{key}"] = med(lambda p, ph=phase, k=key: phase_sum(p, ph, k))
    for key in PASS_COUNTERS:
        out[key] = med(lambda p, k=key: both(p, k))
    for key in STREAM_COUNTERS:
        out[key] = med(lambda p, k=key: sum(q["stream"][k]
                                            for q in p["queries"].values()))
    out["mem.jvm_peak_rss_mb"] = max(p["hwm_mb"]["jvm"] for p in passes)
    out["mem.python_peak_rss_mb"] = max(p["hwm_mb"]["python"] for p in passes)
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in plain))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
