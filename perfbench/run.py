#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. writes the workload's inputs from ``--seed`` into its own directory
   under ``.perfbench/``;
2. starts one fresh process that sets the engine up, runs the cold pass,
   checking every query's output against its DuckDB oracle outside the
   timed phases, then warm passes for ``--seconds`` seconds;
3. prints one line per metric and, last, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``perfbench/metrics.py``); a traced run also
writes its spans to ``.perfbench/traces/``.  Everything the run writes
stays inside the checkout; the run directory, with the engine's index
and lake store, is deleted before the program exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from perfbench.worker import proc_stats, summarize  # noqa: E402

WORK = ROOT / ".perfbench"
MIN_WARM_PASSES = 2
RUN_LIMIT_S = 150.0   # the worker's share of the 180 s a run may take
# the engine's own knobs; unset so the engine runs at its defaults
_ENGINE_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")


def _child_env(run_dir: Path) -> dict[str, str]:
    """The environment of the worker: engine knobs unset, and every temp
    directory (Python's, the JVM's, Spark's) inside the run directory."""
    env = {k: v for k, v in os.environ.items() if k not in _ENGINE_ENV}
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env["TMPDIR"] = str(run_dir / "tmp")
    # -XX:-UsePerfData: the JVM would otherwise keep its perf-data file
    # in /tmp/hsperfdata_<user>/, outside the checkout
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "-XX:-UsePerfData")))
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    return env


def _group_alive(pgid: int) -> bool:
    """True while a non-zombie process of group ``pgid`` exists."""
    return any(int(f[2]) == pgid and f[0] != "Z" for _, f in proc_stats())


def _stop_group(pgid: int) -> None:
    """Let the JVM exit on its own (it does once the worker's pipe to it
    closes, and then removes its temp files), then terminate, then kill
    whatever of the group is left; return once every process has ended."""
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.time() + grace
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _worker(spec: dict, run_dir: Path, env: dict, timeout: float) -> dict:
    """Run ``worker.py`` in a fresh process group; stop every process it
    started (JVM, Python workers) before returning."""
    spec_path, out_path = run_dir / "spec.json", run_dir / "out.json"
    log_path = run_dir / "worker.log"
    spec_path.write_text(json.dumps(dict(spec, launch_wall=time.time())))
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, str(ROOT / "perfbench" / "worker.py"),
             str(spec_path), str(out_path)],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = None
            proc.kill()
            proc.wait()
        finally:
            _stop_group(proc.pid)
    if code != 0 or not out_path.exists():
        tail = log_path.read_text(errors="replace")[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    return json.loads(out_path.read_text())


def bench(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    wl = WORKLOADS[workload]
    started = time.time()
    run_id = f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}"
    run_dir = WORK / "runs" / run_id
    try:
        data_dir = run_dir / "data" / f"perfbench_{workload}"
        sizes = wl.write_inputs(data_dir, seed)
        env = _child_env(run_dir)
        spec = {"workload": workload, "seed": seed, "seconds": seconds,
                "trace": trace, "run_id": run_id, "data_dir": str(data_dir),
                "fingerprint": datagen.fingerprint(data_dir),
                "store_dir": str(run_dir / "store"),
                "oracle_cache": str(WORK / "cache" / "oracle"),
                "queries": list(wl.queries), "min_warm": MIN_WARM_PASSES,
                "deadline_wall": started + RUN_LIMIT_S - 15}
        result = _worker(spec, run_dir, env, started + RUN_LIMIT_S - time.time())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = summarize(result, trace)
    if trace:
        metrics["session.start_s"] = result["session.start_s"]
        out = WORK / "traces" / f"{run_id}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({
            "run_id": run_id, "workload": workload, "seed": seed,
            "inputs": sizes, "setup_s": result["setup_s"], "metrics": metrics,
            "failures": result["failures"], "spans": result["spans"],
            "passes": result["passes"]}, indent=1))
        print(f"spans: {out.relative_to(ROOT)}")
    else:
        metrics["setup_s"] = result["setup_s"]
    return {"metrics": metrics, "failures": result["failures"],
            "attempted": result["attempted"], "inputs": sizes,
            "passes": len(result["passes"])}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "hdfs_mr_spark" / "__init__.py").is_file():
        print(f"no engine (hdfs_mr_spark/) under {ROOT}", file=sys.stderr)
        return 2
    try:
        out = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    except RuntimeError as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    table = PER_LAYER if args.trace else END_TO_END
    failures = out["failures"]
    print(f"workload {args.workload} seed {args.seed}: inputs {out['inputs']}, "
          f"{out['passes']} passes")
    for m in table:
        print(f"  {m.name:24s} {out['metrics'][m.name]:14.4f} {m.unit}")
    print(f"  failed_frac {len(failures)}/{out['attempted']}")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    print(json.dumps({
        "correct": not failures, "attempted": out["attempted"],
        "failed": len(failures),
        "metrics": {m.name: {"value": out["metrics"][m.name], "unit": m.unit}
                    for m in table}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
