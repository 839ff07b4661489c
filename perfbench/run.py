"""alix_spark benchmark: one command, two workloads, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with per-span Spark counters and prints the per-layer metrics
(and writes every span label to ``.perfbench_out/``). The last line of
standard output is the result object; diagnostics go to stderr.
Exits non-zero, printing no result, when the engine's source is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

# per-layer metric -> (layer, counter, unit, better); layers are filled by
# the workloads from their spans, see README.md for what each should move
PER_LAYER = {
    "session.s": ("session", "s", "s", "lower"),
    "index.s": ("index", "s", "s", "lower"),
    "index.jobs": ("index", "jobs", "count", "lower"),
    "index.tasks": ("index", "tasks", "count", "lower"),
    "index.cpu_ms": ("index", "cpu_ms", "ms", "lower"),
    "index.core_util": ("index", "core_util", "ratio", "higher"),
    "index.gc_ms": ("index", "gc_ms", "ms", "lower"),
    "index.shuffle_write_bytes": ("index", "shuffle_write_bytes", "bytes", "lower"),
    "index.output_bytes": ("index", "output_bytes", "bytes", "lower"),
    "index.driver_ms": ("index", "driver_ms", "ms", "lower"),
    "op.ms": ("op", "ms", "ms", "lower"),
    "op.plan_ms": ("op.plan", "ms", "ms", "lower"),
    "op.plan_jobs": ("op.plan", "jobs", "count", "lower"),
    "op.exec_ms": ("op.exec", "ms", "ms", "lower"),
    "op.jobs": ("op", "jobs", "count", "lower"),
    "op.tasks": ("op", "tasks", "count", "lower"),
    "op.cpu_ms": ("op", "cpu_ms", "ms", "lower"),
    "op.core_util": ("op", "core_util", "ratio", "higher"),
    "op.driver_ms": ("op", "driver_ms", "ms", "lower"),
    "op.input_rows": ("op", "input_rows", "count", "lower"),
    "op.shuffle_write_bytes": ("op", "shuffle_write_bytes", "bytes", "lower"),
    "op.output_bytes": ("op", "output_bytes", "bytes", "lower"),
    "fresh.ms": ("fresh", "ms", "ms", "lower"),
    "fresh.jobs": ("fresh", "jobs", "count", "lower"),
    "fresh.driver_ms": ("fresh", "driver_ms", "ms", "lower"),
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(work: Path) -> int:
    """Point Spark's scratch space into ``work``, make the engine
    importable by the Python workers, return the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options",
                    shlex.quote(java_opts),
                    "--conf spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    return cores


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _per_layer(layers: dict) -> dict:
    out = {}
    for name, (layer, counter, unit, _) in PER_LAYER.items():
        vals = layers.get(layer, {})
        if counter == "s":
            value = vals.get("ms", 0.0) / 1000.0
        else:
            value = vals.get(counter, 0.0)
        out[name] = (float(value), unit)
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    a = _args(argv)
    if not (ROOT / "alix_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine source (alix_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads
    from spans import Tracer

    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cores = _environment(work)
    from alix_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    print(f"perfbench: session start {session_s:.1f} s", flush=True)
    tracer = Tracer(spark, enabled=bool(a.trace), cores=cores)
    run = workloads.Run(
        spark, tracer, work, a.seed, a.seconds, bool(a.trace), t_start
    )
    try:
        metrics = getattr(workloads, a.workload)(run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in run.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    if a.trace:
        run.layers["session"] = {"ms": session_s * 1000.0}
        OUT.mkdir(exist_ok=True)
        trace_file = OUT / f"trace-{a.workload}-seed{a.seed}.json"
        trace_file.write_text(json.dumps(run.layers, indent=1, sort_keys=True))
        print(f"perfbench: per-label trace written to {trace_file}", flush=True)
        metrics = _per_layer(run.layers)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
