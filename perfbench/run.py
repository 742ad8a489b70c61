"""lakeflow benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Starts one Spark session on
``local[nproc]``, drives the package only through its public functions
with one closed-loop client, checks every operation's output against an
engine-independent oracle, and prints as its last stdout line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans of the
run are written under ``.perfbench_out/``. The line before it carries
run details (nproc, load averages, set-up breakdown, sample counts).

All temporary, checkpoint and Spark local state lives under
``.perfbench_work/`` in the checkout and is removed when the run ends,
also when a workload raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "implementing_a_data_lake_using_mongodb_integrated_with_bigquery_spark"
WORKLOADS = ("cdc_upsert", "warehouse_queries", "curation_stream")


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _isolate(work: str) -> None:
    """Point every temp/checkpoint/local-dir consumer at ``work`` and
    make the package importable by Spark's Python workers. Must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ.setdefault("LAKEFLOW_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job/stage/execution of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = ["--driver-java-options", java_opts]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None


def _stop_spark() -> None:
    """Stop the session and the JVM this process started, and wait for it."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, must not leave the JVM running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its state (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"package {PACKAGE} not found under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work)
        sys.path[:0] = [ROOT, HERE]
        import workloads

        host = {"nproc": _nproc(), "loadavg_start": list(os.getloadavg())}
        bench = workloads.Bench(args, ROOT, work)
        result = workloads.RUNNERS[args.workload](bench)
        host["loadavg_end"] = list(os.getloadavg())
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              **host, **result.pop("detail")}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
