"""Benchmark of ravelytics_spark: three workloads, end-to-end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload catalog_relational --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

* ``catalog_relational``: relational HEADLINE catalog entries, where
  Catalyst planning and execution dominate;
* ``catalog_operators``: operator HEADLINE entries whose plan
  construction launches Spark jobs of its own;
* ``etl_ingest``: the reference ingest pipeline, one @daily interval
  after another through ``Engine.run_scheduled``.

One process, one SparkSession on ``local[<cores>]``, one client in a
closed loop. Set-up (session start, warm-ups, input generation, one
untimed warm-up pass) is timed as ``setup_s``; then the workload runs for
``--seconds``; then its outputs are checked against a reference. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the session writes a Spark event log, every other
operation runs inside spans with per-phase job groups, and the metrics are
the per-layer ones. All scratch files live in a temporary directory under
``.perfbench_tmp/`` in the working directory, removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_relational", "catalog_operators", "etl_ingest")


def metric_units(kind: str) -> dict[str, str]:
    """Unit of every ``kind`` ("end_to_end" or "per_layer") metric, in
    BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str, trace: bool):
    """Start the SparkSession through the package's ``get_spark``. Every
    file Spark or its Python workers write goes under ``tmp``."""
    from ravelytics_spark.session import get_spark

    n = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="ravelytics_perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, data_dir: str | None, python_worker: bool) -> None:
    """JVM and codegen, parquet listing, and, for workloads that use it,
    the Python worker (Arrow) path."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if data_dir is not None:
        spark.read.parquet(os.path.join(data_dir, "orders.parquet")).count()
    if python_worker:
        spark.range(10_000).mapInPandas(lambda it: it, "id long").count()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_session(spark) -> float:
    """Stop Spark and its JVM, wait for the JVM to exit, and return the
    peak resident memory (MB) of this process plus the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    rss = _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(proc.pid) if proc is not None else 0.0)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return rss


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    # Executor Python workers import the package by path.
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from bench import HEADLINE
    from ravelytics_spark.plans.queries import REGISTRY

    from catalog import CatalogWorkload, check_definitions
    from etl import EtlWorkload
    from spans import Tracer, parse_event_log

    problems = check_definitions(HEADLINE, REGISTRY)
    if problems:
        raise SystemExit(f"workload definitions: {problems}")

    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    tempfile.tempdir = tmp
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp, trace)
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, workload)
        t0 = time.perf_counter()
        if workload == "etl_ingest":
            wl = EtlWorkload(seed, tmp)
            wl.prepare(spark, tracer)
            data_dir = None
        else:
            wl = CatalogWorkload(workload, seed, tmp)
            wl.prepare()
            data_dir = wl.data_dir
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_up(spark, data_dir, python_worker=workload == "catalog_operators")
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm(spark, REGISTRY)
        setup_s = time.perf_counter() - t_setup
        print(
            f"set-up {setup_s:.2f} s: session {start_s:.2f}, inputs {inputs_s:.2f}, "
            f"warm-ups {warmup_s:.2f}, warm-up pass {time.perf_counter() - t0:.2f}",
            file=sys.stderr,
        )

        ops = wl.run(spark, REGISTRY, tracer, time.perf_counter() + seconds, alternate=trace)

        t0 = time.perf_counter()
        attempted, problems = wl.check(spark, REGISTRY)
        print(f"check {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        for p in problems:
            print(f"MISMATCH {p}", file=sys.stderr)
        metrics = wl.end_to_end()
        rss = stop_session(spark)
        spark = None
        metrics.update(setup_s=setup_s, ok_rate=1 - len(problems) / attempted)
        print(f"{workload}: {ops} {'passes' if data_dir else 'intervals'} timed", file=sys.stderr)
        if not trace:
            out = {k: {"value": metrics[k], "unit": u} for k, u in metric_units("end_to_end").items()}
        else:
            units = metric_units("per_layer")
            layers = dict.fromkeys(units, 0.0)
            layers.update(wl.per_layer(parse_event_log(os.path.join(tmp, "eventlog")), cores()))
            layers.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "peak_rss_mb": rss,
                "error_rate": len(problems) / attempted,
            })
            out = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        return {"correct": not problems, "attempted": attempted, "failed": len(problems), "metrics": out}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.listdir(base):
                os.rmdir(base)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # On SIGTERM, unwind through run()'s cleanup: stop the JVM, remove tmp.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "ravelytics_spark")):
        print(f"ravelytics_spark not found next to {HERE}: run from a repository checkout", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
