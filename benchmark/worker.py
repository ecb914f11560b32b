"""The measured process of one benchmark run.

Started by run.py with the inputs already made.  It times set-up from its
own process start to its first timed op, runs the workload's whole
blocks, cycles or passes until the window is spent, checks every output,
stops the JVM and writes its figures as JSON for run.py to print.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


class Run:
    """Everything one run shares between set-up, the window and the
    figures."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = args.run_dir
        self.cache_dir = args.cache_dir
        self.data_dir = os.path.join(args.run_dir, "data")
        self.t_spawn = args.t_spawn
        self.tracer = None
        self.spark = None
        self.eng = None
        self.ops: list[dict] = []  # one record per timed op
        self.report: dict = {}  # undeclared figures for the report line
        self.per_layer: dict = {}
        self.end_to_end: dict = {}

    def span(self, name: str):
        """A span of the benchmark's own (an op, the warm-up) when
        tracing; nothing otherwise."""
        if self.trace:
            return self.tracer.span(name)
        return contextlib.nullcontext()

    def job_group(self, op_id: str) -> None:
        """Tie the Spark jobs of the calling thread's next op to op_id."""
        if self.trace:
            self.tracer.set_op(op_id)
            self.spark.sparkContext.setJobGroup(op_id, op_id)


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return sum(vals), vals[7]


def spark_conf(run: Run) -> dict:
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run.run_dir, "local"),
        # heap fixed at its maximum from the start, so resident memory
        # does not follow how far the heap happened to grow
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(
            run.run_dir, "events")
    return conf


def install_tracing(run: Run) -> None:
    """Wrap the engine's public names so each call records a span."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import heavydb_spark.engine as engine_mod
    from heavydb_spark import catalog, dialect, session
    from heavydb_spark.sources import copy_io
    from spans import Tracer

    tr = run.tracer = Tracer()
    tr.install(session, "get_spark", "session.get_spark")
    tr.install(engine_mod, "register_all", "functions.register_all")
    tr.install(catalog, "register_views", "catalog.register_views")
    tr.install(dialect, "rewrite", "dialect.rewrite")
    for name in ("sql", "sql_arrow", "load_table"):
        tr.install(engine_mod.Engine, name, f"engine.{name}")
    for name in ("copy_from_csv", "copy_from_parquet", "copy_from_regex",
                 "copy_from_geo_csv", "copy_to_csv", "copy_to_parquet",
                 "create_external_table", "ctas", "insert_into",
                 "copy_from_jdbc", "copy_from_arrow"):
        tr.install(copy_io, name, f"sources.{name}")
    tr.install(DataFrame, "toArrow", "action.toArrow")
    tr.install(DataFrameWriter, "saveAsTable", "writer.saveAsTable")
    tr.install(DataFrameWriter, "insertInto", "writer.insertInto")


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--span-file")
    args = ap.parse_args()
    run = Run(args)

    import curation
    import dashboard
    import ingest

    workload = {"dashboard": dashboard, "curation": curation,
                "ingest": ingest}[run.workload]
    if run.trace:
        install_tracing(run)
    from heavydb_spark import session

    run.spark = session.get_spark(app_name="heavydb_spark_benchmark",
                                  extra_conf=spark_conf(run))
    try:
        run.spark.sparkContext.setLogLevel("ERROR")
        workload.setup(run)
        setup_s = time.time() - run.t_spawn
        load0, (jif0, steal0) = os.getloadavg()[0], cpu_jiffies()
        t0 = time.perf_counter()
        workload.window(run, t0 + run.seconds)
        window_s = time.perf_counter() - t0
        jif1, steal1 = cpu_jiffies()
        rss_kb = vm_hwm_kb("self") + vm_hwm_kb(
            run.spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(run.spark)
    workload.after_stop(run)
    run.end_to_end.update({
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
    })
    run.report.update({
        "window_s": window_s,
        "load_avg_start": load0,
        "load_avg_end": os.getloadavg()[0],
        "steal_pct": 100.0 * (steal1 - steal0) / max(jif1 - jif0, 1),
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    })
    workload.figures(run, window_s)
    if run.trace:
        import spans

        events = [os.path.join(run.run_dir, "events", f)
                  for f in os.listdir(os.path.join(run.run_dir, "events"))]
        groups = spans.parse_event_log(events[0]) if events else {}
        setup_layers = {
            "session.get_spark_s": "session.get_spark",
            "functions.register_all_s": "functions.register_all",
            "catalog.register_views_s": "catalog.register_views",
            "setup.warmup_s": "setup.warmup",
        }
        for metric, span in setup_layers.items():
            run.per_layer[metric] = (sum(
                s["t1"] - s["t0"] for s in run.tracer.spans
                if s["name"] == span), "s")
        run.per_layer["setup.remainder_s"] = (setup_s - sum(
            run.per_layer[m][0] for m in setup_layers), "s")
        run.per_layer["trace.overhead_share"] = (
            run.tracer.overhead_s / window_s, "share")
        workload.layer_figures(run, window_s, groups)
        if args.span_file:
            run.tracer.write(args.span_file)
    failed = sum(1 for op in run.ops if not op["ok"])
    result = {
        "attempted": len(run.ops),
        "failed": failed,
        "end_to_end": run.end_to_end,
        "per_layer": run.per_layer,
        "report": run.report,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
