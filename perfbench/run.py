"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts Spark on local[4] (one client, closed loop), runs one untimed
cold op, then runs passes of the workload's fixed work until ``--seconds``
have elapsed. The last stdout line is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
whose spans are recorded and whose Spark event log is parsed per span.
See perfbench/README.md.
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
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sample_python_lambdas_glue_and_pyspark_scripts_spark"
CPUS = 4
DRIVER_MEM = "2g"

# span name -> Spark counters reported for it besides SPAN_STATS; the
# counters chosen are those a change to that layer is most likely to move
SPAN_COUNTERS = {
    "session.get_spark": [],
    "orchestrate.run_pipeline": [
        "tasks", "exec_run_s", "exec_cpu_s", "input_bytes", "output_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes",
    ],
    "price_zone.run_price_zone_transform": [
        "tasks", "exec_run_s", "exec_cpu_s", "input_bytes", "shuffle_write_bytes",
    ],
    "versioning.init_opco_if_absent": ["tasks", "exec_run_s"],
    "versioning.load_opco": ["tasks", "exec_run_s", "exec_cpu_s", "output_bytes"],
    "promote.promote_swap": ["tasks", "output_bytes"],
    "run_ledger.record": ["tasks", "output_bytes"],
    "run_ledger.admit": ["tasks", "exec_run_s", "input_bytes"],
    "run_ledger.full_export_opcos": ["tasks", "input_bytes"],
    "streaming_pipeline.run_price_zone_stream": [
        "tasks", "task_failures", "exec_run_s", "exec_cpu_s", "input_bytes",
        "output_bytes", "shuffle_write_bytes",
    ],
    "query.plan": ["tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_bytes", "py_worker_run_s"],
    "query.exec": [
        "tasks", "task_failures", "exec_run_s", "exec_cpu_s", "gc_s", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "py_worker_start_s", "py_worker_init_s", "py_worker_run_s",
    ],
}
EXTRA_LAYER_METRICS = [
    ("run_ledger.files", "count"),
    ("orchestrate.load_retries", "count"),
    ("orchestrate.load_retry_ratio", "ratio"),
    ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.trigger_s", "s"),
    ("streaming.query_start_s", "s"),
    ("spark.task_failure_ratio", "ratio"),
    ("trace.wall_s", "s"),
]
# peak_rss_mb stays in the report line only: the JVM's peak RSS follows its
# garbage collector's heap sizing, and same-code runs spread by up to 0.31
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s")]


def _unit(stat: str) -> str:
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("_bytes"):
        return "bytes"
    return "count"


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    from spans import SPAN_STATS

    out = []
    for span, counters in SPAN_COUNTERS.items():
        for stat in (*SPAN_STATS, *counters):
            out.append((f"{span}.{stat}", _unit(stat)))
    return out + EXTRA_LAYER_METRICS


def _import_package(batches):
    """mapInPandas body for the worker self-check: the workers must be able
    to import the package, or every Python-worker query fails inside them."""
    import importlib

    importlib.import_module(PACKAGE)
    yield from batches


def worker_selfcheck(spark) -> None:
    rows = spark.range(8, numPartitions=CPUS).mapInPandas(_import_package, "id long").collect()
    if sorted(r.id for r in rows) != list(range(8)):
        raise RuntimeError("Python-worker self-check returned wrong rows")


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until every process started under
    this one (the JVM, its Python worker daemon and workers, and the
    JVM's shutdown helpers) has ended; kill whatever outlives ``timeout``."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        procs = descendants(os.getpid())
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            jvm = gateway.proc
            if jvm is not None and jvm.stdin is not None:
                jvm.stdin.close()  # the JVM exits when its stdin reaches EOF
                try:
                    jvm.wait(timeout)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        procs += descendants(os.getpid())
        deadline = time.monotonic() + timeout
        while any(map(_alive, procs)) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in filter(_alive, procs):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        while any(map(_alive, procs)):
            time.sleep(0.05)


def install_spans(tracer, ledger_files: list) -> None:
    """Wrap the public functions of each traced layer in spans."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import versioning
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans import orchestrate, run_ledger
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources import promote

    admit = run_ledger.RunLedger.admit

    def counting_admit(self, *args, **kwargs):
        ledger_files[0] = sum(n.endswith(".parquet") for n in os.listdir(self.path))
        return admit(self, *args, **kwargs)

    run_ledger.RunLedger.admit = counting_admit
    for owner, attr, name in [
        (versioning.VersionedCatalog, "init_opco_if_absent", "versioning.init_opco_if_absent"),
        (versioning.VersionedCatalog, "load_opco", "versioning.load_opco"),
        (promote, "promote_swap", "promote.promote_swap"),
        (run_ledger.RunLedger, "record", "run_ledger.record"),
        (run_ledger.RunLedger, "admit", "run_ledger.admit"),
        (run_ledger.RunLedger, "full_export_opcos", "run_ledger.full_export_opcos"),
        (orchestrate, "run_price_zone_transform", "price_zone.run_price_zone_transform"),
        (orchestrate, "run_pipeline", "orchestrate.run_pipeline"),
    ]:
        tracer.wrap(owner, attr, name)


def layer_values(tracer, first_timed: int, jobs: dict, passes: list, ledger_files: int) -> tuple[dict, dict]:
    """Per-layer metric values per pass (session: per run), plus the full
    per-span table written to the trace file."""
    from spans import SPAN_STATS, span_table
    from workloads import STREAM_PROGRESS

    setup = span_table(tracer.spans[:first_timed], tracer.groups, jobs)
    timed = span_table(tracer.spans, tracer.groups, jobs, first=first_timed)
    n = len(passes)
    values = {}
    for span, counters in SPAN_COUNTERS.items():
        row, div = (setup, 1) if span == "session.get_spark" else (timed, n)
        for stat in (*SPAN_STATS, *counters):
            values[f"{span}.{stat}"] = row.get(span, {}).get(stat, 0.0) / div
    extra = {}
    for p in passes:
        for k, v in p.extra.items():
            extra[k] = extra.get(k, 0.0) + v / n
    tasks = sum(r["tasks"] for r in timed.values())
    failures = sum(r["task_failures"] for r in timed.values())
    retries = extra.get("orchestrate.load_retries", 0.0)
    values.update(
        {
            "run_ledger.files": float(ledger_files),
            "orchestrate.load_retries": retries,
            "orchestrate.load_retry_ratio": retries / extra["opcos_loaded"] if extra.get("opcos_loaded") else 0.0,
            "spark.task_failure_ratio": failures / tasks if tasks else 0.0,
            "trace.wall_s": median([p.wall_s for p in passes]),
        }
    )
    for k in STREAM_PROGRESS:
        values[k] = extra.get(k, 0.0)
    per_pass = {k: {s: v / n for s, v in row.items()} for k, row in timed.items()}
    full = {"setup": setup, "timed_per_pass": per_pass, "passes": n}
    return values, full


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE)) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} holds no {PACKAGE} package to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from spans import NullTracer, Tracer, find_event_log, parse_event_log, tail_percentile
    from workloads import WORKLOADS

    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tracer = Tracer() if args.trace else NullTracer()
    workload = WORKLOADS[args.workload](args.seed, work, tracer)

    t_setup = time.perf_counter()
    # no JVM may write outside the checkout: hsperfdata always goes to /tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from sample_python_lambdas_glue_and_pyspark_scripts_spark import session

    ledger_files = [0]
    spark = None
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with tracer.span("session.get_spark"):
            spark = session.get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)
        if args.trace:
            tracer.bind(spark.sparkContext)
            install_spans(tracer, ledger_files)
        phases = {"spark_s": time.perf_counter() - t_setup}
        if workload.python_workers:
            worker_selfcheck(spark)
            phases["selfcheck_s"] = time.perf_counter() - t_setup - phases["spark_s"]
        cold = workload.cold_op(spark)
        phases["cold_s"] = cold.seconds
        setup_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        checks = workload.checks(spark)
        phases["checks_s"] = time.perf_counter() - t
        first_timed = len(tracer.spans)
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            passes.append(workload.run_pass(spark, len(passes)))
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    ops = [op for p in passes for op in p.ops]
    failed = sum(not op.ok for op in ops)
    correct = failed == 0 and cold.ok and all(op.ok for op in checks)
    secs = [op.seconds for op in ops]
    walls = [p.wall_s for p in passes]
    report = {
        "workload": args.workload, "seed": args.seed, "passes": len(passes), "ops": len(ops),
        "setup_s": setup_s, "wall_s": median(walls), "op_p50_s": median(secs),
        "peak_rss_mb": rss, "failed_ops_share": failed / len(ops),
        "phases": phases,
        "op_seconds": [[op.name, round(op.seconds, 4), op.ok] for op in ops],
    }
    tail = tail_percentile(secs)
    if tail is not None:
        report["op_tail_s"] = {"percentile": tail[0], "n": len(secs), "value": tail[1]}
    if passes[0].in_rows:
        report["rows_per_s"] = median([p.in_rows / p.wall_s for p in passes])
        report["out_bytes_per_in_byte"] = median([p.out_bytes / p.in_bytes for p in passes])
    print("[perfbench] " + json.dumps(report), flush=True)

    if not args.trace:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END}
    else:
        jobs = parse_event_log(find_event_log(os.path.join(work, "eventlog")))
        values, full = layer_values(tracer, first_timed, jobs, passes, ledger_files[0])
        with open(os.path.join(HERE, "_work", f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"report": report, "metrics": values, "layers": full, "spans": tracer.spans}, f, indent=1)
        metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer_metrics()}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
