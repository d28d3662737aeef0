#!/usr/bin/env python3
"""Repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload scd2_daily --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It starts ``local[$SPARK_GRAFT_CPUS]``
(default: the cores this process may use), sets the workload up and warms
it up, then runs ops back to back for ``--seconds`` (and at least MIN_OPS
ops); each op starts when the previous one has committed. Outputs are
checked after the timed window; an op fails if it raises or its check
fails.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Host diagnostics are printed on the line before it and,
with the metrics, written to ``.bench_build/perfbench/results/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pandas_etl_framework_spark"
MIN_OPS = 4

SPAN_NAMES = (
    "meta_columns.add_meta_columns",
    "cdc.historize_append",
    "scd2_store.merge",
    "scd2.snapshot_read",
    "dedup.minhash_band_pairs",
    "dedup.keeper",
    "clustering.kmeans_quantized",
    "clustering.assign",
)
# counters only some workloads have; 0 on the others
WORKLOAD_COUNTS = (
    "dedup.candidate_pairs",
    "dedup.dup_docs",
    "dedup.dup_docs_per_candidate_pair",
    "io.files_written_per_op",
    "io.bytes_written_per_op",
    "io.store_bytes_per_input_byte",
)
# event-log totals per op: metric name -> key of measure.fold_event_log
PER_OP_TOTALS = {
    "scheduling.jobs_per_op": "jobs",
    "scheduling.stages_per_op": "stages",
    "scheduling.tasks_per_op": "tasks",
    "executor.run_s_per_op": "run_s",
    "executor.cpu_s_per_op": "cpu_s",
    "executor.shuffle_write_bytes_per_op": "shuffle_write_bytes",
    "executor.shuffle_read_bytes_per_op": "shuffle_read_bytes",
    "executor.spill_bytes_per_op": "spill_bytes",
    "executor.gc_s_per_op": "gc_s",
    "python_boundary.bytes_sent_per_op": "py_bytes_sent",
    "python_boundary.rows_sent_per_op": "py_rows_sent",
}


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ..."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> None:
    """Ends the Spark JVM and every process under it (Python workers
    included) and waits until each has exited. ``spark.stop()`` alone
    leaves the JVM running until this process exits."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids:
        while alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(workdir: str, traced: bool) -> dict:
    """Keeps every file Spark writes inside ``workdir``; a traced run adds
    an uncompressed single-file event log."""
    conf = {
        "spark.local.dir": os.path.join(workdir, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def run(args, workdir: str) -> tuple[dict, dict, int, int]:
    from pandas_etl_framework_spark import get_spark
    from perfbench import measure
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    diag = {
        "cores": os.cpu_count(),
        "cores_usable": len(os.sched_getaffinity(0)),
        "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_start": os.getloadavg(),
        "calib_s_start": measure.calibration_s(),
        "calib_par_s_start": measure.parallel_calibration_s(),
    }
    ticks0 = measure.cpu_ticks()

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(workdir, traced)
    )
    try:
        sc = spark.sparkContext
        spans = measure.Spans(set_group=(lambda g: sc.setJobGroup(g, g)) if traced else None)
        diag["session_start_s"] = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, workdir, args.seed, traced)
        wl.setup()
        diag["inputs_and_bootstrap_s"] = time.perf_counter() - t0 - diag["session_start_s"]
        warm = []
        for i in range(wl.warmup_ops):
            wl.prepare(i)
            t = time.perf_counter()
            wl.op(i, measure.no_span)
            warm.append(time.perf_counter() - t)
        setup_s = time.perf_counter() - t0

        wall: dict[int, float] = {}
        rows: dict[int, int] = {}
        raised: set[int] = set()
        i = wl.warmup_ops
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(wall) < MIN_OPS:
            wl.prepare(i)
            t = time.perf_counter()
            try:
                if traced:
                    with spans.span("op", i):
                        rows[i] = wl.op(i, spans.span)
                else:
                    rows[i] = wl.op(i, measure.no_span)
                wall[i] = time.perf_counter() - t
                wl.after(i)
            except Exception:  # a raising op is a failed op; keep the loop going
                wall.setdefault(i, time.perf_counter() - t)
                traceback.print_exc()
                raised.add(i)
            i += 1
        diag["steal_frac"] = measure.steal_fraction(ticks0, measure.cpu_ticks())
        jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss_mb = measure.vm_hwm_mb(jvm_pid) + measure.vm_hwm_mb(os.getpid())
        t = time.perf_counter()
        ok_ops = [o for o in sorted(wall) if o not in raised]
        failed = raised | wl.check(ok_ops)
        diag["check_s"] = time.perf_counter() - t
        run_counts = wl.run_counts() if traced else {}
    finally:
        spark.stop()

    times = [wall[o] for o in ok_ops] or list(wall.values())
    diag.update({
        "ops_timed": len(times),
        "op_max_s": max(times),
        "drift_second_vs_first_half": measure.drift(times),
        "loadavg_end": os.getloadavg(),
        "calib_s_end": measure.calibration_s(),
        "calib_par_s_end": measure.parallel_calibration_s(),
        "warmup_op_s": [round(t, 4) for t in warm],
        "op_s": [round(t, 4) for t in times],
    })
    if traced:
        spans.write(os.path.join(workdir, "spans.json"))
        groups = measure.fold_event_log(
            measure.read_event_log(os.path.join(workdir, "eventlog"))
        )
        metrics = layer_metrics(wl, spans.records, ok_ops, groups)
        metrics.update(run_counts, peak_rss_mb=peak_rss_mb)
        metrics["trace.op_p50_s"] = statistics.median(times)
    else:
        diag["peak_rss_mb"] = peak_rss_mb
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "rows_per_s": sum(rows[o] for o in ok_ops) / sum(times),
        }
    return metrics, diag, len(wall), len(failed)


def layer_metrics(wl, records, traced_ops, groups) -> dict:
    """Per-op means, over the ops that did not raise, of span times,
    event-log totals folded by job group, and the workload's own
    counters."""
    from perfbench import measure

    n = len(traced_ops)
    out = {f"{s}_s": 0.0 for s in SPAN_NAMES}
    out.update({f"{s}.jobs": 0.0 for s in SPAN_NAMES})
    out.update({m: 0.0 for m in PER_OP_TOTALS})
    out.update({m: 0.0 for m in WORKLOAD_COUNTS})
    out.update({"scheduling.failed_tasks": 0, "driver.gap_s_per_op": 0.0})
    ops = {str(o) for o in traced_ops}
    records = [r for r in records if str(r["op"]) in ops]  # drop ops that raised
    for r in records:
        if r["name"] in SPAN_NAMES:
            out[f"{r['name']}_s"] += (r["end"] - r["start"]) / n
    by_op: dict[str, list] = {o: [] for o in ops}
    for gname, g in groups.items():
        op, _, span = gname.partition("|")
        if op not in ops:
            continue
        by_op[op].append(g)
        if span in SPAN_NAMES:
            out[f"{span}.jobs"] += g["jobs"] / n
        for metric, key in PER_OP_TOTALS.items():
            out[metric] += g[key] / n
        out["scheduling.failed_tasks"] += g["failed_tasks"]
    for r in records:
        if r["name"] == "op":
            intervals = [iv for g in by_op[str(r["op"])] for iv in g["intervals"]]
            out["driver.gap_s_per_op"] += measure.driver_gap(r["start"], r["end"], intervals) / n
    for o in traced_ops:
        for k, v in wl.layer_counts(o).items():
            out[k] += v / n
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found next to perfbench/: run from a checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM, the spark-submit launcher included: temp files in the
    # workdir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cwd = os.getcwd()
    os.chdir(workdir)  # anything Spark drops in the cwd stays in the workdir
    # a terminated run still unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics, diag, attempted, failed = run(args, workdir)
        results = os.path.join(base, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
        if args.trace:
            shutil.copy(os.path.join(workdir, "spans.json"), stem + "-spans.json")
    finally:
        stop_processes()
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump({**out, "diagnostics": diag}, f, indent=1)
    for name, m in out["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print("diagnostics " + json.dumps(diag))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
