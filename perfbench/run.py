"""Conversion-engine benchmark: run one workload, print one JSON result.

    python3 perfbench/run.py --workload full_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up the workload (inputs
generated from ``--seed``, set-up conversions, untimed warm-up), then
runs operations one after another, one client, for ``--seconds`` of wall
time. Every operation's output is checked; a failed check counts in
``failed``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics from a traced run
(``--trace 1``). The lines before it record the environment and every
metric by name with its unit. All files go under ``.perfbench/`` in the
repository; the spans of a traced run are kept in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("full_fanout", "incremental_backlog", "readback_scan")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "sync_files_per_s": "1/s",
    "commits_per_s": "1/s",
    "scan_rows_per_s": "1/s",
    "meta_bytes_per_file": "B",
    "peak_rss_mb": "MB",
}

FMTS = ("delta", "iceberg", "hudi")
TARGET_STEPS = (
    "get_table_metadata",
    "begin_sync",
    "sync_schema",
    "sync_partition_spec",
    "sync_files",
    "complete_sync",
)
SOURCE_CALLS = ("get_current_snapshot", "get_commits_backlog", "get_table_change_for_commit")
LAYERS = ("sources", "targets", "sync", "read", "bench")


def _per_layer_units() -> dict[str, str]:
    units = {f"sources.{c}_s": "s" for c in SOURCE_CALLS}
    units["sources.changes_extracted"] = "count"
    for fmt in FMTS:
        units.update({f"targets.{fmt}.{step}_s": "s" for step in TARGET_STEPS})
        units[f"targets.{fmt}.meta_bytes_written"] = "B"
        units[f"targets.{fmt}.meta_files_written"] = "count"
    units["sync.full_targets"] = "count"
    units["sync.incremental_targets"] = "count"
    for fmt in FMTS:
        units[f"read.{fmt}.plan_s"] = "s"
        units[f"read.{fmt}.exec_s"] = "s"
        units[f"read.{fmt}.files_opened"] = "count"
        units[f"read.{fmt}.keep_ratio"] = "ratio"
    units.update({f"{layer}.self_s": "s" for layer in LAYERS})
    units["spark.jobs"] = "count"
    units["spark.tasks"] = "count"
    for layer in LAYERS:
        units[f"spark.jobs.{layer}"] = "count"
        units[f"spark.tasks.{layer}"] = "count"
    units["trace.op_wall_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


PER_LAYER = _per_layer_units()


@dataclass
class OpRecord:
    seconds: float
    traced: bool
    outcome: object  # workloads.Outcome
    op_id: int


# -- environment -----------------------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``, and
    size the session for this machine unless the caller already did."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            # a pre-touched fixed-size heap: the JVM's resident size then no
            # longer depends on when its collector chose to grow the heap
            "--conf "
            + shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch"
            ),
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- running -------------------------------------------------------------------


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, work: str, sizes=None):
    """Set up ``name``, measure it for ``seconds``, and return
    (result dict, human-readable lines, tracer or None)."""
    from perfbench import workloads
    from perfbench.tracing import NullTracer, Tracer

    null = NullTracer()
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[name](spark, os.path.join(work, name), seed, sizes)
    wl.setup()
    wl.warm_up(null)
    setup_s = time.perf_counter() - t0

    tracer = Tracer(spark.sparkContext) if trace else None
    records: list[OpRecord] = []
    start = time.perf_counter()
    while True:
        i = len(records)
        # a traced run pairs each traced operation with an untraced one on
        # the same input, so the difference is the tracing overhead
        traced = trace and i % 2 == 1
        wl.reset(repeat=traced)
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.operation(i) as root:
                    out = wl.run_op(tracer)
                elapsed = root.end - root.start
            else:
                out = wl.run_op(null)
                elapsed = time.perf_counter() - t0
            outcome = wl.check(out)
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            elapsed = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            outcome = workloads.Outcome(files=0, commits=0, rows=0, errors=[f"{type(exc).__name__}: {exc}"])
        records.append(OpRecord(elapsed, traced, outcome, i))
        for err in outcome.errors:
            print(f"perfbench: operation {i} failed: {err}", file=sys.stderr)
        # stop on a whole cycle of the workload's inputs (and of pairs)
        if time.perf_counter() - start >= seconds and len(records) % (wl.cycle_len * (1 + trace)) == 0:
            break

    failed = sum(1 for r in records if r.outcome.errors)
    if trace:
        metrics = per_layer_metrics(tracer, records)
        units = PER_LAYER
    else:
        metrics = end_to_end_metrics(records, setup_s, peak_rss_mb(spark))
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    lines = [f"{k} = {metrics[k]:.6g} {units[k]}" for k in units]
    lines.append(f"fail_ratio = {failed}/{len(records)} = {failed / len(records):.6g}")
    if not trace:
        pct, beyond = tail_rank([r.seconds for r in records])
        lines.append(f"op_tail_s is p{pct:.0f} of {len(records)} operations ({beyond} beyond it)")
        lines.append("operation seconds: " + " ".join(f"{r.seconds:.3f}" for r in records))
        lines.append("metadata bytes per operation: " + " ".join(str(r.outcome.amp_bytes) for r in records))
    return result, lines, tracer


def tail_rank(times: list[float]) -> tuple[float, int]:
    """(percentile, samples beyond) of the tail sample: the highest rank
    with at least ten samples beyond it once there are 20 or more
    samples, else the maximum."""
    n = len(times)
    k = n - 11 if n >= 20 else n - 1
    return 100.0 * (k + 1) / n, n - 1 - k


def end_to_end_metrics(records: list[OpRecord], setup_s: float, rss: float) -> dict:
    times = sorted(r.seconds for r in records)
    busy = sum(times)
    _, beyond = tail_rank(times)
    ok = [r.outcome for r in records if not r.outcome.errors]
    amp_files = sum(o.amp_files for o in ok)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(times),
        "op_tail_s": times[len(times) - 1 - beyond],
        "sync_files_per_s": sum(o.files for o in ok) / busy,
        "commits_per_s": sum(o.commits for o in ok) / busy,
        "scan_rows_per_s": sum(o.rows for o in ok) / busy,
        "meta_bytes_per_file": sum(o.amp_bytes for o in ok) / amp_files if amp_files else 0.0,
        "peak_rss_mb": rss,
    }


def per_layer_metrics(tracer, records: list[OpRecord]) -> dict:
    """Means per traced operation, so the layer self times add up to the
    traced operation's wall time (``trace.op_wall_s``)."""
    from perfbench.tracing import self_times

    traced = [r for r in records if r.traced]
    untraced = [r for r in records if not r.traced]
    by_op: dict[int, list] = {}
    for span in tracer.spans:
        by_op.setdefault(span.op_id, []).append(span)
    own = self_times(tracer.spans)
    names = {s.span_id: s.name for s in tracer.spans}
    totals = dict.fromkeys(PER_LAYER, 0.0)
    reads: dict[str, list] = {fmt: [] for fmt in FMTS}  # fmt -> [(plan, exec, opened, live, ranged)]

    for rec in traced:
        spans = by_op.get(rec.op_id, [])
        for s in spans:
            dur = s.end - s.start
            layer = s.name.partition(".")[0]
            layer = "bench" if layer == "op" else layer
            totals[f"{layer}.self_s"] += own[s.span_id]
            totals["spark.jobs"] += s.jobs
            totals["spark.tasks"] += s.tasks
            totals[f"spark.jobs.{layer}"] += s.jobs
            totals[f"spark.tasks.{layer}"] += s.tasks
            # a method's busy time counts its outermost call only
            if s.parent is not None and names[s.parent] == s.name:
                continue
            head, _, method = s.name.rpartition(".")
            if head == "sources" and method in SOURCE_CALLS:
                totals[f"sources.{method}_s"] += dur
                if method == "get_table_change_for_commit":
                    totals["sources.changes_extracted"] += 1
            elif head.startswith("targets."):
                step = "sync_files" if method.startswith("sync_files_for_") else method
                key = f"{head}.{step}_s"
                if key in totals:
                    totals[key] += dur
        out = rec.outcome
        for fmt, n in out.meta_bytes.items():
            totals[f"targets.{fmt}.meta_bytes_written"] += n
        for fmt, n in out.meta_files.items():
            totals[f"targets.{fmt}.meta_files_written"] += n
        for mode in out.modes.values():
            totals["sync.full_targets" if mode == "FULL" else "sync.incremental_targets"] += 1
        if out.read is not None:
            fmt, opened, live, ranged = out.read
            plan = sum(s.end - s.start for s in spans if s.name == f"read.{fmt}.plan")
            exe = sum(s.end - s.start for s in spans if s.name == f"read.{fmt}.exec")
            reads[fmt].append((plan, exe, opened, live, ranged))
        totals["trace.op_wall_s"] += rec.seconds

    n = max(len(traced), 1)
    metrics = {k: v / n for k, v in totals.items()}
    for fmt, rows in reads.items():
        if not rows:
            continue
        metrics[f"read.{fmt}.plan_s"] = statistics.fmean(r[0] for r in rows)
        metrics[f"read.{fmt}.exec_s"] = statistics.fmean(r[1] for r in rows)
        metrics[f"read.{fmt}.files_opened"] = statistics.fmean(r[2] for r in rows)
        live = sum(r[3] for r in rows if r[4])
        metrics[f"read.{fmt}.keep_ratio"] = sum(r[2] for r in rows if r[4]) / live if live else 1.0
    if traced and untraced:
        metrics["trace.overhead_s"] = statistics.median(r.seconds for r in traced) - statistics.median(
            r.seconds for r in untraced
        )
    return metrics


def fingerprint(spark, args, loadavg, session_s: float) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "cpus_available": len(os.sched_getaffinity(0)),
        "loadavg_at_start": loadavg,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "session_start_s": round(session_s, 3),
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "incubator_xtable_spark")):
        print(f"perfbench: no incubator_xtable_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, ROOT)
    loadavg = os.getloadavg()
    t0 = time.perf_counter()
    from incubator_xtable_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        env = fingerprint(spark, args, loadavg, session_s)
        result, lines, tracer = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work
        )
        if tracer is not None:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(path)
            lines.append(f"spans: {path}")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("env " + json.dumps(env))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
