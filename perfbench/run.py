"""Benchmark of the nbi_oedi_etl_spark engine.

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Generates its inputs from ``--seed``
under ``.perfbench_scratch/`` (wiped at the start and end of every run),
starts the engine's SparkSession on ``local[<cores>]`` and drives one
workload as a closed loop with one client for at least ``--seconds``
of op time (whole query_mix passes; at least six etl_hourly ops).
Every op's result is checked outside the timed region; a wrong result
counts as failed.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see BENCHMARK.json). The line
before it is ``{"detail": ...}`` with input sizes, generation time, every
set-up, each op's wall time and jobs, and in a traced run the spans with
their self times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SCRATCH = os.path.join(REPO, ".perfbench_scratch")
SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "op_p50_s": "s",
    "session.start_s": "s",
    "phase.construct_s": "s",
    "phase.construct_jobs": "count",
    "phase.plan_s": "s",
    "phase.execute_s": "s",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.schema_memo_hit_ratio": "ratio",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "pipeline.job_s": "s",
    "pipeline.bypass_s": "s",
    "catalog.register_s": "s",
    "monitor.rows_listed": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_busy_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "pyboundary.bytes_sent": "bytes",
    "pyboundary.bytes_received": "bytes",
    "pyboundary.rows": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "banded.probe_s": "s",
    "banded.append_s": "s",
    "banded.write_s": "s",
    "banded.layout_bytes": "bytes",
    "driver.collect_rows": "count",
    "sinks.out_bytes_per_in_byte": "ratio",
    "host.calib_s": "s",
}
#: StreamingQueryProgress.durationMs keys behind the stream.* metrics
STREAM_DURATIONS = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.latest_offset_ms": "latestOffset",
}


def host_sizing() -> tuple[int, str]:
    """(cores, driver heap) for this host: every core, an eighth of RAM
    (the inputs are small; the machine is shared)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return cores, f"{max(1024, min(32768, total_kb // 8192))}m"


def host_calibration() -> float:
    """Single-core speed token: seconds for a 1e7-step pure-Python loop,
    min of two trials (co-tenant steal inflates it, never deflates)."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        s = 0
        for i in range(10_000_000):
            s += i
        best = min(best, time.perf_counter() - t0)
    return best


def _proc_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, by pid."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass
    return out


def process_tree(stats: dict[int, list[str]]) -> set[int]:
    """This process and all its descendants (the JVM and its Python workers)."""
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree so far, reaped children
    included. Time the hypervisor steals from the VM is not in it."""
    stats = _proc_stats()
    return sum(sum(int(x) for x in stats[p][11:15]) for p in process_tree(stats)) / _TICK


class RssSampler(threading.Thread):
    """Peak summed RSS of the process tree, sampled from /proc."""

    def __init__(self, interval_s: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval_s, self.peak_bytes = interval_s, 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(_proc_stats()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_hourly", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument(
        "--corrupt-op", type=int, default=-1,
        help="alter this op's result before its check (self-test of the check)",
    )
    return ap.parse_args(argv)


def prepare_environment() -> tuple[int, str]:
    """Fresh scratch root; temp files, Spark local dirs and host sizing set
    before pyspark is imported."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(SCRATCH, d))
    cores, heap = host_sizing()
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, REPO)
    return cores, heap


def start_session():
    from nbi_oedi_etl_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the heap starts at its full size, so GC heap sizing, and with
            # it peak RSS and GC time, cannot differ from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(ops: list, traced: list[dict], cores: int, session_s: list[float], calib: float) -> dict:
    """Per-layer metrics: per-op means over the checked ops, stream timings
    per micro-batch."""
    n = len(ops)

    def per_op(key: str) -> float:
        return sum(t.get(key, 0.0) for t in traced) / n

    batches = [b for t in traced for b in t["batches"]]
    wall = sum(op.wall_s for op in ops)
    calls, hits = per_op("count.memo_calls") * n, per_op("count.memo_hits") * n
    out = {
        "op_p50_s": statistics.median(op.wall_s for op in ops),
        "session.start_s": statistics.median(session_s),
        "phase.construct_s": mean(op.phases["construct"] for op in ops),
        "phase.construct_jobs": mean(op.construct_jobs for op in ops),
        "phase.plan_s": mean(op.phases["plan"] for op in ops),
        "phase.execute_s": mean(op.phases["execute"] for op in ops),
        "sources.read_calls": per_op("span.sources.read.calls"),
        "sources.read_s": per_op("span.sources.read.s"),
        "sources.schema_memo_hit_ratio": hits / calls if calls else 0.0,
        "sinks.write_s": per_op("span.sinks.write.s"),
        "sinks.files_written": per_op("count.files_written"),
        "sinks.bytes_written": per_op("count.bytes_written"),
        "pipeline.job_s": per_op("span.pipeline.job.s"),
        "pipeline.bypass_s": per_op("span.pipeline.bypass.s"),
        "catalog.register_s": per_op("span.catalog.register.s"),
        "monitor.rows_listed": per_op("rows_listed"),
        "exec.core_util": per_op("exec.task_busy_s") * n / (wall * cores),
        "stream.batches": len(batches) / n,
        "stream.input_rows": sum(b["rows"] for b in batches) / n,
        "stream.batch_p50_ms": (
            statistics.median(b["durationMs"].get("triggerExecution", 0) for b in batches)
            if batches else 0.0
        ),
        "banded.probe_s": per_op("span.banded.probe.s"),
        "banded.append_s": per_op("span.banded.append.s"),
        "banded.write_s": per_op("span.banded.write.s"),
        "banded.layout_bytes": per_op("banded.layout_bytes"),
        "driver.collect_rows": mean(op.rows for op in ops),
        "sinks.out_bytes_per_in_byte": per_op("out_bytes_per_in_byte"),
        "host.calib_s": calib,
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "gc_s"):
        out[f"exec.{key}"] = per_op(f"exec.{key}")
    for key in ("bytes_sent", "bytes_received", "rows"):
        out[f"pyboundary.{key}"] = per_op(f"pyboundary.{key}")
    for name, key in STREAM_DURATIONS.items():
        out[name] = mean(b["durationMs"].get(key, 0) for b in batches)
    return out


def trace_op(tracer, spark, wl, op, mark, jobs: tuple[int, int]) -> dict:
    """Everything the traced run records about one op, read after it ends."""
    from tracing import dir_stats, exec_metrics, python_boundary

    # the CDC stream drains its input in three micro-batches (doc_id % 3)
    expect = 3 if op.label == "streaming_banded_cdc_dedup" else 0
    batches = tracer.op_progress(mark, expect)
    rec = tracer.op_layers(mark)
    rec.update({f"exec.{k}": v for k, v in exec_metrics(spark, *jobs).items()})
    rec.update({f"pyboundary.{k}": v for k, v in python_boundary(op.df).items()})
    rec["batches"] = batches
    rec["banded.layout_bytes"] = sum(dir_stats(p)[1] for p in tracer.layouts[mark["layouts"]:])
    if wl.name == "etl_hourly":
        rec["rows_listed"] = sum(r.counters.get("rows_listed", 0) for r in op.value)
        rec["out_bytes_per_in_byte"] = wl.written_per_read(op)
    return rec


def run(args) -> dict:
    cores, heap = prepare_environment()
    try:
        import workloads
        from tracing import Tracer, jobs_submitted
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}", file=sys.stderr)
        sys.exit(2)

    # 1.3 s a run on a slow host; untraced runs show a degraded host by
    # its steal share instead
    calib = host_calibration() if args.trace else None
    wl = workloads.make(args.workload, os.path.join(SCRATCH, "data"), args.seed, args.size, REPO)
    t0 = time.perf_counter()
    inputs = wl.generate()
    gen_s = time.perf_counter() - t0

    rss = RssSampler()
    rss.start()
    setups, session_s, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            session_s.append(time.perf_counter() - t0)
            wl.op(spark, -1)  # untimed warm-up op
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0

        tracer = Tracer() if args.trace else None
        if tracer:
            tracer.install()
        ops, traced, log, errors = [], [], [], []
        attempted = failed = 0
        measured = check_s = 0.0
        steal0 = cpu_ticks()
        i = 0
        while True:
            attempted += 1
            mark = tracer.mark() if tracer else None
            j0 = jobs_submitted(spark)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                op = wl.op(spark, i)
                op.cpu_s = tree_cpu_s() - c0
            except Exception as e:  # a failed op counts; the loop goes on
                failed += 1
                measured += time.perf_counter() - t0
                errors.append(f"op {i}: {type(e).__name__}: {e}"[:500])
                op = None
            if op is not None:
                jobs = (j0, jobs_submitted(spark))
                measured += op.wall_s
                if i == args.corrupt_op:
                    wl.corrupt(op)
                t0 = time.perf_counter()
                try:
                    wl.check(op)
                except workloads.Mismatch as e:
                    failed += 1
                    errors.append(f"op {i} {op.label}: {e}"[:500])
                else:
                    ops.append(op)
                    if tracer:
                        traced.append(trace_op(tracer, spark, wl, op, mark, jobs))
                check_s += time.perf_counter() - t0
                log.append({"op": op.label, "wall_s": op.wall_s, "cpu_s": op.cpu_s, "jobs": jobs[1] - jobs[0]})
            if measured >= args.seconds and wl.pass_done(i):
                break
            i += 1
        steal1 = cpu_ticks()
        if tracer:
            tracer.uninstall()
    finally:
        rss.stop()
        if spark is not None:
            shutdown(spark)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "cores": cores,
        "driver_heap": heap,
        "host_calib_s": calib,
        "generate_s": gen_s,
        "inputs": inputs,
        "setups_s": setups,
        "session_start_s": session_s,
        "prepare_s": prepare_s,
        "measured_s": measured,
        "check_s": check_s,
        # co-tenants of a shared host show here before they show in the times
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "ops": log,
        "errors": errors[:20],
    }
    walls = [op.wall_s for op in ops]
    if walls:
        metrics = {
            "setup_s": statistics.median(setups),
            # An op's CPU cost, not its wall time, is the end-to-end op
            # metric: on a shared 4-core VM the median op's wall time moved
            # with the hypervisor's steal (1.9 s at 0.5% steal, 3.8 s at
            # 16%) and spread 0.55 (quartile distance over median) over ten
            # etl_hourly seeds, against 0.22 for its CPU seconds.
            "op_cpu_p50_s": statistics.median(op.cpu_s for op in ops),
            "op_p50_s": statistics.median(walls),
            # These stay in the detail. A run has too few ops for a tail
            # percentile to repeat across runs, and throughput sums the few
            # longest ops: over ten query_mix seeds their spread was 0.30
            # (quartile distance over median) against 0.14 for the median.
            "op_p90_s": quantile(walls, 0.9),
            "op_samples": len(walls),
            "ops_per_min": 60.0 * len(walls) / sum(walls),
            "input_rows_per_s": sum(op.input_rows for op in ops) / sum(walls),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        detail["end_to_end"] = metrics
        if tracer:
            metrics = layer_metrics(ops, traced, cores, session_s, calib)
            detail["phase_sum_over_wall"] = sum(sum(op.phases.values()) for op in ops) / sum(walls)
            # run totals of every span (inclusive and self seconds, calls)
            # and counter, e.g. the memo hit ratio's base
            detail["spans"] = {
                k: sum(t.get(k, 0.0) for t in traced)
                for k in sorted({k for t in traced for k in t if k.startswith(("span.", "count."))})
            }
        units = PER_LAYER if tracer else END_TO_END
        metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        metrics = {}
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0 and bool(ops),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        out = run(args)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
