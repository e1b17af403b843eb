"""Benchmark of fuggetabouspark: four seeded workloads driven through the
library's public API on a local Spark session.

    python3 perfbench/run.py --workload build|probe|ingest|dedup \
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run generates (or reuses) the seeded
inputs, starts a local[nproc] session, prepares the workload's state,
then runs operations back to back (one client, closed loop) for
``--seconds``. Every operation checks its output against ground truth
the input generator planted; a failed check or an exception counts as a
failed operation. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
All files the run writes go under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
import types

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_sample() -> dict[int, int]:
    """User + system CPU ticks of this process, the JVM and the Python
    workers, keyed by pid."""
    out: dict[int, int] = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = int(fields[11]) + int(fields[12])
    return out


def cpu_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the process tree spent between two samples. Time a
    vCPU is stolen by the host is not counted."""
    ticks = sum(v - before.get(pid, 0) for pid, v in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) of this process, the JVM and
    the Python workers."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or the maximum when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 20:
        return 100.0, xs[-1]
    pct = math.floor(100.0 * (n - 10) / n)
    return float(pct), xs[min(n - 1, math.ceil(pct / 100.0 * n) - 1)]


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # HotSpot writes its perf-data file to /tmp, whatever java.io.tmpdir
        # says, unless perf data is off
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "probe", "ingest", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fuggetabouspark", "__init__.py")):
        print(f"fuggetabouspark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(BENCH) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    import inputs
    import spans as tr
    import workloads as W

    try:
        return run(args, spec, work, run_dir, inputs, tr, W)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, spec, work, run_dir, inputs, tr, W) -> int:
    from fuggetabouspark.session import get_spark

    ctx = types.SimpleNamespace()
    ctx.cpus = len(os.sched_getaffinity(0))
    ctx.seed = args.seed
    ctx.cache = os.path.join(work, "cache")
    ctx.work = run_dir
    ctx.inputs = inputs.load(args.workload, args.seed, ctx.cache)
    cls = W.WORKLOADS[args.workload]

    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=ctx.cpus)
    get_spark_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer = tr.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext,
                               enabled=bool(args.trace))
        wl = cls(ctx)
        with ctx.tracer.span("setup.prepare"):
            wl.prepare()
        setup_s = time.perf_counter() - t_setup
        phases = {"start": t_setup - T_START, "session": get_spark_s,
                  "prepare": setup_s - get_spark_s}

        durations, cpu, traced, untraced = [], [], [], []
        sizes = []  # work items of each successful operation
        attempted = failed = 0
        peak_rss = tree_peak_rss_mb()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or attempted % wl.cycle:
            # traced runs alternate span recording on and off, so the
            # cost of recording shows as the difference of the two
            ctx.tracer.enabled = bool(args.trace) and attempted % 2 == 0
            attempted += 1
            t_op, c_op = time.perf_counter(), cpu_sample()
            try:
                with ctx.tracer.span("op"):
                    n = wl.op(attempted - 1)
            except W.CheckFailed as e:
                failed += 1
                print(f"check failed: {e}", file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc()
            else:
                dt = time.perf_counter() - t_op
                durations.append(dt)
                cpu.append(cpu_between(c_op, cpu_sample()))
                (traced if ctx.tracer.enabled else untraced).append(dt)
                sizes.append(n)
            peak_rss = max(peak_rss, tree_peak_rss_mb())
        ctx.tracer.enabled = bool(args.trace)
        phases["loop"] = time.perf_counter() - t0
        if not durations:
            print("no operation succeeded", file=sys.stderr)
            return 1
        try:
            wl.finish()
        except W.CheckFailed as e:
            attempted += 1
            failed += 1
            print(f"check failed: {e}", file=sys.stderr)
        layer = {}
        t_layers = time.perf_counter()
        if args.trace:
            try:
                layer = wl.layers()
            except W.CheckFailed as e:
                attempted += 1
                failed += 1
                print(f"check failed: {e}", file=sys.stderr)
        cached_rdds = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
        phases["layers"] = time.perf_counter() - t_layers
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    phases["stop"] = time.perf_counter() - t_stop

    pct, tail_s = tail(durations)
    e2e = {
        "setup_s": setup_s,
        # medians of per-operation rates: one operation slowed by a
        # burst of load elsewhere on the host does not move them
        "throughput_per_s": statistics.median(n / d for n, d in zip(sizes, durations)),
        "op_p50_s": statistics.median(durations),
        "op_tail_s": tail_s,
        "op_cpu_s": statistics.median(cpu),
        "items_per_cpu_s": statistics.median(n / c for n, c in zip(sizes, cpu)),
        "peak_rss_mb": peak_rss,
    }
    report(args, wl, e2e, pct, attempted, failed, durations, cpu)
    print("# phase seconds: " + " ".join(f"{k} {v:.2f}" for k, v in phases.items()))

    if args.trace:
        jobs, tasks = tr.read_event_log(os.path.join(run_dir, "eventlog"))
        layer.update(tr.spark_metrics(ctx.tracer, "op", jobs, tasks))
        layer.update({
            "spark.cached_rdds_after": float(cached_rdds),
            "session.get_spark_s": get_spark_s,
            "fixtures.generate_s": ctx.inputs["meta"]["generate_s"],
            "trace.overhead_s": (statistics.median(traced) - statistics.median(untraced))
            if traced and untraced else 0.0,
            "proc.peak_rss_mb": peak_rss,
            "workload.op_cpu_s": e2e["op_cpu_s"],
            "workload.op_p50_s": e2e["op_p50_s"],
            "workload.op_tail_s": e2e["op_tail_s"],
        })
        layer.update({(k if "." in k else f"workload.{k}"): float(v) for k, v in wl.stats.items()})
        for name in ("state.build_resumable", "state.load_state",
                     "queries.seen_within_distributed", "incremental.process_batch",
                     "incremental.load_dedup_state"):
            layer.setdefault(f"{name}_s", ctx.tracer.median_self(name)
                             or ctx.tracer.median_self(f"setup.{name}"))
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        print_layers(metrics)
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


# each workload's own names for the generic end-to-end metrics
NAMES = {
    "build": {"throughput_per_s": ("build_tokens_per_s", "tokens/s")},
    "probe": {"throughput_per_s": ("probe_keys_per_s", "keys/s"),
              "op_p50_s": ("probe_batch_p50_s", "s"), "op_tail_s": ("probe_batch_tail_s", "s")},
    "ingest": {"throughput_per_s": ("ingest_docs_per_s", "docs/s"),
               "op_p50_s": ("shard_p50_s", "s"), "op_tail_s": ("shard_tail_s", "s")},
    "dedup": {"throughput_per_s": ("dedup_docs_per_s", "docs/s")},
}
UNITS = {"setup_s": "s", "op_cpu_s": "s", "items_per_cpu_s": "1/s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB",
         "state_bytes": "bytes", "probe_fpr": "ratio", "chain_docs_per_s": "docs/s",
         "mask_docs_per_s": "docs/s", "error_rate": "ratio"}


def report(args, wl, e2e, pct, attempted, failed, durations, cpu) -> None:
    rows = []
    for k, v in e2e.items():
        name, unit = NAMES[args.workload].get(k, (k, UNITS.get(k, "1/s")))
        rows.append((name, v, unit))
    for k in ("state_bytes", "probe_fpr", "chain_docs_per_s", "mask_docs_per_s"):
        if k in wl.stats:
            rows.append((k, wl.stats[k], UNITS[k]))
    rows.append(("error_rate", failed / attempted, "ratio"))
    print(f"# {args.workload} seed={args.seed}: {attempted} ops ({len(durations)} ok, "
          f"{failed} failed), closed loop, 1 client; tail = p{pct:g} of {len(durations)} samples")
    print("# op seconds: " + " ".join(f"{d:.3f}" for d in durations))
    print("# op cpu seconds: " + " ".join(f"{c:.2f}" for c in cpu))
    for name, v, unit in rows:
        print(f"{name:24s} {v:>16.6g} {unit}")


def print_layers(metrics: dict) -> None:
    for name, m in metrics.items():
        print(f"{name:42s} {m['value']:>16.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
