"""Seeded benchmark of the tile write, tile read, incremental-delta and
text-dedup paths of cov_tiles_spark.

    python3 perfbench/run.py --workload tile-read --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. One process is one closed-loop
client: it keeps one Spark action in flight on ``local[<cores>]`` and
starts the next operation when the previous one has returned.

A run starts the session, warms the Python workers, generates the
workload's input from ``--seed`` and writes it as parquet, prepares
(for ``tile-read`` the stored payloads, for ``tile-delta`` the
half-committed lake); that is ``setup_s``. It then runs one untimed
operation whose output is checked and a fixed number of untimed warm-up
operations (the workload's ``warm_ops``), and times operations for
``--seconds`` (at least ``MIN_OPS``). ``tile-delta`` checks the output
of its last timed operation instead.

The last line of standard output is one JSON object. With ``--trace 0``
its metrics are the end-to-end figures; with ``--trace 1`` every timed
operation is traced, and the metrics are the per-layer figures read from
the physical plans of its Spark actions, plus the kernel timings, memory
and the tracing overhead. Earlier lines report the workload's own
figures with units and sample counts.

Every file the run writes lives under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (span and plan records of traced runs).
The exit code is 0 when every check passed, 1 when an operation failed or
a check did not hold, 2 when the program is not importable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GEN_REPS = 3  # input generation is repeated; setup_s takes the median
# a timed loop runs at least this many ops, so its median is a middle
# sample rather than the mean of a warm and a steady op
MIN_OPS = 3
MIN_DECODE_SAMPLES = 3000  # tile-server decodes: p99 has >= 30 beyond it

# gated figures: over ten seeds, CPU time per op spread less than wall
# time per op on the workloads taken together (text-dedup's wall time by a
# third); wall time and throughput are reported in the lines above the
# result
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _ppid(int(d))
            if pp is not None:
                parent[int(d)] = pp
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads (``C1/C2 CompilerThread<n>``)
    of a process; 0 for a process without them."""
    total = 0
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, fields = stat[stat.index("(") + 1:stat.rindex(")")], stat.rsplit(")", 1)[1]
            if "CompilerThre" in name:
                total += sum(int(x) for x in fields.split()[11:13])  # utime stime
    return total


def cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process,
    the driver JVM and the Python workers so far, without the JVM's JIT
    compiler threads: compilation is warm-up that keeps shrinking over a
    whole run (1-3 s of a ~7 s ``text-dedup`` operation), not work the
    operation does."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total -= _jit_ticks(p)
    return total / tick


def peak_rss_mb() -> tuple[float, float, int]:
    """Peak resident memory (VmHWM) in MB of this process plus the driver
    JVM, and of the Python workers (summed, with their count).

    The two are kept apart: how many Python workers the daemon forks
    depends on task timing, and at ~130 MB each their sum moves by a
    worker's size from run to run."""
    me = os.getpid()
    driver, workers, n = vm_hwm_mb(me), 0.0, 0
    for p in descendants(me):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                python = b"pyspark.daemon" in f.read()
        except OSError:
            continue
        if python:
            workers += vm_hwm_mb(p)
            n += 1
        else:
            driver += vm_hwm_mb(p)
    return driver, workers, n


def start_session(work: Path, slots: int):
    """The program's own session factory, with every scratch directory
    inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # compiler threads stay alive, so their CPU can be told apart
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData'
        ' -XX:-UseDynamicNumberOfCompilerThreads" '
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from cov_tiles_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{slots}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}") and _ppid(p) is not None]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def warm_workers(spark, slots: int) -> None:
    """One Python task per slot: spawns the workers and imports the
    libraries every UDF of the program needs."""

    def warm(batches):
        import numpy  # noqa: F401
        import pandas as pd
        import pyarrow  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"x": b["id"]})

    spark.range(0, slots, numPartitions=slots).mapInPandas(warm, schema="x long").count()


def closed_loop(wl, op, seconds: float, min_ops: int, log):
    """Runs ``op(k)`` back to back for ``seconds`` and at least
    ``min_ops`` ops, with ``wl.before_op()`` untimed ahead of each.
    Returns the results of the ops that succeeded, attempted, failed."""
    results, attempted, failed = [], 0, 0
    begin = time.perf_counter()
    while attempted < min_ops or time.perf_counter() - begin < seconds:
        wl.before_op()
        attempted += 1
        try:
            results.append(op(attempted))
        except Exception:  # a failed op is counted, not fatal
            failed += 1
            log(traceback.format_exc())
    return results, attempted, failed


def measured(wl, tracer):
    """An op that returns its wall and CPU seconds."""

    def op(k):
        c0 = cpu_s()
        t0 = time.perf_counter()
        wl.op(tracer)
        return time.perf_counter() - t0, cpu_s() - c0

    return op


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[0] = str(ROOT)  # the checkout, not perfbench/
    try:
        import __spark_entry__ as entry
        import cov_tiles_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    def log(msg):
        print(msg, file=sys.stderr, flush=True)

    slots = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, slots)
        start_s = time.perf_counter() - t0
        result = run(spark, args, entry, WORKLOADS[args.workload], work, slots, start_s, log)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(spark, args, entry, workload, work, slots, start_s, log) -> dict:
    """Set-up, the checked and the untimed warm-up ops and the timed (or
    traced) ops of one workload; returns the result object plus its
    report lines."""
    from perfbench.spans import Tracer
    from perfbench.workloads import Context

    wl = workload(Context(spark=spark, work=str(work), seed=args.seed, entry=entry))
    off = Tracer(False)
    setup = {"session.start_s": start_s}

    t0 = time.perf_counter()
    warm_workers(spark, slots)
    setup["session.warm_s"] = time.perf_counter() - t0

    gen_times, digests = [], set()
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        digests.add(wl.generate())
        gen_times.append(time.perf_counter() - t0)
    setup["io.generate_s"] = statistics.median(gen_times)
    checks = []
    if len(digests) != 1:
        checks.append((False, "input generation is not deterministic"))

    if args.trace:
        from perfbench.planmetrics import StatusStore
        from perfbench.spans import plan_layers

        store = StatusStore(spark)
        last = store.last_id()
    t0 = time.perf_counter()
    wl.prepare(off)
    setup["prepare_s"] = time.perf_counter() - t0
    # the set-up encode of tile-read is the plain (uncapped) tile-encode
    # path; its layers go into the trace record
    prepare_layers = plan_layers(store.since(last)) if args.trace else None
    setup_s = sum(setup.values())

    attempted = failed = 0
    t0 = time.perf_counter()
    warm = wl.warm_and_check(off)
    if warm is not None:
        attempted += 1
        checks.append(warm)
    checked_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    _, n_att, n_fail = closed_loop(wl, lambda k: wl.op(off), 0.0, wl.warm_ops, log)
    warm_ops_s = time.perf_counter() - t0
    attempted += n_att
    failed += n_fail

    if args.trace:
        from perfbench.traced import TracedRun

        traced = TracedRun(spark, wl, slots)
        results, n_att, n_fail = closed_loop(wl, traced.op, args.seconds, MIN_OPS, log)
        out = ROOT / ".perfbench_out" / f"trace-{wl.name}-seed{args.seed}.json"
        layers = traced.finish(results, str(out), prepare_layers)
    else:
        results, n_att, n_fail = closed_loop(wl, measured(wl, off), args.seconds, MIN_OPS, log)
    times = [r[0] for r in results]
    attempted += n_att
    failed += n_fail
    post = wl.check()
    if post is not None:
        checks.append(post)
    failed += sum(not ok for ok, _ in checks)
    correct = bool(times) and failed == 0

    report = [
        f"workload {wl.name}, seed {args.seed}: closed loop, 1 client, local[{slots}]",
        f"setup_s {setup_s:.3f} s ({', '.join(f'{k} {v:.3f}' for k, v in setup.items())};"
        f" generation median of {GEN_REPS})",
        f"warm-up (not in setup_s): "
        + (f"checked op {checked_s:.3f} s, " if warm is not None else "")
        + f"{wl.warm_ops} untimed ops {warm_ops_s:.3f} s",
        f"failed_op_frac {failed / attempted:.4f} ({failed} of {attempted} ops)",
    ]
    report += [f"check: {'ok' if ok else 'FAILED'}: {detail}" for ok, detail in checks]
    op_p50 = statistics.median(times) if times else 0.0
    report += workload_figures(wl, op_p50, len(times))
    tiles = {}
    if wl.payloads is not None:
        tiles, lines = tile_figures(wl.payloads, wl.serves_tiles)
        report += lines
    rss, workers_mb, n_workers = peak_rss_mb()
    report.append(f"peak_rss_mb {rss:.1f} MB (driver JVM + benchmark process)")
    report.append(f"python_workers_rss_mb {workers_mb:.1f} MB ({n_workers} processes)")

    if args.trace:
        values = {**layers, **setup, **tiles, "memory.driver_rss_mb": rss,
                  "memory.python_workers_rss_mb": workers_mb}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(values, wl).items()}
    else:
        cpu = [r[1] for r in results]
        op_cpu = statistics.median(cpu) if cpu else 0.0
        values = {"setup_s": setup_s, "op_cpu_s": op_cpu}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        report.append(f"op_p50_s {op_p50:.4f} s (wall, median of {len(times)} ops;"
                      f" {spread(times)})")
        report.append(f"op_cpu_s {op_cpu:.4f} s (CPU of driver JVM without JIT compiler"
                      f" threads, Python workers and benchmark, median of {len(cpu)} ops;"
                      f" {spread(cpu)})")
    return {"report": report, "correct": correct, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def spread(samples) -> str:
    return f"min {min(samples):.4f}, max {max(samples):.4f}" if samples else "no samples"


def workload_figures(wl, op_p50: float, n_ops: int) -> list:
    """The workload's own throughput (and delta time), as report lines."""
    per_s = wl.items / op_p50 if op_p50 else 0.0
    lines = [f"{wl.items_name} {per_s:.1f} 1/s ({wl.items} per op, median of {n_ops} ops)"]
    if wl.name == "tile-delta":
        lines.append(f"delta_update_s {op_p50:.4f} s (median of {n_ops} ops)")
    return lines


def tile_figures(payloads, latency: bool) -> tuple[dict[str, float], list[str]]:
    """Compression of the stored tiles and, with ``latency``, their
    single-process decode latency (``MIN_DECODE_SAMPLES`` decodes, so p99
    has at least 30 samples beyond it); as per-layer values and as
    report lines."""
    from perfbench import kernels

    out, lines = {}, []
    ratio = kernels.compression(payloads)
    if ratio is not None:
        out["covt.bytes_per_mvt_byte"] = ratio
        lines.append(f"covt_bytes_per_mvt_byte {ratio:.6f} ratio ({payloads.num_rows} tiles)")
    if latency:
        lat = kernels.tile_server_loop(payloads, MIN_DECODE_SAMPLES)
        out["covt.tile_decode_p50_us"] = float(statistics.median(lat))
        out["covt.tile_decode_p99_us"] = float(statistics.quantiles(lat, n=100)[98])
        for q in ("p50", "p99"):
            lines.append(f"tile_decode_{q}_us {out[f'covt.tile_decode_{q}_us']:.1f} us"
                         f" ({len(lat)} single-process decodes)")
    return out, lines


def per_layer(values: dict, wl) -> dict:
    """Every per-layer metric with its unit, adding the kernel timings on
    the workload's own tiles; a layer the workload does not exercise
    reads 0."""
    from perfbench import kernels
    from perfbench.traced import PER_LAYER

    values = dict(values)
    if wl.payloads is not None:
        values.update(kernels.kernel_costs(wl.payloads))
    return {k: (float(values.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
