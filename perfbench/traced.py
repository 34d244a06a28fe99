"""The traced pass: each operation's per-layer figures are read from the
physical plans of the Spark actions it ran.

Layer figures (see ``spans.plan_layers``) are task time summed over a
layer's operators. ``trace.unattributed_frac`` reconciles them with the
operation's wall time: driver time outside Spark actions is attributed
to the driver-side layer calls (the spans), and inside the actions the
executor layer time is spread over the task slots; what is left over,
over the wall time, is the share no layer accounts for (scheduling, task
start-up, Python worker initialisation, JVM-only operators such as joins
and aggregates, parquet writes, idle slots).
"""

from __future__ import annotations

import json
import os
import time

from perfbench.planmetrics import StatusStore
from perfbench.spans import PYTHON_NODES, Tracer, median_dict, plan_layers

_BOUNDARY_UNITS = {
    "python_boot_s": "s", "python_init_s": "s", "python_run_s": "s",
    "bytes_to_python": "B", "bytes_from_python": "B", "task_max_over_median": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "io.generate_s": "s",
    "memory.driver_rss_mb": "MB",
    "memory.python_workers_rss_mb": "MB",
    "scan.time_s": "s",
    "scan.bytes": "B",
    "assign.rows_out": "count",
    "codegen.pipeline_s": "s",
    "precap.rows_in": "count",
    "precap.rows_out": "count",
    "precap.kept_ratio": "ratio",
    "exchange.bytes": "B",
    "exchange.records": "count",
    "exchange.bytes_per_record": "B",
    "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s",
    "sort.time_s": "s",
    "sort.peak_mem_bytes": "B",
    "sort.spill_bytes": "B",
    **{f"{kind}.{k}": u for kind in PYTHON_NODES for k, u in _BOUNDARY_UNITS.items()},
    "covt.encode_us_per_tile": "us",
    "covt.encode_us_per_feature": "us",
    "covt.decode_us_per_feature": "us",
    "covt.mvt_decode_us_per_feature": "us",
    "covt.mvt_decode_ratio": "ratio",
    "covt.payload_bytes_per_feature": "B",
    "covt.bytes_per_mvt_byte": "ratio",
    "covt.tile_decode_p50_us": "us",
    "covt.tile_decode_p99_us": "us",
    "delta.jobs": "count",
    "delta.stages": "count",
    "delta.changed_tiles": "count",
    "delta.reencoded_frac": "ratio",
    "lineage.read_latest_s": "s",
    "lineage.files_written": "count",
    "minhash.candidate_pairs": "count",
    "minhash.verified_pairs": "count",
    "minhash.verify_ratio": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_frac": "ratio",
}

# executor-side layer time (task seconds) that the reconciliation counts.
# Left out because they overlap what is counted: codegen pipeline time
# (it spans the scan and the pipelines feeding a Python node) and Python
# boot/init time (on this Spark, init can exceed the stage's slot time
# when added to run time).
_LAYER_TIME = ["scan.time_s", "exchange.write_s", "exchange.fetch_wait_s", "sort.time_s"] + [
    f"{kind}.python_run_s" for kind in PYTHON_NODES
]


def _traced_op(spark, store, wl, tracer, k, slots) -> tuple[float, dict, list]:
    sc = spark.sparkContext
    tracer.op = k
    group = f"perfbench-{k}"
    last = store.last_id()
    files0 = wl.files_in_lake() if wl.name == "tile-delta" else 0
    sc.setJobGroup(group, f"{wl.name} traced op {k}")
    t0 = time.perf_counter()
    try:
        with tracer.span("op"):
            wl.op(tracer)
            with tracer.span("trace.read_store"):
                execs = store.since(last)
    finally:
        sc._jsc.clearJobGroup()
    wall = time.perf_counter() - t0
    m = plan_layers(execs)
    exec_wall = sum(e.wall_s for e in execs)
    m["trace.unattributed_frac"] = (
        exec_wall - sum(m.get(k, 0.0) for k in _LAYER_TIME) / slots
    ) / wall
    if wl.name == "tile-delta":
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        m["delta.jobs"] = len(jobs)
        m["delta.stages"] = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
        stats = wl.last_stats
        m["delta.changed_tiles"] = stats["changed"]
        m["delta.reencoded_frac"] = stats["changed"] / stats["total"]
        m["lineage.read_latest_s"] = tracer.self_times(k).get("lineage.read_table", 0.0)
        m["lineage.files_written"] = wl.files_in_lake() - files0
    summary = [
        {"id": e.execution_id, "desc": e.description, "wall_s": e.wall_s,
         "nodes": [{"name": n.name, "desc": n.desc[:160],
                    "metrics": {k: v.total for k, v in n.metrics.items()}}
                   for n in e.nodes.values() if n.metrics]}
        for e in execs
    ]
    return wall, m, summary


class TracedRun:
    """Traced ops for the benchmark's closed loop: ``op(k)`` runs op ``k``
    traced and returns (wall seconds without the tracing, its per-layer
    figures, its plan summary); ``finish`` rolls the ops up.

    The tracing overhead is the time spent reading the status store (the
    ``trace.read_store`` span) over the rest of the op."""

    def __init__(self, spark, wl, slots: int):
        self.spark, self.wl, self.slots = spark, wl, slots
        self.store = StatusStore(spark)
        self.tracer = Tracer(True)

    def op(self, k: int) -> tuple[float, dict, list]:
        wall, m, summary = _traced_op(self.spark, self.store, self.wl, self.tracer, k, self.slots)
        own = self.tracer.self_times(k).get("trace.read_store", 0.0)
        m["trace.overhead_frac"] = own / (wall - own)
        return wall - own, m, summary

    def finish(self, results: list, out_path: str, prepare_layers) -> dict[str, float]:
        """Median per-layer figures over the ops, with the ratios taken
        of the medians; writes spans and plans to ``out_path``."""
        times = [r[0] for r in results]
        per_op = [r[1] for r in results]
        layers = median_dict(per_op) if per_op else {}
        rin = layers.get("precap.rows_in", 0.0)
        if rin:
            layers["precap.kept_ratio"] = layers["precap.rows_out"] / rin
        if layers.get("exchange.records"):
            layers["exchange.bytes_per_record"] = (
                layers["exchange.bytes"] / layers["exchange.records"]
            )
        if layers.get("minhash.candidate_pairs"):
            layers["minhash.verify_ratio"] = (
                layers["minhash.verified_pairs"] / layers["minhash.candidate_pairs"]
            )
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump({"workload": self.wl.name, "prepare_layers": prepare_layers,
                       "per_op": per_op, "op_s": times, "spans": self.tracer.dump(),
                       "plans": [r[2] for r in results]}, f, indent=1)
        return layers
