"""Spans around the benchmark's calls into each layer, and the per-layer
figures derived from the physical-plan metrics of the Spark actions an
operation ran.

Spans are kept in memory and written out when the benchmark ends. A
span's self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass

from perfbench.planmetrics import Execution

# Python-UDF operators, told apart by the function each one runs
PYTHON_NODES = {
    "encode": "encode_stream",
    "precap": "precap",
    "decode": "_decode",
    "minhash": "minhash",
}
_PYTHON_OPS = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "PythonUDF")

BOUNDARY = {
    "python_boot_s": "time to start Python workers",
    "python_init_s": "time to initialize Python workers",
    "python_run_s": "time to run Python workers",
    "bytes_to_python": "data sent to Python workers",
    "bytes_from_python": "data returned from Python workers",
}


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op, so the
    same operation code runs traced and untraced."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self, op: int) -> dict[str, float]:
        """Self time per span name over one operation's spans."""
        spans = [s for s in self.spans if s.op == op]
        child = {s.span_id: 0.0 for s in spans}
        for s in spans:
            if s.parent is not None and s.parent in child:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.span_id]
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.span_id, "op": s.op, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]


def python_kind(node) -> str | None:
    if not node.name.startswith(_PYTHON_OPS):
        return None
    for kind, fn in PYTHON_NODES.items():
        if node.desc.split(" ", 1)[-1].lstrip("[").startswith(fn + "("):
            return kind
    return None


def plan_layers(executions: list[Execution]) -> dict[str, float]:
    """Per-layer figures of one operation, summed over its executions."""
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    run_ratio: dict[str, float] = {}
    sort_peak = 0.0
    cand_rows: list[float] = []
    verified = None
    for ex in executions:
        for n in ex.nodes.values():
            if n.name.startswith("Scan "):
                add("scan.time_s", n.value("scan time"))
                add("scan.bytes", n.value("size of files read"))
            elif n.name.startswith("WholeStageCodegen"):
                add("codegen.pipeline_s", n.value("duration"))
            elif n.name == "Generate" and "tile#" in n.desc:
                add("assign.rows_out", n.value("number of output rows"))
            elif n.name == "Exchange" and "shuffle bytes written" in n.metrics:
                add("exchange.bytes", n.value("shuffle bytes written"))
                add("exchange.records", n.value("shuffle records written"))
                add("exchange.write_s", n.value("shuffle write time"))
                add("exchange.fetch_wait_s", n.value("fetch wait time"))
            elif n.name == "Sort":
                add("sort.time_s", n.value("sort time"))
                add("sort.spill_bytes", n.value("spill size"))
                peak = n.metrics.get("peak memory")
                if peak is not None:
                    sort_peak = max(sort_peak, peak.max if peak.max is not None else peak.total)
            elif n.name == "HashAggregate" and "keys=[id_a" in n.desc:
                cand_rows.append(n.value("number of output rows"))
                # the verified pairs are the rows reaching the sink
                verified = ex.input_rows(ex.nodes[min(ex.nodes)])
            kind = python_kind(n)
            if kind is None:
                continue
            for key, metric in BOUNDARY.items():
                add(f"{kind}.{key}", n.value(metric))
            run = n.metrics.get(BOUNDARY["python_run_s"])
            if run is not None and run.med:
                run_ratio[kind] = max(run_ratio.get(kind, 0.0), run.max / run.med)
            if kind == "precap":
                add("precap.rows_in", ex.input_rows(n))
                add("precap.rows_out", n.value("number of output rows"))
    for kind, r in run_ratio.items():
        m[f"{kind}.task_max_over_median"] = r
    m["sort.peak_mem_bytes"] = sort_peak
    if cand_rows:
        # the final (post-exchange) pair dedup emits the fewest rows
        m["minhash.candidate_pairs"] = min(cand_rows)
        m["minhash.verified_pairs"] = verified
    return m


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = sorted({k for r in rows for k in r})
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
