"""Physical-plan SQL metrics of finished Spark actions, read from the
session's SQL status store.

``SQLAppStatusStore.planGraph(id)`` holds the final plan of an execution
(with adaptive query execution, the graph the last re-plan produced: query
stages, ``AQEShuffleRead`` and reused exchanges appear as ordinary
nodes), and ``executionMetrics(id)`` maps each metric's accumulator id to
the string the Spark UI would show. Both work with ``spark.ui.enabled=false``.
The strings carry the only values the store keeps, so this module parses
them back into numbers:

    '138,340'                                              sum
    '63.8 MiB'                                             size, no task split
    'total (min, med, max (stageId: taskId))\\n'
    '2.7 m (3.5 s, 4.9 s, 9.8 s (stage 6.0: task 66))'    timing with task split

Times come back in seconds and sizes in bytes. The UI rounds them (one
decimal of the printed unit), which bounds the precision of every figure
built on them.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50,
}
_QUANTITY = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)\s*$")


def parse_quantity(text: str) -> float:
    """One printed value (``'9.8 s'``, ``'63.8 MiB'``, ``'138,340'``) in
    seconds, bytes or a plain count."""
    m = _QUANTITY.match(text)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


@dataclass(frozen=True)
class MetricValue:
    """A parsed metric: ``total`` plus, where Spark printed the per-task
    split, ``min``/``med``/``max`` and the stage and task that held the
    maximum."""

    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None
    max_stage: str | None = None
    max_task: int | None = None


_SPLIT = re.compile(
    r"^(?P<total>[^()]*?)\s*\((?P<min>[^,()]+),\s*(?P<med>[^,()]+),\s*(?P<max>[^,()]+?)"
    r"(?:\s*\(stage\s+(?P<stage>[\d.]+):\s*task\s+(?P<task>\d+)\))?\)\s*$"
)


def parse_metric(text: str) -> MetricValue:
    """Parse one ``executionMetrics`` string (see the module docstring).

    An average metric prints no total (``'(min, med, max ...)'`` header);
    its ``total`` is the median."""
    lines = text.strip().split("\n")
    body = lines[-1].strip()
    if len(lines) == 1 and "(" not in body:
        return MetricValue(total=parse_quantity(body))
    m = _SPLIT.match(body)
    if not m:
        raise ValueError(f"unparseable metric string {text!r}")
    lo, med, hi = (parse_quantity(m.group(k)) for k in ("min", "med", "max"))
    total = parse_quantity(m.group("total")) if m.group("total").strip() else med
    task = m.group("task")
    return MetricValue(
        total=total, min=lo, med=med, max=hi,
        max_stage=m.group("stage"), max_task=int(task) if task else None,
    )


@dataclass
class PlanNode:
    """One physical operator of a finished execution."""

    node_id: int
    name: str
    desc: str
    metrics: dict[str, MetricValue] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    def value(self, metric: str) -> float:
        m = self.metrics.get(metric)
        return m.total if m is not None else 0.0


@dataclass
class Execution:
    """The plan graph of one SQL execution, with parsed metrics."""

    execution_id: int
    description: str
    wall_s: float
    nodes: dict[int, PlanNode]

    def input_rows(self, node: PlanNode) -> float:
        """Rows flowing into ``node``: the nearest operators below it that
        count their output rows (projections in between count none)."""
        total, todo = 0.0, list(node.children)
        while todo:
            n = self.nodes[todo.pop()]
            if "number of output rows" in n.metrics:
                total += n.value("number of output rows")
            else:
                todo.extend(n.children)
        return total


class StatusStore:
    """Reads finished executions from a session's SQL status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        """Highest execution id so far (-1 before the first action)."""
        execs = self._store.executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def since(self, after_id: int) -> list[Execution]:
        """Every execution with an id above ``after_id``, oldest first."""
        execs = self._store.executionsList()
        ids = sorted(
            execs.apply(i).executionId() for i in range(execs.size())
            if execs.apply(i).executionId() > after_id
        )
        return [self.execution(i) for i in ids]

    def execution(self, execution_id: int, timeout_s: float = 30.0) -> Execution:
        """One execution, once its end event has reached the store (the
        listener bus delivers it after the action has returned)."""
        deadline = time.monotonic() + timeout_s
        while True:
            data = self._store.execution(execution_id).get()
            if data.completionTime().isDefined() or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        end = data.completionTime()
        wall_s = (end.get().getTime() - data.submissionTime()) / 1000.0 if end.isDefined() else 0.0
        values = self._store.executionMetrics(execution_id)
        graph = self._store.planGraph(execution_id)
        nodes: dict[int, PlanNode] = {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            jn = all_nodes.apply(i)
            metrics = {}
            jm = jn.metrics()
            for j in range(jm.size()):
                spec = jm.apply(j)
                text = values.get(spec.accumulatorId())
                if text.isDefined():
                    metrics[spec.name()] = parse_metric(text.get())
            nodes[jn.id()] = PlanNode(jn.id(), jn.name(), jn.desc(), metrics)
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)  # fromId is the child, toId the parent
            if e.toId() in nodes and e.fromId() in nodes:
                nodes[e.toId()].children.append(e.fromId())
        return Execution(execution_id, data.description(), wall_s, nodes)
