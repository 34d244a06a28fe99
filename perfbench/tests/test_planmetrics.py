"""Parsing of SQL status-store metric strings and the per-layer roll-up.

The strings are captured from pyspark 4.1.2 runs of the tile-encode path
and of a grouped aggregation (``metric_strings.json``: node, metric,
metric type, string).
"""

import json
from pathlib import Path

import pytest

from perfbench.planmetrics import Execution, MetricValue, PlanNode, parse_metric, parse_quantity
from perfbench.spans import Tracer, plan_layers, python_kind

CAPTURED = json.loads((Path(__file__).parent / "metric_strings.json").read_text())


def test_task_time_and_size_strings():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "2.7 m (3.5 s, 4.9 s, 9.8 s (stage 6.0: task 66))")
    assert m.total == pytest.approx(162.0)
    assert (m.min, m.med, m.max) == pytest.approx((3.5, 4.9, 9.8))
    assert (m.max_stage, m.max_task) == ("6.0", 66)
    assert parse_metric("63.8 MiB").total == pytest.approx(63.8 * 2**20)


@pytest.mark.parametrize(
    "text,value",
    [("138,340", 138340), ("0", 0), ("464 ms", 0.464), ("1.1 m", 66.0),
     ("0.0 B", 0), ("848.2 KiB", 848.2 * 1024), ("2.0 GiB", 2 * 2**30)],
)
def test_quantities(text, value):
    assert parse_quantity(text) == pytest.approx(value)


def test_unknown_unit_is_an_error():
    with pytest.raises(ValueError):
        parse_quantity("3 parsecs")


@pytest.mark.parametrize("row", CAPTURED, ids=lambda r: f"{r[0]}:{r[1]}")
def test_every_captured_string_parses(row):
    node, name, kind, text = row
    m = parse_metric(text)
    assert m.total >= 0
    if "\n" in text:  # a per-task split: min <= med <= max <= total
        assert m.min <= m.med <= m.max
        if kind != "average":
            assert m.max <= m.total * 1.05  # totals are rounded when printed
        assert m.max_task is not None


def test_captured_split_values():
    by_name = {(r[0], r[1]): parse_metric(r[3]) for r in CAPTURED}
    run = by_name[("MapInArrow", "time to run Python workers")]
    assert run.total == pytest.approx(66.0)
    assert (run.min, run.med, run.max) == pytest.approx((1.5, 2.2, 2.9))
    assert (run.max_stage, run.max_task) == ("42.0", 444)
    sent = by_name[("MapInArrow", "data returned from Python workers")]
    assert sent.total == pytest.approx(9.6 * 2**20)
    assert sent.med == pytest.approx(289.9 * 1024)


def _node(i, name, desc, children=(), **metrics):
    return PlanNode(i, name, desc, {k.replace("_", " "): MetricValue(v) for k, v in metrics.items()},
                    list(children))


def test_plan_layers_walks_python_nodes_and_exchanges():
    # sink <- encode <- sort <- exchange <- precap <- generate <- scan
    run = MetricValue(8.0, 1.0, 2.0, 3.0, "4.0", 9)
    nodes = {
        0: _node(0, "OverwriteByExpression", "", [1]),
        1: PlanNode(1, "MapInArrow", "MapInArrow encode_stream(z#1, x#2)#3, [z#4]",
                    {"time to run Python workers": run,
                     "time to initialize Python workers": MetricValue(0.5)}, [2]),
        2: _node(2, "Sort", "Sort [z#1 ASC]", [3], sort_time=0.2),
        3: _node(3, "Exchange", "Exchange hashpartitioning(z#1, 32)", [4],
                 shuffle_bytes_written=1000.0, shuffle_records_written=10.0),
        4: _node(4, "MapInPandas", "MapInPandas precap(z#1, _sk#2)#5, [z#6]", [5],
                 number_of_output_rows=10.0),
        5: _node(5, "Generate", "Generate explode(array(...)), [tile#7]", [6],
                 number_of_output_rows=40.0),
        6: _node(6, "Scan parquet ", "FileScan parquet", [], scan_time=0.1),
    }
    m = plan_layers([Execution(0, "op", 1.0, nodes)])
    assert m["encode.python_run_s"] == 8.0
    assert m["encode.python_init_s"] == 0.5
    assert m["encode.task_max_over_median"] == pytest.approx(1.5)
    assert m["exchange.bytes"] == 1000.0 and m["exchange.records"] == 10.0
    assert m["precap.rows_in"] == 40.0 and m["precap.rows_out"] == 10.0
    assert m["assign.rows_out"] == 40.0
    assert m["sort.time_s"] == 0.2 and m["scan.time_s"] == 0.1


def test_python_kind_reads_the_udf_name():
    eval_node = PlanNode(0, "ArrowEvalPython",
                         "ArrowEvalPython [minhash(text#9)#1051], [pythonUDF0#1054], 200")
    decode = PlanNode(1, "MapInArrow", "MapInArrow _decode(z#9, payload#10)#11, [z#12]")
    assert python_kind(eval_node) == "minhash"
    assert python_kind(decode) == "decode"
    assert python_kind(PlanNode(2, "Sort", "Sort [z#1 ASC]")) is None


def test_span_self_time_excludes_children():
    t = Tracer(True)
    with t.span("op"):
        with t.span("child"):
            pass
    self_times = t.self_times(0)
    op = t.spans[0]
    child = t.spans[1]
    assert self_times["op"] == pytest.approx((op.end - op.start) - (child.end - child.start))
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []
