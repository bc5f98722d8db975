"""Tests of the benchmark's own helpers (run: python3 -m pytest perfbench/tests)."""

import json
import os

import pytest

from perfbench import inputs, trace
from perfbench.run import END_TO_END, PER_LAYER, ROOT


def test_tail_needs_ten_samples_beyond():
    assert trace.tail(range(10)) is None
    assert trace.tail(range(11)) == (100 / 11, 0)
    assert trace.tail(range(20)) == (50.0, 9)
    assert trace.tail(range(100)) == (90.0, 89)
    pct, value = trace.tail(range(110))  # rank 100 of 110 is p90.9
    assert pct == pytest.approx(100 * 100 / 110)
    assert sum(1 for x in range(110) if x > value) == 10


def test_self_time_subtracts_the_union_of_children():
    s = trace.Span
    spans = [
        s(0, None, 0, "op", 0.0, 10.0),
        s(1, 0, 0, "a", 1.0, 3.0),
        s(2, 0, 0, "b", 2.0, 5.0),  # overlaps a: [1, 5] counts once
        s(3, 0, 0, "c", 9.0, 12.0),  # only [9, 10] lies inside the parent
        s(4, 2, 0, "d", 2.5, 3.5),  # grandchild: covered by b already
    ]
    got = trace.self_times(spans)
    assert got[0] == pytest.approx(10 - 4 - 1)
    assert got[2] == pytest.approx(3 - 1)
    assert got[1] == pytest.approx(2) and got[3] == pytest.approx(3)


def test_tracer_nests_spans_and_numbers_ops():
    t = trace.Tracer()
    t.next_op()
    with t.span("op") as op:
        with t.span("child") as child:
            pass
    assert child.parent == op.id and child.op == op.op == 0
    assert op.dur >= child.dur >= 0


def test_same_seed_same_table_hash(tmp_path):
    a = inputs.catalog_dir(str(tmp_path / "a"), 0.001, 7)
    b = inputs.catalog_dir(str(tmp_path / "b"), 0.001, 7)
    c = inputs.catalog_dir(str(tmp_path / "c"), 0.001, 8)
    assert inputs.table_hash(a) == inputs.table_hash(b) != inputs.table_hash(c)
    x = inputs.images_dir(str(tmp_path / "x"), 6, 7, files=2)
    y = inputs.images_dir(str(tmp_path / "y"), 6, 7, files=2)
    z = inputs.images_dir(str(tmp_path / "z"), 6, 8, files=2)
    assert inputs.table_hash(x) == inputs.table_hash(y) != inputs.table_hash(z)


def test_parse_report_and_input_rows():
    text = (
        "Q\tcommand\t5\t1\t2\t3\n"
        "N\t0\tDataWritingCommandExec\tExecute InsertIntoHadoopFsRelationCommand\t"
        "numFiles=2:sum\n"
        "N\t1\tMapInArrowExec\tMapInArrow\tpythonTotalTime=40:timing,pythonDataSent=100:size\n"
        "N\t2\tProjectExec\tProject\t\n"
        "N\t3\tColumnarToRowExec\tColumnarToRow\tnumOutputRows=160:sum\n"
        "N\t4\tFileSourceScanExec\tScan parquet\tnumOutputRows=160:sum,scanTime=7:timing\n"
    )
    (e,) = trace.parse_report(text)
    assert e["func"] == "command"
    assert e["phases"] == {"analysis": 1, "optimization": 2, "planning": 3}
    assert trace.input_rows_of(e["nodes"], "MapInArrowExec") == 160
    layers = trace.sql_layers([e])
    assert layers["python.total_ms"] == 40 and layers["arrow.bytes_sent"] == 100
    assert layers["scan.ms"] == 7 and layers["driver.planning_ms"] == 3


def test_sql_walk_descends_adaptive_plan_and_query_stages(spark, sf_dir):
    """The final AQE plan of a broadcast + shuffle query: the walk must reach
    the exchange below a ShuffleQueryStage and the Python node below it."""
    from rsgislib_spark.queries import QUERIES

    sink = spark.sparkContext._jvm.perfbench.QeSink
    df = QUERIES["q11_spatial_join_intersects"](spark, sf_dir)
    df.toPandas()
    (e,) = trace.parse_report(sink.describe(df._jdf.queryExecution()))
    nodes = e["nodes"]
    assert nodes[0][1] == "AdaptiveSparkPlanExec"
    stages = [i for i, n in enumerate(nodes) if n[1].endswith("QueryStageExec")]
    assert stages and all(nodes[i + 1][0] == nodes[i][0] + 1 for i in stages)
    classes = {n[1] for n in nodes}
    assert "ShuffleExchangeExec" in classes and "BroadcastExchangeExec" in classes
    layers = trace.sql_layers([e])
    assert layers["shuffle.bytes_written"] > 0 and layers["python.total_ms"] > 0


def test_listener_drains_every_execution_with_phases(spark, sf_dir):
    sink = spark.sparkContext._jvm.perfbench.QeSink
    sink.setEnabled(True)
    try:
        spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy("n_regionkey").count().collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        execs = trace.parse_report(sink.drain())
    finally:
        sink.setEnabled(False)
    assert [e["func"] for e in execs] == ["collectToPython"]
    assert set(execs[0]["phases"]) == {"analysis", "optimization", "planning"}
    assert any(n[1] == "HashAggregateExec" for n in execs[0]["nodes"])
    assert sink.drain() == ""


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
