"""Spans, UDF-name -> module mapping and the event-log fold."""

import gzip
import json
import os

import pytest

from perfbench import layers
from perfbench import trace as T

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl.gz")


@pytest.mark.parametrize(
    "node, simple, udfs",
    [
        ("MapInPandas",
         "MapInPandas term_pass(doc_id#26L, dl#379L, term#381L)#382, "
         "[term#383L, doc_id#384L, tf#385, s#386], false",
         ["term_pass"]),
        ("ArrowEvalPython",
         "ArrowEvalPython [canon_stage1(text#5)#30], [pythonUDF0#37], 200",
         ["canon_stage1"]),
        ("ArrowEvalPython",
         "ArrowEvalPython [stage1(ws_canon(query_text#1)#2)#3], [pythonUDF0#4], 200",
         ["stage1", "ws_canon"]),
        ("FlatMapGroupsInPandas",
         "FlatMapGroupsInPandas [shard#387], encode_shard(term#383L, doc_id#384L, "
         "tf#385, s#386, shard#387)#388, [shard#389]",
         ["encode_shard"]),
        ("Exchange", "Exchange hashpartitioning(term#381L, 8), REPARTITION_BY_NUM", []),
    ],
)
def test_udf_names(node, simple, udfs):
    assert T.udf_names(node, simple) == udfs


def test_udf_name_to_module_mapping():
    assert {"canon_stage1", "lut_apply", "ws_canon"} <= set(layers.NORMALIZE_UDFS)
    assert set(layers.SHINGLE_UDFS) == {"shingle", "shingle_ids"}
    assert set(layers.CORPUS_UDFS) == (
        set(layers.NORMALIZE_UDFS) | set(layers.SHINGLE_UDFS) | {"stamp"}
    )
    assert T.UDF_MODULE["term_pass"][0] == "fastbuild"
    assert T.UDF_MODULE["encode_shard"][0] == "segments"
    assert T.UDF_MODULE["score_partition"][0] == "wand"


def test_spans_nest_and_patches_restore():
    class Box:
        @staticmethod
        def work(x):
            return x + 1

    tr = T.Tracer()
    tr.patch(Box, "work", "box.work", lambda sp, args, r: sp.attrs.update(arg=args[0]))
    with tr.span("outer"):
        assert Box.work(1) == 2
    tr.unpatch_all()
    assert Box.work(1) == 2
    assert [s.path for s in tr.spans] == ["outer", "outer/box.work"]
    assert tr.spans[1].parent == 0 and tr.spans[1].attrs == {"arg": 1}
    assert tr.spans[0].seconds >= tr.spans[1].seconds >= 0.0


def test_disabled_tracer_records_nothing():
    tr = T.Tracer(enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def _plan(name, simple, metrics, children=()):
    return {
        "nodeName": name, "simpleString": simple,
        "metrics": [
            {"name": m, "accumulatorId": i, "metricType": "sum"} for m, i in metrics
        ],
        "children": list(children),
    }


def _task(stage, run_ms, accs, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"ID": i, "Update": str(v)} for i, v in accs]},
        "Task Metrics": {
            "Executor CPU Time": 2e9, "Executor Run Time": run_ms,
            "JVM GC Time": 10, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Peak Execution Memory": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_fold_attributes_nodes_and_exchanges_per_group():
    plan = _plan(
        "FlatMapGroupsInPandas", "FlatMapGroupsInPandas [shard#1], encode_shard(term#2)#3",
        [("number of output rows", 1), ("time to run Python workers", 2)],
        [_plan("Exchange", "Exchange hashpartitioning(shard#1, 2)",
               [("shuffle bytes written", 3)],
               [_plan("MapInPandas", "MapInPandas term_pass(term#4)#5, [x#6]",
                      [("number of output rows", 4)],
                      [_plan("Exchange", "Exchange hashpartitioning(term#4, 2)",
                             [("shuffle bytes written", 5)])])])],
    )
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "build/inner"}},
        _task(0, 1000, [(5, 70), (4, 9)], shuffle=70),
        _task(0, 3000, [(5, 30), (4, 1)], shuffle=30),
        _task(1, 500, [(3, 11), (1, 2), (2, 40)]),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(2, 100, [(999, 1)]),  # an accumulator no plan names
    ]
    groups = T.fold(events)
    assert set(groups) == {"build/inner", ""}
    g = groups["build/inner"]
    assert (g.jobs, g.tasks) == (1, 3)
    assert g.executor_cpu_s == pytest.approx(6.0)
    assert g.spill_bytes == 15 and g.shuffle_write_bytes == 100
    assert g.node[("term_pass", "number of output rows")] == 10
    assert g.node[("encode_shard", "time to run Python workers")] == 40
    assert g.node[("exchange<-term_pass", "shuffle bytes written")] == 100
    assert g.node[("exchange<-encode_shard", "shuffle bytes written")] == 11
    assert [id(f) for f in T.select(groups, "inner")] == [id(g)]
    assert [id(f) for f in T.select(groups, "build")] == [id(g)]
    assert T.select(groups, "buil") == []
    # stage 0 holds the most task time: max 3.0 s over median 2.0 s
    assert T.straggler_ratio([g]) == pytest.approx(1.5)
    assert groups[""].jobs == 1 and groups[""].node == {}


def _fixture():
    with gzip.open(FIXTURE, "rt") as f:
        events = [json.loads(line) for line in f]
    return events[0], events[1:]


def test_fold_of_a_recorded_build():
    header, events = _fixture()
    groups = T.fold(events)
    build = T.select(groups, "fastbuild.build_serving_index")
    assert build and sum(f.jobs for f in build) >= 2
    assert T.select(groups, "corpus.prepare_docs")
    assert T.node_sum(build, "term_pass", "number of output rows") == header["postings"]
    assert T.node_sum(build, "encode_shard", "number of output rows") == header["segment_rows"]
    assert T.node_sum(build, "canon_stage1", "time to run Python workers") > 0
    assert T.node_sum(build, "exchange<-term_pass", "shuffle bytes written") > 0
    assert T.node_sum(build, "exchange<-encode_shard", "shuffle bytes written") > 0


def test_layer_table_of_a_recorded_build():
    header, events = _fixture()
    table = layers.layer_table(T.Tracer(enabled=False), T.fold(events), {})
    assert set(table) == set(layers.UNITS)
    assert table["fastbuild.postings"] == header["postings"]
    assert table["segments.rows"] == header["segment_rows"]
    assert table["corpus.normalize.py_s"] > 0 and table["corpus.shingle.py_s"] > 0
    assert table["corpus.py_bytes_sent"] > 0
    # layers the build does not load read zero
    for name in ("wand.serve.jobs_per_query", "incremental.merge_segments.jobs",
                 "similarity.candidate_rows", "textops.winnow.candidate_rows"):
        assert table[name] == 0
