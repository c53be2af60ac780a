"""Re-record the tiny event log the fold tests read.

    python3 perfbench/tests/record_eventlog.py

Run from the checkout root. Builds a serving index over three seeded
conversations inside a traced span, with Spark's event log attached,
then keeps only what ``perfbench.trace.fold`` reads (job groups, task
metrics and accumulator updates, plan nodes and their metric ids) and
writes it gzipped to ``perfbench/tests/data/tiny_eventlog.jsonl.gz``.
The first line records the expected counts.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import tempfile

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "perfbench", "tests", "data", "tiny_eventlog.jsonl.gz")
TASK_METRICS = (
    "Executor CPU Time", "Executor Run Time", "JVM GC Time",
    "Memory Bytes Spilled", "Disk Bytes Spilled", "Peak Execution Memory",
)


def _trim_plan(info: dict, used: set) -> dict:
    return {
        "nodeName": info["nodeName"],
        "simpleString": info["simpleString"][:160],
        "metrics": [
            {k: m[k] for k in ("name", "accumulatorId", "metricType")}
            for m in info.get("metrics", []) if int(m["accumulatorId"]) in used
        ],
        "children": [_trim_plan(c, used) for c in info.get("children", [])],
    }


def trim(events: list[dict]) -> list[dict]:
    used = {
        int(a["ID"])
        for e in events if e["Event"] == "SparkListenerTaskEnd"
        for a in e["Task Info"].get("Accumulables", [])
    }
    out = []
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            out.append({
                "Event": ev, "Job ID": e["Job ID"], "Stage IDs": e["Stage IDs"],
                "Properties": {
                    "spark.jobGroup.id": e["Properties"].get("spark.jobGroup.id")
                },
            })
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            out.append({
                "Event": ev, "Stage ID": e["Stage ID"],
                "Task Info": {"Accumulables": [
                    {"ID": a["ID"], "Update": a.get("Update")}
                    for a in e["Task Info"].get("Accumulables", [])
                    if a.get("Metadata") == "sql"
                ]},
                "Task Metrics": dict(
                    {k: tm.get(k, 0) for k in TASK_METRICS},
                    **{"Shuffle Write Metrics": {
                        "Shuffle Bytes Written": (tm.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0)}},
                ),
            })
        elif "sparkPlanInfo" in e:
            out.append({"Event": ev, "sparkPlanInfo": _trim_plan(e["sparkPlanInfo"], used)})
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from flame_spark.config import FlameConfig
    from flame_spark.corpus import add_doc_id_conv
    from flame_spark.data import transcripts_df
    from flame_spark.fastbuild import build_serving_index
    from perfbench import layers, trace
    from perfbench.run import start_session, stop_session

    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_run"))
    spark = start_session(ROOT, tmp)
    try:
        tr = trace.Tracer(spark.sparkContext)
        layers.install_patches(tr)
        cfg = FlameConfig(ngram=3, n_out=1, min_text_length=80,
                          tokenizer="word", term_mode="lno", n_shards=2)
        raw = transcripts_df(spark, 3, 6, seed=5)
        with trace.EventLog(spark, os.path.join(tmp, "eventlog")) as ev:
            with tr.span("fastbuild.build_serving_index"):
                idx = build_serving_index(
                    add_doc_id_conv(raw).select("doc_id", "text"), cfg)
                row = idx.segments.agg(
                    F.count("*").alias("rows"), F.sum("n_docs").alias("postings")
                ).collect()[0]
        tr.unpatch_all()
        events = trim(list(trace.read_events(ev.path)))
    finally:
        stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    header = {"Event": "perfbench.Recorded", "segment_rows": int(row["rows"]),
              "postings": int(row["postings"])}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with gzip.open(OUT, "wt") as f:
        for e in [header] + events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")
    print(OUT, header, len(events), "events")


if __name__ == "__main__":
    main()
