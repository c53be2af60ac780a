"""Per-layer metrics of a traced run, under the names BENCHMARK.json
lists in ``per_layer``.

Every traced run reports every metric; a layer the workload does not
load reads 0. Times are per traced operation sequence unless the name
says per query; counts repeat exactly for one seed.
"""

from __future__ import annotations

from . import trace as T

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"
SHUFFLE_BYTES = "shuffle bytes written"

NORMALIZE_UDFS = tuple(u for u, m in T.UDF_MODULE.items() if m == ("corpus", "normalize"))
SHINGLE_UDFS = tuple(u for u, m in T.UDF_MODULE.items() if m == ("corpus", "shingle"))
CORPUS_UDFS = tuple(u for u, m in T.UDF_MODULE.items() if m[0] == "corpus")

#: name -> unit, in report order
UNITS = {
    "corpus.prepare_docs.s": "s",
    "corpus.normalize.py_s": "s",
    "corpus.shingle.py_s": "s",
    "corpus.py_bytes_sent": "bytes",
    "fastbuild.term_pass.py_s": "s",
    "fastbuild.shuffle_write_bytes": "bytes",
    "fastbuild.postings": "count",
    "segments.encode_shard.py_s": "s",
    "segments.shuffle_write_bytes": "bytes",
    "segments.rows": "count",
    "segments.bytes_per_posting": "bytes/posting",
    "wand.segments_for_serving.s": "s",
    "wand.serve.jobs_per_query": "jobs/query",
    "wand.serve.tasks_per_query": "tasks/query",
    "wand.score_partition.py_ms_per_query": "ms/query",
    "wand.serve_batch.s": "s",
    "pipeline.query_term_rows.ms": "ms/query",
    "incremental.ingest.s": "s",
    "incremental.delete_conversations.s": "s",
    "incremental.merge_segments.s": "s",
    "incremental.merge_segments.jobs": "count",
    "lineage.build_checkpointed.jobs": "count",
    "serving.refresh.swap_s": "s",
    "serving.refresh.noop_ms": "ms",
    "serving.exclude_ids": "count",
    "similarity.pairwise_similarity.s": "s",
    "similarity.candidate_rows": "count",
    "similarity.max_over_median_task_s": "ratio",
    "textops.winnow_pairs.s": "s",
    "textops.winnow.candidate_rows": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.peak_exec_mem_bytes": "bytes",
    "host.rss_peak_mb": "MiB",
    "host.steal_frac": "ratio",
    "trace.overhead_ratio": "ratio",
}


def install_patches(tr: T.Tracer) -> None:
    """Spans around public functions the engine calls internally.
    Undone by ``tr.unpatch_all()``."""
    import flame_spark.fastbuild as fastbuild
    import flame_spark.incremental as incremental
    import flame_spark.lineage as lineage
    import flame_spark.pipeline as pipeline
    import flame_spark.serving as serving

    for mod in (fastbuild, incremental, pipeline):
        tr.patch(mod, "prepare_docs", "corpus.prepare_docs")

    def n_queries(sp, args, _result):
        sp.attrs["queries"] = len(args[0])

    def changed(sp, _args, result):
        sp.attrs["changed"] = bool(result)

    tr.patch(pipeline, "query_term_rows", "pipeline.query_term_rows", n_queries)
    tr.patch(serving, "wand_bm25_serve", "pipeline.wand_bm25_serve")
    tr.patch(serving, "wand_bm25_serve_batch", "pipeline.wand_bm25_serve_batch")
    tr.patch(serving, "segments_for_serving", "wand.segments_for_serving")
    tr.patch(serving.WarehouseServer, "refresh", "serving.refresh", changed)
    tr.patch(
        lineage.SegmentWarehouse, "build_checkpointed",
        "lineage.build_checkpointed",
    )


def _is_check(path: str) -> bool:
    """Untimed correctness checks run under a top-level ``check`` span."""
    return path.split("/")[0] == "check"


def layer_table(
    tr: T.Tracer, groups: dict[str, T.GroupFold], extra: dict
) -> dict[str, float]:
    """All per-layer metrics. ``extra`` carries values the workload
    measured itself: ``segments.bytes_per_posting``,
    ``serving.exclude_ids``, ``host.rss_peak_mb``, ``host.steal_frac``,
    ``trace.overhead_ratio``."""
    live = {g: f for g, f in groups.items() if not _is_check(g)}
    spans = [s for s in tr.spans if not _is_check(s.path)]

    def sel(name=None):
        return T.select(live, name)

    def span_s(name):
        return sum(s.seconds for s in spans if s.name == name)

    def n_spans(name):
        return sum(1 for s in spans if s.name == name)

    def per(total, n):
        return total / n if n else 0.0

    out: dict[str, float] = {}
    allf = sel()
    out["corpus.prepare_docs.s"] = span_s("corpus.prepare_docs")
    out["corpus.normalize.py_s"] = sum(
        T.node_sum(allf, u, PY_TIME) for u in NORMALIZE_UDFS) / 1e3
    out["corpus.shingle.py_s"] = sum(
        T.node_sum(allf, u, PY_TIME) for u in SHINGLE_UDFS) / 1e3
    out["corpus.py_bytes_sent"] = int(sum(
        T.node_sum(allf, u, PY_SENT) for u in CORPUS_UDFS))

    out["fastbuild.term_pass.py_s"] = T.node_sum(allf, "term_pass", PY_TIME) / 1e3
    out["fastbuild.shuffle_write_bytes"] = int(
        T.node_sum(allf, "exchange<-term_pass", SHUFFLE_BYTES))
    out["fastbuild.postings"] = int(T.node_sum(allf, "term_pass", ROWS))

    out["segments.encode_shard.py_s"] = T.node_sum(allf, "encode_shard", PY_TIME) / 1e3
    out["segments.shuffle_write_bytes"] = int(
        T.node_sum(allf, "exchange<-encode_shard", SHUFFLE_BYTES))
    out["segments.rows"] = int(T.node_sum(allf, "encode_shard", ROWS))
    out["segments.bytes_per_posting"] = float(extra.get("segments.bytes_per_posting", 0.0))

    n_single = n_spans("pipeline.wand_bm25_serve")
    serve = sel("pipeline.wand_bm25_serve")
    out["wand.segments_for_serving.s"] = span_s("wand.segments_for_serving")
    out["wand.serve.jobs_per_query"] = per(sum(f.jobs for f in serve), n_single)
    out["wand.serve.tasks_per_query"] = per(sum(f.tasks for f in serve), n_single)
    out["wand.score_partition.py_ms_per_query"] = per(
        T.node_sum(serve, "score_partition", PY_TIME), n_single)
    out["wand.serve_batch.s"] = per(
        span_s("pipeline.wand_bm25_serve_batch"),
        n_spans("pipeline.wand_bm25_serve_batch"))

    qtr = [s for s in spans if s.name == "pipeline.query_term_rows"]
    out["pipeline.query_term_rows.ms"] = per(
        sum(s.seconds for s in qtr) * 1e3,
        sum(s.attrs.get("queries", 0) for s in qtr))

    out["incremental.ingest.s"] = span_s("incremental.ingest")
    out["incremental.delete_conversations.s"] = span_s("incremental.delete_conversations")
    out["incremental.merge_segments.s"] = span_s("incremental.merge_segments")
    out["incremental.merge_segments.jobs"] = sum(
        f.jobs for f in sel("incremental.merge_segments"))
    out["lineage.build_checkpointed.jobs"] = sum(
        f.jobs for f in sel("lineage.build_checkpointed"))

    swaps = {s.parent for s in spans if s.name == "wand.segments_for_serving"}
    refresh = [
        (i, s) for i, s in enumerate(tr.spans)
        if s.name == "serving.refresh" and not _is_check(s.path)
    ]
    out["serving.refresh.swap_s"] = sum(s.seconds for i, s in refresh if i in swaps)
    noop = [s.seconds for _i, s in refresh if not s.attrs.get("changed")]
    out["serving.refresh.noop_ms"] = per(sum(noop) * 1e3, len(noop))
    out["serving.exclude_ids"] = int(extra.get("serving.exclude_ids", 0))

    pair = sel("similarity.pairwise_similarity")
    out["similarity.pairwise_similarity.s"] = span_s("similarity.pairwise_similarity")
    out["similarity.candidate_rows"] = int(T.join_max(pair))
    out["similarity.max_over_median_task_s"] = T.straggler_ratio(pair)
    out["textops.winnow_pairs.s"] = span_s("textops.winnow_pairs")
    out["textops.winnow.candidate_rows"] = int(T.join_max(sel("textops.winnow_pairs")))

    out["spark.executor_cpu_s"] = sum(f.executor_cpu_s for f in allf)
    out["spark.gc_s"] = sum(f.gc_s for f in allf)
    out["spark.spill_bytes"] = int(sum(f.spill_bytes for f in allf))
    out["spark.jobs"] = sum(f.jobs for f in allf)
    out["spark.tasks"] = sum(f.tasks for f in allf)
    out["spark.peak_exec_mem_bytes"] = int(
        max((f.peak_exec_mem_bytes for f in allf), default=0))
    for k in ("host.rss_peak_mb", "host.steal_frac", "trace.overhead_ratio"):
        out[k] = float(extra.get(k, 0.0))
    missing = set(UNITS) - set(out)
    if missing:
        raise RuntimeError(f"layer_table: no value for {sorted(missing)}")
    return out
