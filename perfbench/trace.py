"""Tracing for the benchmark: spans around calls into the engine, one
Spark job group per span, and a fold of Spark's own event log.

Nothing inside ``flame_spark`` is edited. Spans come from three places:

- ``Tracer.span`` around the benchmark's own calls into a module's
  public function (the call plus the action that materializes it);
- ``Tracer.patch`` wrappers, installed only for a traced run, around
  public functions that the engine calls internally (for example
  ``corpus.prepare_docs`` inside ``fastbuild.build_serving_index``);
- the event log, attached to the running session only for the traced
  part of a run (``EventLog``), folded per job group by ``fold``.

A span sets the job group to its path (``outer/inner``), so every
Spark job is attributed to the innermost span that submitted it. SQL
node metrics are attributed to modules by the Python function the node
runs (``UDF_MODULE``) or, for an exchange, by the Python node that
consumes it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

#: Python UDF / mapInPandas function name -> (module, layer)
UDF_MODULE = {
    "ws_canon": ("corpus", "normalize"),
    "stage1": ("corpus", "normalize"),
    "canon_stage1": ("corpus", "normalize"),
    "lut_apply": ("corpus", "normalize"),
    "bpe_tokenize": ("corpus", "normalize"),
    "shingle": ("corpus", "shingle"),
    "shingle_ids": ("corpus", "shingle"),
    "stamp": ("corpus", "doc_id"),
    "gen": ("data", "generate"),
    "term_pass": ("fastbuild", "term_pass"),
    "encode_shard": ("segments", "encode_shard"),
    "score_partition": ("wand", "score_partition"),
    "score_group": ("wand", "score_group"),
    "explode_rows": ("wand", "doc_lengths"),
}

PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


def udf_names(node_name: str, simple_string: str) -> list[str]:
    """Python function names a plan node runs, parsed from its
    ``simpleString`` (``MapInPandas term_pass(doc_id#1L, ...)#2, ...``
    or ``ArrowEvalPython [canon_stage1(text#5)#30], ...``)."""
    if node_name not in PYTHON_NODES:
        return []
    body = simple_string[len(node_name):]
    return [
        m for m in re.findall(r"([A-Za-z_][A-Za-z0-9_]*)\(", body)
        if m not in ("hashpartitioning", "cast", "named_struct")
    ][:8]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    path: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory. ``enabled=False`` makes ``span`` a no-op
    so the untraced run executes the same benchmark code."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        path = f"{self.spans[parent].path}/{name}" if parent is not None else name
        sp = Span(name, path, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self._set_group(path)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].path if parent is not None else None)

    def _set_group(self, path: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", path)
        self.sc.setLocalProperty("spark.job.description", path)

    def patch(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs the original
        inside ``span(name)``. ``on_exit(span, args, result)`` may add
        attributes to the span. Undone by ``unpatch_all``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = original(*args, **kwargs)
                if on_exit is not None and sp is not None:
                    on_exit(sp, args, result)
                return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# event log capture
# ---------------------------------------------------------------------------


class EventLog:
    """Attach Spark's own ``EventLoggingListener`` to a RUNNING session,
    so only the traced part of a run is logged (the event log cannot be
    switched on for part of a session through configuration)."""

    def __init__(self, spark, directory: str, name: str = "traced"):
        self.sc = spark.sparkContext
        self.directory = os.path.abspath(directory)
        self.path = os.path.join(self.directory, name)
        os.makedirs(self.directory, exist_ok=True)
        jvm = self.sc._jvm
        jsc = self.sc._jsc.sc()
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + self.directory),
            conf,
            self.sc._jsc.hadoopConfiguration(),
        )
        self._jsc = jsc

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()


# ---------------------------------------------------------------------------
# event log fold
# ---------------------------------------------------------------------------


@dataclass
class NodeMetric:
    node: str  # plan node name, e.g. "MapInPandas"
    udfs: tuple  # Python function names the node runs
    consumer_udfs: tuple  # for an Exchange: the nearest Python ancestor's
    metric: str  # e.g. "time to run Python workers" (ms)


@dataclass
class GroupFold:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    #: (udf, metric) -> summed value; exchanges are keyed by their
    #: consumer: ("exchange<-" + udf, metric)
    node: dict = field(default_factory=dict)
    #: (join node name, metric) -> max over nodes of the summed value
    joins: dict = field(default_factory=dict)
    #: stage id -> list of task run seconds
    stage_tasks: dict = field(default_factory=dict)


def _walk_plan(info: dict, accs: dict, consumer: tuple = ()) -> None:
    name = info.get("nodeName", "")
    simple = info.get("simpleString", "")
    udfs = tuple(udf_names(name, simple))
    for m in info.get("metrics", []):
        accs[int(m["accumulatorId"])] = NodeMetric(name, udfs, consumer, m["name"])
    below = udfs if udfs else consumer
    for child in info.get("children", []):
        _walk_plan(child, accs, below)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(events) -> dict[str, GroupFold]:
    """Fold event-log events into per-job-group totals. The group of a
    job is its ``spark.jobGroup.id`` ("" when none)."""
    accs: dict[int, NodeMetric] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupFold] = {}
    # per (group, accumulator id) sums, resolved after all plans are seen
    acc_sums: dict[tuple, float] = {}

    def group(g: str) -> GroupFold:
        if g not in groups:
            groups[g] = GroupFold()
        return groups[g]

    for e in events:
        ev = e.get("Event", "")
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], accs)
        elif ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            group(g).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(int(sid), g)
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(int(e["Stage ID"]), "")
            gf = group(g)
            tm = e.get("Task Metrics") or {}
            gf.tasks += 1
            gf.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            run_s = tm.get("Executor Run Time", 0) / 1e3
            gf.run_s += run_s
            gf.gc_s += tm.get("JVM GC Time", 0) / 1e3
            gf.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            gf.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            gf.peak_exec_mem_bytes = max(
                gf.peak_exec_mem_bytes, tm.get("Peak Execution Memory", 0)
            )
            gf.stage_tasks.setdefault(int(e["Stage ID"]), []).append(run_s)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                # SQL metric updates are logged as decimal strings
                try:
                    upd = float(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                key = (g, int(a["ID"]))
                acc_sums[key] = acc_sums.get(key, 0) + upd

    for (g, acc_id), value in acc_sums.items():
        nm = accs.get(acc_id)
        if nm is None:
            continue
        gf = groups[g]
        if nm.node.endswith("Join"):
            k = (nm.node, nm.metric)
            gf.joins[k] = max(gf.joins.get(k, 0), value)
        for udf in nm.udfs:
            k = (udf, nm.metric)
            gf.node[k] = gf.node.get(k, 0) + value
        if nm.node == "Exchange" and nm.consumer_udfs:
            k = ("exchange<-" + nm.consumer_udfs[0], nm.metric)
            gf.node[k] = gf.node.get(k, 0) + value
    return groups


def select(groups: dict[str, GroupFold], name: str | None = None) -> list[GroupFold]:
    """Folds of every group whose span path contains ``name`` as one of
    its segments (all groups when ``name`` is None)."""
    if name is None:
        return list(groups.values())
    return [gf for g, gf in groups.items() if name in g.split("/")]


def node_sum(folds: list[GroupFold], udf: str, metric: str) -> float:
    return sum(gf.node.get((udf, metric), 0) for gf in folds)


def join_max(folds: list[GroupFold], metric: str = "number of output rows") -> float:
    vals = [v for gf in folds for (_n, m), v in gf.joins.items() if m == metric]
    return max(vals) if vals else 0.0


def straggler_ratio(folds: list[GroupFold]) -> float:
    """max / median task run time of the stage with the most task time
    (0 when no stage ran)."""
    best = None
    for gf in folds:
        for tasks in gf.stage_tasks.values():
            if best is None or sum(tasks) > sum(best):
                best = tasks
    if not best:
        return 0.0
    med = statistics.median(best)
    return max(best) / med if med > 0 else 0.0
