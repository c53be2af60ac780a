"""The benchmark's workloads, run against the engine's public functions.

Each workload has a set-up (session start, input staging, any pre-built
index or warehouse), a timed phase and correctness checks. The same
code runs traced and untraced: ``Tracer(enabled=False)`` turns every
span into a no-op.

- ``build_reuse``: batch passes over a staged corpus. A cycle is a
  text-reuse pass (pipeline.build_index -> pipeline.pairwise_similarity
  plus textops.winnow_pairs), then a build pass over the same docs
  (corpus.add_doc_id_conv -> fastbuild.build_serving_index), every
  output materialized. Bypasses wand, serving, incremental and
  lineage.
- ``serve_ingest``: a live warehouse (incremental.IncrementalIndexer +
  serving.WarehouseServer). One closed-loop client runs cycles of
  ingest -> merge -> query, single BM25 top-k queries, fixed-size
  batches, then delete -> query. Bypasses fastbuild, similarity and
  textops.

Every timed output is checked against a reference computed, untimed,
by a second code path.
"""

from __future__ import annotations

import os
import random
import time
from statistics import median

from pyspark.sql import functions as F

from flame_spark.config import FlameConfig
from flame_spark.data import transcripts_df

from . import host, querygen
from .stats import Tally, percentile, tail_percentile

#: corpus and warehouse sizes (conversations of ~10 turns each)
SIZES = {
    "build_reuse": {"convs": 100},
    "serve_ingest": {
        "initial_convs": 100,
        "ingest_convs": 20,
        "max_rounds": 3,
        "n_shards": 1,
        "pool": 44,  # a multiple of querygen's 11-query kind cycle
        "singles": 4,  # per group; one group before each batch
        "batch": 22,
        "batches": 4,
    },
}

K = 10  # top-k
WINNOW = {"k": 7, "w": 4, "min_shared": 40}  # textops.winnow_pairs' defaults

SEGMENT_COLS = (
    "shard", "term", "n_docs", "first_doc", "last_doc",
    "doc_deltas", "tfs", "scores",
)
COSINE_COLS = ("doc_i", "doc_j", "score")
WINNOW_COLS = ("doc_i", "doc_j", "shared")


def digest_aggs(cols) -> list:
    """Row count and the order-insensitive sum of xxhash64 over
    ``cols``, as ``lineage.py`` digests a table."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("digest"),
    ]


def digest(df, cols) -> tuple[int, str]:
    """Materializes ``df``: (rows, digest)."""
    row = df.agg(*digest_aggs(cols)).collect()[0]
    return int(row["rows"]), str(row["digest"])


def plain_winnow_pairs(docs):
    """The pairs ``textops.winnow_pairs`` must return, by a plain
    self-join on fingerprint (no skew salting)."""
    from flame_spark.textops import winnow_fingerprints

    fps = (
        winnow_fingerprints(docs, WINNOW["k"], WINNOW["w"])
        .select("doc_id", "fp").distinct()
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= WINNOW["min_shared"])
    )


def engine_config(n_shards: int) -> FlameConfig:
    """The transcript index configuration the tests use (word tokens,
    LNO trigram features)."""
    return FlameConfig(
        ngram=3, n_out=1, min_text_length=80, tokenizer="word",
        term_mode="lno", n_shards=n_shards,
    )


def stage_corpus(spark, path: str, n_convs: int, seed: int):
    """Write ``transcripts_df(seed)`` to parquet and read it back, so
    timed passes scan identical input from disk."""
    transcripts_df(spark, n_convs, 10, seed=seed).write.mode(
        "overwrite"
    ).parquet(path)
    raw = spark.read.parquet(path)
    return raw, raw.count()


def conv_id(c: int) -> str:
    return f"conv{c:06d}"


def _engine_queries(queries: list[dict]) -> list[dict]:
    """Only id and text reach the engine."""
    return [{"query_id": q["query_id"], "query_text": q["query_text"]} for q in queries]


def _rows(res) -> dict[str, list[tuple]]:
    by_q: dict[str, list[tuple]] = {}
    for qid, rank, doc, score in res:
        by_q.setdefault(qid, []).append((int(rank), int(doc), float(score)))
    return {q: sorted(v) for q, v in by_q.items()}


# ---------------------------------------------------------------------------
# build_reuse
# ---------------------------------------------------------------------------


class BuildReuse:
    name = "build_reuse"
    max_cycles = None
    #: the default tiered JIT: the passes are long enough for C2's
    #: compiled joins and aggregations to pay off
    jvm_options = ""

    def __init__(self, spark, run_dir: str, seed: int, tracer, tally: Tally):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tr = tracer
        self.tally = tally
        self.sizes = SIZES[self.name]
        self.cfg = engine_config(n_shards=4)
        self.phase_s: dict[str, float] = {}
        self.reference: dict[str, tuple[int, str]] = {}
        self.samples: dict[str, list] = {
            "build_s": [], "build_turns": [], "build_cpu_s": [],
            "cosine_s": [], "winnow_s": [], "reuse_cpu_s": [], "reuse_docs": [],
            "segment_bytes": [], "postings": [],
        }

    def setup(self) -> None:
        t = time.perf_counter()
        self.raw, self.n_turns = stage_corpus(
            self.spark, os.path.join(self.run_dir, "raw"),
            self.sizes["convs"], self.seed,
        )
        self.phase_s["stage"] = time.perf_counter() - t

    @staticmethod
    def _docs(raw):
        from flame_spark.corpus import add_doc_id_conv

        return add_doc_id_conv(raw).select("doc_id", "text")

    def _check(self, what: str, got: tuple[int, str]) -> None:
        want = self.reference[what]
        self.tally.check(
            got == want and got[0] > 0,
            f"{what}: (rows, digest) {got} != reference {want}",
        )

    def _build(self, docs) -> None:
        from flame_spark.fastbuild import build_serving_index

        win = host.HostWindow()
        t0 = time.perf_counter()
        with self.tr.span("fastbuild.build_serving_index"):
            serving = build_serving_index(docs, self.cfg)
            row = serving.segments.agg(
                *digest_aggs(SEGMENT_COLS),
                F.sum("n_docs").alias("postings"),
                F.sum(
                    F.length("doc_deltas") + F.length("tfs")
                    + F.length("scores") + 8 * F.size("block_max")
                ).alias("bytes"),
            ).collect()[0]
        dt = time.perf_counter() - t0
        cpu = win.close()["tree_cpu_s"]
        self.spark.catalog.clearCache()
        self._check("segments", (int(row["rows"]), str(row["digest"])))
        s = self.samples
        s["build_s"].append(dt)
        s["build_turns"].append(self.n_turns)
        s["build_cpu_s"].append(cpu)
        s["postings"].append(int(row["postings"]))
        s["segment_bytes"].append(int(row["bytes"]))

    def _references(self, docs) -> None:
        """Untimed, once: the references by the general code paths.
        Segments through pipeline.build_index -> build_segment_table
        (byte-equal to fastbuild's), cosine pairs through the unsalted
        similarity.cosine_pairs join, winnow pairs through a plain
        self-join. Run before the first timed pass, they also compile
        the operators the timed passes share with them."""
        from flame_spark.pipeline import build_index, build_segment_table
        from flame_spark.similarity import cosine_pairs, tfidf_normalized

        with self.tr.span("check"):
            idx = build_index(docs, self.cfg)
            self.reference["segments"] = digest(build_segment_table(idx), SEGMENT_COLS)
            self.reference["cosine"] = digest(
                cosine_pairs(tfidf_normalized(idx.postings, idx.stats_df, idx.stats.n_docs)),
                COSINE_COLS,
            )
            self.reference["winnow"] = digest(plain_winnow_pairs(docs), WINNOW_COLS)
        self.spark.catalog.clearCache()

    def _reuse(self, docs) -> None:
        from flame_spark.pipeline import build_index, pairwise_similarity
        from flame_spark.textops import winnow_pairs

        win = host.HostWindow()
        t0 = time.perf_counter()
        with self.tr.span("pipeline.build_index"):
            idx = build_index(docs, self.cfg)
        with self.tr.span("similarity.pairwise_similarity"):
            cosine = digest(pairwise_similarity(idx), COSINE_COLS)
        t1 = time.perf_counter()
        with self.tr.span("textops.winnow_pairs"):
            winnow = digest(winnow_pairs(docs, **WINNOW), WINNOW_COLS)
        t2 = time.perf_counter()
        cpu = win.close()["tree_cpu_s"]
        # build_index and winnow_pairs persist their intermediates
        self.spark.catalog.clearCache()
        self._check("cosine", cosine)
        self._check("winnow", winnow)
        self.samples["cosine_s"].append(t1 - t0)
        self.samples["winnow_s"].append(t2 - t1)
        self.samples["reuse_cpu_s"].append(cpu)
        self.samples["reuse_docs"].append(self.n_turns)

    def warm(self) -> None:
        """Untimed, before a traced run's cycles: the references, which
        an untraced run computes at the start of its first cycle."""
        self._references(self._docs(self.raw))

    def step(self) -> None:
        """One timed cycle: a text-reuse pass, then a build pass over
        the same docs. The first cycle starts with the references."""
        docs = self._docs(self.raw)
        if not self.reference:
            self._references(docs)
        self._reuse(docs)
        self._build(docs)

    def layer_extra(self) -> dict:
        s = self.samples
        return {"segments.bytes_per_posting": s["segment_bytes"][-1] / s["postings"][-1]}

    def metrics(self) -> dict:
        s = self.samples
        turns = sum(s["build_turns"])
        reuse_s = [c + w for c, w in zip(s["cosine_s"], s["winnow_s"])]
        return {
            "build_turns_per_s": (turns / sum(s["build_s"]), "turns/s"),
            "build_cpu_s_per_kturn": (
                sum(s["build_cpu_s"]) / turns * 1000.0, "s"),
            "build_pass_p50_ms": (median(s["build_s"]) * 1000.0, "ms"),
            "reuse_docs_per_s": (sum(s["reuse_docs"]) / sum(reuse_s), "docs/s"),
            "reuse_pass_p50_ms": (median(reuse_s) * 1000.0, "ms"),
            "reuse_cpu_p50_ms": (median(s["reuse_cpu_s"]) * 1000.0, "ms"),
            "cosine_pass_p50_ms": (median(s["cosine_s"]) * 1000.0, "ms"),
            "winnow_pass_p50_ms": (median(s["winnow_s"]) * 1000.0, "ms"),
            "build_passes": (len(s["build_s"]), "count"),
            "reuse_passes": (len(reuse_s), "count"),
            "corpus_turns": (self.n_turns, "count"),
            "cosine_pairs": (self.reference["cosine"][0], "count"),
            "winnow_pairs": (self.reference["winnow"][0], "count"),
        }

    def contract(self, m: dict) -> dict:
        """The end-to-end metrics every workload reports (see
        BENCHMARK.json), mapped from this workload's own metrics."""
        return {
            "latency_p50_ms": m["reuse_pass_p50_ms"][0],
            "throughput_per_s": m["build_turns_per_s"][0],
            "cpu_s_per_kitem": m["build_cpu_s_per_kturn"][0],
            "side_p50_ms": m["reuse_cpu_p50_ms"][0],
        }

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# serve_ingest
# ---------------------------------------------------------------------------


class ServeIngest:
    name = "serve_ingest"
    max_cycles = SIZES["serve_ingest"]["max_rounds"]  # the staged corpus
    #: C1 only. A query or a merge is a chain of small Spark jobs; in a
    #: JVM this young, C2 compiler threads compete with them for the
    #: host's few CPUs at times that differ from run to run, which
    #: moved query latency and write CPU by up to a third between runs
    jvm_options = "-XX:TieredStopAtLevel=1"

    def __init__(self, spark, run_dir: str, seed: int, tracer, tally: Tally):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tr = tracer
        self.tally = tally
        self.sizes = SIZES[self.name]
        self.cfg = engine_config(n_shards=self.sizes["n_shards"])
        self.rng = random.Random(f"perfbench-serve-{seed}")
        self.phase_s: dict[str, float] = {}
        self.pool = querygen.query_pool(seed, self.sizes["pool"])
        self.hot = [q for q in self.pool if q["kind"] == "hot"]
        self.next_query = 0
        self.reference: dict | None = None
        self.server = None
        self.deleted_docs: set[int] = set()
        self.deleted_convs: set[str] = set()
        self.samples: dict[str, list] = {
            "query_ms": [], "batch_s": [], "batch_n": [],
            "ingest_s": [], "ingest_turns": [], "write_cpu_s": [],
            "freshness_s": [], "delete_visible_s": [], "exclude_ids": [],
        }

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        from flame_spark.incremental import IncrementalIndexer
        from flame_spark.serving import WarehouseServer

        sz = self.sizes
        total = sz["initial_convs"] + sz["ingest_convs"] * sz["max_rounds"]
        t = time.perf_counter()
        self.raw, _ = stage_corpus(
            self.spark, os.path.join(self.run_dir, "raw"), total, self.seed
        )
        self.turns = {
            r["conv_id"]: int(r["count"])
            for r in self.raw.groupBy("conv_id").count().collect()
        }
        self.phase_s["stage"] = time.perf_counter() - t
        self.idx = IncrementalIndexer(
            os.path.join(self.run_dir, "warehouse"), self.cfg, hash_base=2**32
        )
        t = time.perf_counter()
        self.idx.initial_build(
            self.raw.filter(F.col("conv_id") < conv_id(sz["initial_convs"]))
        )
        self.ingested = sz["initial_convs"]
        self.phase_s["initial_build"] = time.perf_counter() - t
        t = time.perf_counter()
        self.idx.merge_segments(self.spark)
        self.phase_s["first_merge"] = time.perf_counter() - t
        t = time.perf_counter()
        self.server = WarehouseServer(
            self.idx, self.spark, n_parts=int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            ),
        )
        # the first answer loads the snapshot's segment cache
        self._single(self.rng.choice(self.hot))
        self.phase_s["server_start"] = time.perf_counter() - t

    def _refresh_reference(self) -> None:
        """Exhaustive pipeline.bm25_topk over the warehouse's current
        merge inputs (tombstoned docs removed), for the whole pool."""
        from flame_spark.pipeline import FlameIndex, bm25_topk

        postings_dl, stats_df, stats = self.idx.merged_inputs(self.spark)
        index = FlameIndex(
            cfg=self.cfg,
            artifacts=self.idx.load_serving_artifacts(self.spark),
            docs=None, postings=None, doc_lens=None,
            stats_df=stats_df, stats=stats, postings_dl=postings_dl,
        )
        rows = bm25_topk(
            self.spark, _engine_queries(self.pool), index, k=K
        ).collect()
        self.reference = _rows(
            (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
        )

    def _check_against_reference(self, res: dict, queries, what: str) -> None:
        for q in queries:
            got = res.get(q["query_id"], [])
            want = self.reference.get(q["query_id"], [])
            self.tally.check(
                got == want,
                f"{what}: {q['query_id']} {q['query_text']!r} served "
                f"{got[:3]} != exhaustive {want[:3]}",
            )

    def _check_no_deleted(self, res: dict, what: str) -> None:
        leaked = sorted(
            d for v in res.values() for _r, d, _s in v if d in self.deleted_docs
        )
        self.tally.check(
            not leaked, f"{what}: tombstoned docs {leaked[:5]} served"
        )

    def warm(self) -> None:
        """Nothing: set-up holds the first merge and the first answer."""

    # -- timed operations ---------------------------------------------------

    def _take(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            out.append(self.pool[self.next_query % len(self.pool)])
            self.next_query += 1
        return out

    def _single(self, q: dict) -> dict:
        with self.tr.span("serving.query"):
            res = self.server.query(_engine_queries([q]), k=K)
        return _rows(res)

    def _ingest_merge(self) -> None:
        """ingest -> merge -> query: the batch becomes visible."""
        sz = self.sizes
        lo, hi = self.ingested, self.ingested + sz["ingest_convs"]
        new = self.raw.filter(
            (F.col("conv_id") >= conv_id(lo)) & (F.col("conv_id") < conv_id(hi))
        )
        n_new = sum(self.turns[conv_id(c)] for c in range(lo, hi))
        probe = self.rng.choice(self.hot)
        win = host.HostWindow()
        t_ingest = time.perf_counter()
        with self.tr.span("incremental.ingest"):
            self.idx.ingest(new, on_oov="extend")
        self.samples["ingest_s"].append(time.perf_counter() - t_ingest)
        self.samples["ingest_turns"].append(n_new)
        self.ingested = hi
        with self.tr.span("incremental.merge_segments"):
            self.idx.merge_segments(self.spark)
        res = self._single(probe)  # swaps in the new snapshot's cache
        self.samples["freshness_s"].append(time.perf_counter() - t_ingest)
        self.samples["write_cpu_s"].append(win.close()["tree_cpu_s"])
        self._check_no_deleted(res, "after merge")
        # untimed: the merged snapshot against the exhaustive reference
        with self.tr.span("check"):
            self._refresh_reference()
        self._check_against_reference(res, [probe], "after merge")

    def _serve(self) -> None:
        """Closed-loop single queries, each group followed by one
        fixed-size batch. Spreading the singles over the cycle keeps a
        short burst of host load from setting the run's median."""
        singles: list[dict] = []
        got: dict = {}
        checks = []
        for _ in range(self.sizes["batches"]):
            group = self._take(self.sizes["singles"])
            singles.extend(group)
            for q in group:
                t0 = time.perf_counter()
                got.update(self._single(q))
                self.samples["query_ms"].append((time.perf_counter() - t0) * 1000.0)
            batch = self._take(self.sizes["batch"])
            t0 = time.perf_counter()
            with self.tr.span("serving.query_batch"):
                res = _rows(self.server.query_batch(_engine_queries(batch), k=K))
            self.samples["batch_s"].append(time.perf_counter() - t0)
            self.samples["batch_n"].append(len(batch))
            checks.append((res, batch, "batch"))
        checks.insert(0, (got, singles, "single"))
        for answers, queries, what in checks:
            if self.reference is not None:
                self._check_against_reference(answers, queries, what)
            self._check_no_deleted(answers, what)
        # the batches cover the whole pool, so they repeat every single
        # query: both paths must return identical tuples
        single_ids = {q["query_id"] for q in singles}
        for answers, queries, _what in checks[1:]:
            for q in queries:
                if q["query_id"] in single_ids:
                    self.tally.check(
                        answers.get(q["query_id"], []) == got.get(q["query_id"], []),
                        f"query_batch != query for {q['query_id']} "
                        f"{q['query_text']!r}",
                    )

    def _delete(self) -> None:
        """delete -> query: the serve-time exclude path."""
        victim = conv_id(self.rng.randrange(0, self.sizes["initial_convs"]))
        while victim in self.deleted_convs:
            victim = conv_id(self.rng.randrange(0, self.sizes["initial_convs"]))
        probe = self.rng.choice(self.hot)
        t_delete = time.perf_counter()
        with self.tr.span("incremental.delete_conversations"):
            self.idx.delete_conversations(self.spark, [victim])
        res = self._single(probe)
        self.samples["delete_visible_s"].append(time.perf_counter() - t_delete)
        self.deleted_convs.add(victim)
        self.reference = None  # scores hold until the next merge; ranks do not
        with self.tr.span("check"):
            self.deleted_docs = {
                int(d) for d in self.idx.deleted_doc_ids(self.spark)
            }
            if self.tr.enabled:  # a per-layer metric only
                self.samples["exclude_ids"].append(
                    len(self.idx.serve_exclude_ids(self.spark))
                )
        self._check_no_deleted(res, "after delete")

    def step(self) -> None:
        """One timed cycle: ingest -> merge -> query, closed-loop
        queries, then delete -> query."""
        self._ingest_merge()
        self._serve()
        self._delete()

    def layer_extra(self) -> dict:
        """Untimed: encoded bytes per posting of the served snapshot."""
        row = self.idx.warehouse.read_snapshot(self.spark).agg(
            F.sum("n_docs").alias("postings"),
            F.sum(
                F.length("doc_deltas") + F.length("tfs")
                + F.length("scores") + 8 * F.size("block_max")
            ).alias("bytes"),
        ).collect()[0]
        return {
            "segments.bytes_per_posting": int(row["bytes"]) / int(row["postings"]),
            "serving.exclude_ids": self.samples["exclude_ids"][-1],
        }

    def metrics(self) -> dict:
        s = self.samples
        q = s["query_ms"]
        turns = sum(s["ingest_turns"])
        m = {
            "query_p50_ms": (percentile(q, 50), "ms"),
            "batch_qps": (
                median([n / t for n, t in zip(s["batch_n"], s["batch_s"])]),
                "queries/s"),
            "ingest_turns_per_s": (turns / sum(s["ingest_s"]), "turns/s"),
            "write_cpu_s_per_kturn": (sum(s["write_cpu_s"]) / turns * 1000.0, "s"),
            "freshness_s": (median(s["freshness_s"]), "s"),
            "delete_visible_s": (median(s["delete_visible_s"]), "s"),
            "query_samples": (len(q), "count"),
            "write_rounds": (len(s["ingest_s"]), "count"),
        }
        p90 = tail_percentile(q, 90)
        if p90 is not None:
            m["query_p90_ms"] = (p90, "ms")
        return m

    def contract(self, m: dict) -> dict:
        return {
            "latency_p50_ms": m["query_p50_ms"][0],
            "throughput_per_s": m["batch_qps"][0],
            "cpu_s_per_kitem": m["write_cpu_s_per_kturn"][0],
            "side_p50_ms": m["freshness_s"][0] * 1000.0,
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.close()


WORKLOADS = {c.name: c for c in (BuildReuse, ServeIngest)}
