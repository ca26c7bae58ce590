#!/usr/bin/env python3
"""elipdotter-spark benchmark: index build, top-k latency, update freshness.

Usage (from the repository root):

    python3 perfbench/run.py --workload head|ingest --seed N \
        --seconds S --trace 0|1

One process, one Spark session (``local[min(4, nproc)]``),
one closed-loop client: each request starts after the previous one returns.
Every timed answer is checked afterwards, outside the timed interval, by an
independent path (``perfbench/checks.py``).  The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  See ``perfbench/README.md`` for why each
workload exists and what each metric means.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SIZING = {
    "docs": 2000,
    "doc_len": 80,
    "vocab": 5000,
    "segments": 1,
    "k": 10,
    "batch_queries": 8,
    "update_docs": 40,
    # the CLI default: a run holds one ~13 s update batch, so runs read
    # over one stacked delta and never reach the compaction threshold
    "max_delta_segments": 4,
    "distance": 1000,
    "fuzzy_threshold": 0.75,
    "word_count_limit": 1000,
}
TASK_THREADS = 4
SHUFFLE_PARTITIONS = 4
HEAP = "1g"

WORKLOADS = ("head", "ingest")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=SIZING["docs"],
                   help="corpus size (smaller for the smoke test)")
    p.add_argument("--corrupt", default=None,
                   help="test hook: falsify the first answer of this "
                        "operation kind before it is checked")
    return p.parse_args(argv)


def start_spark(tmp: str, trace: bool):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    threads = min(TASK_THREADS, len(os.sched_getaffinity(0)))
    b = (
        SparkSession.builder.master(f"local[{threads}]")
        .appName("elipdotter-perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.default.parallelism", str(SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", HEAP)
        # C1-only JIT: a run is a short-lived JVM (like one CLI command),
        # and C2 compile threads would double the CPU a run burns on a
        # shared machine; the serial collector keeps live-heap readings
        # after System.gc() repeatable
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                f"-XX:+UseSerialGC "
                f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(tmp, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # bounded status history, so heap use does not grow with the
        # number of requests a run happens to make
        .config("spark.ui.retainedJobs", "20")
        .config("spark.ui.retainedStages", "20")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "10")
    )
    if trace:
        os.makedirs(os.path.join(tmp, "events"))
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(tmp, "events"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def phase(name: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {name}", file=sys.stderr)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def corrupt(answer):
    """Falsify an answer (test hook): shift the first doc id."""
    if isinstance(answer, dict):
        key = next(iter(answer))
        return {**answer, key: corrupt(answer[key])}
    if isinstance(answer, (set, frozenset)):
        return set(answer) ^ {-1}
    row = answer[0]
    return [(row[0] + 10**9,) + tuple(row[1:])] + list(answer[1:])


class View:
    """The serving state one published snapshot gives a reader (the
    ``cli _load`` shape): pinned snapshot, cached dictionary, doc stats
    and latest-wins postings, and the two query engines."""

    def __init__(self, bench, store):
        from elipdotter_spark.plans.compiler import QueryEngine

        sz, tr = bench.sizing, bench.tracer
        with tr.span("catalog.snapshot"):
            self.snap = store.snapshot()
            self.terms = self.snap.published_terms().cache()
            self.docstats = self.snap.published_docstats().cache()
            self.postings = store.merged_postings().cache()
            # a reader loads its caches before it serves, so no query
            # after a refresh pays for them
            for df in (self.terms, self.docstats, self.postings):
                df.count()
            self.n, self.avgdl = self.snap.corpus_stats()
            self.doc_span = int(self.snap.meta["doc_span"])
            self.delta_segments = store.delta_segment_count()
        self.exact = QueryEngine(
            bench.spark, self.postings, self.terms, algo="exact",
            word_count_limit=sz["word_count_limit"])
        self.fuzzy = QueryEngine(
            bench.spark, self.postings, self.terms,
            proximity_threshold=sz["fuzzy_threshold"], algo="hamming",
            word_count_limit=sz["word_count_limit"])

    def release(self) -> None:
        for df in (self.terms, self.docstats, self.postings):
            df.unpersist(blocking=True)


class Bench:
    def __init__(self, args, spark, tracer, tmp):
        from workloads import QueryGen

        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.sizing = dict(SIZING, docs=args.docs)
        self.rng = random.Random(args.seed)
        # ingest reads rare words, so fixed per-query cost shows there
        band = "head" if args.workload == "head" else "tail"
        self.gen = QueryGen(self.rng, band)
        self.lat = defaultdict(list)
        self.batch_qps = []
        self.fresh = []
        self.attempted = 0
        self.failed = 0
        self.untimed_s = 0.0
        self.n_req = 0
        self.store = None
        self.view = None
        self.corpus_dir = os.path.join(tmp, "corpus")
        self._bm25_ref = None
        self._scored_ref = None
        self._corrupt = args.corrupt
        self.traced_extra = defaultdict(list)
        self.compactions = 0
        self.read_deltas = []
        self.update_text_bytes = 0
        v0 = time.perf_counter()
        self.bm25_ref()  # loads duckdb outside every timed interval
        self.untimed_s += time.perf_counter() - v0

    # ------------------------------------------------------------ checks

    def bm25_ref(self):
        from checks import Bm25Reference

        if self._bm25_ref is None:
            self._bm25_ref = Bm25Reference()
        return self._bm25_ref

    def scored_ref(self):
        from checks import ScoredReference

        if self._scored_ref is None:
            ref = ScoredReference(self.sizing["fuzzy_threshold"],
                                  self.sizing["word_count_limit"])
            con = self.bm25_ref().con
            ref.put(con.execute(
                f"SELECT doc_id, text FROM read_parquet('{self.corpus_dir}/*.parquet')"
            ).fetchall())
            self._scored_ref = ref
        return self._scored_ref

    def seg_dirs(self):
        return [self.store.segment_path(r["segment_id"])
                for r in self.store.ledger() if r.get("status") == "done"]

    def check_bm25(self, queries, answers) -> bool:
        from checks import bm25_matches

        want = self.bm25_ref().scores(self.seg_dirs(), queries)
        return all(bm25_matches(answers.get(q, []), want[q], self.sizing["k"])
                   for q in queries)

    def check_topk(self, query, fuzzy, answer) -> bool:
        s = self.sizing
        return answer == self.scored_ref().topk(query, fuzzy, s["k"], s["distance"])

    # --------------------------------------------------------- operations

    def op(self, kind, fn, check, record=True, traced=None):
        """One timed operation, then its untimed answer check and, in the
        traced run, ``traced()`` for the layer counters.  Returns
        (answer, seconds); an exception or a wrong answer is a failure."""
        self.attempted += 1
        self.n_req += 1
        self.tracer.request = f"{kind}-{self.n_req}"
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"request.{kind}"):
                answer = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        v0 = time.perf_counter()
        if self._corrupt == kind:
            answer, self._corrupt = corrupt(answer), None
        try:
            ok = check(answer)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"wrong answer: {kind} (request {self.n_req})", file=sys.stderr)
        if traced is not None and self.tracer.enabled:
            with self.tracer.span("trace.counters"):
                traced()
        self.untimed_s += time.perf_counter() - v0
        if record:
            self.lat[kind].append(dt)
        return answer, dt

    def wand_rows(self, terms, k):
        """The ``cli bm25 --wand`` path on the current snapshot."""
        from elipdotter_spark.operators import codec

        v, tr = self.view, self.tracer
        with tr.span("catalog.wand_tables"):
            comp, dlb = v.snap.wand_tables(v.terms, v.n, v.avgdl)
        with tr.span("codec.bm25_topk_wand"):
            rows = codec.bm25_topk_wand(
                comp, dlb, v.terms, terms, k, v.n, v.avgdl).collect()
        return [(r.doc_id, r.score) for r in rows]

    def wand(self, terms, record=True):
        k = self.sizing["k"]
        return self.op("bm25", lambda: self.wand_rows(terms, k),
                       lambda a: self.check_bm25({0: terms}, {0: a}),
                       record=record, traced=lambda: self._wand_stats(terms, k))

    def _wand_stats(self, terms, k):
        """Useful over attempted doc ranges of one WAND query."""
        from pyspark.sql import functions as F

        from elipdotter_spark.operators import codec

        v = self.view
        comp, dlb = v.snap.wand_tables(v.terms, v.n, v.avgdl)
        with self.tracer.span("codec.wand_stats"):
            parts = (
                codec.bm25_topk_wand(comp, dlb, v.terms, terms, k, v.n, v.avgdl,
                                     with_stats=True)
                .select(F.spark_partition_id().alias("p"), "rng_scanned", "rng_total")
                .distinct().collect()
            )
        self.traced_extra["wand_ranges"].append(
            (sum(r.rng_scanned for r in parts), sum(r.rng_total for r in parts)))

    def topk(self, query, fuzzy, record=True):
        from elipdotter_spark.core.parser import parse

        eng = self.view.fuzzy if fuzzy else self.view.exact
        tr, s = self.tracer, self.sizing

        stats = {} if tr.enabled else None

        def run():
            with tr.span("compiler.topk"):
                rows = eng.topk(query, s["distance"], s["k"], stats_out=stats).collect()
            return [(r.doc_id, r.start, float(r.rating)) for r in rows]

        def counters():
            # the layers topk runs internally, called again on their own
            with tr.span("parser.parse"):
                ast = parse(query)
            with tr.span("similarity.expansions" if fuzzy else "compiler.expansions"):
                exp = eng.expansions(ast)
            if fuzzy:
                self.traced_extra["candidates"].append(
                    sum(len(m) for m in exp.values()))
            if stats.get("root_docs"):
                self.traced_extra["kernel_per_root"].append(
                    stats["kernel_docs"] / stats["root_docs"])

        return self.op("fuzzy" if fuzzy else "scored", run,
                       lambda a: self.check_topk(query, fuzzy, a), record=record,
                       traced=counters)

    def batch(self, queries, record=True):
        from elipdotter_spark.operators import bm25

        v, tr, k = self.view, self.tracer, self.sizing["k"]

        def run():
            with tr.span("catalog.wand_tables"):
                comp, _dlb = v.snap.wand_tables(v.terms, v.n, v.avgdl)
            with tr.span("bm25.topk_blockmax_batch"):
                rows = bm25.bm25_topk_blockmax_batch(
                    v.postings, v.docstats, v.terms,
                    comp.select("term", "block", "block_max"),
                    queries, k, v.n, v.avgdl, block_size=v.doc_span,
                ).select("query_id", "doc_id", "score").collect()
            out = {q: [] for q in queries}
            for r in rows:
                out[r.query_id].append((r.doc_id, r.score))
            return out

        answer, dt = self.op("batch", run, lambda a: self.check_bm25(queries, a),
                             record=False)
        if record and answer is not None:
            self.batch_qps.append(len(queries) / dt)
        return answer, dt

    def query(self, kind, record=True):
        g = self.gen
        if record:
            self.read_deltas.append(self.view.delta_segments)
        if kind == "bm25":
            return self.wand(g.bm25_terms(), record=record)
        if kind == "scored":
            return self.topk(g.scored_query(), False, record=record)
        if kind == "fuzzy":
            return self.topk(g.fuzzy_query(), True, record=record)
        return self.batch(g.batch(self.sizing["batch_queries"]), record=record)

    # ------------------------------------------------------------- phases

    def make_corpus(self):
        from elipdotter_spark.sources.corpus import zipf_corpus

        s = self.sizing
        zipf_corpus(self.spark, s["docs"], vocab_size=s["vocab"],
                    doc_len=s["doc_len"], partitions=SHUFFLE_PARTITIONS,
                    seed=self.args.seed).write.parquet(self.corpus_dir)
        return self.spark.read.parquet(self.corpus_dir)

    def build(self, docs):
        """Bulk build + full publish, timed as one operation."""
        from elipdotter_spark.sources.catalog import IndexStore

        self.store = IndexStore(self.spark, os.path.join(self.tmp, "store"))
        store, tr, n = self.store, self.tracer, self.sizing["docs"]

        def run():
            with tr.span("catalog.build_resumable"):
                rows = store.build_resumable(docs, n_segments=self.sizing["segments"])
            with tr.span("catalog.publish"):
                store.publish()
            return [(sum(r["n_docs"] for r in rows), store.corpus_stats()[0])]

        _answer, self.build_s = self.op("build", run, lambda a: a == [(n, n)],
                                        record=False)

    def refresh_view(self):
        if self.view is not None:
            self.view.release()
        self.view = View(self, self.store)

    def warm_up(self):
        """One round of every query type, not recorded: plan codegen, JIT,
        Python workers and the ``topk`` futility probe."""
        from workloads import QUERY_TYPES

        for kind in self.gen.round_order(QUERY_TYPES):
            self.query(kind, record=False)

    def clock(self) -> float:
        """Seconds since process start, less all check and counter time."""
        return time.perf_counter() - T_START - self.untimed_s

    def head_workload(self):
        """head: timed bulk build, then the interleaved query stream."""
        phase("session started")
        docs = self.make_corpus()
        phase("corpus written")
        # freshness of the bulk load: build + publish until the first read
        # of the new snapshot returns (checked against DuckDB)
        t0 = self.clock()
        self.build(docs)
        self.refresh_view()
        self.wand(self.gen.bm25_terms(), record=False)
        t1 = self.clock()
        self.fresh.append(t1 - t0)
        self.ingested_docs, self.ingest_s = self.sizing["docs"], t1 - t0
        phase(f"built and probed (build {self.build_s:.2f}s)")
        self.warm_up()
        t2 = self.clock()
        self.setup_s = t0 + (t2 - t1)
        phase("queries warm")
        while self.clock() - t2 < self.args.seconds:
            for kind in self.gen.round_order():
                self.query(kind)

    def ingest_workload(self):
        """ingest: base build and a warm-up round in set-up, then update
        batches, each followed by one round of reads on the new snapshot
        (over K stacked deltas; the CLI policy compacts at K=4)."""
        from workloads import update_batch

        s = self.sizing
        phase("session started")
        docs = self.make_corpus()
        phase("corpus written")
        self.build(docs)
        self.refresh_view()
        phase(f"base built (build {self.build_s:.2f}s)")
        self.warm_up()
        self.setup_s = t0 = self.clock()
        phase("queries warm")
        self.ingested_docs, batch_no = 0, 0
        while self.clock() - t0 < self.args.seconds:
            marker, rows = update_batch(self.rng, batch_no, self.args.seed,
                                        s["docs"], s["update_docs"],
                                        s["doc_len"], s["vocab"])
            self.update(batch_no, marker, rows)
            phase(f"batch {batch_no} fresh after {self.fresh[-1]:.2f}s")
            self.ingested_docs += len(rows)
            self.update_text_bytes += sum(len(t.encode()) for _, t in rows)
            batch_no += 1
            for kind in self.gen.round_order():
                self.query(kind)
        self.ingest_s = self.clock() - t0

    def update(self, batch_no, marker, rows):
        """The ``cli ingest`` path, then the marker probe on the new
        snapshot; freshness runs from write_segment to the probe's answer."""
        s, tr, store = self.sizing, self.tracer, self.store
        df = self.spark.createDataFrame(rows, "doc_id long, text string")
        t0 = self.clock()

        def run():
            with tr.span("catalog.write_segment"):
                store.write_segment(f"ingest-{batch_no:04d}", df)
            try:
                with tr.span("catalog.publish_delta"):
                    store.publish_delta()
                delta = True
            except ValueError:  # the CLI's fallback for stores without block stats
                with tr.span("catalog.publish"):
                    store.publish()
                delta = False
            if delta:
                with tr.span("catalog.compact_lineage"):
                    done = store.maybe_compact_lineage(
                        max_delta_segments=s["max_delta_segments"], mode="full")
                self.compactions += done is not None
            return [(len(rows),)]

        self.op("update", run, lambda a: a == [(len(rows),)], record=False)
        self.refresh_view()
        want = {d for d, _ in rows}
        self.op("probe",
                lambda: {d for d, _ in self.wand_rows([marker], s["update_docs"])},
                lambda a: a == want, record=False)
        self.fresh.append(self.clock() - t0)
        v1 = time.perf_counter()
        self.scored_ref().put(rows)
        self.untimed_s += time.perf_counter() - v1

    # ------------------------------------------------------------ results

    def live_heap_mb(self) -> float:
        """JVM heap in use after a full collection (traced output only: it
        swung between 112 and 342 MB over runs of one build)."""
        jvm = self.spark.sparkContext._jvm
        for _ in range(2):
            jvm.java.lang.System.gc()
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return bean.getHeapMemoryUsage().getUsed() / 2**20

    def cache_mb(self) -> float:
        """Storage memory of the cached blocks the reader holds."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    def text_bytes(self) -> int:
        con = self.bm25_ref().con
        base = con.execute(
            f"SELECT sum(octet_length(encode(text))) FROM read_parquet('{self.corpus_dir}/*.parquet')"
        ).fetchone()[0]
        return int(base) + self.update_text_bytes

    def end_to_end(self) -> dict:
        s = self.sizing
        return {
            "setup_s": self.setup_s,
            "build_docs_per_s": s["docs"] / self.build_s,
            "index_bytes_per_text_byte": du(self.store.base) / self.text_bytes(),
            "cache_mb": self.cache,
            "bm25_p50_s": median(self.lat["bm25"]),
            "scored_p50_s": median(self.lat["scored"]),
            "fuzzy_p50_s": median(self.lat["fuzzy"]),
            "batch_qps": median(self.batch_qps),
            "fresh_p50_s": median(self.fresh),
            "ingest_docs_per_s": self.ingested_docs / self.ingest_s,
        }


def per_layer(bench, tracer, spark_stats, peak_rss_mb):
    """(per-layer metrics, per-layer table) of a traced run."""
    from spans import layer_table, median_duration, subtree

    spans = tracer.spans
    seg_rows = [r for r in bench.store.ledger() if r.get("status") == "done"]
    table = layer_table(spans, spark_stats)
    queries = [s for s in spans if s["name"] in (
        "request.bm25", "request.scored", "request.fuzzy", "request.batch")]

    def per_query(field):
        vals = []
        for q in queries:
            ids = subtree(spans, [q["id"]])
            vals.append(sum(spark_stats.get(i, {}).get(field, 0) for i in ids))
        return median(vals)

    wr = bench.traced_extra["wand_ranges"]
    build_ids = subtree(spans, [s["id"] for s in spans
                                if s["name"] in ("catalog.build_resumable",
                                                 "catalog.write_segment")])
    out = {
        "catalog.write_segment_s": median([r["wall_ms"] / 1000 for r in seg_rows]),
        "catalog.publish_s": median_duration(spans, "catalog.publish"),
        "catalog.published_bytes": du(bench.store.base)
        - du(os.path.join(bench.store.base, "segments")),
        "catalog.publish_delta_s": median_duration(spans, "catalog.publish_delta"),
        "catalog.compact_lineage_s": median_duration(spans, "catalog.compact_lineage"),
        "catalog.compactions": bench.compactions,
        "catalog.snapshot_s": median_duration(spans, "catalog.snapshot"),
        "catalog.wand_tables_s": median_duration(spans, "catalog.wand_tables"),
        "catalog.delta_segments": median(bench.read_deltas),
        "index_build.postings_per_doc": sum(r["n_postings"] for r in seg_rows)
        / max(1, sum(r["n_docs"] for r in seg_rows)),
        "tokenizer.arrow_udf_stage_s": sum(
            spark_stats.get(i, {}).get("arrow_udf_s", 0.0) for i in build_ids),
        "codec.bm25_topk_wand_s": median_duration(spans, "codec.bm25_topk_wand"),
        "codec.wand_ranges_scanned_frac": sum(a for a, _ in wr) / max(1, sum(b for _, b in wr)),
        "bm25.topk_blockmax_batch_s": median_duration(spans, "bm25.topk_blockmax_batch"),
        "compiler.expansions_s": median_duration(spans, "compiler.expansions"),
        "compiler.topk_s": median_duration(spans, "compiler.topk"),
        "compiler.kernel_docs_per_root_doc": median(bench.traced_extra["kernel_per_root"]),
        "similarity.expansions_s": median_duration(spans, "similarity.expansions"),
        "similarity.candidates": median(bench.traced_extra["candidates"]),
        "parser.parse_s": median_duration(spans, "parser.parse"),
        "spark.jobs_per_query": per_query("jobs"),
        "spark.tasks_per_query": per_query("tasks"),
        "spark.shuffle_bytes_per_query": per_query("shuffle_bytes"),
        "spark.executor_run_s_per_query": per_query("run_s"),
        "jvm.gc_s": sum(r["gc_s"] for r in table.values()),
        "jvm.live_heap_mb": bench.heap_mb,
        "process.peak_rss_mb": peak_rss_mb,
        "trace.bookkeeping_s": tracer.bookkeeping_s,
    }
    for layer in ("request", "catalog", "codec", "bm25", "compiler",
                  "similarity", "parser"):
        out[f"selftime.{layer}_s"] = table.get(layer, {}).get("self_s", 0.0)
    return out, table


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_path(args, trace: int) -> str:
    return os.path.join(WORK, "results", f"{args.workload}-{args.seed}-trace{trace}.json")


def overhead_report(args, e2e: dict) -> dict:
    """Traced minus untraced end-to-end numbers, when this checkout holds
    an untraced result for the same workload and seed."""
    path = result_path(args, 0)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        base = json.load(fh)
    return {k: e2e[k] - base[k] for k in e2e if k in base}


def run(args) -> dict:
    from spans import Tracer, spark_by_span

    spec = load_spec()
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    # one Spark process at a time: a second concurrent run would share the
    # cores (and the open-file limit) and skew both
    fcntl.flock(lock, fcntl.LOCK_EX)
    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        spark = start_spark(tmp, bool(args.trace))
        try:
            tracer = Tracer(spark.sparkContext if args.trace else None)
            bench = Bench(args, spark, tracer, tmp)
            if args.workload == "ingest":
                bench.ingest_workload()
            else:
                bench.head_workload()
            phase(f"timed phase done (untimed so far {bench.untimed_s:.2f}s)")
            bench.cache = bench.cache_mb()
            bench.heap_mb = bench.live_heap_mb() if args.trace else 0.0
            rss = peak_rss_mb(spark) if args.trace else 0.0
        finally:
            stop_spark(spark)
        phase("spark stopped")
        e2e = bench.end_to_end()
        bench.bm25_ref().close()
        if args.trace:
            metrics, table = per_layer(
                bench, tracer, spark_by_span(os.path.join(tmp, "events")), rss)
            names = spec["per_layer"]
            report = {"layers": table, "overhead": overhead_report(args, e2e),
                      "end_to_end_traced": e2e, "spans": tracer.spans}
            print_table(table, report["overhead"])
        else:
            metrics, names, report = e2e, spec["end_to_end"], e2e
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(result_path(args, args.trace), "w") as fh:
            json.dump(report, fh)
        counts = {k: len(v) for k, v in bench.lat.items()}
        counts["batch"] = len(bench.batch_qps)
        counts["fresh"] = len(bench.fresh)
        print(f"samples: {json.dumps(counts)}", file=sys.stderr)
        return {
            "correct": bench.failed == 0 and bench.attempted > 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                        for m in names},
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        lock.close()


def print_table(table, overhead) -> None:
    print(f"{'layer':<12}{'calls':>7}{'total_s':>10}{'self_s':>10}{'jobs':>7}"
          f"{'tasks':>8}{'shuffle_B':>12}{'run_s':>9}{'gc_s':>8}")
    for layer, r in sorted(table.items()):
        print(f"{layer:<12}{r['calls']:>7}{r['total_s']:>10.3f}{r['self_s']:>10.3f}"
              f"{r['jobs']:>7}{r['tasks']:>8}{r['shuffle_bytes']:>12}"
              f"{r['executor_run_s']:>9.3f}{r['gc_s']:>8.3f}")
    if overhead:
        print("tracing overhead (traced - untraced, same seed): "
              + json.dumps({k: round(v, 4) for k, v in overhead.items()}))


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import elipdotter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    result = run(args)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"error_rate = {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']} of {result['attempted']} operations failed)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
