"""tesserae_ng_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload union --seed 1 --seconds 2 --trace 0

Run from the repository root. A run drives the engine through its public
functions only (README.md says why each part is there):

1. set-up: ``session.get_spark`` and corpus synthesis from the sf0.1
   documents (``$SPARK_GRAFT_SF_DIR``, as for ``bench.py``);
2. ingest: the workload's index layout is built: ``build_index`` for
   ``union``, ``build_sharded_indexes`` (4 shards) for ``sharded``;
3. queries, with the layout's distributed executor (``search_batch`` or
   ``search_sharded``): a first 2000-query batch on fresh Python workers;
   then, for ``--seconds`` seconds, cycles of a warm 2000-query batch, a
   60-query batch and a burst of single queries from one client in a
   closed loop on an in-process ``Searcher``;
4. the traced run of ``union`` only: the four DataFrame operators
   ``bm25_exhaustive``, ``dedup_minhash_lsh``, ``ann_bruteforce_topk`` and
   ``lang_id``.

The corpus is fixed; ``--seed`` drives only the query streams. Batch
queries draw their terms uniformly from the dictionary, single queries in
proportion to df. Answers are checked after the timed calls.
The last stdout line is the result ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. Each run also writes a record (and, traced, its spans)
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("union", "sharded")
# the engine's sf0.1 test tables: the corpus and the operators' input
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# distinct documents in sf0.1 (older crawls of the same url are dropped)
CORPUS_DOCS = 5000
N_PARTS, N_SHARDS = 4, 4
BIG_BATCH, SMALL_BATCH = 2000, 60
# untimed single queries that fill the reader's caches before timing
WARMUP_SINGLE = 300
# single queries per burst; the window runs at least MIN_CYCLES cycles
BURST, MIN_CYCLES = 500, 2
# traced runs check this many bm25 queries per scorer path against the
# exhaustive oracle: tail queries from the batch stream (dense scorer) and
# head-term queries from the df stream (global accumulator)
ORACLE_SAMPLE = 2
OPERATORS = ("bm25_exhaustive", "dedup_minhash_lsh", "ann_bruteforce_topk", "lang_id")

# (name, unit); every untraced run prints all of them
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("build_docs_per_s", "docs/s"),
    ("index_bytes_per_posting", "B"),
    ("first_batch_s", "s"),
    ("batch_qps", "q/s"),
    ("small_batch_s", "s"),
    ("query_p50_ms", "ms"),
    ("query_qps", "q/s"),
]
EXECUTORS = {"union": "search_batch", "sharded": "search_sharded"}
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "tasks_failed": "count",
    "task_run_s": "s", "task_max_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "busy_share": "ratio",
}
SPARK_CALLS = ("build_index", "build_sharded_indexes", "search_batch", "search_sharded")
OPERATOR_SPARK_KEYS = ("jobs", "stages", "tasks", "task_run_s", "shuffle_write_bytes")
# (span name, metric prefix) of the single-query path
SINGLE_SPANS = [
    ("functions.analysis.analyze_query", "functions.analysis.analyze_query"),
    ("query.reader.fetch", "query.reader.fetch"),
    ("query.reader.ensure_payloads", "query.reader.ensure_payloads"),
    ("query.wand.wand_topk", "query.wand.wand_topk"),
    ("query.wand.bm25_global_topk", "query.wand.bm25_global_topk"),
    ("query.wand.bm25_dense_topk", "query.wand.bm25_dense_topk"),
    ("query.search.phrase_topk", "query.search.phrase_topk"),
    ("query.search.proximity_topk", "query.search.proximity_topk"),
    ("query.search.search", "query.search.search_self"),
]
SCORERS = ("wand_topk", "bm25_global_topk", "bm25_dense_topk")
READER_COUNTERS = ("payload_blocks_loaded", "payload_scans", "payload_rows_scanned")
# every traced run prints all of them; a layer the workload does not run
# reads 0
PER_LAYER = (
    [
        ("session.get_spark_s", "s"),
        ("sources.corpus.synthesize_s", "s"),
        ("index.builder.parts_s", "s"),
        ("index.builder.merge_postings_s", "s"),
        ("index.builder.merge_dict_s", "s"),
        ("index.sharded_build.parts_s", "s"),
        ("index.sharded_build.merge_postings_s", "s"),
        ("index.sharded_build.merge_dict_s", "s"),
        ("index.manifest.part_wall_max_s", "s"),
        ("index.manifest.part_wall_min_s", "s"),
        ("index.postings_bytes", "B"),
        ("index.dictionary_bytes", "B"),
        ("index.n_blocks", "count"),
        ("index.n_postings", "count"),
        ("query.search.affinity_slices_s", "s"),
        ("query.search.slices", "count"),
        ("query.search.slice_queries_max", "count"),
        ("query.sharded.global_shard_stats_s", "s"),
        ("query.sharded.prime_shard_workers_s", "s"),
    ]
    + [(f"{c}.spark.{k}", u) for c in SPARK_CALLS for k, u in SPARK_UNITS.items()]
    + [(f"{c}.overhead_s", "s") for c in SPARK_CALLS]
    + [
        (f"{e}{suffix}", unit)
        for e in EXECUTORS.values()
        for suffix, unit in (
            (".hits", "count"),
            ("_first.overhead_s", "s"), ("_first.spark.tasks", "count"),
            ("_small.overhead_s", "s"), ("_small.spark.tasks", "count"),
        )
    ]
    + [
        ("query.reader.open_s", "s"),
        ("query.reader.fetch_calls", "1/query"),
        ("query.reader.rows_per_block", "ratio"),
    ]
    + [(f"query.reader.{c}", "1/query") for c in READER_COUNTERS]
    + [(f"{m}_ms", "ms/query") for _, m in SINGLE_SPANS]
    + [(f"query.wand.{s}_calls", "1/query") for s in SCORERS]
    + [(f"operators.{k}_s", "s") for k in OPERATORS]
    + [(f"operators.{k}.spark.{s}", SPARK_UNITS[s]) for k in OPERATORS for s in OPERATOR_SPARK_KEYS]
    + [("trace.overhead_query_ms", "ms"), ("trace.spans", "count")]
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Ops:
    """Attempted/failed counts per operation class, plus the wall-clock
    window of every Spark call (the traced run maps event-log jobs to
    calls by time)."""

    def __init__(self):
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.windows: list[tuple[str, float, float]] = []
        # (class, raw wall, run_share) of every timed Spark call
        self.walls: list[tuple[str, float, float]] = []

    def run(self, cls: str, fn, spark_call: bool = True):
        """→ (result, seconds), or (None, None) if ``fn`` raised. A Spark
        call's seconds are steal-free (``run_share``); a single query's are
        its raw wall."""
        self.attempted[cls] += 1
        t0 = time.time()
        c0 = cpu_fields() if spark_call else None
        p0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            self.failed[cls] += 1
            return None, None
        dt = time.perf_counter() - p0
        if spark_call:
            self.windows.append((cls, t0, time.time()))
            share = run_share(c0, cpu_fields())
            self.walls.append((cls, dt, share))
            dt *= share
        return res, dt

    def check(self, cls: str, ok: bool, what: str) -> None:
        if not ok:
            self.failed[cls] += 1
            print(f"check failed: {cls}: {what}", file=sys.stderr)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def source_stamp() -> dict:
    """The engine's source identity: git commit when the checkout has git
    metadata, and always a hash of the package sources."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "tesserae_ng_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip() or None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def cpu_fields() -> list[int]:
    """Jiffies of all CPUs since boot, by state, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_share(c0: list[int], c1: list[int]) -> float:
    """Share of the CPUs' runnable time between two ``cpu_fields`` readings
    that this guest ran: 1 - steal / (busy + steal). On a shared host the
    hypervisor runs other guests on the vCPUs this guest wants, which
    stretches every wall time without any change in the engine; a timed
    wall times this share is its steal-free time. It is 1 on a host that
    steals nothing."""
    d = [b - a for a, b in zip(c0, c1)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return 1.0 - d[7] / (busy + d[7]) if busy + d[7] else 1.0


def percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(SF_DIR, "documents.parquet")):
        print(f"no documents.parquet in {SF_DIR}; set SPARK_GRAFT_SF_DIR", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cpu0 = cpu_fields()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # pin the engine to the cores this process may use (it defaults to 32)
    # and keep all scratch inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a 1 GB heap instead of the engine's 8 GB: with 8 GB the JVM's resident
    # set varied from 1.6 to 3.1 GB between runs of one workload, too wide
    # for a peak-memory bound (README.md, "Memory")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    rss = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "rss.py"), str(os.getpid())],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        result, record = Bench(args, nproc, work).run(rss)
    finally:
        if rss.poll() is None:
            rss.kill()
        rss.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    # CPU time the hypervisor gave to other guests: a slow run on a shared
    # host shows here
    d = [b - a for a, b in zip(cpu0, cpu_fields())]
    record["steal_share"] = d[7] / max(1, sum(d))
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"stamp": record["stamp"], "fail_rate": record["fail_rate"]}))
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, args, nproc: int, work: str):
        from spans import Tracer

        self.args = args
        self.nproc = nproc
        self.work = work
        self.sharded = args.workload == "sharded"
        self.executor = EXECUTORS[args.workload]
        self.tracer = Tracer() if args.trace else None
        self.ops = Ops()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
        self.phase_s: dict[str, float] = {}
        self.op_hashes: dict[str, tuple] = {}
        self.conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"}
        if args.trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
            })
        self.union_dir = os.path.join(work, "union")
        self.shard_dirs = [os.path.join(work, f"shard{i}") for i in range(N_SHARDS)]
        self.index_dirs = self.shard_dirs if self.sharded else [self.union_dir]
        # the single-query client serves one local index: the union index,
        # or in the sharded layout the first shard
        self.local_dir = self.index_dirs[0]
        self.spark = None

    # -- helpers -----------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def patched(self, targets):
        return self.tracer.patched(targets) if self.tracer else nullcontext()

    def session(self):
        from tesserae_ng_spark.session import get_spark

        return get_spark(
            "perfbench", master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc, extra_conf=self.conf,
        )

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def batch(self, spark, queries, index_dirs=None):
        """The layout's distributed executor over ``queries`` → rows; on a
        single index dir ``search_batch`` serves either layout."""
        from tesserae_ng_spark.query.search import search_batch
        from tesserae_ng_spark.query.sharded import search_sharded

        dirs = index_dirs or self.index_dirs
        if len(dirs) > 1:
            df = search_sharded(spark, dirs, queries, k=10)
        else:
            df = search_batch(spark, dirs[0], queries, k=10)
        return [tuple(r) for r in df.collect()]

    # -- phases ------------------------------------------------------------

    def run(self, rss):
        phases = [self.setup, self.ingest, self.queries]
        # the operators read no index, so one workload's traced run covers
        # them; the sharded one already builds a second (union) index
        if self.args.trace and not self.sharded:
            phases.append(self.operators)
        try:
            for phase in phases:
                p0 = time.perf_counter()
                phase()
                self.phase_s[phase.__name__] = time.perf_counter() - p0
        finally:
            self.stop_spark()
            rss.stdin.close()
            mem = json.loads(rss.stdout.read())
        self.e2e["peak_rss_mb"] = mem["peak_bytes"] / 2**20
        self.check_operators()
        if self.tracer:
            self.spark_layers()
            self.layer["trace.spans"] = len(self.tracer.spans)
            self.tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{self.args.workload}-{self.args.seed}.jsonl"
            ))
        wanted = PER_LAYER if self.args.trace else END_TO_END
        values = self.layer if self.args.trace else self.e2e
        missing = [n for n, _ in wanted if n not in values]
        if missing:
            raise RuntimeError(f"no measurement for {missing}")
        attempted = sum(self.ops.attempted.values())
        failed = sum(self.ops.failed.values())
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in wanted},
        }
        record = {
            "stamp": {
                "workload": self.args.workload, "seed": self.args.seed,
                "seconds": self.args.seconds, "trace": self.args.trace,
                "nproc": self.nproc, **source_stamp(), **self.shape,
            },
            "fail_rate": failed / attempted,
            "phase_s": self.phase_s,
            "rss_at_peak": mem["at_peak"],
            "single_ms": self.single_ms,
            "calls": self.ops.walls,
            "setup_wall_s": self.setup_wall,
            "attempted": dict(self.ops.attempted),
            "failed": dict(self.ops.failed),
            "end_to_end": self.e2e,
            "per_layer": self.layer if self.args.trace else None,
        }
        return result, record

    def setup(self) -> None:
        from tesserae_ng_spark.sources.corpus import synthesize_corpus

        t0 = time.perf_counter()
        c0 = cpu_fields()
        with self.span("session.get_spark"):
            self.spark = self.session()
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.span("sources.corpus.synthesize_corpus"):
            self.corpus = synthesize_corpus(
                self.spark, SF_DIR, enrich_vocab=True
            ).persist()
            self.corpus.count()
        synth_s = time.perf_counter() - t0
        self.setup_wall = (session_s + synth_s, run_share(c0, cpu_fields()))
        self.e2e["setup_s"] = self.setup_wall[0] * self.setup_wall[1]
        self.layer["session.get_spark_s"] = session_s
        self.layer["sources.corpus.synthesize_s"] = synth_s

    def build_union(self, cls: str | None):
        """``build_index`` into the union dir; timed as operation ``cls``,
        or untimed (``None``) when it only serves a check."""
        from tesserae_ng_spark.index.builder import build_index

        def build():
            return build_index(
                self.spark, self.corpus, self.union_dir, n_parts=N_PARTS,
                target_postings_per_salt=1 << 14, n_buckets=16,
            )

        return self.ops.run(cls, build) if cls else (build(), None)

    def ingest(self) -> None:
        from loadgen import QueryGen, index_vocab
        from tesserae_ng_spark.index.manifest import all_manifests
        from tesserae_ng_spark.index.sharded_build import build_sharded_indexes

        if self.sharded:
            with self.span("index.sharded_build.build_sharded_indexes"):
                results, dt = self.ops.run("build_sharded_indexes", lambda: build_sharded_indexes(
                    self.spark, self.corpus, self.shard_dirs,
                    target_postings_per_salt=1 << 14, n_buckets=4,
                ))
            if results is None:
                raise RuntimeError("build_sharded_indexes failed")
            layer = "index.sharded_build"
        else:
            with self.span("index.builder.build_index"):
                res, dt = self.build_union("build_index")
            if res is None:
                raise RuntimeError("build_index failed")
            results = [res]
            layer = "index.builder"
        n_docs = sum(r.n_docs for r in results)
        self.e2e["build_docs_per_s"] = n_docs / dt
        self.ops.check(
            "build_sharded_indexes" if self.sharded else "build_index",
            n_docs == CORPUS_DOCS, f"{n_docs} docs indexed, {CORPUS_DOCS} in the corpus",
        )

        df: Counter = Counter()
        for d in self.index_dirs:
            df.update(dict(index_vocab(d)))
        vocab = sorted(df.items(), key=lambda p: (-p[1], p[0]))
        n_postings = sum(df.values())
        post_b = sum(dir_bytes(os.path.join(d, "postings")) for d in self.index_dirs)
        dict_b = sum(dir_bytes(os.path.join(d, "dictionary")) for d in self.index_dirs)
        self.e2e["index_bytes_per_posting"] = (post_b + dict_b) / n_postings
        n_blocks = sum(r.n_blocks for r in results)
        self.shape = {
            "n_docs": n_docs, "n_terms": len(vocab), "n_blocks": n_blocks,
            "sum_df": n_postings,
        }
        parts = [
            m["wall_ms"] / 1000
            for d in self.index_dirs for m in all_manifests(d) if "wall_ms" in m
        ]
        self.layer.update({
            f"{layer}.parts_s": results[0].phases["parts_s"],
            # the per-shard merges run concurrently: the slowest one counts
            f"{layer}.merge_postings_s": max(r.phases["merge_postings_s"] for r in results),
            f"{layer}.merge_dict_s": max(r.phases["merge_dict_s"] for r in results),
            "index.manifest.part_wall_max_s": max(parts),
            "index.manifest.part_wall_min_s": min(parts),
            "index.postings_bytes": post_b,
            "index.dictionary_bytes": dict_b,
            "index.n_blocks": n_blocks,
            "index.n_postings": n_postings,
        })

        gen = QueryGen(vocab, "uniform", self.args.seed)
        self.big = gen.batch(BIG_BATCH)
        self.small = gen.batch(SMALL_BATCH)
        local_vocab = index_vocab(self.local_dir)
        self.single = QueryGen(local_vocab, "df", self.args.seed + 1)
        self.warmup = QueryGen(local_vocab, "df", self.args.seed + 2)
        # the slow checks run in the traced run only, where they cost no
        # timed run its budget: the exhaustive oracle sample and, for the
        # sharded layout, an untimed union build to compare every query
        self.oracle = []
        if self.args.trace:
            p0 = time.perf_counter()
            self.oracle = self.oracle_answers(df)
            if self.sharded:
                self.build_union(None)
            self.phase_s["checks_ingest"] = time.perf_counter() - p0
        self.corpus.unpersist()

    def oracle_answers(self, df) -> list[tuple[dict, list[tuple]]]:
        """Exhaustive DataFrame BM25, computed while the corpus is still
        cached, for ORACLE_SAMPLE tail queries of the big batch and
        ORACLE_SAMPLE head-term queries of a df-weighted stream. On this
        corpus ``Searcher.search`` scores the first with
        ``bm25_dense_topk`` and the second with ``bm25_global_topk``
        (Σdf × 8 > n_docs); WAND needs more postings than it has."""
        import numpy as np

        from loadgen import QueryGen
        from tesserae_ng_spark.functions.analysis import analyze_query
        from tesserae_ng_spark.index.build import (
            corpus_stats, docs_table, prepare_docs, term_doc_decoded,
        )
        from tesserae_ng_spark.query.bm25_oracle import bm25_topk_oracle

        def postings(q):
            return sum(df.get(t, 0) for t in analyze_query(q["query_text"]))

        n_docs = self.shape["n_docs"]
        tail = [q for q in self.big if q["mode"] == "bm25" and 0 < 8 * postings(q) <= n_docs]
        rng = np.random.default_rng(self.args.seed)
        sample = [tail[i] for i in rng.choice(len(tail), ORACLE_SAMPLE, replace=False)]
        heads = QueryGen(sorted(df.items(), key=lambda p: (-p[1], p[0])), "df", self.args.seed + 3)
        while len(sample) < 2 * ORACLE_SAMPLE:
            q = heads.query()
            if q["mode"] == "bm25" and 8 * postings(q) > n_docs:
                sample.append(q)
        prepared = prepare_docs(self.corpus).persist()
        td = term_doc_decoded(prepared)
        st = corpus_stats(docs_table(prepared)).collect()[0]
        out = []
        for i, q in enumerate(sample):
            rows = bm25_topk_oracle(
                td, analyze_query(q["query_text"]), q["k"], st["n_docs"], st["avg_dl"]
            ).collect()
            q = dict(q, query_id=i)
            out.append((q, [(r["rank"], r["doc_id"], r["score"]) for r in rows]))
        prepared.unpersist()
        return out

    def queries(self) -> None:
        from tesserae_ng_spark.query import search as search_mod
        from tesserae_ng_spark.query import sharded as sharded_mod
        from tesserae_ng_spark.query.reader import IndexReader
        from tesserae_ng_spark.query.search import Searcher
        from tesserae_ng_spark.query.sharded import prime_shard_workers

        ex = self.executor

        def slices_info(sl):
            return (len(sl), max((len(s) for s in sl), default=0))

        batch_targets = [
            (search_mod, "affinity_slices", "query.search.affinity_slices", slices_info),
            (sharded_mod, "global_shard_stats", "query.sharded.global_shard_stats"),
        ]
        single_targets = [
            (Searcher, "search", "query.search.search"),
            (IndexReader, "fetch", "query.reader.fetch"),
            (IndexReader, "ensure_payloads", "query.reader.ensure_payloads"),
            (search_mod, "analyze_query", "functions.analysis.analyze_query"),
            (search_mod, "wand_topk", "query.wand.wand_topk"),
            (search_mod, "bm25_global_topk", "query.wand.bm25_global_topk"),
            (search_mod, "bm25_dense_topk", "query.wand.bm25_dense_topk"),
            (search_mod, "phrase_topk", "query.search.phrase_topk"),
            (search_mod, "proximity_topk", "query.search.proximity_topk"),
        ]

        def batch_call(cls, queries, index_dirs=None):
            if self.tracer:
                self.tracer.request = f"{cls}#{self.ops.attempted[cls]}"
            with self.patched(batch_targets), self.span(cls):
                return self.ops.run(cls, lambda: self.batch(self.spark, queries, index_dirs))

        # the first batch runs in a fresh session (new Python workers) on an
        # index no process has opened yet, as a newly started query service
        # meets it
        self.spark.stop()
        self.spark = self.session()
        rows, dt = batch_call(f"{ex}_first", self.big)
        big_runs = [rows]
        if dt is not None:
            self.e2e["first_batch_s"] = dt
        if self.sharded:
            t0 = time.perf_counter()
            with self.span("query.sharded.prime_shard_workers"):
                prime_shard_workers(self.spark, self.shard_dirs, queries=self.big)
            self.layer["query.sharded.prime_shard_workers_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        with self.span("query.reader.open"):
            searcher = Searcher(self.local_dir, warm_mb=0)
        self.layer["query.reader.open_s"] = time.perf_counter() - t0
        # a serving process answers from warm caches; filling them is the
        # cold start that open_s and first_batch_s already cover
        for _ in range(WARMUP_SINGLE):
            q = self.warmup.query()
            searcher.search(q["query_text"], k=q["k"], mode=q["mode"])
        counters0 = {c: getattr(searcher.reader, c) for c in READER_COUNTERS}
        small_runs, answered = [], []

        def single_burst(traced: bool) -> list[float]:
            """BURST single queries, one client in a closed loop."""
            out = []
            with self.patched(single_targets) if traced else nullcontext():
                for _ in range(BURST):
                    q = self.single.query()
                    if self.tracer:
                        self.tracer.request = f"q{len(answered)}"
                    hits, dt = self.ops.run(
                        "single",
                        lambda: searcher.search(q["query_text"], k=q["k"], mode=q["mode"]),
                        spark_call=False,
                    )
                    if hits is not None:
                        out.append(dt)
                        answered.append((q, [(h.rank, h.doc_id, h.score) for h in hits]))
            return sorted(out)

        # cycles of a warm big batch, a small batch and a burst of single
        # queries, until the window closes and at least MIN_CYCLES ran
        qps, small_s, bursts, traced_bursts, burst_s = [], [], [], [], []
        t_window = time.perf_counter()
        while time.perf_counter() - t_window < self.args.seconds or len(bursts) < MIN_CYCLES:
            rows, dt = batch_call(ex, self.big)
            if rows is not None:
                big_runs.append(rows)
                qps.append(len(self.big) / dt)
            rows, dt = batch_call(f"{ex}_small", self.small)
            if rows is not None:
                small_runs.append(rows)
                small_s.append(dt)
            # the traced run alternates traced and untraced bursts, which
            # measures the wrappers' own cost
            traced = self.tracer is not None and len(traced_bursts) <= len(bursts)
            c0 = cpu_fields()
            burst = single_burst(traced)
            if not traced:
                burst_s.append(sum(burst) * run_share(c0, cpu_fields()))
            (traced_bursts if traced else bursts).append(burst)
        self.phase_s["window"] = time.perf_counter() - t_window

        if qps:
            self.e2e["batch_qps"] = statistics.median(qps)
        if small_s:
            self.e2e["small_batch_s"] = statistics.median(small_s)
        # a 0.3 ms query is either hit by a steal slice or not, so steal
        # lands in the tail and the median is a raw wall; a burst's total
        # time stretches by the stolen share, so q/s is steal-free. The
        # tail itself is recorded, not gated (README.md)
        pooled = sorted(x for b in bursts for x in b)
        self.e2e["query_p50_ms"] = 1000 * percentile(pooled, 0.50)
        self.e2e["query_qps"] = len(pooled) / sum(burst_s)
        self.single_ms = {
            "n": len(pooled),
            **{f"p{q}": 1000 * percentile(pooled, q / 100) for q in (50, 90, 99)},
        }

        p0 = time.perf_counter()
        self.check_queries(big_runs, small_runs, answered, searcher)
        self.phase_s["checks_queries"] = time.perf_counter() - p0

        counters = {c: getattr(searcher.reader, c) - counters0[c] for c in READER_COUNTERS}
        for c in READER_COUNTERS:
            self.layer[f"query.reader.{c}"] = counters[c] / len(answered)
        if counters["payload_blocks_loaded"]:
            self.layer["query.reader.rows_per_block"] = (
                counters["payload_rows_scanned"] / counters["payload_blocks_loaded"]
            )
        if self.tracer:
            self.layer["trace.overhead_query_ms"] = 1000 * (
                statistics.mean(x for b in traced_bursts for x in b)
                - statistics.mean(pooled)
            )
            self.single_layers(sum(len(b) for b in traced_bursts))
            self.batch_layers(big_runs)

    def check_queries(self, big_runs, small_runs, answered, searcher) -> None:
        """All outside the timed calls: repeated batches answer alike; every
        single query equals the batch answer of its own index. Traced runs
        also compare the oracle sample with the layout's executor (and, in
        ``union``, with the single-query ``Searcher``) and, in ``sharded``,
        every query with the union index."""
        from checks import by_query, mismatched, same_hits

        ex = self.executor
        qids = [q["query_id"] for q in self.big]
        ref_rows = next((r for r in big_runs if r is not None), [])
        ref = by_query(ref_rows)
        for i, rows in enumerate(big_runs):
            if rows is not None:
                bad = mismatched(ref, by_query(rows), qids)
                cls = f"{ex}_first" if i == 0 else ex
                self.ops.check(cls, not bad, f"repeat differs on {bad[:5]}")
        if self.oracle:
            qs = [q for q, _ in self.oracle]
            want = {q["query_id"]: hits for q, hits in self.oracle}
            bad = mismatched(want, by_query(self.batch(self.spark, qs)), list(want))
            self.ops.check(ex, not bad, f"differs from the bm25 oracle on {[qs[i] for i in bad]}")
            if not self.sharded:
                for q in qs:
                    hits = searcher.search(q["query_text"], k=q["k"], mode=q["mode"])
                    ok = same_hits(want[q["query_id"]], [(h.rank, h.doc_id, h.score) for h in hits])
                    self.ops.check("single", ok, f"differs from the bm25 oracle on {q}")
        if small_runs:
            small_ref = by_query(small_runs[0])
            small_ids = [q["query_id"] for q in self.small]
            for rows in small_runs[1:]:
                bad = mismatched(small_ref, by_query(rows), small_ids)
                self.ops.check(f"{ex}_small", not bad, f"repeat differs on {bad[:5]}")
        if self.sharded and self.args.trace:
            union = by_query(self.batch(self.spark, self.big, [self.union_dir]))
            bad = mismatched(union, ref, qids)
            self.ops.check(f"{ex}_first", not bad, f"sharded differs from union on {bad[:5]}")

        keys = sorted({(q["query_text"], q["mode"], q["k"]) for q, _ in answered})
        qs = [dict(query_id=i, query_text=t, mode=m, k=k) for i, (t, m, k) in enumerate(keys)]
        want = by_query(self.batch(self.spark, qs, [self.local_dir]))
        ids = {key: i for i, key in enumerate(keys)}
        for q, hits in answered:
            ok = same_hits(want.get(ids[(q["query_text"], q["mode"], q["k"])], []), hits)
            self.ops.check("single", ok, f"single query differs from its batch answer: {q}")

    def operators(self) -> None:
        from checks import canon_hash
        from tesserae_ng_spark.operators import load_all

        registry = load_all()
        for key in OPERATORS:
            fn = registry[key][0]
            with self.span(f"operators.{key}"):
                df, dt = self.ops.run(key, lambda: fn(self.spark, SF_DIR).toPandas())
            if df is not None:
                self.layer[f"operators.{key}_s"] = dt
                self.op_hashes[key] = canon_hash(df)

    def check_operators(self) -> None:
        from checks import PINNED, duckdb_oracle
        from tesserae_ng_spark.operators import load_all

        registry = load_all() if self.op_hashes else {}
        for key, got in self.op_hashes.items():
            sql = registry[key][1]
            want = duckdb_oracle(sql, SF_DIR) if sql else PINNED[key]
            self.ops.check(key, got == want, f"got {got}, want {want}")

    # -- per-layer assembly (traced run) ------------------------------------

    def single_layers(self, n_traced: int) -> None:
        tot = self.tracer.totals_for(lambda req: req is not None and req.startswith("q"))
        for span, metric in SINGLE_SPANS:
            self.layer[f"{metric}_ms"] = 1000 * tot.get(span, {"self_s": 0.0})["self_s"] / n_traced
        for s in SCORERS:
            self.layer[f"query.wand.{s}_calls"] = tot.get(f"query.wand.{s}", {"calls": 0})["calls"] / n_traced
        self.layer["query.reader.fetch_calls"] = tot.get("query.reader.fetch", {"calls": 0})["calls"] / n_traced

    def batch_layers(self, big_runs) -> None:
        ex = self.executor
        obs = [v for name, parent, v in self.tracer.observed
               if name == "query.search.affinity_slices" and parent == ex]
        if obs:
            self.layer["query.search.slices"] = statistics.median(n for n, _ in obs)
            self.layer["query.search.slice_queries_max"] = statistics.median(m for _, m in obs)
        durs = self.tracer.durations("query.search.affinity_slices", parent=ex)
        if durs:
            self.layer["query.search.affinity_slices_s"] = statistics.median(durs)
        # phase 1 is memoized per shard set, so only the first batch pays it
        first = self.tracer.durations("query.sharded.global_shard_stats", parent=f"{ex}_first")
        if first:
            self.layer["query.sharded.global_shard_stats_s"] = statistics.median(first)
        warm = [r for r in big_runs[1:] if r is not None]
        if warm:
            self.layer[f"{ex}.hits"] = statistics.median(len(r) for r in warm)

    def spark_layers(self) -> None:
        from spans import spark_call_counts

        calls = spark_call_counts(
            os.path.join(self.work, "events"), self.ops.windows, self.nproc
        )

        def med(name, key):
            return statistics.median(c[key] for c in calls[name])

        def overhead(name):
            return statistics.median(c["wall_s"] - c["task_max_s"] for c in calls[name])

        for c in SPARK_CALLS:
            if c in calls:
                for k in SPARK_UNITS:
                    self.layer[f"{c}.spark.{k}"] = med(c, k)
                self.layer[f"{c}.overhead_s"] = overhead(c)
        for c in (f"{self.executor}_first", f"{self.executor}_small"):
            if c in calls:
                self.layer[f"{c}.overhead_s"] = overhead(c)
                self.layer[f"{c}.spark.tasks"] = med(c, "tasks")
        for k in OPERATORS:
            if k in calls:
                for s in OPERATOR_SPARK_KEYS:
                    self.layer[f"operators.{k}.spark.{s}"] = med(k, s)


if __name__ == "__main__":
    sys.exit(main())
