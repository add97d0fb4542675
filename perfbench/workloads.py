"""The benchmark's workloads: input generation and oracles (run before the
engine starts), warm-up, and the timed operation loop.

Each workload drives the engine only through its public entry points:
``registry.QUERIES[name](spark, sf_dir)``, ``sources.ingest.ingest`` and
``operators.wordcount``.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import random
import shutil
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from datagen import write_corpus, write_tables
from measure import Op, diff, normalize
from tests.oracle import TABLE_NAMES, duckdb_conn

# Tables each query scans: the denominator of input_mb_per_s and
# sources.scan_ratio.
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "q6_forecast_revenue": ["lineitem"],
    "q12_priority_by_flag": ["lineitem", "orders"],
    "q13_customer_order_histogram": ["customer", "orders"],
    "stream_tumbling_hourly": ["events"],
    "wordcount_top20": ["documents"],
    "text_stats": ["documents"],
    "dedup_exact": ["documents"],
    "sim_topk_lsh": ["embeddings"],
    "events_top_users": ["events"],
    "asof_purchase_click": ["events"],
    "window_running_sum": ["orders"],
}


def first_line(e: BaseException) -> str:
    text = str(e).strip().splitlines()
    return f"{type(e).__name__}: {text[0] if text else ''}"[:300]


class Ctx:
    """Child-side state of one run."""

    def __init__(self, spark, tracer, data_dir: str, run_dir: str, seed: int, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.trace = trace
        with open(os.path.join(data_dir, "oracle.pkl"), "rb") as f:
            self.oracle = pickle.load(f)
        self.check_s = 0.0
        self.warmup_errors: list[str] = []
        self._lock = threading.Lock()

    def job_group(self, group: str, desc: str = "") -> None:
        """Tag the calling thread's Spark jobs (traced runs only)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, desc)

    def add_check_time(self, seconds: float) -> None:
        with self._lock:
            self.check_s += seconds


class Workload:
    name = ""

    def generate(self, data_dir: str, seed: int) -> dict:
        """Write inputs and ``oracle.pkl`` into ``data_dir``; return input
        sizes for the report."""
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def run(self, ctx: Ctx, seconds: float) -> tuple[list[Op], float]:
        """Timed run of a fixed number of operations, sized to take about
        ``seconds`` on 4 cores: the sample size, and so the reported tail
        percentile, never depends on how fast the engine is.  Returns the
        operations and the seconds of timed run that ``ops_per_s`` divides
        by."""
        raise NotImplementedError


class QueryWorkload(Workload):
    """Registered queries over generated star-schema tables, run by one
    closed-loop client.  Every operation builds the query, collects its rows
    and checks them against the query's DuckDB oracle; a wrong result is a
    failed operation.

    One client, not one per core: with two or more, whether a short query
    queues behind another client's 32-task streaming stage (FIFO
    scheduling) decides its latency, and the median of a run flips between
    the two cases from run to run."""

    def __init__(self, name: str, sf: float, queries: list[str], deck_s: float):
        self.name, self.sf, self.queries = name, sf, queries
        # One pass over the mix per ``deck_s`` seconds of ``--seconds``.
        self.deck_s = deck_s

    def generate(self, data_dir: str, seed: int) -> dict:
        from distributed_mapreduce_in_docker_rpyc_spark import registry

        t0 = time.time()
        rows = write_tables(data_dir, self.sf, seed)
        gen_s = time.time() - t0
        registry.load_all()
        t0 = time.time()
        con = duckdb_conn(data_dir)
        oracle = {}
        for q in self.queries:
            cur = con.execute(registry.ORACLES[q])
            oracle[q] = normalize(cur.fetchall(), [d[0] for d in cur.description])
        con.close()
        sizes = {t: os.path.getsize(f"{data_dir}/{t}.parquet") for t in TABLE_NAMES}
        with open(os.path.join(data_dir, "oracle.pkl"), "wb") as f:
            pickle.dump({"results": oracle, "table_bytes": sizes}, f)
        return {
            "sf": self.sf,
            "rows": rows,
            "data_mb": round(sum(sizes.values()) / 1e6, 3),
            "gen_s": gen_s,
            "oracle_s": time.time() - t0,
        }

    def _input_bytes(self, ctx: Ctx, name: str) -> int:
        return sum(ctx.oracle["table_bytes"][t] for t in QUERY_TABLES[name])

    def _check(self, ctx: Ctx, name: str, rows, columns) -> str | None:
        t0 = time.time()
        try:
            bad = diff(normalize(rows, columns), ctx.oracle["results"][name])
        finally:
            ctx.add_check_time(time.time() - t0)
        return f"wrong result: {bad}" if bad else None

    def _warm_one(self, ctx: Ctx, name: str) -> None:
        from distributed_mapreduce_in_docker_rpyc_spark import registry

        ctx.job_group("pb:warmup", name)
        try:
            with ctx.tracer.span("warmup.query", f"warmup:{name}"):
                df = registry.QUERIES[name](ctx.spark, ctx.data_dir)
                rows = df.collect()
            err = self._check(ctx, name, rows, df.columns)
        except Exception as e:  # a failing query is reported, never fatal
            err = first_line(e)
        if err:
            ctx.warmup_errors.append(f"warm-up {name}: {err}")

    def warmup(self, ctx: Ctx) -> None:
        with ctx.tracer.span("warmup"):
            # Warm up on every core: the first call of a query is mostly
            # single-threaded compilation, which overlaps well.  The queries
            # are submitted in mix order, slowest first.
            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                for fut in [pool.submit(self._warm_one, ctx, q) for q in self.queries]:
                    fut.result()

    def _op(self, ctx: Ctx, op_id: str, name: str) -> Op:
        from distributed_mapreduce_in_docker_rpyc_spark import registry

        tr = ctx.tracer
        ctx.job_group(f"pb:{op_id}", name)
        op = Op(op_id, name, time.time(), input_bytes=self._input_bytes(ctx, name))
        rows = None
        try:
            with tr.span("op", op_id):
                with tr.span("operators.build", op_id):
                    df = registry.QUERIES[name](ctx.spark, ctx.data_dir)
                with tr.span("spark.exec", op_id):
                    rows = df.collect()
        except Exception as e:  # recorded as a failed operation
            op.error = first_line(e)
        op.end = time.time()
        if rows is not None:
            op.error = self._check(ctx, name, rows, df.columns)
        return op

    def run(self, ctx: Ctx, seconds: float) -> tuple[list[Op], float]:
        # Whole passes over the mix, each in a seeded order: every run runs
        # each query equally often.
        rng = random.Random(ctx.seed)
        passes = max(1, round(seconds / self.deck_s))
        order = [q for _ in range(passes) for q in rng.sample(self.queries, len(self.queries))]
        start = time.time()
        ops = [self._op(ctx, f"op{i}", name) for i, name in enumerate(order)]
        return ops, time.time() - start


class WordCountZip(Workload):
    """The reference's job: ZIP → lossy UTF-8 → word count → Top-20 →
    per-partition JSON, one full pipeline per operation."""

    name = "wordcount_zip"

    def __init__(self, text_mb: float, op_s: float):
        self.text_mb = text_mb
        # One operation per ``op_s`` seconds of ``--seconds``.
        self.op_s = op_s

    def generate(self, data_dir: str, seed: int) -> dict:
        t0 = time.time()
        corpus = write_corpus(data_dir, self.text_mb, seed)
        gen_s = time.time() - t0
        with open(os.path.join(data_dir, "oracle.pkl"), "wb") as f:
            pickle.dump({
                "zip": corpus.zip_path,
                "text_bytes": corpus.text_bytes,
                "top20": corpus.top(20),
                "total": corpus.total_tokens,
                "distinct": len(corpus.counts),
            }, f)
        return {
            "archives": 1,
            "text_mb": round(corpus.text_bytes / 1e6, 3),
            "zip_mb": round(corpus.zip_bytes / 1e6, 3),
            "tokens": corpus.total_tokens,
            "distinct_words": len(corpus.counts),
            "invalid_bytes": corpus.invalid_bytes,
            "gen_s": gen_s,
            "oracle_s": 0.0,
        }

    def _op(self, ctx: Ctx, op_id: str) -> Op:
        from distributed_mapreduce_in_docker_rpyc_spark.operators import wordcount as wc
        from distributed_mapreduce_in_docker_rpyc_spark.sources import ingest

        tr, spark, want = ctx.tracer, ctx.spark, ctx.oracle
        staging = tempfile.mkdtemp(prefix="staging-", dir=ctx.run_dir)
        sink = os.path.join(tempfile.mkdtemp(prefix="sink-", dir=ctx.run_dir), "out")
        ctx.job_group(f"pb:{op_id}", self.name)
        op = Op(op_id, self.name, time.time(), input_bytes=want["text_bytes"])
        try:
            with tr.span("op", op_id):
                with tr.span("sources.ingest", op_id):
                    lines = ingest.ingest(spark, "file://" + want["zip"], staging)
                with tr.span("wordcount.top_k_df", op_id):
                    top_df = [(r["word"], r["cnt"]) for r in wc.top_k_words(lines, 20, "value").collect()]
                with tr.span("core.mapreduce", op_id):
                    top_rdd = [tuple(kv) for kv in wc.top_k_words_rdd(lines, 20, "value")]
                with tr.span("wordcount.json_sink", op_id):
                    wc.write_json_sink(wc.word_counts(lines, "value"), sink)
        except Exception as e:  # recorded as a failed operation
            op.error = first_line(e)
        op.end = time.time()
        if op.error is None:
            op.error = self._check(ctx, top_df, top_rdd, sink)
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sink), ignore_errors=True)
        return op

    def _check(self, ctx: Ctx, top_df, top_rdd, sink: str) -> str | None:
        t0 = time.time()
        want = ctx.oracle
        try:
            if top_df != want["top20"]:
                return f"wrong result: DataFrame Top-20 {top_df[:3]}... != oracle {want['top20'][:3]}..."
            if top_rdd != top_df:
                return f"wrong result: RDD Top-20 {top_rdd[:3]}... != DataFrame {top_df[:3]}..."
            # The sink's JSON-lines part files, read back without Spark.
            total = distinct = 0
            for part in glob.glob(os.path.join(sink, "part-*.json")):
                with open(part) as f:
                    for line in f:
                        total += json.loads(line)["cnt"]
                        distinct += 1
            if (total, distinct) != (want["total"], want["distinct"]):
                return (f"wrong result: JSON sink holds {total} tokens / {distinct} words, "
                        f"oracle {want['total']} / {want['distinct']}")
            return None
        finally:
            ctx.add_check_time(time.time() - t0)

    def warmup(self, ctx: Ctx) -> None:
        with ctx.tracer.span("warmup"):
            op = self._op(ctx, "warmup")
        if op.error:
            ctx.warmup_errors.append(f"warm-up {self.name}: {op.error}")

    def run(self, ctx: Ctx, seconds: float) -> tuple[list[Op], float]:
        ops = [self._op(ctx, f"op{i}") for i in range(max(1, round(seconds / self.op_s)))]
        # Job time: the output checks between jobs are not part of it.
        return ops, sum(op.latency for op in ops)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # At --seconds 20: 4 operations, about 16 s on 4 cores.
        WordCountZip(text_mb=8.0, op_s=5.0),
        QueryWorkload(
            "interactive_mix",
            sf=0.01,
            # At --seconds 20: 2 passes, 26 operations, about 22 s on 4 cores.
            # An odd number of queries puts the median on one query's
            # samples, not on the gap between two queries' latencies.
            # Slowest first (warm-up order).
            queries=["stream_tumbling_hourly", "sim_topk_lsh", "q3_shipping_priority",
                     "q13_customer_order_histogram", "q12_priority_by_flag", "window_running_sum",
                     "q1_pricing_summary", "asof_purchase_click", "wordcount_top20", "text_stats",
                     "dedup_exact", "events_top_users", "q6_forecast_revenue"],
            deck_s=10.0,
        ),
    )
}
