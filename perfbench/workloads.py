"""The four workloads: setup, the timed closed loop, and output checks.

One client sends one request at a time (closed loop). A *pass* is every
request type of the workload once, in an order drawn from the seed; the
timed stream is whole passes until ``--seconds`` have gone by (always at
least one pass, and three in a traced run). ``store_ingest_serve`` instead
runs a fixed number of write/serve cycles.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import tracing

#: input sizes: the largest that leave a round of runs a margin in its
#: time budget on a slow host (README.md, "Inputs", has the measurements)
SIZES = {"star_scale": 0.03, "event_scale": 0.02, "n_docs": 1000, "n_vecs": 1000}

STAR = [
    "immigration_etl_fact", "immigration_etl_city_demographics", "top_nations_by_orders",
    "fact_denormalize", "pricing_summary", "tpch_q2_min_cost_supplier",
    "tpch_q5_local_supplier_volume", "tpch_q7_nation_trade_volume",
    "tpch_q9_profit_by_nation_year", "tpch_q18_large_volume_customers",
    "tpch_q21_waiting_suppliers",
]
CORPUS = [
    "dedup_minhash_lsh", "dedup_winnowing_overlap", "semantic_dedup_representatives",
    "knn_ivfpq", "bpe_encode_corpus", "doc_lm_likelihood", "retrieval_hybrid_rrf",
    "corpus_pipeline_served",
]
STREAMS = [
    "events_stream_hourly", "events_stream_sliding", "events_stream_sessions",
    "events_stream_dedup", "events_stream_stateful_totals", "documents_stream_dedup_status",
]
#: what rides along in ``event_streams``: an append, a serve and a
#: compaction of the IVF-flat store, and an exact kNN whose operator
#: collects its query side in eager jobs before the plan exists
VECTOR_CYCLE = ["append_vectors", "serve_knn", "compact_vectors", "knn_brute_force_arrow"]
#: store_ingest_serve: one cycle = these operations in this order
CYCLE = ["append_vectors", "append_docs", "serve_knn", "serve_dedup"]
SERVES = {"serve_knn": "knn_ivf_served", "serve_dedup": "dedup_incremental_status_served"}
#: operations that write a store instead of running a query
STORE_OPS = {"append_vectors", "append_docs", "compact_vectors", "maintenance"}
#: cycles per run; the dedup store's fold policy is due after 4 pending
#: batches, so every run folds at least once
STORE_CYCLES = 6
#: at most this many timed passes (it bounds the pre-generated batches)
MAX_PASSES = 16
#: rows per appended batch, and the first id an appended row gets
BATCH_ROWS = 100
FIRST_APPENDED_ID = 10_000_000
#: workload -> (vector batches, document batches) made before the run;
#: ``event_streams`` appends batch 0 while warming up, then one a pass
BATCHES = {"event_streams": (MAX_PASSES + 1, 0), "store_ingest_serve": (STORE_CYCLES, STORE_CYCLES)}

WORKLOADS = {
    "star_analytics": STAR,
    "corpus_curation": CORPUS,
    "event_streams": STREAMS + VECTOR_CYCLE,
    "store_ingest_serve": CYCLE,
}

#: concurrent request types in the warm pass
WARM_THREADS = 4
#: request types that read a store built in setup (default: all of them)
STORE_READERS = {"star_analytics": set(),
                 "event_streams": {"documents_stream_dedup_status", "knn_ivf_served"}}

#: a request slower than this counts as failed (timed out)
REQUEST_TIMEOUT_S = 60.0


def queries_of(workload: str) -> list[str]:
    """The registered queries a workload runs (store operations are not
    queries; a serve names the query it runs)."""
    return [SERVES.get(n, n) for n in WORKLOADS[workload] if n not in STORE_OPS]


def pass_order(workload: str, seed: int, pass_idx: int) -> list[str]:
    """The request order of one pass: a seeded permutation of the
    workload's request types (store cycles keep their fixed order)."""
    types = WORKLOADS[workload]
    if workload == "store_ingest_serve":
        return list(types)
    perm = np.random.default_rng([seed, pass_idx]).permutation(len(types))
    return [types[i] for i in perm]


def _check_rows(spark_cols, spark_rows, con, oracle_sql: str, to_multiset) -> str | None:
    """None when Spark's rows equal the DuckDB oracle's as multisets,
    else a one-line reason."""
    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(spark_cols) != sorted(ocols):
        return f"columns spark={sorted(spark_cols)} duckdb={sorted(ocols)}"
    if len(spark_rows) != len(orows):
        return f"rowcount spark={len(spark_rows)} duckdb={len(orows)}"
    if to_multiset(spark_cols, spark_rows) != to_multiset(ocols, orows):
        return "values differ"
    return None


def load_oracle_tools():
    """``rows_to_multiset`` from the repo's oracle checker, imported."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("check_oracle", "tools/check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rows_to_multiset


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    return con


class Runner:
    """One workload in one process: owns the session, the inputs and
    every measurement."""

    def __init__(self, spark, workload: str, seed: int, seconds: float, data_dir: str,
                 work: str, tracer=None, listener=None):
        from udacity_dend_capstone_immigration_spark.workload import ORACLES, QUERIES

        self.spark, self.workload, self.seed = spark, workload, seed
        self.seconds, self.data_dir, self.work = seconds, data_dir, work
        self.queries, self.oracles = QUERIES, ORACLES
        self.tracer, self.listener = tracer, listener
        self.timings: dict[str, float] = {}
        self.latencies: list[tuple[str, float]] = []
        self.pass_walls: list[tuple[bool, float]] = []
        #: (traced, bytes of new or rewritten store files) per pass
        self.pass_bytes: list[tuple[bool, int]] = []
        #: batches not yet folded or compacted, at each store serve
        self.pending_at_serve: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.warm_rows: dict[str, tuple] = {}
        self.vectors: VectorStore | None = None
        self.store: StoreState | None = None
        self.rid = 0
        self.rss_after_first_pass = (float("nan"), float("nan"))

    # --- one request ----------------------------------------------------
    def _request(self, name: str, traced: bool, op=None) -> float:
        """Run a query (build its plan, execute it to a noop sink) or,
        with ``op``, a store operation. Returns the latency; raises what
        the engine raises."""
        fn = self.queries[SERVES.get(name, name)] if op is None else None
        t = self.tracer if traced else None
        self.rid += 1
        if t is not None:
            t.rid = f"{self.rid}:{name}"
        t0 = time.perf_counter()
        if t is None:
            if op is not None:
                op()
            else:
                fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
        elif op is not None:
            with t.span(name, "store_op"):
                prev = t.set_group("store")
                try:
                    op()
                finally:
                    t.restore_group(prev)
                    t.rid = None
        else:
            with t.span(name, "request"):
                prev = t.set_group("build")
                try:
                    with t.span("workload.build", "workload"):
                        df = fn(self.spark, self.data_dir)
                    t.set_group("exec")
                    with t.span("exec.run", "exec"):
                        df.write.format("noop").mode("overwrite").save()
                finally:
                    t.restore_group(prev)
                    t.rid = None
        return time.perf_counter() - t0

    def _timed(self, name: str, traced: bool, op=None) -> float | None:
        """Run one timed operation; returns its latency, or None if it
        raised."""
        self.attempted += 1
        try:
            dt = self._request(name, traced, op)
        except Exception as e:  # a failed request is counted, not fatal
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            return None
        if dt > REQUEST_TIMEOUT_S:
            self.failed += 1
            self.failures.append(f"{name}: timed out ({dt:.1f}s)")
        elif self.store is not None and self.store.op_failed(name):
            self.failed += 1
            self.failures.append(f"{name}: counted failed, an earlier fold broke the dedup store")
        self.latencies.append((name, dt))
        return dt

    # --- setup --------------------------------------------------------------
    def setup(self) -> None:
        """Build the workload's stores and run two warm passes. The first
        keeps its outputs for the correctness check.

        Request types warm up side by side, because a first execution is
        mostly single-threaded driver work (analysis, codegen, class
        loading). A request that reads a store waits for the store build,
        which runs beside the other warm requests."""
        t0 = time.perf_counter()
        if "append_vectors" in WORKLOADS[self.workload]:
            self.vectors = VectorStore(self)
        if self.workload == "store_ingest_serve":
            self.store = StoreState(self)
        names = queries_of(self.workload)
        readers = STORE_READERS.get(self.workload, set(names))
        # store readers go last, so that waiting ones hold no thread
        # that a request without a store could use
        order = sorted(names, key=lambda n: n in readers)
        with ThreadPoolExecutor(max_workers=WARM_THREADS + 1) as pool:
            stores = pool.submit(self._build_stores)
            futures = {name: pool.submit(self._warm_one, name, stores if name in readers else None)
                       for name in order}
        stores.result()
        for name, fut in futures.items():
            try:
                self.warm_rows[name] = fut.result()
            except Exception as e:  # checked (and counted) by check()
                self.warm_rows[name] = e
        # a second warm pass: the JIT is still compiling after the first
        # executions, and timed passes would otherwise speed up one by one
        ok = [n for n in names if not isinstance(self.warm_rows[n], Exception)]
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            for fut in [pool.submit(self._noop_one, n) for n in ok]:
                fut.result()
        if self.workload == "event_streams":
            # the write path warms up too; its batch stays in the store
            # and in the rebuild check
            self.vectors.append(0)
            self.vectors.compact()
        self.timings["session.warm_s"] = time.perf_counter() - t0

    def _noop_one(self, name: str) -> None:
        self.queries[name](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()

    def _warm_one(self, name: str, wait_for=None) -> tuple:
        if wait_for is not None:
            wait_for.result()
        df = self.queries[name](self.spark, self.data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def _build_stores(self) -> None:
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import served_dedup_index_dir
        from udacity_dend_capstone_immigration_spark.workload.pretrain import served_bpe_dir
        from udacity_dend_capstone_immigration_spark.workload.textops import served_dsir_dir

        t0 = time.perf_counter()
        if self.vectors is not None:
            self.vectors.build()
        if self.workload == "corpus_curation":
            for build in (served_dedup_index_dir, served_bpe_dir, served_dsir_dir):
                build(self.spark, self.data_dir)
        elif self.workload == "event_streams":
            served_dedup_index_dir(self.spark, self.data_dir)
        if self.store is not None:
            self.store.build()
        self.timings["store.build_s"] = time.perf_counter() - t0

    def store_dirs(self) -> list[str]:
        """The directories of the stores the timed stream writes."""
        out = [self.vectors.dir] if self.vectors is not None else []
        return out + ([self.store.dedup_dir] if self.store is not None else [])

    def _store_usage(self) -> dict:
        out = {}
        for d in self.store_dirs():
            out.update(tracing.dir_usage(d))
        return out

    # --- the timed stream -------------------------------------------------
    def run(self, trace: bool) -> None:
        deadline = time.perf_counter() + self.seconds
        p = 0
        while self._more(p, deadline, trace):
            traced = trace and p % 2 == 1
            if self.tracer is not None:
                (self.tracer.install if traced else self.tracer.uninstall)()
            if self.listener is not None:
                self.listener.tag = p if traced else None
            before = self._store_usage()
            t0 = time.perf_counter()
            if self.store is not None:
                paused = self.store.cycle(p, traced)
            else:
                paused = 0.0
                for name in pass_order(self.workload, self.seed, p):
                    self._timed(name, traced, self._vector_op(name, p))
            self.pass_walls.append((traced, time.perf_counter() - t0 - paused))
            after = self._store_usage()
            self.pass_bytes.append((traced, sum(v[0] for f, v in after.items()
                                                if before.get(f) != v)))
            if p == 0:
                # the same work in every run: setup plus one pass
                self.rss_after_first_pass = peak_rss_mb(self.spark)
            p += 1
        if self.tracer is not None:
            self.tracer.uninstall()

    def _vector_op(self, name: str, p: int):
        """The store operation a request name stands for in a pass of
        ``event_streams`` (None for a query)."""
        v = self.vectors
        if name == "append_vectors":
            return lambda: v.append(p + 1)
        if name == "compact_vectors":
            return v.compact
        if name == "serve_knn":
            self.pending_at_serve.append(v.since_compaction)
        return None

    def _more(self, p: int, deadline: float, trace: bool) -> bool:
        if self.store is not None:
            # a fixed cycle count, so the number of operations (and of
            # failures) never depends on how fast the box is
            return p < STORE_CYCLES
        if p >= MAX_PASSES:
            return False
        # a traced run needs untraced passes on both sides of a traced one,
        # so that the speed-up from pass to pass cancels in the overhead
        return p == 0 or time.perf_counter() < deadline or (trace and p < 3)

    # --- correctness (outside the timed region) ----------------------------
    def check(self) -> list[str]:
        """Compare every warm-pass output with its DuckDB oracle, and each
        written store with a rebuild; returns the names that failed."""
        to_multiset = load_oracle_tools()
        con = duckdb_views(self.data_dir)
        bad = []
        try:
            for name, warm in self.warm_rows.items():
                try:
                    if isinstance(warm, Exception):
                        raise warm
                    why = _check_rows(*warm, con, self.oracles[name], to_multiset)
                except Exception as e:
                    why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                if why is not None:
                    bad.append(name)
                    self.failures.append(f"{name}: oracle mismatch: {why}")
        finally:
            con.close()
        if bad and self.store is None:
            # every timed execution of a request type whose output is
            # wrong counts as failed
            self.failed += sum(1 for n, _ in self.latencies if SERVES.get(n, n) in bad)
        elif bad:
            self.failed += len(bad)
            self.attempted += len(bad)
        checks = []
        if self.vectors is not None:
            checks.append(("vector store", self.vectors.mismatch))
        if self.store is not None:
            checks.append(("dedup store", self.store.dedup_mismatch))
        for what, differs in checks:
            # end of run: each store must equal a rebuild from the base
            # inputs plus every appended batch
            self.attempted += 1
            try:
                diff = differs()
            except Exception as e:
                diff = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            if diff:
                self.failed += 1
                self.failures.append(f"final check: {what} differs from a rebuild: {diff}")
                bad.append(what)
        return bad


class VectorStore:
    """The IVF-flat store ``knn_ivf_served`` reads, and the batches
    appended to it."""

    def __init__(self, runner: Runner):
        self.r = runner
        self.dir = None
        self.batches: list[str] = []
        self.since_compaction = 0

    def build(self) -> None:
        from udacity_dend_capstone_immigration_spark.workload.vectors import served_index_dir

        self.dir = served_index_dir(self.r.spark, self.r.data_dir, kind="flat")

    def append(self, k: int) -> None:
        """Append pre-generated batch ``k``."""
        from udacity_dend_capstone_immigration_spark.workload.vectors import append_to_ivf_flat_index

        path = os.path.join(self.r.work, "batches", f"vec-{k:04d}.parquet")
        self.batches.append(path)
        append_to_ivf_flat_index(self.r.spark, self.r.spark.read.parquet(path), self.dir)
        self.since_compaction += 1

    def compact(self) -> None:
        from udacity_dend_capstone_immigration_spark.workload.vectors import compact_index_cells

        compact_index_cells(self.r.spark, self.dir)
        self.since_compaction = 0

    def mismatch(self) -> bool:
        """Whether the store's ``(vec_id, cell)`` rows differ from the
        frozen codebook's assignment of base plus appended vectors."""
        from udacity_dend_capstone_immigration_spark.operators.similarity import (
            Codebook,
            assign_nearest_arrow,
        )
        from udacity_dend_capstone_immigration_spark.workload.base import table
        from udacity_dend_capstone_immigration_spark.workload.vectors import _read_bounded_artifact

        spark = self.r.spark
        cb = Codebook([(c["cent_id"], c["cent_emb"])
                       for c in _read_bounded_artifact(f"{self.dir}/ivf_centroids")])
        emb = table(spark, self.r.data_dir, "embeddings").select("vec_id", "embedding")
        if self.batches:
            emb = emb.unionByName(spark.read.parquet(*self.batches).select("vec_id", "embedding"))
        want = sorted(map(tuple, assign_nearest_arrow(emb, cb, "vec_id")
                          .select("vec_id", "cell").collect()))
        got = sorted(map(tuple, spark.read.parquet(f"{self.dir}/ivf_vectors")
                         .select("vec_id", "cell").collect()))
        return got != want


class StoreState:
    """The ``store_ingest_serve`` dedup store and its append log.

    The dedup store is the text-dedup index ``dedup_incremental_status_served``
    reads; the vector store is the runner's :class:`VectorStore`. Appends
    go into those same stores."""

    def __init__(self, runner: Runner):
        self.r = runner
        self.dedup_dir = None
        self.doc_schema = None
        self.doc_batches: list[str] = []
        self.base_bytes = 0
        self.dedup_broken = False
        self.serve_latency: list[float] = []
        self.append_lat: dict[str, list[float]] = {"append_vectors": [], "append_docs": []}
        self.maint_lat: list[float] = []

    def build(self) -> None:
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import served_dedup_index_dir

        self.dedup_dir = served_dedup_index_dir(self.r.spark, self.r.data_dir)
        for f in ("embeddings.parquet", "documents.parquet"):
            self.base_bytes += os.path.getsize(os.path.join(self.r.data_dir, f))
        first = os.path.join(self.r.work, "batches", "docs-0000")
        self.doc_schema = self.r.spark.read.parquet(first).schema

    def _input_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.r.vectors.batches + self.doc_batches)

    def op_failed(self, name: str) -> bool:
        return self.dedup_broken and name in ("append_docs", "serve_dedup", "maintenance")

    # --- operations -------------------------------------------------------
    def _append_docs(self, cycle: int) -> None:
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
            stream_append_to_dedup_index,
        )

        src = os.path.join(self.r.work, "batches", f"docs-{cycle:04d}")
        self.doc_batches.append(os.path.join(src, "part-0.parquet"))
        ck = os.path.join(self.r.work, "checkpoints", f"docs-{cycle:04d}")
        spark = self.r.spark
        stream = spark.readStream.schema(self.doc_schema).parquet(src)
        stream_append_to_dedup_index(spark, stream, self.dedup_dir, ck)

    def _maintain(self) -> None:
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import run_dedup_maintenance

        try:
            run_dedup_maintenance(self.r.spark, self.dedup_dir)
        except Exception:
            self.dedup_broken = True
            raise
        finally:
            self.r.vectors.compact()

    def cycle(self, cycle: int, traced: bool) -> float:
        """Run one cycle; returns the seconds spent in store checks, which
        are excluded from the pass wall time."""
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import dedup_maintenance_due
        from udacity_dend_capstone_immigration_spark.workload.vectors import _pending_batches

        r = self.r
        ops = {"append_vectors": lambda: r.vectors.append(cycle),
               "append_docs": lambda: self._append_docs(cycle)}
        for name in CYCLE:
            if name == "serve_dedup":
                r.pending_at_serve.append(_pending_batches(f"{self.dedup_dir}/shingle_index_delta"))
            elif name == "serve_knn":
                r.pending_at_serve.append(r.vectors.since_compaction)
            dt = r._timed(name, traced, ops.get(name))
            if dt is not None:
                (self.append_lat[name] if name in ops else self.serve_latency).append(dt)
        paused = 0.0
        if dedup_maintenance_due(self.dedup_dir)["due"]:
            dt = r._timed("maintenance", traced, self._maintain)
            if dt is not None:
                self.maint_lat.append(dt)
            t0 = time.perf_counter()
            if not self.dedup_broken and self.dedup_mismatch():
                # a fold whose store differs from a rebuild has failed
                self.dedup_broken = True
                r.failed += 1
                r.failures.append("maintenance: dedup store differs from a rebuild after fold")
            paused = time.perf_counter() - t0
        return paused

    # --- append == rebuild ------------------------------------------------
    def _dedup_relations(self, index_dir: str) -> dict[str, list]:
        from pyspark.sql import functions as F

        from udacity_dend_capstone_immigration_spark.workload.dedupstore import (
            read_dedup_doc_sizes,
            read_dedup_shingle_index,
        )

        spark = self.r.spark
        fps = spark.read.option("mergeSchema", "true").parquet(f"{index_dir}/fingerprints")
        if os.path.isdir(f"{index_dir}/fingerprints_delta"):
            fps = fps.select("fp", "cid").unionByName(
                spark.read.option("mergeSchema", "true")
                .parquet(f"{index_dir}/fingerprints_delta").select("fp", "cid"))
        stats = spark.read.parquet(f"{index_dir}/shingle_df").select("g", "df")
        if os.path.isdir(f"{index_dir}/shingle_df_delta"):
            stats = stats.unionByName(
                spark.read.parquet(f"{index_dir}/shingle_df_delta").select("g", "df"))
        return {
            "shingle_index": sorted(map(tuple, read_dedup_shingle_index(spark, index_dir)
                                        .select("g", "cid").collect())),
            "shingle_df": sorted(map(tuple, stats.groupBy("g").agg(F.sum("df").alias("df"))
                                     .where("df != 0").collect())),
            "fingerprints": sorted(map(tuple, fps.select("fp", "cid").distinct().collect()),
                                   key=repr),
            "doc_sizes": sorted(map(tuple, read_dedup_doc_sizes(spark, index_dir).collect())),
        }

    def _dedup_rebuild(self) -> str:
        from pyspark.sql import functions as F

        from udacity_dend_capstone_immigration_spark.workload.base import table
        from udacity_dend_capstone_immigration_spark.workload.dedupstore import build_dedup_index
        from udacity_dend_capstone_immigration_spark.workload.textops import _INC_MOD

        spark = self.r.spark
        docs = table(spark, self.r.data_dir, "documents").where(F.col("doc_id") % _INC_MOD != 0)
        if self.doc_batches:
            docs = docs.unionByName(spark.read.parquet(*self.doc_batches).select(*docs.columns))
        out = os.path.join(self.r.work, "rebuild", f"dedup-{len(self.doc_batches)}")
        return build_dedup_index(spark, docs.select("doc_id", "text"), out)

    def dedup_mismatch(self) -> list[str]:
        got = self._dedup_relations(self.dedup_dir)
        want = self._dedup_relations(self._dedup_rebuild())
        return [k for k in want if got[k] != want[k]]

    # --- end-to-end store metrics --------------------------------------------
    def metrics(self) -> dict[str, float]:
        med = lambda xs: statistics.median(xs) if xs else float("nan")  # noqa: E731
        written = sum(b for _, b in self.r.pass_bytes)
        appended = self._input_bytes()
        stored = sum(v[0] for v in self.r._store_usage().values())
        return {
            "serve_p50_s": med(self.serve_latency),
            "append_vectors_p50_s": med(self.append_lat["append_vectors"]),
            "append_docs_p50_s": med(self.append_lat["append_docs"]),
            "maintenance_p50_s": med(self.maint_lat),
            "write_amp": written / appended if appended else math.nan,
            "space_amp": stored / (self.base_bytes + appended),
        }


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM high-water RSS, this process's own peak RSS), in MB."""
    import resource

    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
