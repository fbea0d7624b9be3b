"""Measurement from outside the engine: spans, Spark metrics, streams.

Three sources, none of which changes engine code:

- :class:`Tracer` wraps the engine's public layer functions (by
  rebinding them in every loaded engine module that names them, because
  many call sites import inside the function body) and records one span
  per call: name, layer, start, end, parent span, request id. Spans stay
  in memory and are written once, at exit.
- :func:`spark_job_metrics` reads job, stage and SQL metrics from the
  driver's local UI REST endpoint, attributed by job group.
- :class:`StreamProgress` is a ``StreamingQueryListener`` that keeps the
  per-micro-batch progress of every streaming query.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "udacity_dend_capstone_immigration_spark"

#: layer -> (module, function names); ``None`` = every public function
#: defined in that module. The ``store`` entries are the store lifecycle
#: of ``workload.vectors`` and ``workload.dedupstore``.
LAYER_TARGETS = {
    "plans": [("plans.immigration_etl", None), ("plans.dq", None)],
    "operators": [
        (f"operators.{m}", None)
        for m in (
            "asof chunking cumsum curation dedup graph multimodal privacy quantiles "
            "rangejoin similarity skew spread topk windows"
        ).split()
    ],
    "sources": [
        ("sources.writers", ["write_table", "write_parquet"]),
        ("sources.publish", ["publish_table"]),
        ("workload.base", ["read_parquet_memo"]),
    ],
    "streaming": [("streaming.windows", ["run_available_now", "run_available_now_many",
                                         "run_foreach_batch_parquet"])],
    "store": [
        ("workload.vectors", ["build_ivf_flat_index", "build_ivfpq_index", "build_ivf_sq8_index",
                              "append_to_ivf_flat_index", "compact_index_cells",
                              "fold_index_delta", "run_due_maintenance"]),
        ("workload.dedupstore", ["build_dedup_index", "append_to_dedup_index",
                                 "stream_append_to_dedup_index", "fold_dedup_index",
                                 "run_dedup_maintenance"]),
    ],
}

#: functions whose span is a write; their output directory is measured
WRITE_FUNCS = {"write_table", "write_parquet", "publish_table"}
STORE_APPEND = {"append_to_ivf_flat_index", "append_to_dedup_index",
                "stream_append_to_dedup_index"}
STORE_MAINT = {"compact_index_cells", "fold_index_delta", "run_due_maintenance",
               "fold_dedup_index", "run_dedup_maintenance"}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its direct children's
    intervals (clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def dir_usage(path: str) -> dict[str, tuple[int, int]]:
    """File path -> (size, mtime_ns) for every data file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """In-memory span recorder plus the function wrappers that feed it."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.rid: str | None = None
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # --- spans --------------------------------------------------------
    def _parents(self) -> list:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    # --- job groups -----------------------------------------------------
    def set_group(self, phase: str) -> str | None:
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        if self.rid is not None:
            sc.setJobGroup(f"pb|{self.rid}|{phase}", phase)
        return prev

    def restore_group(self, prev: str | None) -> None:
        sc = self.spark.sparkContext
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(prev, prev.rsplit("|", 1)[-1])

    # --- patching -------------------------------------------------------
    def install(self) -> None:
        import importlib

        if self._patched:
            return
        for layer, targets in LAYER_TARGETS.items():
            for modname, names in targets:
                mod = importlib.import_module(f"{PACKAGE}.{modname}")
                if names is None:
                    names = [n for n, f in vars(mod).items()
                             if not n.startswith("_") and inspect.isfunction(f)
                             and f.__module__ == mod.__name__]
                for n in names:
                    self._patch(getattr(mod, n), layer)

    def _patch(self, fn, layer: str) -> None:
        wrapped = self._wrap(fn, layer)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if modname.startswith(PACKAGE) or modname == "__spark_entry__":
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patched.append((mod, attr, fn))
                        setattr(mod, attr, wrapped)
        # registered queries hold direct references too
        from udacity_dend_capstone_immigration_spark.workload import QUERIES

        for q, val in list(QUERIES.items()):
            if val is fn:
                self._patched.append((QUERIES, q, fn))
                QUERIES[q] = wrapped

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = fn
            else:
                setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        tracer = self
        name = fn.__name__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "read_parquet_memo":
                tracer.add("sources.read_calls", 1)
            out_dir = None
            if name in WRITE_FUNCS:  # all take (df, path-or-root, ...)
                out_dir = args[1] if len(args) > 1 else kwargs.get("path", kwargs.get("root"))
                before = dir_usage(out_dir)
            outer_eager = layer == "operators" and not getattr(tracer._stack, "eager", False)
            if outer_eager:
                tracer._stack.eager = True
                prev = tracer.set_group("eager")
            try:
                with tracer.span(f"{layer}.{name}", layer):
                    return fn(*args, **kwargs)
            finally:
                if outer_eager:
                    tracer._stack.eager = False
                    tracer.restore_group(prev)
                if out_dir is not None:
                    after = dir_usage(out_dir)
                    new = [v for p, v in after.items() if before.get(p) != v]
                    tracer.add("sources.files_written", len(new))
                    tracer.add("sources.bytes_written", sum(v[0] for v in new))

        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        stack = self.t._parents()
        self.rec = {"id": len(self.t.spans), "name": self.name, "layer": self.layer,
                    "parent": stack[-1] if stack else None, "rid": self.t.rid,
                    "start": time.perf_counter(), "end": None}
        self.t.spans.append(self.rec)
        stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._parents().pop()
        return False


# --- Spark UI REST ----------------------------------------------------------

def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def rest_base(spark) -> str:
    url = spark.sparkContext.uiWebUrl
    port = url.rsplit(":", 1)[-1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"


def spark_job_metrics(spark, settle_s: float = 1.0) -> dict:
    """Jobs, stages and SQL executions of this application from the UI
    REST endpoint: ``{"jobs": [...], "stages": {stage_id: {...}},
    "sql": [...]}``. Waits until the job count stops changing, because
    the UI store is fed asynchronously by the listener bus."""
    base = rest_base(spark)
    jobs, n_prev = [], -1
    for _ in range(20):
        time.sleep(settle_s)
        jobs = _get(base, "/jobs")
        if len(jobs) == n_prev and all(j["status"] != "RUNNING" for j in jobs):
            break
        n_prev = len(jobs)
    stages = {}
    for s in _get(base, "/stages"):
        stages[(s["stageId"], s["attemptId"])] = s
    sql = _get(base, "/sql?details=true&planDescription=false&length=100000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


# --- streaming listener ---------------------------------------------------

class StreamProgress(StreamingQueryListener):
    """Keeps each query's start tag and its micro-batch progress. The
    runner sets ``tag`` to the traced pass index (None when untraced);
    ``onQueryStarted`` runs synchronously with ``start()``, so each
    query keeps the tag of the pass that started it."""

    def __init__(self):
        self.tag = None
        self.started: dict[str, object] = {}
        self.progress: list[tuple[object, dict]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started[str(event.id)] = self.tag

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "id": str(p.id),
            "durationMs": dict(p.durationMs or {}),
            "numInputRows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append((self.started.get(str(p.id)), rec))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
