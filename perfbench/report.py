"""Turn a finished run into the metric dictionary the benchmark prints.

Names and units come from ``BENCHMARK.json``: the untraced run reports
every ``end_to_end`` metric, the traced run every ``per_layer`` metric.
Per-layer figures are per pass (totals over the traced passes divided by
their number) unless the name says otherwise.
"""

from __future__ import annotations

import json
import re
import statistics

import tracing
from workloads import SERVES as STORE_SERVES
from workloads import STORE_OPS


def declared(section: str) -> dict[str, str]:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


def with_units(values: dict[str, float], section: str) -> dict:
    """``{name: {"value", "unit"}}`` for every declared metric; raises if
    one is missing, so a run never prints a partial metric set."""
    units = declared(section)
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}


def end_to_end(runner, timings: dict[str, float]) -> dict[str, float]:
    lat = [dt for _, dt in runner.latencies]
    walls = [w for traced, w in runner.pass_walls if not traced]
    out = {
        "setup_s": timings["setup_s"],
        "latency_p50_s": statistics.median(lat) if lat else float("nan"),
        # the mean, not the median: a run holds one pass, or a few when
        # passes are shorter than --seconds
        "pass_s": statistics.mean(walls) if walls else float("nan"),
        "peak_rss_mb": timings["peak_rss_mb"],
    }
    if runner.store is not None:
        out.update(runner.store.metrics())
    return out


def _num(v) -> float:
    m = re.search(r"-?[\d,]+(\.\d+)?", str(v))
    return float(m.group(0).replace(",", "")) if m else 0.0


def per_layer(runner, tracer, listener, rest: dict, timings: dict[str, float]) -> dict[str, float]:
    n = max(sum(1 for traced, _ in runner.pass_walls if traced), 1)
    spans = [s for s in tracer.spans if s["end"] is not None]
    selft = tracing.self_times(spans)

    def self_sum(pred) -> float:
        return sum(selft[s["id"]] for s in spans if pred(s)) / n

    def incl_sum(pred) -> float:
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    out = {k: timings[k] for k in ("session.start_s", "session.warm_s", "store.build_s",
                                    "box.canary_s", "box.load_avg", "box.cpus")}
    build_incl = incl_sum(lambda s: s["name"] == "workload.build")
    req_incl = incl_sum(lambda s: s["layer"] == "request")
    out["workload.build_s"] = build_incl / n
    out["workload.build_frac"] = build_incl / req_incl if req_incl else 0.0
    out["exec.run_s"] = incl_sum(lambda s: s["name"] == "exec.run") / n
    out["operators.eager_s"] = self_sum(lambda s: s["layer"] == "operators")
    out["plans.build_s"] = self_sum(lambda s: s["layer"] == "plans")
    out["sources.write_s"] = self_sum(lambda s: s["layer"] == "sources"
                                      and s["name"].split(".", 1)[1] in tracing.WRITE_FUNCS)
    out["streaming.drain_s"] = self_sum(lambda s: s["layer"] == "streaming")
    out["store.append_s"] = self_sum(lambda s: s["layer"] == "store"
                                     and s["name"].split(".", 1)[1] in tracing.STORE_APPEND)
    out["store.maintenance_s"] = self_sum(lambda s: s["layer"] == "store"
                                          and s["name"].split(".", 1)[1] in tracing.STORE_MAINT)
    for k in ("sources.files_written", "sources.bytes_written", "sources.read_calls"):
        out[k] = tracer.counts.get(k, 0) / n

    # --- Spark jobs and stages by job group "pb|<rid>|<phase>" -----------
    phase_of_job, rid_of_job = {}, {}
    for j in rest["jobs"]:
        g = j.get("jobGroup") or ""
        if g.startswith("pb|"):
            _, rid, phase = g.split("|")
            phase_of_job[j["jobId"]], rid_of_job[j["jobId"]] = phase, rid
    owner = {}
    for j in sorted(rest["jobs"], key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j["jobId"])
    # eager jobs count as plan build when a query (not a store
    # operation) started them
    out["workload.build_jobs"] = sum(
        1 for j, p in phase_of_job.items()
        if p == "build" or (p == "eager" and rid_of_job[j].split(":", 1)[1] not in STORE_OPS)) / n
    out["operators.eager_jobs"] = sum(1 for p in phase_of_job.values() if p == "eager") / n
    out["exec.jobs"] = sum(1 for p in phase_of_job.values() if p == "exec") / n
    agg = dict.fromkeys(("stages", "tasks", "cpu", "run", "gc", "srd", "swr", "spill", "inp", "ftask"), 0.0)
    for (sid, _), st in rest["stages"].items():
        if phase_of_job.get(owner.get(sid)) != "exec" or st.get("status") == "SKIPPED":
            continue
        agg["stages"] += 1
        agg["tasks"] += st.get("numTasks", 0)
        agg["cpu"] += st.get("executorCpuTime", 0) / 1e9
        agg["run"] += st.get("executorRunTime", 0) / 1e3
        agg["gc"] += st.get("jvmGcTime", 0) / 1e3
        agg["srd"] += st.get("shuffleReadBytes", 0)
        agg["swr"] += st.get("shuffleWriteBytes", 0)
        agg["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        agg["inp"] += st.get("inputBytes", 0)
        agg["ftask"] += st.get("numFailedTasks", 0)
    for key, name in (("stages", "exec.stages"), ("tasks", "exec.tasks"),
                      ("cpu", "exec.task_cpu_s"), ("gc", "exec.gc_s"),
                      ("srd", "exec.shuffle_read_bytes"), ("swr", "exec.shuffle_write_bytes"),
                      ("spill", "exec.spill_bytes"), ("inp", "exec.input_bytes"),
                      ("ftask", "exec.failed_tasks")):
        out[name] = agg[key] / n
    out["exec.task_offcpu_s"] = max(agg["run"] - agg["cpu"], 0.0) / n

    # --- store serves: files and rows read by their scans -----------------
    files = rows = 0.0
    served = set()
    for ex in rest["sql"]:
        rids = {r for r in (rid_of_job.get(j) for j in ex.get("successJobIds", []))
                if r and r.split(":", 1)[1] in STORE_SERVES}
        if not rids:
            continue
        served |= rids
        for node in ex.get("nodes", []):
            if node.get("nodeName", "").startswith("Scan parquet"):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                files += _num(m.get("number of files read", 0))
                rows += _num(m.get("number of output rows", 0))
    warm = [runner.warm_rows.get(q) for q in STORE_SERVES.values()]
    served_rows = [len(w[1]) for w in warm if w is not None and not isinstance(w, Exception)]
    n_serves = len(served)
    out["store.files_per_serve"] = files / n_serves if n_serves else 0.0
    out["store.rows_scanned_per_result"] = (rows / n_serves) / statistics.mean(served_rows) \
        if n_serves and served_rows and any(served_rows) else 0.0
    out["store.pending_batches"] = statistics.mean(runner.pending_at_serve) \
        if runner.pending_at_serve else 0.0
    out["store.bytes_written"] = sum(b for traced, b in runner.pass_bytes if traced) / n

    # --- streaming micro-batches --------------------------------------------
    prog = [(rec["id"], rec) for tag, rec in listener.progress if tag is not None]
    dur = lambda k: sum(rec["durationMs"].get(k, 0) for _, rec in prog) / n  # noqa: E731
    out["streaming.batches"] = len(prog) / n
    out["streaming.trigger_ms"] = dur("triggerExecution")
    out["streaming.planning_ms"] = dur("queryPlanning")
    out["streaming.walcommit_ms"] = dur("walCommit")
    out["streaming.commit_ms"] = dur("commitOffsets") + dur("commitBatch")
    out["streaming.addbatch_ms"] = dur("addBatch")
    out["streaming.input_rows"] = sum(rec["numInputRows"] for _, rec in prog) / n
    last = {qid: rec for qid, rec in prog}
    out["streaming.state_rows"] = sum(r["state_rows"] for r in last.values()) / n
    out["streaming.state_mem_bytes"] = sum(r["state_mem"] for r in last.values()) / n

    traced = [w for t, w in runner.pass_walls if t]
    plain = [w for t, w in runner.pass_walls if not t]
    out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    return out
