"""Per-layer metrics of a traced window, from its spans and the Spark
probe. Every workload reports the same names; a layer the workload
does not touch reads 0. Ratios carry their base in the note."""

from __future__ import annotations

from collections import defaultdict

from spans import SparkProbe, Span, self_times
from stats import median

Metric = tuple[float, str, str]  # value, unit, note

# store facts the kv workloads measure directly, with their units
KV_STORE_FACTS = {"kv.log_files": "count", "kv.read_amp": "ratio", "kv.bytes_on_disk": "B", "kv.user_bytes": "B"}


def _ratio(num: float, den: int) -> float:
    return num / den if den else 0.0


def per_layer(
    spans: list[Span],
    probe: SparkProbe,
    untraced_ms: float,
    traced_ms: float,
    facts: dict[str, Metric],
) -> dict[str, Metric]:
    """``untraced_ms``/``traced_ms``: the headline latency of the two
    windows.
    ``facts``: values the workload measured directly (store size, boot
    and preload time, serving errors). The base of every per-op ratio
    is the number of traced operations (client requests or query
    executions), ramp included, since spans and Spark events cover it."""
    selfs = self_times(spans)
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    ops = len(by_name["serving.request"]) + len(by_name["queries.query"])
    jobs = probe.jobs_by_span()
    stages = probe.stages_by_span()
    per_op = f"per op, {ops} ops"
    out: dict[str, Metric] = {}

    for op in ("get", "put"):
        calls = by_name[f"kv.{op}"]
        ids = [str(s.span_id) for s in calls]
        n_jobs = sum(jobs.get(i, 0) for i in ids)
        n_tasks = sum(st.tasks for i in ids for st in stages.get(i, ()))
        n = len(calls)
        out[f"kv.{op}.calls"] = (n, "count", "")
        out[f"kv.{op}.ms"] = (median([s.ms for s in calls]) if calls else 0.0, "ms", f"median of {n} calls")
        out[f"kv.{op}.spark_jobs"] = (_ratio(n_jobs, n), "count", f"per call, {n_jobs} jobs / {n} calls")
        out[f"kv.{op}.spark_tasks"] = (_ratio(n_tasks, n), "count", f"per call, {n_tasks} tasks / {n} calls")
    for name, unit in KV_STORE_FACTS.items():
        out[name] = facts.get(name, (0, unit, "no store"))

    reqs = by_name["serving.request"]
    out["serving.requests"] = (len(reqs), "count", "")
    out["serving.self_ms"] = (
        median([selfs[s.span_id] for s in reqs]) if reqs else 0.0, "ms",
        "median per request: client latency minus the kv calls inside it",
    )
    out["serving.errors"] = facts.get("serving.errors", (0, "count", ""))

    per_q: dict[str, list[float]] = defaultdict(list)
    for s in by_name["queries.build"]:
        per_q[s.attrs["query"]].append(s.ms)
    out["queries.build_ms"] = (
        sum(median(v) for v in per_q.values()), "ms", f"sum of per-query medians, {len(per_q)} queries",
    )

    acts = probe.actions
    n_act = sum(not a.build for a in acts)
    out["spark.actions"] = (_ratio(n_act, ops), "count", f"{per_op}, {n_act} actions")
    for ph in ("analysis", "optimization", "planning"):
        out[f"spark.{ph}_ms"] = (
            _ratio(sum(getattr(a, f"{ph}_ms") for a in acts), n_act), "ms",
            f"per action, {n_act} actions; includes analysis run at DataFrame build",
        )
    all_st = [st for v in stages.values() for st in v]
    out["spark.jobs"] = (_ratio(sum(jobs.values()), ops), "count", per_op)
    out["spark.stages"] = (_ratio(len(all_st), ops), "count", per_op)
    out["spark.tasks"] = (_ratio(sum(st.tasks for st in all_st), ops), "count", per_op)
    for f in ("task_ms", "task_cpu_ms", "task_wait_ms", "gc_ms"):
        out[f"spark.{f}"] = (_ratio(sum(getattr(st, f) for st in all_st), ops), "ms", per_op)
    out["spark.python_ms"] = (_ratio(sum(a.python_ms for a in acts), ops), "ms", per_op)
    for f in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{f}"] = (_ratio(sum(getattr(st, f) for st in all_st), ops), "B", per_op)

    parks = by_name["pool.park"]
    out["pool.park.calls"] = (_ratio(len(parks), ops), "count", f"{per_op}, {len(parks)} parks")
    out["pool.park_ms"] = (_ratio(sum(s.ms for s in parks), ops), "ms", per_op)

    out["session.boot_ms"] = facts["session.boot_ms"]
    out["kv.preload_ms"] = facts.get("kv.preload_ms", (0.0, "ms", "no store"))

    layer_self: dict[str, float] = defaultdict(float)
    for s in spans:
        layer_self[s.name.split(".")[0]] += selfs[s.span_id]
    for layer in ("serving", "kv", "queries", "pool"):
        out[f"self.{layer}_ms"] = (_ratio(layer_self[layer], ops), "ms", f"span self time {per_op}")

    out["trace.ops"] = (ops, "count", "traced operations")
    out["trace.overhead_pct"] = (
        (traced_ms / untraced_ms - 1) * 100, "%",
        f"headline latency, traced {traced_ms:.1f} ms vs untraced {untraced_ms:.1f} ms; "
        "same ramp, order alternates with seed parity",
    )
    return out
