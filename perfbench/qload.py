"""Query-suite workloads: one client running sequential passes over
registry queries, each timed from DataFrame build to a full noop write.

``count()`` is not a fair action here: Catalyst prunes every column a
count does not need, so ``fn_string`` under ``count()`` plans as
``Aggregate <- Project [] <- Relation`` and computes none of its
string functions. ``write.format("noop")`` materializes every column
of every row and discards them.
"""

from __future__ import annotations

import gc
import hashlib
import os
import random
import time
import traceback
from collections import defaultdict

import datagen
from stats import Window, geomean, median

OLAP = [
    "q1_pricing_summary",
    "join_3way_revenue",
    "join_asof",
    "agg_rollup",
    "win_topk_per_group",
    "set_union_distinct",
    "fn_string",
    "kv_prefix_scan",
    "stream_tumbling_batch",
]
# The staged pretraining pipeline that ``Engine.pretrain_corpus`` runs:
# quality filter, exact and MinHash-LSH near-duplicate removal,
# decontamination and packing, parking its intermediate frames
# through ``park_persisted``.
TEXT = ["pipeline_pretrain_corpus_staged_scale"]

DATA_SEED = 42


def expected_frame(data: str, name: str, connect):
    """The DuckDB oracle's answer for ``name`` on the dataset at
    ``data``. The dataset is fixed, so the answer is computed once per
    checkout and kept beside it, keyed by a hash of the oracle SQL;
    some oracles take half a minute in DuckDB. ``connect()`` opens the
    DuckDB connection when one is needed."""
    import pandas as pd
    from fairy_spark.queries import ORACLE

    sql = ORACLE[name]
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(f"{data}.oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    frame = connect().execute(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    frame.to_pickle(tmp)
    os.replace(tmp, path)
    return frame


def _cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Suite:
    def __init__(self, ctx, workload: str, data: str) -> None:
        from fairy_spark.queries import QUERIES

        self.ctx, self.data, self.queries = ctx, data, QUERIES
        self.names = TEXT if workload == "text_dedup" else OLAP
        self.errors: list[str] = []
        self.failed = self.attempted = 0

    def one(self, name: str) -> float | None:
        """Build and materialize one query; its latency in ms, or None
        if it raised."""
        ctx, tr = self.ctx, self.ctx.tracer
        probe = ctx.probe if tr.enabled else None
        gc.collect()  # outside the timed region: py4j reference churn
        self.attempted += 1
        try:
            with tr.span("queries.query", query=name) as qs:
                if probe:
                    probe.sequential_span = qs
                t0 = time.perf_counter()
                with tr.span("queries.build", query=name) as s, ctx.probe_attr(s):
                    df = self.queries[name](ctx.spark, self.data)
                if probe:
                    probe.built(df, qs)
                with tr.span("queries.action", query=name) as s, ctx.probe_attr(s):
                    df.write.format("noop").mode("overwrite").save()
                ms = (time.perf_counter() - t0) * 1e3
                if probe:  # phases arrive on the listener bus
                    probe.drain()
            return ms
        except Exception:  # keep the run going; the failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            if probe:
                probe.sequential_span = None

    def run_pass(self, rng: random.Random, per_op: dict[str, list[float]]) -> None:
        for name in rng.sample(self.names, len(self.names)):
            ms = self.one(name)
            if ms is not None:
                per_op[name].append(ms)

    def warm_and_check(self) -> float:
        """The set-up pass: every query once, collected to pandas and
        compared with its DuckDB oracle. Returns the Spark-side seconds
        (build + collect); oracle and comparison time are excluded."""
        from fairy_spark.testing.oracle import compare_frames, duck_connect

        con = []

        def connect():
            if not con:
                con.append(duck_connect(self.data))
            return con[0]

        spent = 0.0
        for name in self.names:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                got = self.queries[name](self.ctx.spark, self.data).toPandas()
                spent += time.perf_counter() - t0
                res = compare_frames(name, got, expected_frame(self.data, name, connect))
                ok = res.ok
            except Exception:  # keep the run going; the failure is counted
                ok, res = False, traceback.format_exc(limit=3)
            if not ok:
                self.failed += 1
                self.errors.append(f"oracle {name}: {res}")
        return spent


def run(ctx, workload: str, work: str) -> None:
    data = datagen.ensure(os.path.join(work, "data"), DATA_SEED)
    suite = Suite(ctx, workload, data)
    t0 = time.perf_counter()
    ctx.engine.attach_testdata(data)
    reg_s = time.perf_counter() - t0
    ctx.setup_done(reg_s + suite.warm_and_check())

    rng = random.Random(ctx.seed)
    cache_mb: dict[str, float] = {}

    def window(tag: str):
        # whole passes, ending at the pass boundary nearest the deadline
        per_op: dict[str, list[float]] = defaultdict(list)
        t0 = time.perf_counter()
        deadline = t0 + ctx.seconds
        while True:
            t_pass = time.perf_counter()
            suite.run_pass(rng, per_op)
            now = time.perf_counter()
            if now + (now - t_pass) / 2 >= deadline:
                break
        lat = [x for xs in per_op.values() for x in xs]
        rate = len(lat) / (time.perf_counter() - t0)
        cache_mb[tag] = _cache_mb(ctx.spark)
        meds = [median(xs) for xs in per_op.values()]
        note = f"geomean of {len(meds)} per-query medians, {len(lat)} executions"
        return Window(geomean(meds), note, rate, lat), per_op

    timed, _ = ctx.measure(window)
    ctx.record_checks(suite.attempted, suite.failed, suite.errors)

    meds = {op: median(xs) for op, xs in timed.items()}
    if meds:
        ctx.detail("suite_s", sum(meds.values()) / 1e3, "s", f"{len(meds)} queries, sum of medians")
        ctx.detail("geomean_query_s", geomean(list(meds.values())) / 1e3, "s")
    ctx.detail("cache_mb", cache_mb["timed"], "MB", "persisted + checkpointed blocks at window end")
    for op, m in sorted(meds.items()):
        ctx.detail(f"{op}.ms", m, "ms", f"median of {len(timed[op])}")
    if ctx.trace:
        _per_query_layers(ctx)


def _per_query_layers(ctx) -> None:
    """Per query of the traced window: build time and the Spark phase
    split of the actions it ran."""
    builds, phases = defaultdict(list), defaultdict(lambda: defaultdict(float))
    qspan = {}
    for s in ctx.tracer.spans:
        if s.name == "queries.build":
            builds[s.attrs["query"]].append(s.ms)
        elif s.name == "queries.query":
            qspan[str(s.span_id)] = s.attrs["query"]
    for a in ctx.probe.actions:
        q = qspan.get(a.span)
        if q is None:
            continue
        for f in ("analysis_ms", "optimization_ms", "planning_ms", "python_ms"):
            phases[q][f] += getattr(a, f)
        phases[q]["actions"] += not a.build
    for q in sorted(builds):
        n = len(builds[q])
        ph = phases[q]
        ctx.detail(
            f"{q}.build_ms", median(builds[q]), "ms",
            f"per execution (n={n}); analysis {ph['analysis_ms'] / n:.1f} "
            f"optimization {ph['optimization_ms'] / n:.1f} planning {ph['planning_ms'] / n:.1f} "
            f"python {ph['python_ms'] / n:.1f} ms over {ph['actions'] / n:.1f} actions",
        )
