#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload kv_read --seed 1 --seconds 15 --trace 0

Run from the repository root. It boots the engine on this host's
cores, sets the workload up, measures for ``--seconds``, checks every
output, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run
measures the same window twice, untraced and traced (the traced one
first on odd seeds), and reports the per-layer metrics of the traced
window plus the tracing overhead.

All files (generated data, Spark scratch, the store's table) go under
``.perfbench_work/`` in the repository root. See README.md here.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("kv_read", "olap_headline", "text_dedup")

import layers  # noqa: E402
import stats  # noqa: E402
from spans import RequestLinker, SparkProbe, Tracer, patch_parks  # noqa: E402


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kib // 2**20 // 4))}g"


class Context:
    """What a workload needs from the run, and what it reports back."""

    def __init__(self, args, run_dir: str) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.cores = host_cores()
        self.tracer = Tracer(enabled=False)
        self.linker = RequestLinker()
        self.probe: SparkProbe | None = None
        self.spark = self.engine = None
        self.boot_s = 0.0
        self.setup_s = self.preload_s = None
        self.windows: dict[str, stats.Window] = {}  # by tag: "timed", "traced"
        self.stamp: dict = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.details: dict[str, dict] = {}
        self.layers: dict[str, tuple[float, str, str]] = {}
        self.marks = [("start", time.perf_counter())]  # wall-clock phases of the run

    # engine lifetime --------------------------------------------------
    def boot(self) -> None:
        from fairy_spark.config import EngineConfig
        from fairy_spark.engine import Engine

        cfg = EngineConfig(
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            driver_memory=driver_memory(),
            app_name="perfbench",
            warehouse_dir=self.warehouse,
        )
        t0 = time.perf_counter()
        self.engine = Engine(cfg=cfg)
        self.boot_s = time.perf_counter() - t0
        self.marks.append(("boot", time.perf_counter()))
        self.spark = self.engine.spark
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.probe = SparkProbe(self.spark)

    def close(self) -> None:
        """Stop Spark, then the JVM, then wait for every process this
        run started (they carry PERFBENCH_RUN in their environment)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.probe is not None:
            self.probe.detach()
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        _reap(os.environ["PERFBENCH_RUN"])

    # reporting hooks used by the workloads ------------------------------
    def probe_attr(self, span):
        return self.probe.attribute(span) if self.probe else contextlib.nullcontext()

    def setup_done(self, after_boot_s: float, preload_s: float | None = None) -> None:
        """``after_boot_s``: the set-up plus the warm-up;
        ``preload_s``: the store preload."""
        self.setup_s = self.boot_s + after_boot_s
        self.preload_s = preload_s

    def measure(self, window) -> tuple:
        """Run ``window("timed")`` untraced; with tracing on, also
        ``window("traced")``, first on odd seeds, so that neither
        window always gets the warmer JVM. ``window`` returns
        (Window, payload); returns the (timed, traced) payloads, traced
        None without tracing."""
        tags = ("timed", "traced") if self.trace else ("timed",)
        if self.seed % 2:
            tags = tags[::-1]
        out = {"traced": None}
        for tag in tags:
            if tag == "timed":
                stamp = stats.HostStamp()
                self.windows[tag], out[tag] = window(tag)
                self.stamp = stamp.finish()
            else:
                self.probe.attach()
                self.tracer.enabled = True
                with patch_parks(self.tracer, self.probe):
                    self.windows[tag], out[tag] = window(tag)
                self.tracer.enabled = False
                self.probe.finish()
                self.probe.detach()
        self.marks.append(("set-up and windows", time.perf_counter()))
        return out["timed"], out["traced"]

    def record_checks(self, attempted: int, failed: int, errors: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.errors += errors

    def detail(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.details[name] = {"value": value, "unit": unit, "note": note}

    def detail_latency(self, op: str, xs: list[float]) -> None:
        """Median and, where ten samples lie beyond it, p90 of ``op``."""
        if not xs:
            self.detail(f"{op}_p50_ms", float("nan"), "ms", "no samples")
            return
        self.detail(f"{op}_p50_ms", stats.median(xs), "ms", f"n={len(xs)}")
        p90 = stats.percentile(xs, 90)
        if p90 is None:
            self.detail(f"{op}_p90_ms", float("nan"), "ms",
                        f"n={len(xs)}: fewer than 10 samples beyond p90, not reported")
        else:
            self.detail(f"{op}_p90_ms", p90[0], "ms", f"n={len(xs)}, {p90[1]} beyond")

    def layer(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.layers[name] = (value, unit, note)

    # results -------------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str, str]]:
        w = self.windows["timed"]
        return {
            "setup_s": (self.setup_s, "s", "boot + set-up + warm-up"),
            "ops_per_s": (w.ops_per_s, "1/s", f"{len(w.latencies_ms)} ops"),
            "latency_ms": (w.latency_ms, "ms", w.latency_note),
        }

    def per_layer(self) -> dict[str, tuple[float, str, str]]:
        facts = dict(self.layers)
        facts["session.boot_ms"] = (self.boot_s * 1e3, "ms", "")
        if self.preload_s is not None:
            facts["kv.preload_ms"] = (self.preload_s * 1e3, "ms", "")
        return layers.per_layer(
            self.tracer.spans, self.probe, self.windows["timed"].latency_ms,
            self.windows["traced"].latency_ms, facts,
        )


def _reap(tag: str, timeout: float = 30.0) -> None:
    """Wait for every other process whose environment carries
    PERFBENCH_RUN=<tag>; kill what is still alive after ``timeout``."""
    needle = f"PERFBENCH_RUN={tag}".encode()

    def ours() -> list[int]:
        pids = []
        for p in os.listdir("/proc"):
            if not p.isdigit() or int(p) == os.getpid():
                continue
            try:
                with open(f"/proc/{p}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        pids.append(int(p))
            except OSError:
                continue
        return pids

    deadline = time.monotonic() + timeout
    while (pids := ours()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in ours():
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and the engine
    into ``run_dir``; must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "io", "ckpt"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "PERFBENCH_RUN": uuid.uuid4().hex,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "FAIRY_SPARK_IO_DIR": os.path.join(run_dir, "io"),
        "FAIRY_SPARK_CHECKPOINT_DIR": os.path.join(run_dir, "ckpt"),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata from spark-submit's launcher JVM either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            # no hsperfdata: the JVM would write it under /tmp
            "--driver-java-options " + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp


def _print_report(ctx: Context, workload: str, metrics: dict) -> None:
    print(f"# perfbench {workload} seed={ctx.seed} seconds={ctx.seconds} trace={int(ctx.trace)} "
          f"cores={ctx.cores}")
    ctx.marks.append(("checks+close", time.perf_counter()))
    print("phases: " + ", ".join(
        f"{name} {t - prev:.1f} s" for (_, prev), (name, t) in zip(ctx.marks, ctx.marks[1:])
    ))
    print(f"window: steal_share={ctx.stamp.get('steal_share')} loadavg_1m={ctx.stamp.get('loadavg_1m')}")
    print(f"checks: attempted={ctx.attempted} failed={ctx.failed} "
          f"failed_op_ratio={ctx.failed / max(1, ctx.attempted):.4f}")
    for e in ctx.errors[:20]:
        print(f"  error: {e}")
    for name, d in ctx.details.items():
        print(f"  {name} = {d['value']:.4f} {d['unit']}  {d['note']}")
    for name, (v, unit, note) in metrics.items():
        print(f"{name} = {v:.4f} {unit}  {note}".rstrip())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fairy_spark", "engine.py")):
        print(f"perfbench: no fairy_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(run_dir)
    sys.path.insert(0, ROOT)
    ctx = Context(args, run_dir)
    try:
        ctx.boot()
        if args.workload == "kv_read":
            import kvload

            kvload.run(ctx)
        else:
            import qload

            qload.run(ctx, args.workload, WORK)
        gc.collect()
        metrics = ctx.per_layer() if ctx.trace else ctx.end_to_end()
    finally:
        ctx.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    _print_report(ctx, args.workload, metrics)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", tag + ".json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "cores": ctx.cores, "window": ctx.stamp, "metrics": metrics,
            "details": ctx.details, "window_latencies_ms": {t: w.latencies_ms for t, w in ctx.windows.items()},
            "errors": ctx.errors,
        }, f)
    if ctx.trace:
        path = os.path.join(WORK, "runs", tag + ".spans.jsonl")
        ctx.tracer.dump(path)
        print(f"spans: {len(ctx.tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
