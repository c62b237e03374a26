"""The KV serving workload: closed-loop HTTP clients against ``serving.serve``.

The store is ``Engine.kv()`` at the engine's default bucket fanout,
preloaded with ``PRELOAD_KEYS`` keys of ``VALUE_BYTES`` each. Every
value starts with ``<key>|<version>|`` followed by seeded random bytes,
so a reply names the key and write it came from, and the parquet
codec cannot shrink the payload.

The request mix is YCSB workload B (Cooper et al., "Benchmarking
Cloud Serving Systems with YCSB", SoCC 2010): 95% reads, 5% updates,
Zipfian key popularity with the YCSB constant 0.99.
"""

from __future__ import annotations

import bisect
import http.client
import os
import random
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from stats import Window, median


PRELOAD_KEYS = 50_000
VALUE_BYTES = 1024
CLIENTS = 4
STORE = "perfbench"
# requests every client completes before the timed window opens
RAMP_REQUESTS = 1
GET_SHARE = 0.95  # the rest are PUTs
ZIPF_S = 0.99


def key_of(i: int) -> str:
    return f"k{i:06d}"


def encode_value(key: str, version: int, rng: random.Random) -> bytes:
    head = f"{key}|{version}|".encode()
    return head + rng.randbytes(VALUE_BYTES - len(head))


def decode_value(value: bytes) -> tuple[str, int] | None:
    parts = value.split(b"|", 2)
    if len(parts) != 3:
        return None
    try:
        return parts[0].decode(), int(parts[1])
    except (UnicodeDecodeError, ValueError):
        return None


class VersionChecker:
    """Read-your-acknowledged-writes check. A GET sent at ``t`` must
    return the requested key at a version no older than the newest PUT
    of that key acknowledged before ``t``; preloaded values are
    version 0."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._acks: dict[str, list[tuple[float, int]]] = defaultdict(list)

    def acked(self, key: str, version: int, t: float) -> None:
        with self._lock:
            self._acks[key].append((t, version))

    def required(self, key: str, t_send: float) -> int:
        with self._lock:
            return max((v for t, v in self._acks.get(key, ()) if t < t_send), default=0)

    def latest(self) -> dict[str, int]:
        with self._lock:
            return {k: max(v for _, v in acks) for k, acks in self._acks.items()}

    def check(self, key: str, value: bytes, t_send: float) -> str | None:
        """None if ``value`` is an acceptable reply, else the reason."""
        got = decode_value(value)
        if got is None:
            return "unparseable value"
        if got[0] != key:
            return f"value of key {got[0]!r}"
        need = self.required(key, t_send)
        if got[1] < need:
            return f"stale version {got[1]} < {need}"
        return None


class Zipf:
    """Seeded Zipf(s) ranks over ``n`` items, mapped through a seeded
    permutation so hot keys land in different buckets."""

    def __init__(self, n: int, s: float, rng: random.Random) -> None:
        acc, self._cdf = 0.0, []
        for r in range(1, n + 1):
            acc += r ** -s
            self._cdf.append(acc)
        self._perm = list(range(n))
        rng.shuffle(self._perm)

    def draw(self, rng: random.Random) -> int:
        r = bisect.bisect_left(self._cdf, rng.random() * self._cdf[-1])
        return self._perm[min(r, len(self._perm) - 1)]


def preload_frame(spark, seed: int):
    """The preload as a Spark frame: PRELOAD_KEYS keys at version 0,
    each value a ``<key>|0|`` header over SHA-512 blocks of (seed, key)."""
    from pyspark.sql import functions as F

    key = F.format_string("k%06d", F.col("id"))
    blocks = [
        F.unhex(F.sha2(F.concat_ws("#", F.lit(str(seed)), key, F.lit(str(i))), 512))
        for i in range(VALUE_BYTES // 64 + 1)
    ]
    head = F.encode(F.concat(key, F.lit("|0|")), "UTF-8")
    value = F.substring(F.concat(head, *blocks), 1, VALUE_BYTES)
    return spark.range(PRELOAD_KEYS).select(key.alias("key"), value.alias("value"))


@dataclass
class Sample:
    client: int
    op: str
    t0: float
    t1: float
    ok: bool


def window_rate(done: list[Sample]) -> float:
    """Requests per second of closed-loop clients: the sum over
    clients of completed requests over the time from the client's
    first send to its last reply."""
    per_client: dict[int, list[Sample]] = defaultdict(list)
    for s in done:
        per_client[s.client].append(s)
    return sum(
        sum(s.ok for s in mine) / (max(s.t1 for s in mine) - min(s.t0 for s in mine))
        for mine in per_client.values()
    )


class Clients:
    """CLIENTS closed-loop clients. Client ``c`` writes only keys whose
    index is ``c`` mod CLIENTS, so each key has one writer."""

    def __init__(self, run, addr, checker: VersionChecker) -> None:
        self.run, self.addr, self.checker = run, addr, checker
        self.zipf = Zipf(PRELOAD_KEYS, ZIPF_S, random.Random(f"{run.seed}:keys"))
        self._lock = threading.Lock()
        self.samples: list[Sample] = []
        self.errors: list[str] = []
        self.versions: list[dict[str, int]] = [defaultdict(int) for _ in range(CLIENTS)]

    def _key(self, rng: random.Random, owner: int | None) -> str:
        i = self.zipf.draw(rng)
        if owner is not None:  # PRELOAD_KEYS is a multiple of CLIENTS
            i = i - i % CLIENTS + owner
        return key_of(i)

    def _one(self, conn, c: int, rng: random.Random, op: str) -> bool:
        tr, linker = self.run.tracer, self.run.linker
        if op == "get":
            key, body = self._key(rng, None), None
        else:
            key = self._key(rng, c)
            self.versions[c][key] += 1
            body = encode_value(key, self.versions[c][key], rng)
        with tr.span("serving.request", op=op) as span:
            linker.register(op, key, span)
            t_send = time.perf_counter()
            try:
                conn.request(op.upper(), f"/{op}/{key}", body=body)
                resp = conn.getresponse()
                data, status = resp.read(), resp.status
            except (OSError, http.client.HTTPException) as exc:
                data, status = repr(exc).encode(), -1
            finally:
                linker.release(op, key, span)
        t_done = time.perf_counter()
        err = None
        if status != 200:
            err = f"HTTP {status}: {data[:200]!r}"
        elif op == "get":
            err = self.checker.check(key, data, t_send)
        else:
            self.checker.acked(key, self.versions[c][key], t_done)
        with self._lock:
            self.samples.append(Sample(c, op, t_send, t_done, err is None))
            if err:
                self.errors.append(f"{op} {key}: {err}")
        return err is None

    def run_for(self, seconds: float, tag: str) -> tuple[float, list[Sample], float]:
        """Run the closed loop: a ramp, then a window of ``seconds``.

        All clients start together, so their first requests queue
        behind each other, and on a fresh JVM the first requests run
        slower; the window opens once every client has completed
        RAMP_REQUESTS requests. Client 0 sends a PUT first: the first
        append to a freshly loaded store slows every later GET, so
        every window starts on a store that has taken writes, as it
        would in service. Requests sent inside the window are
        measured, and each client finishes the one in flight when the window closes.
        Returns (``window_rate`` of the window's samples, the samples,
        ramp seconds). The rate times each client from its first send
        inside the window, so the request it had in flight when the
        window opened counts in neither the requests nor the time."""
        t0 = time.perf_counter()
        lock = threading.Lock()
        completed = [0] * CLIENTS
        window: list[float] = []  # [opened_at, deadline] once open
        opened = threading.Event()
        start = len(self.samples)

        def loop(c: int) -> None:
            rng = random.Random(f"{self.run.seed}:{tag}:{c}")
            conn = http.client.HTTPConnection(*self.addr, timeout=170)
            op = "put" if c == 0 else None
            try:
                while not opened.is_set() or time.perf_counter() < window[1]:
                    op = op or ("get" if rng.random() < GET_SHARE else "put")
                    if not self._one(conn, c, rng, op):
                        conn.close()
                        conn = http.client.HTTPConnection(*self.addr, timeout=170)
                    op = None
                    with lock:
                        completed[c] += 1
                        if min(completed) >= RAMP_REQUESTS and not opened.is_set():
                            now = time.perf_counter()
                            window.extend([now, now + seconds])
                            opened.set()
            finally:
                conn.close()

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        done = [s for s in self.samples[start:] if s.t0 >= window[0]]
        return window_rate(done), done, window[0] - t0


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes of every file under ``path``, number of parquet files)."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def run(ctx) -> None:
    from fairy_spark.serving import serve

    from spans import TracedEngine

    spark, engine = ctx.spark, ctx.engine
    kv = engine.kv(STORE)
    t0 = time.perf_counter()
    kv.put_df(preload_frame(spark, ctx.seed))
    preload_s = time.perf_counter() - t0
    served = TracedEngine(engine, ctx.tracer, ctx.probe, ctx.linker) if ctx.trace else engine
    checker = VersionChecker()
    with serve(served, kv_name=STORE) as addr:
        clients = Clients(ctx, addr, checker)
        ramps = {}

        def window(tag: str):
            rate, done, ramps[tag] = clients.run_for(ctx.seconds, tag)
            gets = [(s.t1 - s.t0) * 1e3 for s in done if s.ok and s.op == "get"]
            lat = [(s.t1 - s.t0) * 1e3 for s in done if s.ok]
            return Window(median(gets), f"GET p50, n={len(gets)}", rate, lat), done

        timed, traced = ctx.measure(window)
    # the ramp of the timed window is the warm-up
    ctx.setup_done(preload_s + ramps["timed"], preload_s)
    samples = clients.samples

    # untimed read-back of every written key
    latest = checker.latest()
    got = kv.multi_get(sorted(latest))
    sweep_bad = 0
    for k, v in latest.items():
        dec = decode_value(got[k]) if k in got else None
        if dec != (k, v):
            sweep_bad += 1
            clients.errors.append(f"sweep {k}: got {dec}, want version {v}")

    table_dir = os.path.join(ctx.warehouse, kv.table.lower())
    disk_bytes, log_files = _dir_stats(table_dir)
    user_bytes = PRELOAD_KEYS * (len(key_of(0)) + VALUE_BYTES)
    lat = defaultdict(list)
    for s in timed:
        if s.ok:
            lat[s.op].append((s.t1 - s.t0) * 1e3)
    ctx.record_checks(
        attempted=len(samples) + len(latest),
        failed=sum(not s.ok for s in samples) + sweep_bad,
        errors=clients.errors,
    )
    ctx.detail_latency("get", lat["get"])
    ctx.detail_latency("put", lat["put"])
    ctx.detail("space_amp", disk_bytes / user_bytes, "ratio",
               f"{disk_bytes} bytes on disk / {user_bytes} live key+value bytes")
    if ctx.trace:
        ctx.layer("serving.errors", sum(not s.ok for s in traced), "count")
        log_rows = spark.table(kv.table).count()
        ctx.layer("kv.log_files", log_files, "count")
        ctx.layer("kv.read_amp", log_rows / PRELOAD_KEYS, "ratio",
                  f"{log_rows} log rows / {PRELOAD_KEYS} live keys")
        ctx.layer("kv.bytes_on_disk", disk_bytes, "B")
        ctx.layer("kv.user_bytes", user_bytes, "B")
    kv.drop()
