"""The wire-served workload ``serve_mixed``.

One process holds everything: a compacted store of 8 seeded series,
the engine behind ``wire.serve`` and three closed-loop client threads:

- one writer sends 10-point INSERTs into the days after the base
  range, which no read touches;
- two readers send range, SAMPLE BY, AT, min/max/avg and LIMIT reads
  over the base range, the kinds taking turns so every run sends the
  same mix. Every answer is checked against the base points.

There is one writer only: two concurrent INSERTs into one database
race on Spark's ``{db}/points/_temporary`` commit directory (see
NOTES.md).
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from dataclasses import dataclass, field
from statistics import geometric_mean, median, quantiles

import numpy as np

from rcbench import datagen, procs

DB = "bench"
N_SERIES = 8
POINTS_PER_SERIES = 120_000
BASE_DAYS = 10
DAY = datagen.DAY_NS
HOUR = 3_600_000_000_000
#: inserted points sit 123457 ns past a whole second: never on the
#: base points' millisecond grid
OFF_GRID_NS = 123_457
INSERT_POINTS = 10
READ_KINDS = ("range", "sample", "at", "agg", "limit")
#: load before the measured window, on other points
WARM_S = 6.0


@dataclass
class Insert:
    series: str
    ts: list[int]
    value: list[float]

    def query(self) -> str:
        vals = ", ".join(f"({t}, {v:.2f})" for t, v in zip(self.ts, self.value))
        return f"INSERT INTO {self.series} VALUES {vals}"


@dataclass
class Sample:
    kind: str
    t0: float
    t1: float
    ok: bool
    traced: bool = False
    root: int | None = None
    resp_bytes: int = 0


@dataclass
class Log:
    """What one load phase did. ``acked`` of the ``sent`` INSERTs
    returned success (they are a prefix: the writer stops at a failure)."""

    sent: list[Insert] = field(default_factory=list)
    acked: int = 0
    samples: list[Sample] = field(default_factory=list)
    wrong: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, sample: Sample, wrong: str | None = None) -> None:
        with self.lock:
            self.samples.append(sample)
            if wrong:
                self.wrong.append(wrong)


def _fmt(v: float) -> str:
    return f"{v:.6f}"  # the wire's value format


def _same(got, want: list[tuple[int, float]]) -> bool:
    return isinstance(got, list) and len(got) == len(want) and all(
        a[0] == b[0] and _fmt(a[1]) == _fmt(b[1]) for a, b in zip(got, want)
    )


def _resp_bytes(records: list[tuple[int, float]]) -> int:
    """Size of the framed response that carried ``records``."""
    from raft_c_spark.wire import STREAM_THRESHOLD, ArrayResponse, StreamChunk, encode_response

    if not records:
        return len(encode_response(ArrayResponse(())))
    n = 0
    for i in range(0, len(records), STREAM_THRESHOLD):
        part = tuple(records[i : i + STREAM_THRESHOLD])
        n += len(encode_response(StreamChunk(part, i + STREAM_THRESHOLD >= len(records))))
    return n


# -- expected results, from the base points alone ------------------------------


def _range(ts, val, a, b):
    lo, hi = np.searchsorted(ts, a, "left"), np.searchsorted(ts, b, "right")
    return ts[lo:hi], val[lo:hi]


def _avg(vals) -> float:
    # the engine's exact avg: decimal sum cast to double, then / count
    cents = int(np.rint(np.asarray(vals) * 100).astype(np.int64).sum())
    return (cents / 100) / len(vals)


def _sample(ts, val, a, b, interval) -> list[tuple[int, float]]:
    """SAMPLE BY avg with the reference's semantics: start normalised
    down, boundary points in no bucket, label = bucket end, buckets
    ending at or after ``b`` dropped."""
    ts, val = _range(ts, val, a - a % interval, b)
    keep = ts % interval != 0
    ts, val = ts[keep], val[keep]
    end = ts - ts % interval + interval
    return [(int(e), _avg(val[end == e])) for e in np.unique(end) if e < b]


def reads(base: dict[str, datagen.BasePoints], rng, first: int):
    """Endless (kind, query, expected records) over the base range,
    starting at kind ``first``."""
    # every range covers the same number of day files whatever the
    # seed: three whole days for SAMPLE BY, part of one day otherwise
    width = {"range": 3 * HOUR, "limit": 6 * HOUR, "agg": 12 * HOUR}
    for kind in itertools.cycle(READ_KINDS[first:] + READ_KINDS[:first]):
        s = f"s{rng.integers(N_SERIES)}"
        b = base[s]
        if kind == "at":
            i = int(rng.integers(len(b.ts)))
            t = int(b.ts[i])
            yield kind, f"SELECT value FROM {s} AT {t}", [(t, float(b.value[i]))]
            continue
        if kind == "sample":
            a = datagen.T0_NS + int(rng.integers(0, BASE_DAYS - 2)) * DAY
            z = a + 3 * DAY - 1
        else:
            a = datagen.T0_NS + int(rng.integers(0, BASE_DAYS)) * DAY
            a += int(rng.integers(0, (DAY - width[kind]) // 10**9)) * 10**9
            z = a + width[kind]
        ts, val = _range(b.ts, b.value, a, z)
        between = f"FROM {s} BETWEEN {a} AND {z}"
        if kind == "range":
            yield kind, f"SELECT value {between}", list(zip(ts.tolist(), val.tolist()))
        elif kind == "limit":
            yield kind, f"SELECT value {between} LIMIT 100", list(zip(ts[:100].tolist(), val[:100].tolist()))
        elif kind == "sample":
            yield kind, f"SELECT avg(value) {between} SAMPLE BY 1h", _sample(b.ts, b.value, a, z, HOUR)
        else:
            fn = ("min", "max", "avg")[rng.integers(3)]
            if fn == "avg":
                want = [(z, _avg(val))]
            else:
                # the first extreme in time order: ties go to the earliest
                i = int(np.argmin(val) if fn == "min" else np.argmax(val))
                want = [(int(ts[i]), float(val[i]))]
            yield kind, f"SELECT {fn}(value) {between}", want


def inserts(rng, sec0: int):
    """Endless INSERTs into days BASE_DAYS+1 .. BASE_DAYS+30, series in
    turn, one point a second from second ``sec0`` of the day on."""
    for k in itertools.count():
        day0 = datagen.T0_NS + (BASE_DAYS + 1 + (k // N_SERIES) % 30) * DAY
        secs = sec0 + np.arange(k * INSERT_POINTS, (k + 1) * INSERT_POINTS)
        yield Insert(
            f"s{k % N_SERIES}",
            [int(day0 + s * 10**9 + OFF_GRID_NS) for s in secs],
            list(rng.integers(0, 100_000, INSERT_POINTS) / 100.0),
        )


# -- the run -------------------------------------------------------------------


class ServeRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.warehouse = os.path.join(ctx.run_dir, "warehouse")
        self.base = datagen.base_store(ctx.seed, N_SERIES, POINTS_PER_SERIES, BASE_DAYS)
        self.logs: list[Log] = []
        self.engine = None
        self.server = None

    def build_store(self) -> None:
        """Load the base points as raw day files (pyarrow, in the layout
        the store reads), then let the engine compact them into the
        store: one sorted file per (series, day)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from raft_c_spark.engine import Engine

        self.engine = Engine(self.ctx.spark, self.warehouse)
        self.engine.execute(f"CREATEDB {DB}")
        self.engine.execute(f"USE {DB}")
        points = os.path.join(self.warehouse, DB, "points")
        for s, b in self.base.items():
            self.engine.execute(f"CREATE {s}")
            day = b.ts // DAY
            for d in np.unique(day):
                part = os.path.join(points, f"series={s}", f"day={d}")
                os.makedirs(part)
                sel = day == d
                pq.write_table(
                    pa.table({"timestamp": b.ts[sel], "value": b.value[sel]}),
                    os.path.join(part, "load.parquet"),
                )
        self.engine.store.compact(DB)

    def start_server(self):
        from raft_c_spark import wire

        self.server = wire.serve(self.engine)
        return self.server.server_address

    def stop_server(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def _call(self, client, query: str, traced: bool):
        """Send one request; returns (response, traced root or None)."""
        if not traced:
            return client.execute(query), None
        tracer = self.ctx.tracer
        port = client.sock.getsockname()[1]
        with tracer.root("wire.request") as root:
            tracer.bind_conn(port, root)
            try:
                return client.execute(query), root
            finally:
                tracer.bind_conn(port, None)

    def writer(self, log: Log, addr, todo, stop: threading.Event, traced_every: int) -> None:
        from raft_c_spark.wire import StringResponse, WireClient, WireError

        client = WireClient(*addr)
        try:
            for k, ins in enumerate(todo):
                if stop.is_set():
                    break
                log.sent.append(ins)
                t0 = time.perf_counter()
                try:
                    resp, root = self._call(client, ins.query(), traced_every and k % traced_every == 0)
                except (OSError, WireError):
                    resp, root = None, None  # the connection is gone: a failed INSERT
                ok = isinstance(resp, StringResponse) and resp.rc == 0
                log.add(Sample("insert", t0, time.perf_counter(), ok, root is not None, root))
                if not ok:
                    break  # keep the acknowledged INSERTs a prefix of those sent
                log.acked += 1
        finally:
            client.close()

    def reader(self, log: Log, addr, todo, stop: threading.Event, traced_every: int) -> None:
        from raft_c_spark.wire import WireClient, WireError

        client = WireClient(*addr)
        try:
            for k, (kind, query, want) in enumerate(todo):
                if stop.is_set():
                    break
                t0 = time.perf_counter()
                try:
                    resp, root = self._call(client, query, traced_every and k % traced_every == 0)
                except (OSError, WireError):
                    log.add(Sample(kind, t0, time.perf_counter(), False))
                    break  # the connection is gone or out of step
                smp = Sample(kind, t0, time.perf_counter(), isinstance(resp, list), root is not None, root)
                if smp.ok and smp.traced:
                    smp.resp_bytes = _resp_bytes(resp)
                log.add(smp, None if not smp.ok or _same(resp, want) else f"{kind}: {query}")
        finally:
            client.close()

    def load(self, addr, until, traced_every: int, warm: bool) -> Log:
        """Run the three clients until ``until()`` returns (it is called
        on this thread); returns their log. The warm-up (``warm``)
        writes and reads other points than the measured window."""
        salt = int(warm)
        log = Log()
        self.logs.append(log)
        stop = threading.Event()
        todo = inserts(np.random.default_rng([self.ctx.seed, 3, salt]), 40_000 if warm else 0)
        threads = [threading.Thread(target=self.writer, args=(log, addr, todo, stop, traced_every))]
        for i in range(2):
            todo = reads(self.base, np.random.default_rng([self.ctx.seed, 4, salt, i]), 2 * i)
            threads.append(threading.Thread(target=self.reader, args=(log, addr, todo, stop, traced_every)))
        for t in threads:
            t.start()
        try:
            until()
        finally:
            stop.set()
            for t in threads:
                t.join()
        return log

    def verify_store(self) -> list[str]:
        """Reopen the warehouse with a fresh Engine: the written points
        (the only ones off the millisecond grid) are exactly those of
        the acknowledged INSERTs, so none of a failed one is readable,
        and the base points are all still there."""
        from pyspark.sql import functions as F

        from raft_c_spark.engine import Engine

        eng = Engine(self.ctx.spark, self.warehouse)
        eng.execute(f"USE {DB}")
        acked = [i for log in self.logs for i in log.sent[: log.acked]]
        want = sorted((i.series, t, v) for i in acked for t, v in zip(i.ts, i.value))
        points = eng.store.read(DB)
        rows = points.filter(F.col("timestamp") % datagen.MS_NS != 0).collect()
        got = sorted((r["series"], r["timestamp"], r["value"]) for r in rows)
        problems = []
        if got != want:
            problems.append(f"store: {len(got)} written points readable, {len(want)} acknowledged")
        total = points.count()
        if total != self.stored_points():
            problems.append(f"store: {total} points, expected {self.stored_points()}")
        return problems

    def stored_points(self) -> int:
        return N_SERIES * POINTS_PER_SERIES + INSERT_POINTS * sum(log.acked for log in self.logs)

    def store_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(self.warehouse, DB))
            for f in files
        )

    def data_files(self) -> int:
        return sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(os.path.join(self.warehouse, DB))
            for f in files
        )


def run(ctx) -> dict:
    """Set up, measure for ``ctx.seconds``, verify; returns the result
    fields (see run.py)."""
    from rcbench import layers

    t0 = time.perf_counter()
    sr = ServeRun(ctx)
    sr.build_store()
    t_store = time.perf_counter() - t0
    addr = sr.start_server()
    # warm-up: JIT and the server's first requests
    warm = sr.load(addr, lambda: time.sleep(WARM_S), 0, warm=True)
    setup_s = ctx.setup_base_s + time.perf_counter() - t0
    if warm.wrong or warm.acked < len(warm.sent):
        raise RuntimeError(f"warm-up failed: {warm.wrong[:3]}")

    files_before = sr.data_files()
    ctx.rss.sample()
    if ctx.tracer is not None:
        layers.install(ctx, sr.server)
    clock = procs.SliceClock()

    def until():
        # slices of a quarter window until a window's worth were quiet
        while not clock.done(ctx.seconds):
            time.sleep(ctx.seconds / 4)
            clock.cut()

    log = sr.load(addr, until, 2 if ctx.tracer is not None else 0, warm=False)
    if ctx.tracer is not None:
        layers.uninstall(ctx)
    ctx.rss.sample()
    sr.stop_server()
    kept = clock.kept(ctx.seconds)
    wall = sum(s.t1 - s.t0 for s in kept)
    cpu = {r: sum(s.cpu[r] for s in kept) for r in kept[0].cpu}
    steal = sum(s.steal for s in kept)

    problems = log.wrong + sr.verify_store()
    # operations count in the slice they started in
    samples = [s for s in log.samples if any(k.t0 <= s.t0 < k.t1 for k in kept)]
    ok = [s for s in samples if s.ok]
    read_ms = [1000 * (s.t1 - s.t0) for s in ok if s.kind != "insert"]
    write_ms = [1000 * (s.t1 - s.t0) for s in ok if s.kind == "insert"]
    by_kind: dict[str, list[float]] = {}
    for s in ok:
        by_kind.setdefault(s.kind, []).append(1000 * (s.t1 - s.t0))
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ok) / wall, "1/s"),
        "query_geomean_ms": (geometric_mean([median(v) for v in by_kind.values()]), "ms"),
        "read_p50_ms": (median(read_ms), "ms"),
        "write_p50_ms": (median(write_ms), "ms"),
        "cpu_ms_per_op": (1000 * sum(cpu.values()) / max(1, len(ok)), "ms"),
        "bytes_per_point": (sr.store_bytes() / sr.stored_points(), "B"),
        "peak_rss_mb": (ctx.rss.total_mb(), "MB"),
    }
    diag = {
        "host.steal_s": steal,
        "steal_by_slice_s": [s.steal for s in clock.slices],
        "slices_kept": len(kept),
        "wall_s": wall,
        "reads": len(read_ms),
        "writes": len(write_ms),
        "read_p90_ms": quantiles(read_ms, n=10)[-1] if len(read_ms) > 1 else None,
        "write_p90_ms": quantiles(write_ms, n=10)[-1] if len(write_ms) > 1 else None,
        "setup_steps_s": {"session": ctx.setup_base_s, "store": t_store},
        "cpu_s": cpu,
        "rss_by_role_mb": ctx.rss.by_role_mb(),
    }
    if ctx.tracer is not None:
        metrics = layers.serve_layers(
            ctx, samples, writes_landed=log.acked, files_added=sr.data_files() - files_before,
            data_files=sr.data_files(), cpu=cpu, steal=steal,
        )
    return {
        "correct": not problems,
        "attempted": len(samples),
        "failed": len(samples) - len(ok),
        "metrics": metrics,
        "diag": diag,
        "problems": problems[:5],
    }
