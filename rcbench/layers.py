"""Per-layer metrics of the traced run.

``install`` patches the engine's public functions with spans (see
trace.py); ``serve_layers`` and ``registry_layers`` turn the spans of
the measured window into per-layer numbers while the session is still
up; ``finish`` adds the Spark numbers from the event log once the
session has stopped and checks that every per-layer metric is there.

Traced and untraced operations alternate within the window (every
other request, every other pass), so ``trace.overhead_pct`` compares
the two halves of one run. The event log is on for the whole traced
run (it is a start-up setting), so its own cost is not in that figure.
"""

from __future__ import annotations

import math
from collections import defaultdict
from statistics import geometric_mean, median

from bench import HEADLINE_12
from rcbench import sparklog
from rcbench.trace import check_sums, self_times

#: every per-layer metric and its unit, in BENCHMARK.json order
PER_LAYER = {
    "wire.request_ms": "ms",
    "wire.self_ms": "ms",
    "wire.resp_bytes_per_read": "B",
    "frontend.parse_ms": "ms",
    "frontend.fold_ms": "ms",
    "engine.plan_ms": "ms",
    "tsstore.open_ms": "ms",
    "tsstore.insert_ms": "ms",
    "tsstore.files_per_insert": "count",
    "tsstore.data_files": "count",
    "tsstore.files_scanned_per_read": "count",
    "results.fetch_ms": "ms",
    "spark.jobs_per_insert": "count",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_cpu_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.catalyst_ms_per_op": "ms",
    "spark.shuffle_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "plans.exec_ms": "ms",
    **{f"query.{q}_ms": "ms" for q in HEADLINE_12},
    "diskcache.lookups": "count",
    "diskcache.builds": "count",
    "diskcache.hit_ratio": "ratio",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "host.steal_s": "s",
    "trace.overhead_pct": "%",
    "trace.self_sum_err_ms": "ms",
}


#: largest gap allowed between a trace tree's summed self times and its
#: root's wall time
SELF_SUM_TOLERANCE_MS = 1.0


def set_group(ctx, group: str | None) -> None:
    ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def install(ctx, server=None) -> None:
    """Spans on the engine's public functions, the result pump and the
    disk cache; job groups per request on the server's threads."""
    from raft_c_spark import engine as engine_mod
    from raft_c_spark.engine import Engine
    from raft_c_spark.functions import diskcache
    from raft_c_spark.sources.tsstore import TimeSeriesStore
    from raft_c_spark.streaming import results

    tr = ctx.tracer
    tr.wrap(engine_mod, "parse", "frontend.parse")
    tr.wrap(engine_mod, "eval_timeunit", "frontend.fold")
    tr.wrap(Engine, "execute_stmt", "engine.execute_stmt")
    tr.wrap(TimeSeriesStore, "read", "tsstore.read")
    tr.wrap(TimeSeriesStore, "insert_rows", "tsstore.insert_rows")
    tr.wrap(TimeSeriesStore, "insert_df", "tsstore.insert_df")
    tr.wrap(diskcache, "cached_parquet", "diskcache.cached_parquet")
    tr.wrap(diskcache, "publish_atomic", "diskcache.publish_atomic")
    diskcache.set_key_observer(lambda key: tr.count("diskcache.lookup"))

    orig_execute = Engine.execute

    def execute(self, query, now=None):
        cur = tr.current()
        on_server = tr.on_server()
        if on_server:
            # a server thread keeps its group between requests: reset it
            set_group(ctx, f"r{cur[0]}" if cur else None)
        if cur is None:
            return orig_execute(self, query, now)
        with tr.span("engine.execute"):
            df = orig_execute(self, query, now)
        if on_server:
            tr.dfs[cur[0]] = df
        return df

    tr.patch(Engine, "execute", execute)

    orig_pumped = results.stream_results_pumped

    def pumped(df, *a, **kw):
        tr.bind_df(df)
        gen = orig_pumped(df, *a, **kw)
        try:
            while True:
                with tr.span("results.fetch"):
                    try:
                        batch = next(gen)
                    except StopIteration:
                        return
                yield batch
        finally:
            gen.close()

    tr.patch(results, "stream_results_pumped", pumped)

    orig_stream = results.stream_results

    def stream(df, *a, **kw):
        root = tr.adopt_df(df)
        if root is not None:
            set_group(ctx, f"r{root}")
        yield from orig_stream(df, *a, **kw)

    tr.patch(results, "stream_results", stream)

    if server is not None:
        orig_finish = server.finish_request

        def finish_request(request, client_address):
            tr.set_conn(client_address[1])
            return orig_finish(request, client_address)

        server.finish_request = finish_request


def uninstall(ctx) -> None:
    from raft_c_spark.functions import diskcache

    ctx.tracer.restore()
    diskcache.set_key_observer(None)


def catalyst_ms(df) -> float:
    """Analysis + optimisation + planning time recorded by the frame's
    query-planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, total = phases.iterator(), 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _overhead_pct(traced: dict[str, list[float]], plain: dict[str, list[float]]) -> float:
    kinds = [k for k in traced if traced[k] and plain.get(k)]
    if not kinds:
        return 0.0
    return 100 * (geometric_mean([median(traced[k]) / median(plain[k]) for k in kinds]) - 1)


def base_metrics(ctx, cpu: dict[str, float], steal: float) -> dict:
    """Every per-layer metric at 0, with the per-pass CPU by role, the
    steal and the disk-cache counts filled in."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["cpu.driver_s"] = cpu["driver"]
    m["cpu.jvm_s"] = cpu["jvm"]
    m["cpu.pyworker_s"] = cpu["pyworker"]
    m["host.steal_s"] = steal
    tr = ctx.tracer
    lookups, builds = tr.counts["diskcache.lookup"], tr.counts["diskcache.publish_atomic"]
    m["diskcache.lookups"] = lookups
    m["diskcache.builds"] = builds
    m["diskcache.hit_ratio"] = max(0.0, 1 - builds / lookups) if lookups else 0.0
    return m


def serve_layers(ctx, samples, writes_landed, files_added, data_files, cpu, steal) -> dict:
    """Per-layer numbers of the serve window (one pass)."""
    tr = ctx.tracer
    selfs = self_times(tr.spans)
    m = base_metrics(ctx, cpu, steal)
    traced = [s for s in samples if s.traced and s.ok and s.root in selfs]
    reads = [s for s in traced if s.kind != "insert"]
    inserts = [s for s in traced if s.kind == "insert"]
    own = lambda s, *names: 1000 * sum(selfs[s.root].get(n, 0.0) for n in names)  # noqa: E731
    m["wire.request_ms"] = _mean(1000 * (s.t1 - s.t0) for s in reads)
    m["wire.self_ms"] = _mean(own(s, "wire.request") for s in reads)
    m["wire.resp_bytes_per_read"] = _mean(s.resp_bytes for s in reads)
    m["frontend.parse_ms"] = _mean(own(s, "frontend.parse") for s in traced)
    m["frontend.fold_ms"] = _mean(own(s, "frontend.fold") for s in traced)
    m["engine.plan_ms"] = _mean(own(s, "engine.execute", "engine.execute_stmt") for s in traced)
    m["tsstore.open_ms"] = _mean(own(s, "tsstore.read") for s in reads)
    m["tsstore.insert_ms"] = _mean(own(s, "tsstore.insert_rows", "tsstore.insert_df") for s in inserts)
    m["tsstore.files_per_insert"] = files_added / writes_landed if writes_landed else 0.0
    m["tsstore.data_files"] = data_files
    m["results.fetch_ms"] = _mean(own(s, "results.fetch") for s in reads)
    m["spark.catalyst_ms_per_op"] = sum(catalyst_ms(tr.dfs[s.root]) for s in reads if s.root in tr.dfs) / max(1, len(traced))
    by = lambda flag: {  # noqa: E731
        k: [1000 * (s.t1 - s.t0) for s in samples if s.ok and s.traced == flag and s.kind == k]
        for k in {s.kind for s in samples}
    }
    m["trace.overhead_pct"] = _overhead_pct(by(True), by(False))
    m["trace.self_sum_err_ms"] = 1000 * check_sums(tr.spans, selfs)
    tr.groups = {f"r{s.root}": ("insert" if s.kind == "insert" else "read") for s in traced}
    tr.n_ops = len(traced)
    return m


def registry_layers(ctx, runs, cpu, steal) -> dict:
    """Per-layer numbers of the registry's measured passes. ``runs``
    holds one record per query run: name, latency, traced, root;
    ``cpu`` and ``steal`` are per pass."""
    tr = ctx.tracer
    selfs = self_times(tr.spans)
    m = base_metrics(ctx, cpu, steal)
    traced = [r for r in runs if r["traced"] and r["root"] in selfs]
    span_ms = lambda r, name: 1000 * sum(  # noqa: E731
        s.t1 - s.t0 for s in tr.spans if s.root == r["root"] and s.name == name
    )
    own = lambda r, *names: 1000 * sum(selfs[r["root"]].get(n, 0.0) for n in names)  # noqa: E731
    m["plans.build_ms"] = _mean(span_ms(r, "plans.build") for r in traced)
    m["plans.exec_ms"] = _mean(span_ms(r, "plans.exec") for r in traced)
    m["frontend.parse_ms"] = _mean(own(r, "frontend.parse") for r in traced)
    m["frontend.fold_ms"] = _mean(own(r, "frontend.fold") for r in traced)
    m["engine.plan_ms"] = _mean(own(r, "engine.execute", "engine.execute_stmt") for r in traced)
    m["tsstore.open_ms"] = _mean(own(r, "tsstore.read") for r in traced)
    m["spark.catalyst_ms_per_op"] = _mean(r["catalyst_ms"] for r in traced)
    for q in HEADLINE_12:
        m[f"query.{q}_ms"] = median([r["ms"] for r in runs if r["name"] == q])
    by = lambda flag: {  # noqa: E731
        q: [r["ms"] for r in runs if r["traced"] == flag and r["name"] == q] for q in HEADLINE_12
    }
    m["trace.overhead_pct"] = _overhead_pct(by(True), by(False))
    m["trace.self_sum_err_ms"] = 1000 * check_sums(tr.spans, selfs)
    tr.groups = {}
    for r in traced:
        tr.groups[f"q{r['root']}:build"] = "build"
        tr.groups[f"q{r['root']}:exec"] = "read"
    tr.n_ops = len(traced)
    return m


def finish(ctx, m: dict) -> tuple[dict, list[str]]:
    """Add the event-log numbers; returns {name: (value, unit)} and the
    problems found: a per-layer metric that is not a number, or a tree
    whose self times do not add up to its root's wall time."""
    tr = ctx.tracer
    totals = sparklog.group_totals(ctx.event_log)
    per_kind = defaultdict(lambda: defaultdict(float))
    n_kind = defaultdict(int)
    for group, kind in tr.groups.items():
        n_kind[kind] += 1
        for k, v in totals.get(group, {}).items():
            per_kind[kind][k] += v
    n_ops = max(1, tr.n_ops)
    summed = lambda c: sum(per_kind[k][c] for k in per_kind)  # noqa: E731
    if ctx.workload == "registry_warm":
        n_q = max(1, n_kind["read"])
        m["plans.build_jobs"] = per_kind["build"]["jobs"] / n_q
        m["spark.jobs_per_read"] = summed("jobs") / n_q
        m["tsstore.files_scanned_per_read"] = summed("files") / n_q
    else:
        m["spark.jobs_per_insert"] = per_kind["insert"]["jobs"] / max(1, n_kind["insert"])
        m["spark.jobs_per_read"] = per_kind["read"]["jobs"] / max(1, n_kind["read"])
        m["tsstore.files_scanned_per_read"] = per_kind["read"]["files"] / max(1, n_kind["read"])
    m["spark.tasks_per_op"] = summed("tasks") / n_ops
    m["spark.exec_cpu_ms_per_op"] = summed("cpu_ms") / n_ops
    m["spark.gc_ms_per_op"] = summed("gc_ms") / n_ops
    m["spark.shuffle_mb_per_op"] = summed("shuffle_mb") / n_ops
    m["spark.spill_mb_per_op"] = summed("spill_mb") / n_ops
    problems = [f"per-layer metric not a number: {k}" for k in PER_LAYER if not math.isfinite(m[k])]
    if m["trace.self_sum_err_ms"] > SELF_SUM_TOLERANCE_MS:
        problems.append(f"self times miss their root's wall time by {m['trace.self_sum_err_ms']:.3f} ms")
    return {k: (float(m[k]), PER_LAYER[k]) for k in PER_LAYER}, problems
