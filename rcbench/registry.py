"""The ``registry_warm`` workload: the frozen headline-12 queries of
``bench.py`` (one per operator family) over a seeded corpus.

Set-up generates the corpus, runs the cold pass, which builds the disk
caches and checks every query against its DuckDB oracle, then runs
warm-up passes until process-tree CPU per pass stops falling (at most
``MAX_WARM_PASSES``). The measured window then runs whole passes, each
query built and executed to completion through the noop sink as in
``bench.py``, until ``--seconds`` have passed. Every figure is a
median over passes.
"""

from __future__ import annotations

import os
import time
from statistics import geometric_mean, median

from bench import HEADLINE_12
from rcbench import datagen, procs

#: corpus scale: the sf-testdata schemas and distributions, with the
#: row counts of sf0.01 (the per-query floor, not the rows, sets the
#: cost of these queries at local[2]; see NOTES.md)
CORPUS_SF = 0.01
MAX_WARM_PASSES = 2
#: a pass whose CPU is within this share of the previous pass's counts
#: as levelled off
CPU_LEVEL = 0.10
TABLES = ("lineitem", "events", "documents", "embeddings")


def _check(df, con, sql: str) -> str | None:
    """Compare the frame with its oracle the way the registry's oracles
    are written for: order-insensitive, floats to six decimals."""
    from tests.harness import df_rows, duck_rows

    got, want = df_rows(df), duck_rows(con, sql)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    bad = sum(a != b for a, b in zip(got, want))
    return f"{bad} rows differ from the oracle" if bad else None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run(ctx) -> dict:
    import duckdb

    from rcbench import layers

    t0 = time.perf_counter()
    corpus = os.path.join(ctx.run_dir, "corpus")
    n_rows = datagen.write_corpus(ctx.seed, corpus, CORPUS_SF)
    from raft_c_spark.plans.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    t_corpus = time.perf_counter() - t0
    spark, tr = ctx.spark, ctx.tracer
    if tr is not None:
        layers.install(ctx)  # disk-cache counts cover the cold pass too

    # cold pass: builds the caches and checks each query once
    problems = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    cpu_prev = procs.cpu_total()
    for name in HEADLINE_12:
        err = _check(queries[name](spark, corpus), con, oracles[name])
        if err:
            problems.append(f"{name}: {err}")
    con.close()
    cpu_prev = procs.cpu_total() - cpu_prev
    t_cold = time.perf_counter() - t0 - t_corpus

    def one_pass(traced: bool) -> list[dict]:
        out = []
        for name in HEADLINE_12:
            rec = {"name": name, "traced": traced, "root": None, "catalyst_ms": 0.0}
            if traced:
                with tr.root("query") as root:
                    rec["root"] = root
                    layers.set_group(ctx, f"q{root}:build")
                    with tr.span("plans.build"):
                        b0 = time.perf_counter()
                        df = queries[name](spark, corpus)
                    layers.set_group(ctx, f"q{root}:exec")
                    with tr.span("plans.exec"):
                        e0 = time.perf_counter()
                        _noop(df)
                        e1 = time.perf_counter()
                    layers.set_group(ctx, None)
                    with tr.span("spark.catalyst"):
                        df._jdf.queryExecution().executedPlan()
                        rec["catalyst_ms"] = layers.catalyst_ms(df)
            else:
                b0 = time.perf_counter()
                df = queries[name](spark, corpus)
                e0 = time.perf_counter()
                _noop(df)
                e1 = time.perf_counter()
            rec["ms"] = 1000 * (e1 - b0)
            rec["exec_ms"] = 1000 * (e1 - e0)
            out.append(rec)
        return out

    warm_cpu = []
    for _ in range(MAX_WARM_PASSES):
        c0 = procs.cpu_total()
        one_pass(False)
        warm_cpu.append(procs.cpu_total() - c0)
        if warm_cpu[-1] > (1 - CPU_LEVEL) * cpu_prev:
            break
        cpu_prev = warm_cpu[-1]
    setup_s = ctx.setup_base_s + time.perf_counter() - t0

    ctx.rss.sample()
    # whole passes until a window's worth of them were quiet
    clock = procs.SliceClock()
    passes: list[list[dict]] = []
    while not clock.done(ctx.seconds):
        passes.append(one_pass(tr is not None and len(passes) % 2 == 1))
        clock.cut()
        ctx.rss.sample()
    kept = clock.kept(ctx.seconds)
    runs = [r for p, s in zip(passes, clock.slices) if s in kept for r in p]
    wall = sum(s.t1 - s.t0 for s in kept)
    pass_cpu = [sum(s.cpu.values()) for s in kept]
    cpu_roles = {r: sum(s.cpu[r] for s in kept) / len(kept) for r in kept[0].cpu}
    steal = median([s.steal for s in kept])

    per_q = {q: median([r["ms"] for r in runs if r["name"] == q]) for q in HEADLINE_12}
    per_q_exec = {q: median([r["exec_ms"] for r in runs if r["name"] == q]) for q in HEADLINE_12}
    cache = os.environ["RAFT_C_SPARK_CACHE_DIR"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(runs) / wall, "1/s"),
        "query_geomean_ms": (geometric_mean(list(per_q.values())), "ms"),
        "read_p50_ms": (median(list(per_q.values())), "ms"),
        # a central value over the 12 queries, like read_p50_ms, but the
        # geometric mean: the median of 12 write times of ~0.2 s moved
        # by 0.22 of itself between seeds (see NOTES.md)
        "write_p50_ms": (geometric_mean(list(per_q_exec.values())), "ms"),
        "cpu_ms_per_op": (1000 * median(pass_cpu) / len(HEADLINE_12), "ms"),
        "bytes_per_point": ((_dir_bytes(corpus) + _dir_bytes(cache)) / n_rows, "B"),
        "peak_rss_mb": (ctx.rss.total_mb(), "MB"),
    }
    diag = {
        "host.steal_s": steal,
        "steal_by_pass_s": [s.steal for s in clock.slices],
        "passes_kept": len(kept),
        "pass_wall_s": [s.t1 - s.t0 for s in clock.slices],
        "pass_cpu_s": [sum(s.cpu.values()) for s in clock.slices],
        "warm_cpu_s": warm_cpu,
        "setup_steps_s": {"session": ctx.setup_base_s, "corpus": t_corpus, "cold": t_cold},
        "query_ms": per_q,
        "rss_by_role_mb": ctx.rss.by_role_mb(),
    }
    if tr is not None:
        layers.uninstall(ctx)
        metrics = layers.registry_layers(ctx, runs, cpu_roles, steal)
    return {
        "correct": not problems,
        "attempted": len(runs),
        "failed": 0,
        "metrics": metrics,
        "diag": diag,
        "problems": problems,
    }
