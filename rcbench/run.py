"""Benchmark entry point.

    python3 rcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a source checkout and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The line before it holds diagnostics (host steal
time, per-role CPU, sample counts) that are not metrics.

Everything the run writes lives under ``.rcbench_run/<workload>-<pid>``
in the checkout and is deleted at exit. Spark runs ``local[2]`` with a
3 GB driver and a fixed heap layout whatever the environment says; the
engine's own environment knobs are cleared so the program sees only
generated inputs. See NOTES.md for why.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve_mixed", "registry_warm")
SPARK_CORES = 2
DRIVER_MEM = "3g"
#: a fixed heap layout for the JVM: its resident set then follows the
#: program's live data, not G1's timing-driven heap and young-gen
#: sizing (see NOTES.md, "JVM heap layout")
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn256m -XX:G1HeapRegionSize=4m -XX:-G1UseAdaptiveIHOP"


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    run_dir: str
    spark: object
    tracer: object  # trace.Tracer in the traced run, else None
    rss: object  # procs.PeakRss
    setup_base_s: float  # session start, counted into setup_s
    event_log: str


def _env(run_dir: str, trace: bool) -> str:
    for k in [k for k in os.environ if k.startswith(("RAFT_C_SPARK_", "SPARK_GRAFT_"))]:
        del os.environ[k]
    event_log = os.path.join(run_dir, "eventlog")
    for d in ("local", "cache", "eventlog", "spark-warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(SPARK_CORES),
        SPARK_GRAFT_MASTER=f"local[{SPARK_CORES}]",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        RAFT_C_SPARK_CACHE_DIR=os.path.join(run_dir, "cache"),
        SPARK_GRAFT_SF_DIR=os.path.join(run_dir, "corpus"),
    )
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + event_log,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.driver.extraJavaOptions": JVM_OPTS,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        "--conf " + shlex.quote(f"{k}={v}") for k, v in confs.items()
    ) + " pyspark-shell"
    return event_log


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _reap() -> None:
    """Kill and wait for any process this run left behind."""
    from rcbench import procs

    left = [p for p in procs.tree_pids() if p != os.getpid()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = [p for p in procs.tree_pids() if p != os.getpid()]
        if not left:
            break
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "raft_c_spark", "__init__.py")):
        print(f"rcbench: no raft_c_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from rcbench import procs
    from rcbench.trace import Tracer

    run_dir = os.path.join(ROOT, ".rcbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    event_log = _env(run_dir, bool(args.trace))
    cwd = os.getcwd()
    os.chdir(run_dir)  # stray relative writes (derby.log, ...) stay in the run
    spark = None
    try:
        t0 = time.perf_counter()
        from raft_c_spark.session import get_spark

        spark = get_spark(app_name=f"rcbench_{args.workload}")
        ctx = Ctx(
            args.workload, args.seed, args.seconds, run_dir, spark,
            Tracer() if args.trace else None, procs.PeakRss(),
            time.perf_counter() - t0, event_log,
        )
        if args.workload == "registry_warm":
            from rcbench import registry as workload
        else:
            from rcbench import serve as workload
        res = workload.run(ctx)
        if ctx.tracer is not None:
            _stop_spark(spark)
            spark = None
            from rcbench import layers

            res["metrics"], problems = layers.finish(ctx, res["metrics"])
            res["problems"] += problems
            res["correct"] = res["correct"] and not problems
    finally:
        if spark is not None:
            _stop_spark(spark)
        _reap()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps({"diag": res["diag"], "problems": res["problems"]}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
