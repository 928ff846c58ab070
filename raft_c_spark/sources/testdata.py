"""Readers for the driver-provided synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

``events.ts`` is a parquet µs-precision timestamp (tz-naive) — it
surfaces as TIMESTAMP_NTZ on this Spark build (the inferTimestampNTZ
conf is observed to have no effect here), and every consumer is
written to be exact for both TIMESTAMP_NTZ and TIMESTAMP under the
UTC session timezone: ``_ts_ns`` casts to TimestampType before
``unix_micros``, producing the engine's canonical epoch-nanosecond
longs (reference: uint64 ns, src/timeseries.h:52).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raft_c_spark.functions.diskcache import data_cache_key
from raft_c_spark.session import ensure_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def corpus_paths(table: str) -> list[str]:
    """Every ``<table>.parquet`` the harness could register: the
    default testdata layout plus any sf dir named via the env vars the
    driver/tests use — so a corpus registered outside /root/testdata
    still gets ground truth instead of an empty-fingerprint mismatch.
    SINGLE definition (reviewer r10: plans/similarity and
    plans/text_bpe carried near-verbatim copies differing only in the
    basename — the duplicate-helper drift the data_cache_key
    consolidation already fixed once for a different pair); call it
    directly rather than through per-module wrappers."""
    import glob

    paths = set(glob.glob(f"/root/testdata/sf*/{table}.parquet"))
    for var in ("SPARK_GRAFT_SF_DIR", "ORACLE_SF_DIR"):
        d = os.environ.get(var)
        if d:
            p = os.path.join(d, f"{table}.parquet")
            if os.path.isfile(p):
                paths.add(p)
    return sorted(paths)


def corpus_tags(table: str) -> str:
    """Cache-key fragment naming every ``corpus_paths(table)`` file by
    name, mtime and size: ground truth keyed by it is replayed afresh
    whenever any of those corpora is regenerated."""
    return "_".join(
        data_cache_key(os.path.dirname(p), table) for p in corpus_paths(table)
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def _ts_ns(col: str = "ts") -> F.Column:
    """``events.ts`` as an epoch-nanosecond long (the engine's
    canonical representation). Exact for the driver's µs-precision
    timestamp column: unix_micros × 1000. The inner cast makes the
    expression correct for both TIMESTAMP and TIMESTAMP_NTZ — the
    NTZ→LTZ coercion is identity under the UTC session tz, which
    ``require_utc`` guarantees."""
    return (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast("long")


def require_utc(spark: SparkSession) -> None:
    """Timestamp-epoch arithmetic (``_ts_ns``) and the pushdown filter
    literals in ``events_as_points`` coerce TIMESTAMP_NTZ through the
    session timezone — exact only under UTC. ``ensure_runtime_confs``
    silently skips locked confs, so fail loudly here rather than
    return tz-shifted timestamps on a non-UTC driver session."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"raft_c_spark requires spark.sql.session.timeZone=UTC for "
            f"exact timestamp arithmetic; session has {tz!r} and the "
            f"conf appears locked (ensure_runtime_confs could not set it)"
        )


def events_as_points(
    spark: SparkSession,
    sf_dir: str,
    t0: int | None = None,
    t1: int | None = None,
) -> DataFrame:
    """The ``events`` table reshaped to the engine's canonical point
    schema ``(series, timestamp, value)`` — one series per event_type.

    This is the bridge between the driver's synthetic data and the
    reference's data model (one named series of (ts_ns, double) points,
    src/timeseries.h:101-110): series name ≙ event_type, timestamp ≙
    event time in ns, value ≙ the event's double payload.

    ``t0``/``t1`` (inclusive ns bounds) are applied to the **raw
    physical timestamp column** via folded timestamp literals so they
    reach the parquet scan as PushedFilters — a filter on the derived
    epoch-ns long cannot push down. µs truncation is monotone, giving
    exact raw-column bounds: ``ns(ts) ≥ t0 ⇔ ts ≥ ceil_µs(t0)`` and
    ``ns(ts) ≤ t1 ⇔ ts ≤ floor_µs(t1)``.
    """
    ev = load_table(spark, sf_dir, "events")
    require_utc(spark)
    if t0 is not None:
        ev = ev.filter(F.col("ts") >= F.timestamp_micros(F.lit((t0 + 999) // 1000)))
    if t1 is not None:
        ev = ev.filter(F.col("ts") <= F.timestamp_micros(F.lit(t1 // 1000)))
    return ev.select(
        F.col("event_type").alias("series"),
        _ts_ns().alias("timestamp"),
        F.col("value").cast("double").alias("value"),
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL surface)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
