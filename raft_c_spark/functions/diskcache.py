"""Repo-local atomic parquet cache for derived columnar state
(minhash signatures, shingle codes, simhash vocabularies, expected
multimodal decode stats).

This is the local stand-in for the 100 TB deployment's stored-column /
materialized-index layout: expensive derived columns are computed once
per corpus and read back by every subsequent run. Three properties the
shared-/tmp + ``_done``-marker scheme it replaces lacked:

- **complete keys** — callers must fold every output-affecting
  parameter (shingle width, permutation count, algorithm version)
  into the cache key; the helper just namespaces it;
- **atomic publish** — the frame is written to a ``.tmp.<pid>``
  staging dir and ``os.replace``d into place, so a concurrent reader
  can never observe a half-written parquet and a concurrent writer
  race resolves to exactly one winner;
- **private location** — defaults to ``<repo>/.cache`` (overridable
  via ``RAFT_C_SPARK_CACHE_DIR``) instead of the world-writable
  system tempdir, so another user on a shared host cannot pre-create
  a poisoned cache path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def cache_root() -> str:
    return os.environ.get(
        "RAFT_C_SPARK_CACHE_DIR", os.path.join(_REPO_ROOT, ".cache")
    )


#: optional observer called with every cache key consulted (hit-check,
#: build, or read-back all funnel through ``cache_path``). bench.py
#: installs one per query so BENCH_FULL can flag queries whose warm
#: timing shares a materialization with another query (advisor r9:
#: a shared-cache consumer's warm min measures a parquet read, not
#: the operator's compute — readers need to see which rows those are).
_key_observer = None


def set_key_observer(fn) -> None:
    global _key_observer
    _key_observer = fn


def cache_path(key: str) -> str:
    """Absolute path for a cache entry. ``key`` must encode every
    parameter that affects the cached content (data fingerprint,
    algorithm params, format version)."""
    if not key or "/" in key or key.startswith("."):
        raise ValueError(f"bad cache key: {key!r}")
    if _key_observer is not None:
        _key_observer(key)
    return os.path.join(cache_root(), key)


def publish_atomic(staging: str, final: str) -> None:
    """Atomically move a fully-written staging path into place; if a
    concurrent writer already published, keep theirs and discard
    ours (content is deterministic per key, so either copy is
    correct)."""
    try:
        os.replace(staging, final)
    except OSError:
        if os.path.isfile(staging):
            os.unlink(staging)
        else:
            shutil.rmtree(staging, ignore_errors=True)
        if not os.path.exists(final):
            raise


def cached_parquet(df: DataFrame, key: str) -> DataFrame:
    """Materialize ``df`` as parquet under ``cache_path(key)`` once
    and return the read-back frame. Subsequent calls (any process)
    skip the compute entirely — the caller should build ``df``
    lazily so a cache hit never triggers its job.

    ``key`` must uniquely fingerprint the EXACT input frame (its
    rows AND columns — ``data_cache_key`` covers the backing file;
    any upstream filter/transform must be folded in too) plus every
    output-affecting parameter: the cache cannot detect that a
    filtered ``df`` was passed under an old key, and serves the
    stale full-corpus entry silently (advisor r9)."""
    final = cache_path(key)
    if not os.path.isdir(final):
        os.makedirs(cache_root(), exist_ok=True)
        staging = f"{final}.tmp.{os.getpid()}"
        df.write.mode("overwrite").parquet(staging)
        publish_atomic(staging, final)
    return df.sparkSession.read.parquet(final)


def data_cache_key(sf_dir: str, table: str) -> str:
    """Cache key tied to the actual data file (basename + mtime in
    nanoseconds + size), so persisted indexes/signatures can NEVER go
    stale when the driver regenerates the testdata between rounds — a
    new file means a new key and a fresh build, even when the rewrite
    lands within the same second and keeps the size. Single
    definition (reviewer r8: two verbatim copies lived in
    plans/dedup.py and plans/similarity.py — a staleness fix to one
    would silently miss the other)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        tag = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        tag = "nofile"
    return f"{os.path.basename(sf_dir.rstrip('/'))}_{tag}"
