"""Persisted derived state must not outlive the data it was built from:
every cache and ground-truth key changes when a corpus file does."""

from __future__ import annotations

import os

from raft_c_spark.functions.diskcache import data_cache_key

_SECOND = 1_000_000_000


def _touch_within_second(path, offset_ns: int) -> None:
    """Set ``path``'s mtime to ``offset_ns`` into its current second."""
    mtime = os.stat(path).st_mtime_ns
    os.utime(path, ns=(mtime, mtime - mtime % _SECOND + offset_ns))


def test_data_cache_key_sees_a_rewrite_within_the_same_second(tmp_path):
    path = tmp_path / "documents.parquet"
    path.write_bytes(b"x" * 64)
    _touch_within_second(path, 100_000_000)
    before = data_cache_key(str(tmp_path), "documents")
    _touch_within_second(path, 200_000_000)  # same size, same second
    assert data_cache_key(str(tmp_path), "documents") != before


def test_compression_ground_truth_is_keyed_by_the_corpus(tmp_path, monkeypatch):
    """A regenerated documents corpus gets a new text_compression
    ground-truth file instead of reusing the stale one."""
    from raft_c_spark.plans import multimodal, text

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    # return the ground-truth key instead of replaying every corpus
    monkeypatch.setattr(
        multimodal, "_ground_truth_parquet", lambda key, rows, fields: key
    )
    path = tmp_path / "documents.parquet"
    path.write_bytes(b"x" * 64)
    _touch_within_second(path, 100_000_000)
    before = text.compression_expected_parquet_path()
    assert data_cache_key(str(tmp_path), "documents") in before
    _touch_within_second(path, 200_000_000)
    assert text.compression_expected_parquet_path() != before
