"""Hadoop-FileSystem helpers (``fsutil``) — the FS-portable ops behind
ingest-state compaction. Exercised on the local FS through the SAME Hadoop
API code path hdfs:///s3a:// would take (the scheme only picks the
FileSystem impl; every call below goes through the JVM FS object, never
``os.path``)."""

from __future__ import annotations

import os

import pytest

from pulfa_sausage_factory_spark import fsutil


def test_fs_ops_roundtrip(spark, tmp_path):
    root = str(tmp_path / "state")
    os.makedirs(root)
    assert fsutil.exists(spark, root) and fsutil.is_dir(spark, root)
    assert not fsutil.exists(spark, root + "/nope")
    assert fsutil.parquet_file_count(spark, root + "/nope") == 0

    spark.range(10).repartition(3).write.parquet(root + "/a")
    assert fsutil.parquet_file_count(spark, root + "/a") == 3
    f = str(tmp_path / "plain.txt")
    open(f, "w").write("x")
    assert fsutil.exists(spark, f) and not fsutil.is_dir(spark, f)

    fsutil.rename(spark, root + "/a", root + "/b")
    assert not fsutil.exists(spark, root + "/a")
    assert fsutil.parquet_file_count(spark, root + "/b") == 3
    # Hadoop rename returns False instead of raising — fsutil raises
    with pytest.raises(OSError, match="rename failed"):
        fsutil.rename(spark, root + "/missing", root + "/c")

    fsutil.delete(spark, root + "/b")
    assert not fsutil.exists(spark, root + "/b")
    fsutil.delete(spark, root + "/b")  # missing → no-op, not an error


def test_fs_ops_accept_uri_paths(spark, tmp_path):
    # explicit file: URIs resolve through the same Path.getFileSystem
    # dispatch a cluster state dir would use
    uri = "file://" + str(tmp_path / "u")
    spark.range(4).coalesce(1).write.parquet(uri + "/a")
    assert fsutil.is_dir(spark, uri + "/a")
    assert fsutil.parquet_file_count(spark, uri) == 1
    fsutil.rename(spark, uri + "/a", uri + "/b")
    assert fsutil.exists(spark, uri + "/b")


def test_uri_key_percent_decodes_path(spark, tmp_path):
    # round-9 ADVICE: Hadoop Path.toString DECODES percent-escapes
    # ('%20' -> ' ') while df.inputFiles() entries can carry them encoded
    # — without unquoting, keys for paths with encodable characters
    # differ and save_pq_index's save-onto-own-path guard silently
    # disables on exactly those paths
    enc = fsutil.uri_key("file:///data/my%20index/part-0.parquet")
    dec = fsutil.uri_key("file:/data/my index/part-0.parquet")
    assert enc == dec == ("file", "", "/data/my index/part-0.parquet")
    # scheme-less input is "not qualified" → None (caller must qualify)
    assert fsutil.uri_key("relative/path") is None
    # end-to-end: qualified_uri of a space-carrying path keys identically
    # to its encoded form
    d = str(tmp_path / "sp ace")
    q = fsutil.uri_key(fsutil.qualified_uri(spark, d))
    assert q is not None and q[2].endswith("/sp ace")
    # round-10 ADVICE (documented limitation, pinned so a "fix" that
    # flips the collision direction is a deliberate decision): a LITERAL
    # '%20' in a filename double-decodes and collides with the distinct
    # path 'a b' — intrinsically ambiguous without provenance, and safe
    # for uri_key's consumers because they are refuse-style guards where
    # a collision is a loud spurious refusal, never a silent match
    assert (
        fsutil.uri_key("file:///data/a%20b")
        == fsutil.uri_key("file:///data/a b")
    )


def test_mkdirs_creates_and_tolerates_existing(spark, tmp_path):
    # the WAL id-reservation primitive: an empty dir claims an id in the
    # ATTEMPTED set; re-creating an existing dir is a no-op
    d = str(tmp_path / "resv" / "batch=7")
    fsutil.mkdirs(spark, d)
    assert fsutil.is_dir(spark, d)
    fsutil.mkdirs(spark, d)  # idempotent
    assert fsutil.is_dir(spark, d)


def test_lease_primitives(spark, tmp_path):
    # round-12 lease building blocks: create-if-absent arbitration,
    # content read-back, mtime read/advance through the Hadoop API
    import time

    import pytest

    p = str(tmp_path / "lock" / "epoch=0")
    fsutil.create_exclusive(spark, p, '{"owner": "w1"}')
    assert fsutil.read_text(spark, p) == '{"owner": "w1"}'
    # the loser of an acquisition race refuses, never overwrites
    with pytest.raises(OSError, match="create_exclusive"):
        fsutil.create_exclusive(spark, p, '{"owner": "w2"}')
    assert fsutil.read_text(spark, p) == '{"owner": "w1"}'
    # missing file reads as absence, not an exception
    assert fsutil.read_text(spark, str(tmp_path / "nope")) is None
    # mtime read + renewal-style advance
    m0 = fsutil.mtime_ms(spark, p)
    assert abs(m0 - time.time() * 1000) < 60_000
    fsutil.set_mtime_ms(spark, p, m0 - 120_000)
    assert fsutil.mtime_ms(spark, p) == m0 - 120_000


def test_write_read_bytes_chunked_and_length_verified(spark, tmp_path, monkeypatch):
    # a single py4j call carrying a payload of hundreds of MiB can write
    # zero bytes without raising — write_bytes streams in chunks and
    # verifies the landed length. Pin it with a forced-tiny chunk so many
    # slices are exercised, reading back with plain open().
    import numpy as np

    from pulfa_sausage_factory_spark import fsutil

    monkeypatch.setattr(fsutil, "_WRITE_CHUNK_BYTES", 1 << 10)
    payload = np.random.default_rng(3).integers(
        0, 256, 10_000, dtype=np.uint8
    ).tobytes()
    p = str(tmp_path / "blob.bin")
    fsutil.write_bytes(spark, p, payload)
    with open(p, "rb") as fh:
        assert fh.read() == payload
    # small payloads (single-call path) unchanged, and overwrite truncates
    fsutil.write_bytes(spark, p, b"tiny")
    with open(p, "rb") as fh:
        assert fh.read() == b"tiny"


@pytest.mark.parametrize("size", [0, 1, 3 << 10], ids=["empty", "one_byte",
                                                      "chunk_multiple"])
def test_write_bytes_edge_lengths(spark, tmp_path, monkeypatch, size):
    # the chunk loop's edges: an empty payload still lands (and replaces)
    # the file, and a payload that is an exact multiple of the chunk size
    # writes no trailing empty slice — the landed length matches each time
    monkeypatch.setattr(fsutil, "_WRITE_CHUNK_BYTES", 1 << 10)
    p = str(tmp_path / "blob.bin")
    fsutil.write_bytes(spark, p, b"stale previous content")
    payload = bytes(range(256)) * (size // 256) + bytes(size % 256)
    fsutil.write_bytes(spark, p, payload)
    with open(p, "rb") as fh:
        assert fh.read() == payload
