"""Hadoop FileSystem helpers — filesystem maintenance that works on ANY
store the SparkSession can reach (``hdfs://``, ``s3a://``, ``file:``,
plain local paths), not just the driver's local disk.

Rationale: ``os.path`` / ``os.rename`` / ``shutil`` silently see nothing
for non-local URIs, so a maintenance routine written against them
silently no-ops on exactly the deployments (HDFS/S3 state dirs) where it
matters — the failure mode ``_read_state`` was made FS-portable to avoid.
These wrappers route the same operations through the JVM's
``org.apache.hadoop.fs.FileSystem``, resolved per-path so mixed schemes
work in one call.

Caveat carried from the local implementation: rename-based swaps are
atomic on HDFS and local disk but NOT on S3 (rename = copy+delete there);
the crash-recovery ordering below is still correct — it just has a wider
non-atomic window on object stores.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path) for ``path`` via the session's Hadoop
    configuration — the scheme (or lack of one) picks the store."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` → ``dst``; raises OSError on any failure AND when
    ``dst`` already exists. The existence pre-check matters: Hadoop's
    ``rename`` onto an existing DIRECTORY dst does not fail — it silently
    moves src INSIDE dst (``dst/<basename(src)>``) on local/HDFS, the
    classic mis-nesting footgun. Callers that want replace semantics must
    ``delete`` dst first (as ``compact_ingest_state`` does). Failures that
    surface as False returns or Java IOExceptions (dst's parent missing,
    src missing) normalize to OSError here."""
    from py4j.protocol import Py4JJavaError

    fs, s = _fs_path(spark, src)
    dfs, d = _fs_path(spark, dst)
    # Hadoop rename is same-filesystem only, and the dst existence check
    # must consult DST's store (using src's FS for an s3a:// dst would
    # throw a raw Wrong-FS error, or consult the wrong store entirely)
    if fs.getUri().toString() != dfs.getUri().toString():
        raise OSError(
            f"rename failed: cross-filesystem rename unsupported: "
            f"{src} -> {dst}"
        )
    if dfs.exists(d):
        raise OSError(f"rename failed: destination exists: {src} -> {dst}")
    try:
        ok = fs.rename(s, d)
    except Py4JJavaError as exc:
        raise OSError(
            f"rename failed: {src} -> {dst}: "
            f"{exc.java_exception.getMessage()}"
        ) from None
    if not ok:
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; missing path is a no-op (matches the
    ``shutil.rmtree``-after-existence-check idiom it replaces). A present
    path that Hadoop fails to delete (permissions, object-store error —
    surfaced as a False return, not an exception) raises OSError: a
    silent no-op here would make the caller's subsequent rename fail
    confusingly or leave maintenance debris reported as success."""
    fs, p = _fs_path(spark, path)
    if fs.exists(p) and not fs.delete(p, True):
        raise OSError(f"delete failed: {path}")


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty file at ``path`` (parents created as needed),
    overwriting any existing file — the marker-commit primitive:
    ``statedir.write_snapshot`` re-creates a snapshot's ``_SUCCESS``
    strictly AFTER the rename into place, so validity flips atomically
    even where rename itself is copy+delete."""
    fs, p = _fs_path(spark, path)
    fs.create(p, True).close()


def create_exclusive(spark: SparkSession, path: str, content: str = "") -> None:
    """Create ``path`` with ``content`` iff it does not already exist —
    the mutual-exclusion primitive. An already-existing file raises
    ``FileExistsError``: the loser of an acquisition race must refuse,
    never overwrite the winner's record. Other failures (permissions,
    transient IO) raise plain OSError — callers must not mistake them
    for a lost race. Caveat: ``create(overwrite=false)`` is enforced
    store-side on HDFS but is an exists-then-create pair on
    LocalFileSystem (no O_EXCL), so same-host racers have a microsecond
    window — the lease layer closes it with a post-create read-back
    (``statedir.acquire_lease``)."""
    from py4j.protocol import Py4JJavaError

    fs, p = _fs_path(spark, path)
    try:
        out = fs.create(p, False)
    except Py4JJavaError as exc:
        cls = exc.java_exception.getClass().getName()
        msg = exc.java_exception.getMessage()
        if "AlreadyExists" in cls or fs.exists(p):
            raise FileExistsError(
                f"create_exclusive: already exists: {path}: {msg}"
            ) from None
        raise OSError(f"create_exclusive failed: {path}: {msg}") from None
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 contents of the file at ``path``, or ``None`` when it does
    not exist (a reader racing a delete must see absence, not an
    exception)."""
    from py4j.protocol import Py4JJavaError

    fs, p = _fs_path(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError:
        return None
    try:
        # commons-io ships on Spark's classpath; a py4j-side bytearray
        # would be copied by value and never mutated back
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def mtime_ms(spark: SparkSession, path: str) -> int:
    """Modification time of ``path`` in epoch milliseconds (raises when
    missing) — lease-expiry arithmetic reads it, ``touch``-style renewals
    advance it."""
    fs, p = _fs_path(spark, path)
    return int(fs.getFileStatus(p).getModificationTime())


def set_mtime_ms(spark: SparkSession, path: str, mtime: int) -> None:
    """Set ``path``'s modification time (epoch ms) — lease renewal
    (and test clocks) go through Hadoop ``setTimes`` so they work on any
    store the session reaches."""
    fs, p = _fs_path(spark, path)
    fs.setTimes(p, int(mtime), -1)


def mkdirs(spark: SparkSession, path: str) -> None:
    """Create ``path`` (and parents) as a directory; an already-existing
    directory is a no-op, any other failure raises OSError. The id-
    RESERVATION primitive for batch-dir WALs: an empty, marker-less
    ``batch=N`` dir claims id ``N`` in the log's ATTEMPTED set before any
    rows land, so concurrent auto-assignment skips past it instead of
    colliding inside the reserve→append crash window."""
    fs, p = _fs_path(spark, path)
    if not fs.mkdirs(p):
        raise OSError(f"mkdirs failed: {path}")


def child_names(spark: SparkSession, path: str) -> list[str]:
    """Names (not full paths) of the immediate children of ``path``;
    ``[]`` when the path does not exist. The FS-portable ``os.listdir`` —
    journal/ledger maintenance uses it to enumerate ``run_id=N`` /
    ``upto=N`` partition directories on whatever store the session
    reaches."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def qualified_uri(spark: SparkSession, path: str) -> str:
    """``path`` resolved to a fully-qualified URI (scheme + authority +
    absolute path) via its own FileSystem — the comparison form for
    is-this-under-that checks, where raw-string containment false-matches
    relative paths against any directory of the same name."""
    fs, p = _fs_path(spark, path)
    return fs.makeQualified(p).toString()


def uri_key(uri: str) -> tuple[str, str, str] | None:
    """Pure-Python normalization of an ALREADY-qualified URI to a
    comparable ``(scheme, authority, path)`` key, or ``None`` when the
    string carries no scheme (not qualified — the caller must resolve it
    through :func:`qualified_uri`). Exists so under-this-base checks over
    many file URIs (``df.inputFiles()`` returns them pre-qualified) cost
    zero JVM round-trips per file: Hadoop's ``Path.toString`` prints the
    local scheme as ``file:/x`` while ``inputFiles`` yields ``file:///x``,
    and both normalize to the same key here (urlsplit collapses the
    empty-authority forms). The path component is percent-DECODED before
    comparison (round-9 ADVICE fix): ``Path.toString`` decodes escapes
    (``%20`` → space) while ``inputFiles()`` entries can carry them
    encoded — without the unquote, keys for paths containing encodable
    characters differ and under-this-base guards silently pass.

    Known limitation (round-10 ADVICE — documented, deliberately not
    "fixed"): a path whose LITERAL characters happen to form an escape
    (a file genuinely named ``a%20b``, arriving already-decoded) is
    double-decoded here and collides with the key of the distinct path
    ``a b``. The ambiguity is intrinsic — given only the string, an
    encoded ``a b`` and a literal ``a%20b`` are the same bytes, and
    re-encoding the decoded form (``quote(unquote(p))``) merges the
    exact same pairs from the other direction, so no canonicalization
    resolves it without provenance the caller doesn't have. The decoded
    canonical form is kept because the collision direction is SAFE for
    every consumer: ``uri_key`` feeds refuse-style guards
    (``save_pq_index``'s reads-from-target check), where a collision
    produces a loud spurious refusal, never a silent wrong match —
    do not reuse this key for positive identity decisions (dedup,
    ownership) where a collision would merge distinct paths."""
    from urllib.parse import unquote, urlsplit

    s = urlsplit(uri)
    if not s.scheme:
        return None
    return s.scheme, s.netloc, unquote(s.path)


def parquet_file_count(spark: SparkSession, path: str) -> int:
    """Recursive count of ``*.parquet`` data files under ``path`` (the
    FS-portable twin of ``sinks.layout.parquet_file_count``)."""
    return parquet_usage(spark, path)[0]


def parquet_usage(spark: SparkSession, path: str) -> tuple[int, int]:
    """``(n_files, n_bytes)`` of the ``*.parquet`` data files under
    ``path``, recursively — artifact-size reporting from the FileSystem
    LISTING alone, so corpus-sized tables are never scanned to answer
    "how big is this"."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return 0, 0
    n = b = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            n += 1
            b += int(st.getLen())
    return n, b


#: bytes per py4j OutputStream.write call — py4j moves byte[] arguments
#: through its command channel, and a single call carrying a payload of
#: hundreds of MiB has been seen to write zero bytes without raising;
#: chunking keeps each call far below that size
_WRITE_CHUNK_BYTES = 16 << 20


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` (overwrite) through the Hadoop
    FileSystem — small sidecar payloads (meta JSON, markers), not
    datasets. Callers needing crash-atomicity write a tmp path and
    ``rename``, or land inside a marker-validated dir.

    Chunked + length-verified: the payload streams in
    ``_WRITE_CHUNK_BYTES`` slices and the landed file's length is
    checked against ``len(data)`` before returning, so a partial write
    fails this call before any validity marker lands."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        view = memoryview(data)
        for off in range(0, len(view), _WRITE_CHUNK_BYTES):
            out.write(bytearray(view[off:off + _WRITE_CHUNK_BYTES]))
    finally:
        out.close()
    got = int(fs.getFileStatus(p).getLen())
    if got != len(data):
        raise OSError(
            f"write_bytes: {path} landed {got} bytes, expected "
            f"{len(data)} — partial write (refusing before any validity "
            "marker can commit over it)"
        )


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """UTF-8 text write (overwrite) — see :func:`write_bytes`."""
    write_bytes(spark, path, content.encode("utf-8"))
