"""The one module that talks to the Hadoop FileSystem.

Every filesystem operation the package performs — warehouse archives,
versioned-table logs, cursors, directory swaps — goes through here, so
the rest of the code handles plain Python values (``str``, ``bool``,
``int``, :class:`Entry`) and never a py4j object. Paths are anything
Hadoop resolves (``/p``, ``file:/p``, ``hdfs://nn/p``, ``s3a://b/p``); the
filesystem is looked up per call (Hadoop caches the instances), so one
call site serves every backend.

Hadoop reports most failures through return values, not exceptions;
:func:`rename` turns a ``False`` into :class:`IOError` so no caller can
mistake a move that never happened for one that did.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Entry:
    """One child of a listed directory. ``uri`` is the fully-qualified
    form Hadoop returns (``file:/…``); ``mtime`` is epoch milliseconds."""

    name: str
    uri: str
    is_dir: bool
    size: int
    mtime: int


def _class(spark: SparkSession, fqn: str):
    # by name: resolving ``jvm.org.apache…`` costs one py4j round trip per
    # package level, on every call
    return JavaClass(fqn, spark._jvm._gateway_client)


def _path(spark: SparkSession, uri: str):
    return _class(spark, "org.apache.hadoop.fs.Path")(uri)


def _fs(spark: SparkSession, uri: str):
    p = _path(spark, uri)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _bare(spark: SparkSession, fs):
    """The filesystem underneath Hadoop's checksum layer (``file://``
    writes ``.crc`` sidecars through it), or ``fs`` itself."""
    checksummed = _class(spark, "java.lang.Class").forName(
        "org.apache.hadoop.fs.ChecksumFileSystem"
    )
    return fs.getRawFileSystem() if checksummed.isInstance(fs) else fs


def exists(spark: SparkSession, uri: str) -> bool:
    fs, p = _fs(spark, uri)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, uri: str) -> bool:
    """True for an existing directory; False for a file or nothing."""
    fs, p = _fs(spark, uri)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def qualify(spark: SparkSession, uri: str) -> str:
    """The fully-qualified spelling of ``uri`` (scheme + authority), so
    ``/p`` and ``file:///p`` compare equal."""
    fs, p = _fs(spark, uri)
    return fs.makeQualified(p).toString()


def read_text(spark: SparkSession, uri: str) -> str:
    fs, p = _fs(spark, uri)
    stream = fs.open(p)
    try:
        # a py4j byte[] argument is copied, not shared — stream.read(buf)
        # can never fill a Python bytearray; drain the stream JVM-side
        return _class(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def _write(fs, p, text: str) -> None:
    out = fs.create(p, True)  # overwrite; parent directories created
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text(spark: SparkSession, uri: str, text: str) -> None:
    """Create or overwrite ``uri`` with ``text`` (UTF-8)."""
    _write(*_fs(spark, uri), text)


def write_bare_text(spark: SparkSession, uri: str, text: str) -> None:
    """:func:`write_text` without a checksum sidecar: for exports whose
    consumers list the directory and expect only the files written. The
    shared, cached filesystem instance is left as it was."""
    fs, p = _fs(spark, uri)
    fs.delete(p, False)  # with any sidecar, which would no longer match
    _write(_bare(spark, fs), p, text)


def list_dir(spark: SparkSession, uri: str) -> list[Entry]:
    """The children of directory ``uri``; empty when it does not exist."""
    fs, p = _fs(spark, uri)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        uri = st.getPath().toString()
        out.append(
            Entry(
                name=uri.rsplit("/", 1)[-1],
                uri=uri,
                is_dir=bool(st.isDirectory()),
                size=int(st.getLen()),
                mtime=int(st.getModificationTime()),
            )
        )
    return out


def list_names(spark: SparkSession, uri: str) -> list[str]:
    """Just the entry names of directory ``uri`` (empty when missing) —
    two py4j calls per entry where :func:`list_dir` makes five, for hot
    paths such as listing a table's log on every read."""
    fs, p = _fs(spark, uri)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def list_parquet_files(spark: SparkSession, uri: str) -> dict[str, int]:
    """Every ``.parquet`` file under ``uri`` (recursive), as fully-qualified
    URI → size in bytes, in listing order. Raises if ``uri`` is missing."""
    fs, p = _fs(spark, uri)
    out: dict[str, int] = {}
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        f = st.getPath()
        if f.getName().endswith(".parquet"):
            out[f.toString()] = int(st.getLen())
    return out


def file_size(spark: SparkSession, uri: str) -> int:
    fs, p = _fs(spark, uri)
    return int(fs.getFileStatus(p).getLen())


def mkdirs(spark: SparkSession, uri: str) -> None:
    fs, p = _fs(spark, uri)
    fs.mkdirs(p)


def delete(spark: SparkSession, uri: str, recursive: bool = False) -> None:
    """Remove ``uri`` (a directory only with ``recursive``); a missing
    path is a no-op."""
    fs, p = _fs(spark, uri)
    fs.delete(p, recursive)


def _rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, p = _fs(spark, src)
    return bool(fs.rename(p, _path(spark, dst)))


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``; raises :class:`IOError` when Hadoop
    reports the move did not happen (missing source, existing
    destination, cross-filesystem)."""
    if not _rename(spark, src, dst):
        raise IOError(f"rename {src} -> {dst} failed")


def publish(spark: SparkSession, tmp: str, final: str, text: str) -> bool:
    """Create ``final`` holding ``text`` unless it already exists — the
    commit point of every log, checkpoint and cursor file.

    The text goes to the caller's unique-by-prefix ``tmp`` first (a crash
    mid-write never leaves a torn file under the live name), then claims
    ``final`` with a create-no-overwrite primitive. The primitive is
    per-filesystem, because "rename fails when the destination exists"
    is NOT a portable contract:

    * ``file://`` — POSIX rename OVERWRITES, so two writers racing inside
      an exists/rename window could both believe they committed.
      ``java.nio.Files.createLink`` is a hard link — O_EXCL-atomic at the
      kernel, publishes the full temp content in one metadata operation,
      and throws ``FileAlreadyExistsException`` for the loser.
    * ``hdfs://`` (and any FS with HDFS rename semantics) — rename is
      atomic and returns False when the destination exists; that return
      value IS the claim.
    * object stores without atomic no-overwrite (raw S3A) — neither
      primitive is safe; like Delta, this format needs an external
      coordination service there. Stated, not papered over.

    Returns True if this call created ``final``; False if it already
    existed or the temp vanished under a concurrent sweep (rename's
    ``False`` cases). The temp is removed on every exit.
    """
    fs, tmp_p = _fs(spark, tmp)
    final_p = _path(spark, final)
    _write(fs, tmp_p, text)
    try:
        if (final_p.toUri().getScheme() or fs.getUri().getScheme()) != "file":
            return not fs.exists(final_p) and bool(fs.rename(tmp_p, final_p))
        try:
            # java.io.File(...).toPath() sidesteps Paths.get's varargs
            # signature, which py4j cannot bind
            file = _class(spark, "java.io.File")
            _class(spark, "java.nio.file.Files").createLink(
                file(final_p.toUri().getPath()).toPath(),
                file(fs.makeQualified(tmp_p).toUri().getPath()).toPath(),
            )
            return True
        except Py4JJavaError as e:
            cls = e.java_exception.getClass().getName()
            if cls.endswith((".FileAlreadyExistsException", ".NoSuchFileException")):
                return False
            raise
    finally:
        fs.delete(tmp_p, False)


def copy_replace(spark: SparkSession, src: str, dst: str) -> None:
    """Copy file or directory ``src`` to ``dst``, replacing whatever is
    there (a plain copy into an existing directory would nest ``src``
    under it and keep stale files). The copy is bare, like the exports
    it archives: no checksum sidecars appear at ``dst``."""
    conf = spark._jsc.hadoopConfiguration()
    fs, src_p = _fs(spark, src)
    dfs, dst_p = _fs(spark, dst)
    dfs.delete(dst_p, True)
    _class(spark, "org.apache.hadoop.fs.FileUtil").copy(
        fs, src_p, _bare(spark, dfs), dst_p, False, True, conf
    )
