"""Filesystem-agnostic path I/O through the Hadoop FileSystem API.

Resumable 100 TB jobs write to hdfs:// or s3a://, not the driver's local
disk — so lineage manifests, stale-bucket cleanup and parquet footer reads
must go through the same filesystem abstraction Spark itself writes
through. ``FsPath`` wraps ``org.apache.hadoop.fs.FileSystem`` (reached via
the session JVM), which resolves file://, hdfs://, s3a://, etc. uniformly
from the same Hadoop configuration the executors use. Scheme-less paths
resolve against ``fs.defaultFS`` exactly like a ``DataFrame.write`` path.

Small-object reads/writes (JSON manifests) round-trip whole byte arrays
over py4j; parquet footer reads use positional ``readFully`` through a
seekable file-like handed to pyarrow, so only the footer bytes ever cross
the wire — no data re-scan on any filesystem.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession


class _JvmFile:
    """Minimal seekable read-only file over an FSDataInputStream, shaped
    for ``pyarrow.PythonFile`` (read/seek/tell/size/close). Reads are
    positional (``readFully``) so pyarrow's footer-then-row-group access
    pattern costs exactly the bytes it asks for."""

    def __init__(self, fs, jvm, jpath):
        self._fs = fs
        self._jvm = jvm
        self._size = fs.getFileStatus(jpath).getLen()
        self._in = fs.open(jpath)
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self._size + offset
        return self._pos

    def read(self, nbytes: int = -1) -> bytes:
        if nbytes is None or nbytes < 0:
            nbytes = self._size - self._pos
        nbytes = max(0, min(nbytes, self._size - self._pos))
        if nbytes == 0:
            return b""
        # py4j passes primitive arrays BY VALUE (a readFully(buf) call
        # would mutate a JVM-side copy we never see) — use an API that
        # RETURNS the bytes instead: byte[] return values convert to
        # Python bytes. commons-io ships on Spark's classpath.
        self._in.seek(self._pos)
        data = bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(
            self._in, nbytes))
        self._pos += nbytes
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def flush(self) -> None:
        pass

    def close(self) -> None:
        if not self.closed:
            self._in.close()
            self.closed = True


class FsPath:
    """A path on whatever filesystem its scheme names, with the small set
    of operations lineage/metadata bookkeeping needs. The Hadoop
    ``FileSystem`` handle and ``Path`` class are resolved once per root and
    shared by children."""

    def __init__(self, spark: "SparkSession", path: str):
        jvm = spark._jvm
        Path = jvm.org.apache.hadoop.fs.Path
        jpath = Path(str(path))
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        # fully qualified (scheme + authority resolved) — what Spark sees
        self._set(jvm, Path, fs, fs.makeQualified(jpath))

    def _set(self, jvm, Path, fs, jpath) -> None:
        """The one place an FsPath's state is assigned, for ``__init__``
        and ``child`` alike."""
        self._jvm, self._Path, self._fs, self._jpath = jvm, Path, fs, jpath
        self._str = None

    def __str__(self) -> str:
        if self._str is None:
            self._str = self._jpath.toString()
        return self._str

    @property
    def name(self) -> str:
        return self._jpath.getName()

    def child(self, name: str) -> "FsPath":
        """``<self>/<name>`` in one py4j call: the parent is qualified, so
        the child parsed from its string is too."""
        c = object.__new__(FsPath)
        c._set(self._jvm, self._Path, self._fs, self._Path(f"{self}/{name}"))
        return c

    def exists(self) -> bool:
        return bool(self._fs.exists(self._jpath))

    def size(self) -> int:
        return int(self._fs.getFileStatus(self._jpath).getLen())

    def mkdirs(self) -> None:
        self._fs.mkdirs(self._jpath)

    def delete_recursive(self) -> bool:
        if not self.exists():
            return False
        return bool(self._fs.delete(self._jpath, True))

    def list_names(self, pattern: str = "*") -> list[str]:
        """Names of direct children matching a Hadoop glob pattern.

        Only a null globStatus (nonexistent parent) maps to [] — real I/O
        errors PROPAGATE. Swallowing them would convert a transient
        hdfs/s3a failure into "no files", and for the lineage layer that
        silent empty answer is the difference between "resume correctly"
        and "skip the stale-dir sweep / recompute everything"."""
        glob = self._Path(f"{self}/{pattern}")
        statuses = self._fs.globStatus(glob)
        if statuses is None:
            return []
        return sorted(s.getPath().getName() for s in statuses)

    def rename(self, dst: "FsPath") -> bool:
        """Filesystem rename — the atomic commit primitive on file:// and
        hdfs:// (object stores degrade to copy+delete; Iceberg's own
        hadoop-catalog carries the same caveat)."""
        return bool(self._fs.rename(self._jpath, dst._jpath))

    def read_bytes(self) -> bytes:
        stream = self._fs.open(self._jpath)
        try:
            out = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, out, 65536, False)
            return bytes(out.toByteArray())
        finally:
            stream.close()

    def read_text(self) -> str:
        return self.read_bytes().decode("utf-8")

    def write_bytes(self, data: bytes) -> None:
        """Create/overwrite with the given content. Hadoop's create() is
        the same primitive Spark's committers use; on rename-consistent
        stores the close() makes the object visible atomically."""
        stream = self._fs.create(self._jpath, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def write_text(self, text: str) -> None:
        self.write_bytes(text.encode("utf-8"))

    def open_seekable(self) -> _JvmFile:
        return _JvmFile(self._fs, self._jvm, self._jpath)

    def parquet_file_rows(self) -> int:
        """Footer ``num_rows`` of THIS parquet file — metadata-only:
        pyarrow seeks straight to the footer through the positional-read
        file-like, so no data pages are transferred."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        raw = self.open_seekable()
        try:
            return pq.ParquetFile(
                pa.PythonFile(raw, mode="r")).metadata.num_rows
        finally:
            raw.close()
