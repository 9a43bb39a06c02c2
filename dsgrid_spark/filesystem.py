"""Filesystem interface: local paths and Hadoop-FS URIs (object stores).

Mirrors the reference's filesystem abstraction (reference
dsgrid/filesystem/filesystem_interface.py, local_filesystem.py,
s3_filesystem.py:118, cloud/s3_storage_interface.py) re-expressed over
Spark's own Hadoop FileSystem layer instead of boto3: every scheme Spark
can read parquet from (file://, hdfs://, s3a://, gs://, abfss://) gets
metadata/text IO through the SAME JVM connector and credential chain the
parquet scans use — no second cloud SDK, no separate auth path.

Users: the registry (``registry/store.py``, ``registry/locking.py``),
``sources.writers.compact_parquet``, the CLI, and every persisted index
under ``pipeline/`` — batch logs, meta/stats rows, intents, locks,
generation tables, fsck/vacuum listings and the index mirror all touch
storage only through this interface (the one exception is
``pipeline/indexsync._copy_tree``'s cross-scheme bulk copy, which
:meth:`FilesystemInterface.copy_tree` leaves out of scope).
:func:`filesystem_for` is the one place that maps a path to an
implementation.

Usage for an object-store deployment::

    spark.conf.set("spark.hadoop.fs.s3a.endpoint", "https://minio.internal:9000")
    spark.conf.set("spark.hadoop.fs.s3a.path.style.access", "true")
    fs = filesystem_for(spark, "s3a://bucket/registry")
    fs.write_text("s3a://bucket/registry/registry.json", index_json)

Object stores offer no atomic flock; multi-writer registry mutation over
s3a:// is serialized by the lock-file protocol in
``dsgrid_spark.registry.locking`` (uuid + TTL lock files built on
``create_exclusive`` below, matching the reference's S3 registry lock
files — cloud/s3_storage_interface.py:49-134 — with a stronger
create-exclusive + read-back handshake instead of check-then-write).
Reads and version-immutable data dirs are safe without locks because
version directories are never rewritten.
"""

from __future__ import annotations

import errno
import glob as _glob
import os
import shutil
import stat
import weakref
from abc import ABC, abstractmethod
from pathlib import Path
from typing import NamedTuple
from urllib.parse import urlparse


class FileStatus(NamedTuple):
    """One :meth:`FilesystemInterface.glob` match."""

    path: str
    is_dir: bool
    mtime_ms: int

    @property
    def name(self) -> str:
        return self.path.rstrip("/").rsplit("/", 1)[-1]


class FilesystemInterface(ABC):
    """Reference filesystem_interface.py surface, trimmed to what the
    registry and the index pipeline need. ``read_bytes``/``write_bytes``
    are each implementation's one IO primitive; text IO wraps them."""

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def mkdirs(self, path: str) -> None: ...

    @abstractmethod
    def listdir(self, path: str) -> list[str]: ...

    @abstractmethod
    def rm_tree(self, path: str) -> None:
        """Delete a file or a directory tree; a missing path is a
        no-op."""
        ...

    @abstractmethod
    def rename(self, src: str, dst: str) -> bool:
        """Move ``src`` to ``dst``; False (nothing moved) when ``src``
        is missing or ``dst`` is a non-empty directory."""
        ...

    @abstractmethod
    def read_bytes(self, path: str) -> bytes: ...

    @abstractmethod
    def write_bytes(self, path: str, data: bytes) -> None:
        """Create or truncate ``path`` (parent dirs included)."""
        ...

    @abstractmethod
    def glob(self, pattern: str) -> list[FileStatus]:
        """Matches of a ``*``/``[...]`` pattern, sorted by path; a
        wildcard never matches a name starting with ``.`` (hidden temp
        files and Hadoop checksum files) unless the pattern component
        itself starts with ``.``. No match -> ``[]``."""
        ...

    @abstractmethod
    def list_sizes(self, path: str) -> list[tuple[str, int]]:
        """Recursive (path relative to ``path``, bytes) listing of DATA
        files, sorted — names starting with '_' or '.' (markers,
        checksums, staging) are skipped, matching what Spark's readers
        ignore. A missing path lists as ``[]``."""
        ...

    @abstractmethod
    def copy_tree(self, src: str, dst: str) -> None:
        """Recursive copy within this filesystem. Cross-scheme copies
        (local → s3a) are a bulk-transfer job (distcp / cloud CLI), not a
        metadata op — out of scope here."""
        ...

    @abstractmethod
    def create_exclusive(self, path: str, text: str = "") -> bool:
        """Create ``path`` with ``text`` ONLY if it does not exist;
        returns False (without writing) when it already does. Atomic on
        local/HDFS; best-effort on object stores whose create is
        last-writer-wins — callers needing a hard guarantee must verify
        by reading back (see registry/locking.py)."""
        ...

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def write_text(self, path: str, text: str) -> None:
        self.write_bytes(path, text.encode("utf-8"))


class LocalFilesystem(FilesystemInterface):
    """Plain-path implementation (reference local_filesystem.py)."""

    def _p(self, path: str) -> Path:
        parsed = urlparse(str(path))
        return Path(parsed.path if parsed.scheme == "file" else str(path))

    def exists(self, path: str) -> bool:
        return self._p(path).exists()

    def mkdirs(self, path: str) -> None:
        self._p(path).mkdir(parents=True, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return sorted(p.name for p in self._p(path).iterdir())

    def rm_tree(self, path: str) -> None:
        p = self._p(path)
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()
            # a file Spark wrote through Hadoop's checksummed local FS
            # has a hidden .<name>.crc sibling, which a Hadoop delete
            # removes with it
            p.with_name(f".{p.name}.crc").unlink(missing_ok=True)

    def rename(self, src: str, dst: str) -> bool:
        try:
            os.replace(self._p(src), self._p(dst))
        except (FileNotFoundError, IsADirectoryError, NotADirectoryError):
            return False
        except OSError as e:
            if e.errno in (errno.ENOTEMPTY, errno.EEXIST):
                return False
            raise
        return True

    def read_bytes(self, path: str) -> bytes:
        return self._p(path).read_bytes()

    def write_bytes(self, path: str, data: bytes) -> None:
        p = self._p(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)

    def glob(self, pattern: str) -> list[FileStatus]:
        out = []
        for p in sorted(_glob.glob(str(self._p(pattern)))):
            try:
                st = os.stat(p)
            except FileNotFoundError:  # deleted since the listing
                continue
            out.append(FileStatus(p, stat.S_ISDIR(st.st_mode),
                                  st.st_mtime_ns // 1_000_000))
        return out

    def list_sizes(self, path: str) -> list[tuple[str, int]]:
        root = self._p(path)
        out = []
        for p in root.rglob("*"):
            if p.is_file() and not p.name.startswith(("_", ".")):
                out.append((p.relative_to(root).as_posix(),
                            p.stat().st_size))
        return sorted(out)

    def copy_tree(self, src: str, dst: str) -> None:
        s, d = self._p(src), self._p(dst)
        d.parent.mkdir(parents=True, exist_ok=True)
        if s.is_dir():
            shutil.copytree(s, d)
        else:
            shutil.copy2(s, d)

    def create_exclusive(self, path: str, text: str = "") -> bool:
        p = self._p(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        try:
            fd = os.open(str(p), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, text.encode("utf-8"))
        finally:
            os.close(fd)
        return True


def _wildcard_hides(pattern: str, path: str) -> bool:
    """True when a wildcard component of ``pattern`` matched a
    ``.``-prefixed name in ``path`` — the Python-glob rule
    :meth:`FilesystemInterface.glob` promises, applied to Hadoop's
    globStatus (which matches such names). Glob results have one
    component per pattern component, so they align from the end."""
    pat = pattern.rstrip("/").split("/")
    got = path.rstrip("/").split("/")
    for pc, gc in zip(reversed(pat), reversed(got)):
        if (gc.startswith(".") and not pc.startswith(".")
                and any(ch in pc for ch in "*?[{")):
            return True
    return False


class HadoopFilesystem(FilesystemInterface):
    """Any Hadoop-FS scheme via the session JVM (reference
    s3_filesystem.py, minus boto3: the s3a connector Spark already scans
    parquet through serves the metadata IO too, so credentials/endpoint
    configure ONCE via spark.hadoop.fs.s3a.*).
    """

    def __init__(self, spark, root_uri: str):
        self._jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            self._jvm.java.net.URI(str(root_uri)), conf
        )

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(str(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def listdir(self, path: str) -> list[str]:
        statuses = self._fs.listStatus(self._path(path))
        return sorted(s.getPath().getName() for s in statuses)

    def rm_tree(self, path: str) -> None:
        self._fs.delete(self._path(path), True)

    def rename(self, src: str, dst: str) -> bool:
        try:
            return bool(self._fs.rename(self._path(src), self._path(dst)))
        except Exception as e:  # the local FS raises where HDFS says False
            if "FileNotFoundException" in str(e):
                return False
            raise

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._path(path))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils
                         .toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs.create(self._path(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def glob(self, pattern: str) -> list[FileStatus]:
        out = []
        for st in self._fs.globStatus(self._path(pattern)) or []:
            p = str(st.getPath().toString())
            if not _wildcard_hides(pattern, p):
                out.append(FileStatus(p, bool(st.isDirectory()),
                                      int(st.getModificationTime())))
        return sorted(out)

    def list_sizes(self, path: str) -> list[tuple[str, int]]:
        root = self._path(path)
        if not self._fs.exists(root):
            return []
        base = str(self._fs.getFileStatus(root).getPath().toString())
        it = self._fs.listFiles(root, True)
        out = []
        while it.hasNext():
            st = it.next()
            full = str(st.getPath().toString())
            if not st.getPath().getName().startswith(("_", ".")):
                out.append((full[len(base.rstrip("/")) + 1:],
                            int(st.getLen())))
        return sorted(out)

    def copy_tree(self, src: str, dst: str) -> None:
        conf = self._fs.getConf()
        self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs, self._path(src), self._fs, self._path(dst),
            False, conf,
        )

    def create_exclusive(self, path: str, text: str = "") -> bool:
        # FileSystem.create(path, overwrite=False) throws
        # FileAlreadyExistsException when the path exists — atomic on
        # HDFS; on S3A the existence check races (document at the caller).
        try:
            out = self._fs.create(self._path(path), False)
        except Exception as e:  # Py4JJavaError wrapping FileAlreadyExists
            if "AlreadyExists" in str(e) or "already exists" in str(e):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True


_LOCAL = LocalFilesystem()
#: per-session resolution state: the ``fs.defaultFS`` scheme and one
#: HadoopFilesystem per (scheme, authority)
_SESSION_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def filesystem_for(spark, root: str) -> FilesystemInterface:
    """Pick the implementation from the path's scheme (reference
    filesystem factory): file:// stays on fast local IO, any other
    scheme goes through the Hadoop connector, and a bare path resolves
    against the session's ``fs.defaultFS`` — the filesystem Spark's own
    reads and writes of that path use (local on a laptop, HDFS on an
    HDFS-default cluster). Cached per session."""
    cache = _SESSION_CACHE.setdefault(spark, {})
    u = urlparse(str(root))
    if not u.scheme:
        if "default" not in cache:
            cache["default"] = urlparse(spark._jsc.hadoopConfiguration().get(
                "fs.defaultFS", "file:///"))
        u = cache["default"]
    if u.scheme == "file":
        return _LOCAL
    key = (u.scheme, u.netloc)
    if key not in cache:
        cache[key] = HadoopFilesystem(spark, f"{u.scheme}://{u.netloc}/")
    return cache[key]
