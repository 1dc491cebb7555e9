"""Filesystem abstraction for index-root I/O.

Every publish/lock/GC primitive the engine needs (exists, rename, recursive
delete, listdir, small-file read/write, exclusive-create) goes through one
object so the index root can live on any filesystem Spark itself can write:

* plain local paths (and ``file:`` URIs) use ``os``/``shutil`` directly;
* URI paths (``hdfs://``, ``s3a://``, ``abfs://``, ...) route through the
  JVM Hadoop FileSystem that is already on Spark's classpath — the same
  connector the DataFrame writer uses, so no extra dependency.

Atomicity notes (the engine's publish protocol is rename-based):
* local POSIX rename and HDFS rename are atomic — readers never observe a
  half-written table;
* object stores without atomic rename (S3A) copy on rename: the publish is
  still correct single-writer (the build lock serialises writers) but a
  concurrent reader may observe a missing-table window. Deployments that
  need atomic publish on S3 put the index root on HDFS/EFS or front the
  swap with a catalog pointer.

Reference parity: the reference stores state in Postgres rows
(model.py:92-127) and delegates file handling to CKAN; a Spark-native
engine owns its storage layout, so it owns the filesystem protocol too.
"""

from __future__ import annotations

import json
import os
import shutil
import time


def _lp(path: str) -> str:
    """Plain-OS form of a possibly ``file:``-scheme URI.

    Spark writes tables happily through ``file:///x`` paths, but the
    engine's own os/shutil bookkeeping (meta, lock, publish renames) must
    address the same bytes on disk — without stripping the scheme, a
    ``file:`` root would grow a literal ``./file:/...`` tree next to the
    real one and the engine would treat its own tables as absent
    (ADVICE r2, fsio.py:39)."""
    if path.startswith("file:"):
        from urllib.parse import urlparse

        parsed = urlparse(path)
        return parsed.path or path
    return path


#: The Parquet write policy of every table the index keeps after a commit,
#: passed on the writer (the caller's session conf is left alone). zstd
#: pages: snappy does no entropy coding, so hex digests and term strings
#: stayed near raw size. No statistics on the segments' ``blob`` column:
#: min/max of a blob prunes nothing and filled most of each footer.
#: ``term`` keeps its statistics for row-group pruning. Parquet records
#: the codec per file, so tables written under another policy still read.
PARQUET_WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.column.statistics.enabled#blob": "false",
}


def write_table(
    df, path: str, mode: str = "overwrite", partition_by: str | None = None
) -> None:
    """Write ``df`` as a Parquet table under :data:`PARQUET_WRITE_OPTIONS`."""
    w = df.write.mode(mode).options(**PARQUET_WRITE_OPTIONS)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


class FsIO:
    """Minimal filesystem ops bound to one root's scheme."""

    def __init__(self, spark, root: str):
        self.root = root
        self.is_local = "://" not in root or root.startswith("file:")
        if not self.is_local:
            jvm = spark._jvm
            self._jvm = jvm
            self._gateway = spark.sparkContext._gateway
            hconf = spark._jsc.hadoopConfiguration()
            self._hconf = hconf
            self._jfs = jvm.org.apache.hadoop.fs.FileSystem.get(
                jvm.java.net.URI(root), hconf
            )
            self._jpath = jvm.org.apache.hadoop.fs.Path

    # -- predicates ---------------------------------------------------------

    def exists(self, path: str) -> bool:
        if self.is_local:
            return os.path.exists(_lp(path))
        return self._jfs.exists(self._jpath(path))

    def isdir(self, path: str) -> bool:
        if self.is_local:
            return os.path.isdir(_lp(path))
        p = self._jpath(path)
        return self._jfs.exists(p) and self._jfs.getFileStatus(p).isDirectory()

    def mtime(self, path: str) -> float:
        if self.is_local:
            return os.path.getmtime(_lp(path))
        return self._jfs.getFileStatus(self._jpath(path)).getModificationTime() / 1e3

    # -- directory ops --------------------------------------------------------

    def listdir(self, path: str) -> list[str]:
        if self.is_local:
            return os.listdir(_lp(path))
        return [
            st.getPath().getName() for st in self._jfs.listStatus(self._jpath(path))
        ]

    def makedirs(self, path: str) -> None:
        if self.is_local:
            os.makedirs(_lp(path), exist_ok=True)
        else:
            self._jfs.mkdirs(self._jpath(path))

    def rename(self, src: str, dst: str) -> None:
        """Atomic on POSIX and HDFS; copy-on-rename on S3A (see module doc)."""
        if self.is_local:
            os.rename(_lp(src), _lp(dst))
        elif not self._jfs.rename(self._jpath(src), self._jpath(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def rmtree(self, path: str) -> None:
        if self.is_local:
            shutil.rmtree(_lp(path), ignore_errors=True)
        else:
            try:
                self._jfs.delete(self._jpath(path), True)
            except Exception:
                pass

    def copytree(self, src: str, dst: str) -> None:
        """Recursive copy of a file or directory (snapshot/backup
        primitive). Local roots use shutil; URI roots use Hadoop
        FileUtil.copy through the same FileSystem the engine publishes
        with — a snapshot is just bytes, no Spark job."""
        if self.is_local:
            s, d = _lp(src), _lp(dst)
            if os.path.isdir(s):
                shutil.copytree(s, d, dirs_exist_ok=True)
            else:
                os.makedirs(os.path.dirname(d), exist_ok=True)
                shutil.copy2(s, d)
        else:
            ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
                self._jfs, self._jpath(src),
                self._jfs, self._jpath(dst),
                False, True, self._jfs.getConf(),
            )
            if not ok:
                raise OSError(f"copy failed: {src} -> {dst}")

    def unlink(self, path: str) -> None:
        if self.is_local:
            try:
                os.unlink(_lp(path))
            except OSError:
                pass
        else:
            try:
                self._jfs.delete(self._jpath(path), False)
            except Exception:
                pass

    # -- small control files (index_meta.json, lock) -------------------------

    def read_text(self, path: str) -> str | None:
        if self.is_local:
            try:
                with open(_lp(path)) as f:
                    return f.read()
            except OSError:
                return None
        try:
            stream = self._jfs.open(self._jpath(path))
        except Exception:
            return None
        try:
            try:
                # one JVM call for the whole file (commons-io ships on
                # Spark's classpath); the old per-byte stream.read()
                # loop cost one Py4J round-trip PER BYTE — thousands of
                # RPCs for a few-KB meta file (code-review r5 finding)
                return self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            except Exception:
                out = bytearray()
                while True:
                    b = stream.read()
                    if b < 0:
                        break
                    out.append(b)
                return out.decode("utf-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        if self.is_local:
            lpath = _lp(path)
            tmp = lpath + ".tmp"
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, lpath)
            return
        tmp = self._jpath(path + ".tmp")
        stream = self._jfs.create(tmp, True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        dst = self._jpath(path)
        try:
            # FileContext.rename(OVERWRITE) is the ATOMIC
            # replace-existing rename on HDFS; the fallback's
            # delete-then-rename leaves a window where a crash loses
            # index_meta.json entirely (and a concurrent reader sees
            # an 'empty' index) — code-review r5 finding
            jvm = self._jvm
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._jfs.getUri(), self._jfs.getConf()
            )
            rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
            arr = self._gateway.new_array(rename_cls, 1)
            arr[0] = rename_cls.OVERWRITE
            fc.rename(tmp, dst, arr)
            return
        except Exception:
            pass  # connector without FileContext: non-atomic fallback
        self._jfs.delete(dst, False)
        if not self._jfs.rename(tmp, dst):
            raise OSError(f"meta publish failed: {path}")

    def create_excl(self, path: str, text: str) -> bool:
        """Create `path` only if absent, write `text`; False if it exists.
        Local: O_CREAT|O_EXCL. Hadoop: FileSystem.create(overwrite=false)
        (atomic on HDFS; last-writer-wins race window on raw S3A)."""
        if self.is_local:
            try:
                fd = os.open(_lp(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "w") as f:
                f.write(text)
            return True
        try:
            stream = self._jfs.create(self._jpath(path), False)
        except Exception:
            return False
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        return True

    def has_part_files(self, path: str) -> bool:
        """True if a parquet dir has at least one data file (an all-empty
        partitioned write leaves only _SUCCESS — unreadable schema)."""
        if self.is_local:
            for _, _, files in os.walk(_lp(path)):
                if any(f.endswith(".parquet") for f in files):
                    return True
            return False
        try:
            it = self._jfs.listFiles(self._jpath(path), True)
        except Exception:
            return False
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def parquet_data_bytes(self, path: str) -> int:
        """Uncompressed bytes of the column data of every parquet file
        under ``path``, summed over the row groups of their footers: the
        size of the table once decoded into memory. No data page is
        read."""
        if self.is_local:
            import pyarrow.parquet as pq

            total = 0
            for dirpath, _, files in os.walk(_lp(path)):
                for fn in files:
                    if fn.endswith(".parquet"):
                        md = pq.read_metadata(os.path.join(dirpath, fn))
                        total += sum(
                            md.row_group(i).total_byte_size
                            for i in range(md.num_row_groups)
                        )
            return total
        hadoop = self._jvm.org.apache.parquet.hadoop
        total = 0
        it = self._jfs.listFiles(self._jpath(path), True)
        while it.hasNext():
            st = it.next()
            if not st.getPath().getName().endswith(".parquet"):
                continue
            reader = hadoop.ParquetFileReader.open(
                hadoop.util.HadoopInputFile.fromStatus(st, self._hconf)
            )
            try:
                total += sum(
                    b.getTotalByteSize()
                    for b in reader.getFooter().getBlocks()
                )
            finally:
                reader.close()
        return total

    def tree_size(self, path: str) -> int:
        """Total bytes under `path` (0 if absent)."""
        if self.is_local:
            total = 0
            for dirpath, _, files in os.walk(_lp(path)):
                for fn in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, fn))
                    except OSError:
                        pass
            return total
        try:
            return int(
                self._jfs.getContentSummary(self._jpath(path)).getLength()
            )
        except Exception:
            return 0

    # -- composite helpers ----------------------------------------------------

    def read_json(self, path: str) -> dict | None:
        text = self.read_text(path)
        return json.loads(text) if text else None

    def age_sec(self, path: str) -> float | None:
        try:
            return time.time() - self.mtime(path)
        except Exception:
            return None
