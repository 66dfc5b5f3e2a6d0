"""Bucketed tables: write once, probe many times with bucket pruning.

:class:`BucketedIndex` owns every bucketed table the engine writes: its
catalog name and location, the one write path (overwrite and append),
the build-once reuse of a warm table, the cloned probe session, and the
bucket-pruning guard. There are two kinds of table:

- :meth:`BucketedIndex.build_once` tables live in ``index_dir`` and are
  named by the path and data fingerprint of their source, so an in-place
  rewrite of the source mints a new name (and a rebuild) instead of
  reusing a stale table. Superseded fingerprints of the same source are
  dropped when the new one is built. The catalog of a ``get_spark``
  session is in-memory, so a warm table is reused within one process.
- :meth:`BucketedIndex.per_call` tables are rebuilt by every call and
  live in their own ``scratch_dir``, which is process-unique, so two
  processes never delete files under each other's readers.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..session import index_dir, scratch_dir
from ..sources.tables import _data_fingerprint


# a bucketed FileScan's metadata: "SelectedBucketsCount: 3 out of 16"
_SELECTED_BUCKETS = re.compile(r"SelectedBucketsCount: (\d+) out of (\d+)")


def _md8(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:8]


class BucketedIndex:
    """A table of ``n`` buckets hashed and sorted on ``key``, optionally
    partitioned by ``partition_by``."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        path: str,
        n: int,
        key: str,
        partition_by: str | None = None,
        family: str | None = None,
    ):
        self.spark = spark
        self.name = name
        self.path = path
        self.n = n
        self.key = key
        self.partition_by = partition_by
        # name prefix shared by every fingerprint of one build-once
        # source; None for per-call tables, which never GC siblings
        self._family = family

    @classmethod
    def build_once(
        cls, spark: SparkSession, prefix: str, source: str, n: int, key: str
    ) -> "BucketedIndex":
        """The warm table over the data at ``source``, in ``index_dir``,
        named ``<prefix>_<path tag>_<fingerprint tag>``."""
        family = f"{prefix}_{_md8(source)}_"
        fingerprint, _ = _data_fingerprint(spark, source)
        name = family + _md8("|".join(fingerprint))
        return cls(spark, name, index_dir(name), n, key, family=family)

    @classmethod
    def per_call(
        cls,
        spark: SparkSession,
        prefix: str,
        n: int,
        key: str,
        partition_by: str | None = None,
    ) -> "BucketedIndex":
        """A table rebuilt by this call, in a fresh ``scratch_dir``."""
        path = scratch_dir(prefix)
        return cls(spark, os.path.basename(path), path, n, key, partition_by)

    def _write(self, df: DataFrame, mode: str) -> None:
        # repartitioning by the bucket key (murmur3 mod n, exactly
        # Spark's bucket id) makes each task write one file per bucket
        # instead of one per (bucket, input task)
        w = df.repartition(self.n, self.key).write
        if self.partition_by is not None:
            w = w.partitionBy(self.partition_by)
        (
            w.bucketBy(self.n, self.key)
            .sortBy(self.key)
            .option("path", self.path)
            .mode(mode)
            .saveAsTable(self.name)
        )

    def overwrite(self, df: DataFrame) -> "BucketedIndex":
        """Replace the table and its files with ``df``."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self.name}")
        shutil.rmtree(self.path, ignore_errors=True)
        self._write(df, "overwrite")
        return self

    def append(self, df: DataFrame) -> "BucketedIndex":
        """Add ``df`` as new per-bucket files; existing files are never
        rewritten."""
        self._write(df, "append")
        return self

    def ensure(self, build: Callable[[], DataFrame]) -> "BucketedIndex":
        """Write the table from ``build()`` unless this session already
        holds it; a warm call reads no source data."""
        if not self._held():
            self._drop_superseded()
            self.overwrite(build())
        return self

    def _held(self) -> bool:
        """The catalog has the table and reads exactly the files at its
        own location: a view or foreign table squatting on the name, or
        files deleted or replaced on disk, mean a rebuild."""
        if not self.spark.catalog.tableExists(self.name):
            return False
        on_disk = self.files()
        read = sorted(
            unquote(urlparse(f).path)
            for f in self.spark.table(self.name).inputFiles()
        )
        return bool(on_disk) and read == on_disk

    def _drop_superseded(self) -> None:
        """Drop the tables and dirs of this source's other fingerprints:
        they hold superseded data, so nothing can validly read them.
        Best-effort: a concurrent process may own an entry we drop."""
        if self._family is None:
            return
        root = os.path.dirname(self.path)

        def stale(name: str) -> bool:
            return name.startswith(self._family) and name != self.name

        try:
            for t in self.spark.catalog.listTables():
                if stale(t.name):
                    self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        except Exception:
            pass
        try:
            for name in os.listdir(root):
                if stale(name):
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except OSError:
            pass

    def files(self) -> list:
        """The table's parquet files, partition dirs included."""
        return sorted(
            os.path.join(d, f)
            for d, _, names in os.walk(self.path)
            for f in names
            if f.endswith(".parquet")
        )

    def probe(self, broadcast: bool = True) -> DataFrame:
        """The table read through a cloned session (shared catalog, own
        SQLConf) with ``autoBucketedScan`` off: the planner's auto-disable
        rule only looks at downstream distribution needs, so a
        filter-only probe would silently lose the bucketed scan and its
        pruning. ``broadcast=False`` also turns broadcast joins off, so
        a join on the key takes the bucket-colocated sort-merge path it
        would take at full scale."""
        s2 = self.spark.newSession()
        s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        if not broadcast:
            s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        return s2.table(self.name)

    def pruned(self, frame: DataFrame, who: str) -> DataFrame:
        """Return ``frame`` if every scan of this table in its physical
        plan reads fewer buckets than the table has; raise otherwise,
        naming ``who``. An unpruned bucketed scan still prints
        ``SelectedBucketsCount`` ("16 out of 16"), so the counts are
        compared, not just found."""
        plan = frame._jdf.queryExecution().executedPlan().toString()
        table = f".{self.name}[".lower()
        scans = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln and table in ln.lower()
        ]
        counts = [_SELECTED_BUCKETS.search(ln) for ln in scans]
        if not scans or not all(m and int(m[1]) < int(m[2]) for m in counts):
            selected = [m[0] if m else "not bucketed" for m in counts]
            raise RuntimeError(
                f"{who}: bucket pruning did not engage on {self.name} "
                f"(scans: {selected or 'none'})"
            )
        return frame
