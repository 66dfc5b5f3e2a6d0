"""The one reader for the ten driver-generated test tables.

Reference parity: the reference's sources are Flink
``readCsvFile(...).fieldDelimiter(" ")`` point/centroid readers and an
embedded-collection fallback (``KMeans.java`` / ``KMeansData.java``
[EXPECTED], SURVEY.md §2A A1–A3). Our engine-native at-rest format is
Parquet (columnar scan + predicate pushdown + column pruning are free);
a whitespace-CSV reader is kept in :func:`read_points_csv` for parity
with the reference CLI surface.

Every read of a table, batch (:func:`load_table`) or streaming
(:func:`stream_table`), goes through this module, which owns the
table's path, its layout (one file or a directory of part files), its
raw parquet schema and ``ensure_conf``. The raw schema is inferred once
per data fingerprint and every later read is planned with it, so a warm
read launches no schema-inference job.

The one piece of genuine normalization lives here, NOT in every
operator: ``events.ts`` is Parquet TIMESTAMP(NANOS) in some testdata
generations, which Spark 4 only reads with
``spark.sql.legacy.parquet.nanosAsLong=true`` (as int64 nanoseconds).
Both readers convert it to a µs TimestampType with integer division
(``ts div 1000`` — float division would lose precision on ~1.7e18 ns
epoch values), matching DuckDB's native ns→µs truncation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_conf

TABLES = (
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
)

# Point schema for the reference-parity CSV source (2-D canonical points;
# n-D comes from the parquet embeddings table).
POINT_CSV_SCHEMA = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)
CENTROID_CSV_SCHEMA = T.StructType(
    [
        T.StructField("cid", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]
)


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Parallelize the map stage after an unsplittable scan (guide §2.5:
    "one huge unsplittable file … repartition immediately after the
    read").

    A single-row-group parquet file yields a ONE-TASK scan, so every
    map-side expression before the first Exchange (shingling, per-token
    md5 folds, per-position rolling hashes) runs on one core no matter
    how many the host has. For operators whose pre-Exchange work is
    compute-heavy, a deterministic hash repartition on ``key`` spreads
    that work across ``defaultParallelism`` cores at the cost of one
    tiny exchange of the raw rows (measured dedup_cdc_chunks at sf0.1:
    2.63 s → 0.71 s).

    Scale-adaptive by construction: it is a NO-OP whenever the input
    already has reasonable parallelism (≥ defaultParallelism/4
    partitions) — at production scale a 100 TB table scan has thousands
    of splits, so no corpus-sized shuffle is ever added; only the
    degenerate few-partition scan is rescued. Hash-on-column (never
    keyless round-robin) keeps the row→partition mapping deterministic
    under task retry (guide §2.5 / SPARK-38388).

    Streaming inputs pass through untouched: a readStream source has no
    static partition count to inspect (``df.rdd`` is illegal there), and
    micro-batch parallelism is the stream source's concern."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 4 >= target:
        return df
    return df.repartition(target, F.col(key))


def table_path(sf_dir: str, name: str) -> str:
    """Where table ``name`` lives under ``sf_dir``: ``<name>.parquet``,
    either one file or a directory of part files."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return f"{sf_dir}/{name}.parquet"


def _data_fingerprint(spark: SparkSession, path: str) -> tuple[list, bool]:
    """``(fingerprint, is_dir)`` of a data path: one file-status lookup
    tells both whether it changed and whether it is a directory. The
    fingerprint is ``length:modificationTime`` for a file and the
    sorted ``name:length:modificationTime`` of its entries for a
    directory, so an in-place rewrite changes it; it is empty when the
    path is missing. Resolved through the Hadoop FileSystem API so it
    works on any scheme the session can read (s3a://, hdfs://, file:),
    where ``os.stat`` would see nothing off the local filesystem; the
    local os.stat fallback runs only if the JVM call is unavailable."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return [], False
        st = fs.getFileStatus(jpath)
        if st.isDirectory():
            parts = [
                f"{s.getPath().getName()}:{s.getLen()}:{s.getModificationTime()}"
                for s in fs.listStatus(jpath)
            ]
            return sorted(parts), True
        return [f"{st.getLen()}:{st.getModificationTime()}"], False
    except Exception:
        pass
    local = path.removeprefix("file:")
    if os.path.isdir(local):
        return sorted(
            f"{name}:{os.stat(os.path.join(local, name)).st_size}:"
            f"{os.stat(os.path.join(local, name)).st_mtime_ns}"
            for name in os.listdir(local)
        ), True
    if os.path.exists(local):
        st = os.stat(local)
        return [f"{st.st_size}:{st.st_mtime_ns}"], False
    return [], False


# Raw parquet schema per (table path, fingerprint). Inferring a schema
# launches a Spark job on every read; a read planned with a known
# schema launches none. A rewritten table has a new fingerprint, so its
# schema is inferred again.
_RAW_SCHEMAS: dict = {}


def _raw_table(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """``(path, raw schema, is_dir)`` of table ``name``, after
    ``ensure_conf`` (the raw schema of ``events.ts`` depends on it)."""
    ensure_conf(spark)
    path = table_path(sf_dir, name)
    fingerprint, is_dir = _data_fingerprint(spark, path)
    key = (path, tuple(fingerprint))
    raw = _RAW_SCHEMAS.get(key)
    if raw is None:
        raw = _RAW_SCHEMAS[key] = spark.read.parquet(path).schema
    return path, raw, is_dir


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; events gets the ns-timestamp normalization."""
    path, raw, _ = _raw_table(spark, sf_dir, name)
    df = spark.read.schema(raw).parquet(path)
    return _normalize_event_ts(df) if name == "events" else df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one table, with the batch reader's
    schema and normalization.

    The file-source basePath must be a directory. A one-file table is
    selected out of ``sf_dir`` with a leaf glob; a directory table is
    streamed from the directory itself, because a leaf-name glob
    matches none of its part files and the stream would be empty."""
    path, raw, is_dir = _raw_table(spark, sf_dir, name)
    if is_dir:
        df = spark.readStream.schema(raw).parquet(path)
    else:
        df = (
            spark.readStream.schema(raw)
            .option("pathGlobFilter", os.path.basename(path))
            .parquet(sf_dir)
        )
    return _normalize_event_ts(df) if name == "events" else df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a µs TimestampType regardless of the
    at-rest parquet encoding. Two encodings exist across driver testdata
    generations: TIMESTAMP(NANOS) (read as int64 ns under the
    ``nanosAsLong`` conf — convert with integer division, float division
    would lose precision on ~1.7e18 ns epochs) and plain TIMESTAMP(µs)
    (read as TIMESTAMP_NTZ — cast to TimestampType; the session timezone
    is pinned to UTC by ``ensure_conf``, so the cast is value-preserving
    and epoch-µs projections still agree with DuckDB's naive-as-UTC
    reading). TIMESTAMP_NTZ must not leak downstream: event-time
    watermarks reject it (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    Dtype-dispatch here keeps every downstream operator agnostic to the
    file encoding."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the spark.sql path."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_points_csv(spark: SparkSession, path: str, sep: str = " ") -> DataFrame:
    """Reference-parity source: whitespace-delimited (x, y) text files
    (``readCsvFile(path).fieldDelimiter(" ")`` [EXPECTED] — SURVEY §2A A1)."""
    return spark.read.csv(path, schema=POINT_CSV_SCHEMA, sep=sep)


def read_centroids_csv(spark: SparkSession, path: str, sep: str = " ") -> DataFrame:
    """Reference-parity source: (id, x, y) text files (SURVEY §2A A2)."""
    return spark.read.csv(path, schema=CENTROID_CSV_SCHEMA, sep=sep)


def from_collection(spark: SparkSession, rows, schema) -> DataFrame:
    """Reference-parity embedded-collection source
    (``env.fromCollection(KMeansData.POINTS)`` [EXPECTED] — SURVEY §2A A3)."""
    return spark.createDataFrame(rows, schema=schema)
