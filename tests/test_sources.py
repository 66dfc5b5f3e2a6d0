"""The table reader: ``sources/tables.py`` owns each table's path, layout,
raw schema and ``events.ts`` normalization. A warm read launches no
schema-inference job, a table rewritten in place is read with its new
schema, both layouts stream the same rows, and a session the engine did
not build reads nanosecond timestamps on every path."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from flink_kmeans_spark.sources import load_table, stream_table
from flink_kmeans_spark.streaming.jobs import run_available_now
from test_boundary import _plain_session


def _events(sf_dir) -> pa.Table:
    return pq.read_table(os.path.join(sf_dir, "events.parquet"))


def _with_ns_ts(tbl: pa.Table) -> pa.Table:
    i = tbl.schema.get_field_index("ts")
    return tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("ns")))


def test_warm_load_table_starts_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("warm_load_table", "warm load_table")
    try:
        load_table(spark, sf_dir, "embeddings")
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("warm_load_table")) == []


def test_rewritten_table_is_read_with_its_new_schema(spark, sf_dir, tmp_path):
    src = _events(sf_dir)
    path = tmp_path / "events.parquet"
    pq.write_table(src, path)
    before = load_table(spark, str(tmp_path), "events")
    assert "props" in before.columns
    assert "props" in stream_table(spark, str(tmp_path), "events").columns
    ts_before = sorted(r.ts for r in before.select("ts").collect())

    # in place: µs → ns timestamps and one column fewer
    pq.write_table(_with_ns_ts(src.drop_columns(["props"])), path)
    after = load_table(spark, str(tmp_path), "events")
    streamed = stream_table(spark, str(tmp_path), "events")
    assert after.columns == streamed.columns == [c for c in before.columns if c != "props"]
    assert after.schema["ts"].dataType == streamed.schema["ts"].dataType
    assert after.schema["ts"].dataType == before.schema["ts"].dataType
    assert sorted(r.ts for r in after.select("ts").collect()) == ts_before


def test_directory_table_streams_the_same_rows(spark, sf_dir, tmp_path):
    """``<name>.parquet/`` of part files is streamed from the directory;
    a leaf-name glob would match none of its parts and stream nothing."""
    src = _events(sf_dir)
    one_file, as_dir = tmp_path / "one_file", tmp_path / "as_dir"
    one_file.mkdir()
    (as_dir / "events.parquet").mkdir(parents=True)
    pq.write_table(src, one_file / "events.parquet")
    half = src.num_rows // 2
    pq.write_table(src.slice(0, half), as_dir / "events.parquet" / "part-0.parquet")
    pq.write_table(src.slice(half), as_dir / "events.parquet" / "part-1.parquet")

    def streamed(d):
        out = run_available_now(
            stream_table(spark, str(d), "events"),
            f"t_layout_{d.name}",
            output_mode="append",
            skip_no_data_batch=True,
        )
        return sorted(tuple(r) for r in out.collect())

    rows = streamed(one_file)
    assert len(rows) == src.num_rows
    assert streamed(as_dir) == rows
    assert sorted(tuple(r) for r in load_table(spark, str(as_dir), "events").collect()) == rows


NS_RESUME_SCRIPT = """
from pyspark.sql import SparkSession
from flink_kmeans_spark.streaming.jobs import run_checkpoint_resume

spark = SparkSession.builder.master("local[2]").getOrCreate()
ids = sorted(r.event_id for r in run_checkpoint_resume(spark, {sf!r}).collect())
assert ids == list(range({n})), ids[:5]
spark.stop()
print("NS_RESUME_OK", flush=True)
"""


def test_checkpoint_resume_reads_nanosecond_events_in_a_plain_session(sf_dir, tmp_path):
    """A plain session has no ``nanosAsLong``: every events read must go
    through the reader's ``ensure_conf``, or TIMESTAMP(NANOS) is illegal."""
    src = _events(sf_dir)
    assert sorted(src.column("event_id").to_pylist()) == list(range(src.num_rows))
    pq.write_table(_with_ns_ts(src), tmp_path / "events.parquet")
    script = NS_RESUME_SCRIPT.format(sf=str(tmp_path), n=src.num_rows)
    assert "NS_RESUME_OK" in _plain_session(script)
