"""Structured Streaming smoke + batch-equivalence tests.

The batch result over the same files is the oracle: a file-source
stream drained with availableNow must produce exactly the batch answer.
"""

import pandas as pd
import pytest

from flink_kmeans_spark import streaming as S
from flink_kmeans_spark.plans.registry import specs
from conftest import SCRATCH_DIR


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    got = _norm(
        S.run_available_now(
            S.streaming_tumbling_counts(spark, sf_dir), "t_tumbling"
        ).toPandas()
    )
    batch = _norm(
        specs()["window_tumbling"]
        .fn(spark, sf_dir)
        .drop("total_value")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_session_equals_batch(spark, sf_dir):
    got = _norm(
        S.run_available_now(
            S.streaming_session_counts(spark, sf_dir), "t_session"
        ).toPandas()
    )
    batch = _norm(specs()["window_session"].fn(spark, sf_dir).toPandas())
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_stateful_counter_equals_batch_groupby(spark, sf_dir):
    """applyInPandasWithState final per-user state == batch GROUP BY."""
    from pyspark.sql import functions as F

    from flink_kmeans_spark.sources import load_table

    got = _norm(specs()["streaming_stateful_counter"].fn(spark, sf_dir).toPandas())
    batch = _norm(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    out = S.run_available_now(
        S.streaming_dedup_within_watermark(spark, sf_dir),
        "t_dedup",
        output_mode="append",
    ).toPandas()
    # event_id is unique in the source -> dedup is a no-op on counts,
    # and the op must not drop legitimate rows
    from flink_kmeans_spark.sources import load_table

    n = load_table(spark, sf_dir, "events").count()
    assert len(out) == n
    assert out["event_id"].is_unique


def test_streaming_late_data_dropped(spark):
    """The 00:00 window counts 2 (late 00:03 row rejected); 00:20 and
    00:50 windows emit; the watermark never passes the 02:00 window so
    it never emits."""
    from flink_kmeans_spark.plans.registry import specs

    rows = {
        r["w_start"]: r["n"]
        for r in specs()["streaming_late_data"].fn(spark, "unused").collect()
    }
    epoch = 946_684_800_000_000  # 2000-01-01 UTC µs
    m = 60_000_000
    assert rows == {epoch + 0 * m: 2, epoch + 20 * m: 1, epoch + 50 * m: 2}


def test_transform_with_state_matches_batch_when_protobuf_present(spark, sf_dir):
    """Spark 4 transformWithStateInPandas twin of the stateful counter.
    The state client needs google.protobuf (broken in this build env —
    see streaming/jobs.py docstring), so this runs only where it can."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flink_kmeans_spark.sources import load_table
    from flink_kmeans_spark.streaming.jobs import (
        run_available_now,
        streaming_user_counter_tws,
    )

    drained = run_available_now(
        streaming_user_counter_tws(spark, sf_dir), "q_tws_test", output_mode="update"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    exp = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    }
    assert got == exp


def test_rocksdb_drain_restores_session_conf(spark, sf_dir):
    """run_available_now pins the RocksDB state store for the drain
    (r7 100× probe catch #6) but must leave the caller's session conf
    exactly as it found it — both when unset and when preset."""
    key = "spark.sql.streaming.stateStore.providerClass"
    # case 1: unset before -> unset after
    try:
        spark.conf.unset(key)
    except Exception:
        pass
    S.run_available_now(
        S.streaming_tumbling_counts(spark, sf_dir), "t_conf_restore_1"
    )
    try:
        leftover = spark.conf.get(key)
    except Exception:
        leftover = None
    assert leftover is None or "RocksDB" not in str(leftover)
    # case 2: preset value survives the drain
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.HDFSBackedStateStoreProvider")
    S.run_available_now(
        S.streaming_tumbling_counts(spark, sf_dir), "t_conf_restore_2"
    )
    assert "HDFSBacked" in spark.conf.get(key)
    spark.conf.unset(key)


def test_streaming_cdc_apply_generations_and_batch_parity(spark, sf_dir):
    """(a) streaming CDC final state ≡ the one-shot batch MERGE
    (cdc_merge_apply) on the same snapshot; (b) THREE generations were
    really materialized (multi-batch drain, not one fused batch);
    (c) generation 0 proves ordered semantics: exactly the snapshot
    minus the deletes, before any update/insert arrived."""
    import glob
    import os

    got = _norm(specs()["streaming_cdc_apply"].fn(spark, sf_dir).toPandas())
    want = _norm(specs()["cdc_merge_apply"].fn(spark, sf_dir).toPandas())
    # batch key emits the same (pri, n_rows, total_price) aggregate
    want = want.reindex(sorted(got.columns), axis=1)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    roots = sorted(
        glob.glob(os.path.join(SCRATCH_DIR, "cdc_stream_*")), key=os.path.getmtime
    )
    assert roots, "cdc stream left no scratch root"
    state = os.path.join(roots[-1], "state")
    gens = sorted(d for d in os.listdir(state) if d.startswith("gen="))
    assert gens == ["gen=0", "gen=1", "gen=2"]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_orders = orders.count()
    n_dels = orders.filter("o_orderkey % 17 = 0").count()
    g0 = spark.read.parquet(os.path.join(state, "gen=0")).count()
    assert g0 == n_orders - n_dels


def test_streaming_quantile_sketch_ledger_equals_batch(spark, sf_dir):
    """The streamed DDSketch ledger must produce EXACTLY the batch
    key's rows (same quantiles, ranks, buckets, estimates), and the
    ledger must hold one partial per micro-batch (3 shards drained
    one file per trigger)."""
    import glob
    import os

    from flink_kmeans_spark.plans.registry import specs

    got = sorted(
        tuple(r) for r in specs()["streaming_quantile_sketch"].fn(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in specs()["agg_quantile_sketch"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 4
    roots = sorted(
        glob.glob(os.path.join(SCRATCH_DIR, "dds_stream_*")),
        key=os.path.getmtime,
    )
    assert roots, "sketch stream left no scratch root"
    batches = glob.glob(os.path.join(roots[-1], "ledger", "batch=*"))
    assert len(batches) == 3


def test_stage_arrivals_lands_present_arrivals_in_order(spark, tmp_path):
    """An arrival value with no rows lands no file: the others still land
    as ``<col><i>.parquet`` with strictly increasing mtimes, every row
    lands exactly once, and the build dir is gone."""
    import os

    from pyspark.sql import functions as F

    from flink_kmeans_spark.streaming.jobs import stage_arrivals

    df = spark.range(40).withColumn(
        "shard", F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.lit(2))
    )
    dest = str(tmp_path / "landing")
    paths = stage_arrivals(df, "shard", 3, dest)
    assert paths == [f"{dest}/shard0.parquet", f"{dest}/shard2.parquet"]
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes[0] < mtimes[1]
    ids = [sorted(r["id"] for r in spark.read.parquet(p).collect()) for p in paths]
    assert ids == [list(range(0, 40, 2)), list(range(1, 40, 2))]
    assert sorted(os.listdir(tmp_path)) == ["landing"]


def test_streaming_checkpoint_resume_exactly_once(spark, sf_dir):
    """The sink holds every source event exactly once, and it took two
    drains (two committed sink batches) to get there."""
    import glob
    import os

    got = specs()["streaming_checkpoint_resume"].fn(spark, sf_dir).toPandas()
    src = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id").toPandas()
    assert got["event_id"].is_unique
    assert sorted(got["event_id"]) == sorted(src["event_id"])
    root = max(
        glob.glob(os.path.join(SCRATCH_DIR, "ckpt_resume_*")), key=os.path.getmtime
    )
    log = os.path.join(root, "sink", "_spark_metadata")
    assert sorted(f for f in os.listdir(log) if f.isdigit()) == ["0", "1"]


@pytest.mark.parametrize("job", ["run_foreach_batch_upsert", "run_checkpoint_resume"])
def test_drain_timeout_raises_and_stops_query(spark, sf_dir, monkeypatch, job):
    """$SPARK_GRAFT_STREAM_TIMEOUT bounds every drain: at 0 the drain
    cannot finish, so it raises TimeoutError and leaves no query running."""
    from flink_kmeans_spark.streaming import jobs

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT", "0")
    with pytest.raises(TimeoutError):
        getattr(jobs, job)(spark, sf_dir)
    assert spark.streams.active == []


def test_conf_scope_restores_confs_when_body_raises(spark):
    """A preset key gets its value back and an unset key is unset again,
    even when the body raises."""
    from flink_kmeans_spark.session import conf_scope

    preset, unset = "spark.graft.test.preset", "spark.graft.test.unset"
    spark.conf.set(preset, "before")
    spark.conf.unset(unset)
    with pytest.raises(RuntimeError):
        with conf_scope(spark, {preset: "inside", unset: "inside"}):
            assert spark.conf.get(preset) == "inside"
            assert spark.conf.get(unset) == "inside"
            raise RuntimeError("body failed")
    assert spark.conf.get(preset) == "before"
    assert spark.conf.get(unset, None) is None
    spark.conf.unset(preset)
