"""Relational-surface tests: registry health at smoke scale, plus
in-repo oracles for the keys the DuckDB gate can't express
(SURVEY.md §5.2)."""

import pytest

from flink_kmeans_spark.plans.registry import specs
from flink_kmeans_spark.sources import load_table


def test_all_queries_run_and_are_stable(spark, sf_dir):
    """Every registered query executes at sf0.001 and returns the same
    schema (by name) on a second invocation — the driver calls
    queries() repeatedly."""
    for name, spec in sorted(specs().items()):
        df1 = spec.fn(spark, sf_dir)
        df2 = spec.fn(spark, sf_dir)
        assert [f.name for f in df1.schema.fields] == [
            f.name for f in df2.schema.fields
        ], name
        assert df1.count() >= 0, name


def test_agg_approx_tolerance(spark, sf_oracle_dir):
    """approx_count_distinct(rsd=0.02) must land within 5% of exact."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_oracle_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_suppkey").alias("n"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: r["approx_suppliers"]
        for r in specs()["agg_approx"].fn(spark, sf_oracle_dir).collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) <= max(2, 0.05 * n), (flag, approx[flag], n)


def test_agg_percentile_tolerance(spark, sf_oracle_dir):
    """Exact percentile matches numpy; percentile_approx within 2%."""
    import numpy as np

    l = load_table(spark, sf_oracle_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).toPandas()
    exact = {
        r["l_returnflag"]: r
        for r in specs()["agg_percentile"].fn(spark, sf_oracle_dir).collect()
    }
    approx = {
        r["l_returnflag"]: r
        for r in specs()["agg_percentile_approx"].fn(spark, sf_oracle_dir).collect()
    }
    for flag, grp in l.groupby("l_returnflag"):
        exact50 = np.percentile(grp["l_extendedprice"], 50)
        exact95 = np.percentile(grp["l_extendedprice"], 95)
        assert abs(exact[flag]["p50"] - exact50) < 1e-3
        assert abs(exact[flag]["p95"] - exact95) < 1e-3
        # the key now surfaces the corridor verdict (driver-hashable)
        # plus the exact interpolated values
        assert abs(approx[flag]["p50_exact"] - exact50) < 1e-3
        assert abs(approx[flag]["p95_exact"] - exact95) < 1e-3
        assert approx[flag]["p50_in_corridor"] is True
        assert approx[flag]["p95_in_corridor"] is True


def test_asof_join_semantics(spark):
    """Hand-built example pinning the ≤ / backward / per-key contract."""
    from flink_kmeans_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "key int, t int, name string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 990.0)],
        "key int, t int, v double",
    )
    out = asof_join_backward(
        left, right, on=["key"], left_ts="t", right_ts="t", value_cols=["v"]
    )
    got = {(r["key"], r["t"]): r["v"] for r in out.collect()}
    assert got[(1, 10)] == 100.0  # equal ts matches (<=)
    assert got[(1, 20)] == 150.0  # latest earlier row wins
    assert got[(2, 15)] is None  # right row is later -> no match
    assert got[(3, 5)] is None  # key absent on right


def test_dedup_exact_keeps_lowest_doc_id(spark, sf_dir):
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").toPandas()
    expected = d.sort_values("doc_id").drop_duplicates("text", keep="first")
    got = specs()["dedup_exact"].fn(spark, sf_dir).toPandas()
    assert sorted(got["doc_id"]) == sorted(expected["doc_id"])


def test_sink_parquet_roundtrip_lossless(spark, sf_dir):
    got = specs()["sink_parquet"].fn(spark, sf_dir).toPandas()
    orig = load_table(spark, sf_dir, "orders").toPandas()
    assert int(got["n"].sum()) == len(orig)


def test_scratch_dir_survives_prune_while_held(spark, sf_dir):
    """A dir handed out by ``scratch_dir`` must outlive a later call's
    2 h prune, because the frame returned over it still reads it; a
    dir this process does not hold is still pruned."""
    import os
    import tempfile
    import time
    from urllib.parse import urlparse

    from conftest import SCRATCH_DIR
    from flink_kmeans_spark.session import scratch_dir

    held = scratch_dir("prune_held")
    df = specs()["sink_parquet"].fn(spark, sf_dir)
    n = df.count()
    sink_file = urlparse(df.inputFiles()[0]).path
    sink_root = os.path.join(
        SCRATCH_DIR, os.path.relpath(sink_file, SCRATCH_DIR).split(os.sep)[0]
    )
    orphan = tempfile.mkdtemp(prefix="prune_orphan_", dir=SCRATCH_DIR)
    aged = time.time() - 7300
    for d in (held, sink_root, orphan):
        os.utime(d, (aged, aged))
    scratch_dir("prune_probe")
    assert os.path.isdir(held)
    assert os.path.isdir(sink_root)
    assert not os.path.exists(orphan)
    assert df.count() == n


def test_agg_hll_sketch_tolerance(spark, sf_oracle_dir):
    """DataSketches HLL estimates (direct AND merged-up) within 5% of
    exact COUNT(DISTINCT) per returnflag."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_oracle_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    got = {
        r["l_returnflag"]: r["approx_parts"]
        for r in specs()["agg_hll_sketch"].fn(spark, sf_oracle_dir).collect()
    }
    assert set(got) == set(exact)
    for flag, n in exact.items():
        assert abs(got[flag] - n) <= max(2, 0.05 * n), (flag, got[flag], n)


def test_sample_stratified_rates_and_determinism(spark, sf_oracle_dir):
    """Each stratum's kept-count tracks its target fraction (binomial
    4-sigma bound), and the key-hash selector is exactly reproducible —
    including under a REPARTITIONED input, which partition-seeded
    sampleBy cannot guarantee."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_oracle_dir, "lineitem")
    totals = {
        r["l_returnflag"]: r["n"]
        for r in l.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    fractions = {"A": 0.10, "N": 0.20, "R": 0.05}
    run1 = {
        r["l_returnflag"]: r["n_sampled"]
        for r in specs()["sample_stratified"].fn(spark, sf_oracle_dir).collect()
    }
    run2 = {
        r["l_returnflag"]: r["n_sampled"]
        for r in specs()["sample_stratified"].fn(spark, sf_oracle_dir).collect()
    }
    assert run1 == run2  # value-hash => deterministic, period
    # partition-layout independence: same counts from a reshuffled input
    r = (
        (F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 40503)
        % 1000003
    ) / 1000003.0
    thresh = (
        F.when(F.col("l_returnflag") == "A", 0.10)
        .when(F.col("l_returnflag") == "N", 0.20)
        .when(F.col("l_returnflag") == "R", 0.05)
        .otherwise(0.0)
    )
    rep = {
        row["l_returnflag"]: row["n"]
        for row in l.repartition(7)
        .filter(r < thresh)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rep == run1
    for flag, frac in fractions.items():
        n, kept = totals[flag], run1[flag]
        mean, sigma = n * frac, (n * frac * (1 - frac)) ** 0.5
        assert abs(kept - mean) <= 4 * sigma + 2, (flag, kept, mean, sigma)


def test_asof_join_equal_ts_right_rows_deterministic(spark):
    # two right rows share (key, ts): the greatest value tuple must win,
    # identically on every run/partitioning (round-2 ADVICE fix)
    from flink_kmeans_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame([(1, 20, "a")], "key int, t int, name string")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 10, 150.0), (1, 10, 50.0)], "key int, t int, v double"
    )
    for _ in range(3):
        got = asof_join_backward(
            left, right, on=["key"], left_ts="t", right_ts="t", value_cols=["v"]
        ).collect()
        assert len(got) == 1 and got[0]["v"] == 150.0


def test_asof_join_forward_semantics(spark):
    """Forward direction: earliest right row with t >= left t."""
    from flink_kmeans_spark.operators.joins import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "key int, t int, name string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 12, 990.0)],
        "key int, t int, v double",
    )
    out = asof_join_forward(
        left, right, on=["key"], left_ts="t", right_ts="t", value_cols=["v"]
    )
    got = {(r["key"], r["t"]): r["v"] for r in out.collect()}
    assert got[(1, 10)] == 100.0  # equal ts matches (>=)
    assert got[(1, 20)] is None  # no later right row
    assert got[(2, 15)] is None  # right row is EARLIER -> no match
    assert got[(3, 5)] is None  # key absent on right


def test_bad_sf_dir_raises_clean_analysis_error(spark):
    """A wrong data dir must surface as a clean PATH_NOT_FOUND analysis
    error at action time — not a worker crash or a silent empty frame."""
    from pyspark.errors import AnalysisException

    from flink_kmeans_spark.plans.registry import specs

    with pytest.raises(AnalysisException):
        specs()["scan_parquet"].fn(spark, "/root/testdata/sf_nope").collect()
