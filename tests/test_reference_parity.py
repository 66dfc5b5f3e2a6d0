"""Reference-parity tests: the exact workflow a flink-kmeans user runs
(CSV points + CSV centroids → fixed-iteration Lloyd's → CSV output),
checked against NumPy on the same inputs."""

import os
import subprocess
import sys

import numpy as np
import pytest

from flink_kmeans_spark.operators import kmeans as km
from flink_kmeans_spark.sources.tables import read_centroids_csv, read_points_csv

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def csv_inputs(tmp_path):
    rng = np.random.default_rng(7)
    blobs = np.concatenate(
        [rng.normal(loc, 0.08, size=(30, 2)) for loc in [(0, 0), (5, 5), (0, 5)]]
    )
    pts_file = tmp_path / "points.csv"
    with open(pts_file, "w") as f:
        for x, y in blobs:
            f.write(f"{x} {y}\n")
    cent_file = tmp_path / "centroids.csv"
    with open(cent_file, "w") as f:
        for cid, (x, y) in enumerate([(0.1, 0.1), (4.9, 4.9), (0.1, 4.9)]):
            f.write(f"{cid} {x} {y}\n")
    return pts_file, cent_file, blobs


def test_csv_sources_schema(spark, csv_inputs):
    pts_file, cent_file, blobs = csv_inputs
    p = read_points_csv(spark, str(pts_file))
    c = read_centroids_csv(spark, str(cent_file))
    assert p.count() == 90 and c.count() == 3
    assert [f.name for f in p.schema.fields] == ["x", "y"]
    assert [f.name for f in c.schema.fields] == ["cid", "x", "y"]


def test_csv_kmeans_matches_numpy(spark, csv_inputs):
    from pyspark.sql import functions as F

    pts_file, cent_file, blobs = csv_inputs
    pts = read_points_csv(spark, str(pts_file)).select(
        F.monotonically_increasing_id().alias("vec_id"),
        F.array("x", "y").alias("embedding"),
    )
    init = [
        (int(r["cid"]), [r["x"], r["y"]])
        for r in read_centroids_csv(spark, str(cent_file)).collect()
    ]
    model = km.fit(pts, k=3, n_iter=10, init=init)
    got = np.array([v for _, v in model.centroids])

    cents = np.array([v for _, v in init])
    P = blobs
    for _ in range(10):
        d2 = ((P[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for c in range(3):
            if (a == c).any():
                cents[c] = P[a == c].mean(axis=0)
    np.testing.assert_allclose(got, cents, atol=1e-9)


def test_cli_end_to_end(tmp_path, csv_inputs):
    """Drive the actual `python -m flink_kmeans_spark` surface."""
    pts_file, cent_file, _ = csv_inputs
    out = tmp_path / "out"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "flink_kmeans_spark",
            "--points",
            str(pts_file),
            "--centroids",
            str(cent_file),
            "--output",
            str(out),
            "--iterations",
            "5",
        ],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = []
    for f in out.glob("part-*.csv"):
        rows += [ln.split(" ") for ln in f.read_text().splitlines()]
    assert len(rows) == 90
    assert {int(r[0]) for r in rows} <= {0, 1, 2}


def test_cli_query_front_door(spark, sf_dir, capsys):
    """--query runs any registry key; 'list' enumerates them."""
    import sys
    from unittest import mock

    from flink_kmeans_spark.__main__ import main

    with mock.patch.object(sys, "argv", ["flink_kmeans_spark", "--query", "list"]):
        main()
    listed = capsys.readouterr().out.strip().splitlines()
    assert "agg_hash" in listed and len(listed) >= 200

    with mock.patch.object(
        sys, "argv",
        ["flink_kmeans_spark", "--query", "sort_limit", "--sf-dir", sf_dir],
    ):
        main()
    out = capsys.readouterr().out
    assert "o_orderkey" in out or "revenue" in out or "|" in out
