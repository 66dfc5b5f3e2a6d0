"""Workload definitions and the output check of every step.

A workload is a list of steps run in a seeded order inside each pass.
A registry step calls ``QUERIES()[key](spark, data_dir)`` and forces the
result with the noop sink; the ``lloyd-bulk`` steps call
``operators.kmeans.fit`` and ``assign_arrow`` on generated points.
Every step also has an untimed check that compares its output with an
independent answer: a registry step's DuckDB oracle, or a numpy replica
for the lloyd-bulk steps. A failed check counts as a failed step.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Any

import numpy as np

# Generated-input sizes. sf0.01 is the fixture scale the DuckDB oracles
# are kept green at; the lloyd-bulk point set is sized so that a pass
# takes a few seconds on a 4-core host while each iteration still
# decodes and scores 40k vectors.
TABLE_SF = 0.01
LLOYD_N, LLOYD_DIM, LLOYD_K, LLOYD_ITERS = 40_000, 32, 16, 3


@dataclass
class Workload:
    name: str
    steps: list[str]
    tables: bool = True  # writes the ten registry tables
    points: bool = False  # writes the lloyd-bulk point set
    ordered: bool = False  # steps depend on each other: keep their order


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "lloyd-bulk",
            ["kmeans.fit", "kmeans.assign_arrow"],
            tables=False,
            points=True,
            ordered=True,
        ),
        Workload(
            "llm-pipeline",
            ["streaming_ann_probe"],
        ),
    )
}


def generate(workload: Workload, data_dir: str, seed: int) -> dict:
    """Write the workload's inputs; returns what the checks need."""
    from datagen import write_points, write_tables

    inputs: dict[str, Any] = {"data_dir": data_dir}
    if workload.tables:
        write_tables(data_dir, seed, TABLE_SF)
    if workload.points:
        os.makedirs(data_dir, exist_ok=True)
        inputs["points_path"] = os.path.join(data_dir, "points.parquet")
        write_points(inputs["points_path"], seed, LLOYD_N, LLOYD_DIM, LLOYD_K)
    return inputs


# ---------------------------------------------------------------- checks


def lloyd_replica(points: np.ndarray, k: int, n_iter: int) -> np.ndarray:
    """Fixed-iteration Lloyd's from the first k points, empty clusters
    keeping their centroid: the semantics of ``operators.kmeans.fit``."""
    p = points.astype(np.float64)
    c = p[:k].copy()
    for _ in range(n_iter):
        a = nearest(p, c)[0]
        for j in range(k):
            m = a == j
            if m.any():
                c[j] = p[m].mean(axis=0)
    return c


def nearest(p: np.ndarray, c: np.ndarray, chunk: int = 8192):
    """argmin over squared distances (lowest id wins ties), chunked so
    the (rows x k x d) difference tensor stays small."""
    idx, d2 = [], []
    for s in range(0, len(p), chunk):
        d = ((p[s:s + chunk, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        idx.append(d.argmin(axis=1))
        d2.append(d)
    return np.concatenate(idx), np.concatenate(d2)


def check_centroids(got: list, points: np.ndarray) -> list[str]:
    want = lloyd_replica(points, LLOYD_K, LLOYD_ITERS)
    got_c = np.array([v for _, v in sorted(got)], dtype=np.float64)
    if got_c.shape != want.shape:
        return [f"centroid shape {got_c.shape} != {want.shape}"]
    err = float(np.abs(got_c - want).max())
    return [] if err <= 1e-6 else [f"centroids differ from numpy Lloyd's by {err:.3g}"]


def check_labels(pdf, centroids: list, points: np.ndarray) -> list[str]:
    """Labels must be the numpy argmin, except at exact distance ties."""
    if len(pdf) != len(points):
        return [f"rowcount {len(pdf)} != {len(points)}"]
    c = np.array([v for _, v in sorted(centroids)], dtype=np.float64)
    pdf = pdf.sort_values("vec_id")
    want, d2 = nearest(points.astype(np.float64), c)
    got = pdf["cid"].to_numpy()
    rows = np.arange(len(got))
    gap = d2[rows, got] - d2[rows, want]
    bad = int((gap > 1e-9 * np.maximum(1.0, d2[rows, want])).sum())
    return [] if bad == 0 else [f"{bad} labels are not the nearest centroid"]


def check_oracles():
    """``tools/check_oracles.py``, imported without keeping the search
    path entry that module adds for its own command-line use."""
    saved = list(sys.path)
    try:
        import tools.check_oracles as co
    finally:
        sys.path[:] = saved
    return co
