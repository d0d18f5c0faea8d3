"""Workload definitions and seeded input generators for the k-means fit benchmark.

Every input is generated from the run's ``--seed`` into the run's work
directory, so the program only ever sees the generated parquet files.
Three shapes are used:

- ``lineitem``: a ``lineitem.parquet`` drawn like the repository's
  lineitem fixture (all 11 columns, one row group, about the fixture's
  bytes per row), turned into points by the program's own
  ``sources.points_2d`` derivation.
- ``blobs``: a ``points.parquet`` of 2-D Gaussian blobs (``point_id, x, y``)
  written as several row groups.
- ``embeddings``: an ``embeddings.parquet`` of float32 vectors in one row
  group, the shape of the embeddings fixture, read through
  ``sources.points_nd``.

``SMOKE`` holds tiny versions of the same workloads for the self-test.
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    source: str  # "lineitem" | "blobs" | "embeddings"
    n: int  # points
    k: int
    iters: int
    init: str  # "random" | "k-means||" | "first-k" (fit_nd's default)
    row_groups: int = 1
    dim: int = 2

    @property
    def nd(self) -> bool:
        return self.source == "embeddings"


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            "lloyd-small",
            "600k lineitem points, K=8, 6 interpreted iterations below "
            "CODEGEN_MIN_ROWS: per-iteration plan build and job scheduling dominate",
            "lineitem", n=600_000, k=8, iters=6, init="random",
        ),
        Workload(
            "kmpp-init",
            "60k lineitem points, K=2, k-means|| init: init_kmeans_parallel, its "
            "13 small jobs and its literal arg-min over ~20 candidates dominate",
            "lineitem", n=60_000, k=2, iters=4, init="k-means||",
        ),
        Workload(
            "lloyd-nd",
            "100k x 64 float32 vectors, K=256, 3 iterations of fit_nd: the Arrow "
            "mapInPandas and numpy path the 2-D workloads never use",
            "embeddings", n=100_000, k=256, iters=3, init="first-k", dim=64,
        ),
        # Not in BENCHMARK.json: to cross CODEGEN_MIN_ROWS it needs at least
        # 5M points, and one run of it does not fit the time a harness
        # gives each run (see README.md). Run it by name.
        Workload(
            "lloyd-large",
            "6M Gaussian-blob points in 8 row groups, K=32, 3 codegen iterations: "
            "the per-row distance kernel and the cached scan dominate",
            "blobs", n=6_000_000, k=32, iters=3, init="random", row_groups=8,
        ),
    ]
}

# Tiny versions of every workload for the harness self-test.
SMOKE: dict[str, Workload] = {
    "lloyd-small": dataclasses.replace(WORKLOADS["lloyd-small"], n=6_000, iters=4),
    "lloyd-large": dataclasses.replace(WORKLOADS["lloyd-large"], n=40_000, iters=3),
    "kmpp-init": dataclasses.replace(WORKLOADS["kmpp-init"], n=6_000, iters=3),
    "lloyd-nd": dataclasses.replace(WORKLOADS["lloyd-nd"], n=4_000, k=16, iters=3),
}


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows)


def gen_lineitem(data_dir: str, n: int, seed: int) -> None:
    """The repository's lineitem fixture, regenerated at ``n`` rows.

    Same 11 columns, types, value ranges and independent uniform draws as
    the fixture, so the file has about its size per row and scans as the
    same splits: in the fixture ``l_extendedprice`` is uniform in cents
    over [900, 105000) and independent of ``l_quantity``, not TPC-H's
    quantity x retail price, so ``points_2d`` fills the whole box."""
    rng = np.random.default_rng(seed)
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, n) * np.timedelta64(86_400_000_000, "us")
    table = pa.table(
        {
            "l_orderkey": rng.integers(0, max(1, n // 4), n),
            "l_partkey": rng.integers(0, max(1, n // 30), n),
            "l_suppkey": rng.integers(0, max(1, n // 600), n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": day0 + days,
        }
    )
    _write(table, os.path.join(data_dir, "lineitem.parquet"), 1)


def gen_blobs(data_dir: str, n: int, seed: int, row_groups: int) -> None:
    """2-D mixture of 64 overlapping Gaussian blobs in a 100x100 box.

    Overlap keeps the density smooth, so the k-means objective a fit
    reaches varies little from one seed to the next."""
    rng = np.random.default_rng(seed)
    mu = rng.uniform(0.0, 100.0, (64, 2))
    sigma = rng.uniform(3.0, 8.0, 64)
    comp = rng.integers(0, 64, n)
    xy = mu[comp] + rng.standard_normal((n, 2)) * sigma[comp, None]
    table = pa.table(
        {
            "point_id": rng.permutation(n).astype(np.int64),
            "x": xy[:, 0],
            "y": xy[:, 1],
        }
    )
    _write(table, os.path.join(data_dir, "points.parquet"), row_groups)


def gen_embeddings(data_dir: str, n: int, dim: int, seed: int) -> None:
    """float32 vectors around 64 unit-scale centres, ``vec_id`` a permutation
    so ``fit_nd``'s first-K-by-id init is a random sample of the points."""
    rng = np.random.default_rng(seed)
    mu = rng.standard_normal((64, dim)).astype(np.float32)
    label = rng.integers(0, 64, n).astype(np.int32)
    x = mu[label] + np.float32(0.5) * rng.standard_normal((n, dim), dtype=np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), dim).cast(
        pa.list_(pa.float32())
    )
    table = pa.table(
        {
            "vec_id": rng.permutation(n).astype(np.int64),
            "embedding": emb,
            "label": label,
        }
    )
    _write(table, os.path.join(data_dir, "embeddings.parquet"), 1)


def generate(w: Workload, data_dir: str, seed: int) -> None:
    os.makedirs(data_dir, exist_ok=True)
    if w.source == "lineitem":
        gen_lineitem(data_dir, w.n, seed)
    elif w.source == "blobs":
        gen_blobs(data_dir, w.n, seed, w.row_groups)
    else:
        gen_embeddings(data_dir, w.n, w.dim, seed)


def read_points(w: Workload, data_dir: str) -> np.ndarray:
    """The generated points as the program sees them, float64.

    2-D: an (n, 2) array of (x, y) with x derived exactly as
    ``points_2d`` derives it. n-D: an (n, dim) array ordered by point id.
    """
    if w.source == "lineitem":
        t = pq.read_table(
            os.path.join(data_dir, "lineitem.parquet"),
            columns=["l_extendedprice", "l_quantity"],
        )
        x = t.column("l_extendedprice").to_numpy() / 1000.0
        return np.column_stack([x, t.column("l_quantity").to_numpy()])
    if w.source == "blobs":
        t = pq.read_table(os.path.join(data_dir, "points.parquet"), columns=["x", "y"])
        return np.column_stack([t.column("x").to_numpy(), t.column("y").to_numpy()])
    t = pq.read_table(
        os.path.join(data_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    x = flat.reshape(len(ids), -1).astype(np.float64)
    return x[np.argsort(ids, kind="stable")]
