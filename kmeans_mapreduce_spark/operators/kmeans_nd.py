"""n-D k-means over array<double> columns (SURVEY §7 Phase 4 / FIXTURES F6).

Two assignment paths, chosen by K×dim:

- **expression path** (small K·dim): unrolled per-centroid distance
  expressions + array_min argmin — narrow, codegen'd, zero Python.
  Same shape as the 2-D engine.
- **pandas path** (large K·dim): ``mapInPandas`` with one numpy
  matmul per Arrow batch — ``|points|×dim @ dim×K`` — the vectorized
  scale path (this is how you do 768-dim × K=1000 on 100 TB; a
  per-row expression tree would explode). Partial centroid sums are
  accumulated over a partition's batches and emitted once per
  partition, so the driver collects at most partitions×K rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import sq_dist_nd
from kmeans_mapreduce_spark.operators import kmeans

NDCenter = tuple[int, list[float]]


def assign_nd_expr(points: DataFrame, centers: list[NDCenter]) -> DataFrame:
    """Expression-path assignment: (point_id, cid, min_d2).

    ``points`` must have columns (point_id, vec: array<double>).
    Tie-break: lowest cid (lexicographic struct min), as in 2-D.
    Plan size is O(K·dim) literals — prefer :func:`assign_nd`, which
    auto-switches to the Arrow path above the plan-size threshold."""
    cands = [
        F.struct(
            sq_dist_nd(
                F.col("vec"), F.array(*[F.lit(float(x)) for x in cvec])
            ).alias("d2"),
            F.lit(int(cid)).cast("int").alias("cid"),
        )
        for cid, cvec in centers
    ]
    best = F.array_min(F.array(*cands))
    return points.select(
        "point_id", best["cid"].alias("cid"), best["d2"].alias("min_d2")
    )


def assign_nd_arrow(points: DataFrame, centers: list[NDCenter]) -> DataFrame:
    """Arrow twin of :func:`assign_nd_expr` — same output contract
    (point_id, cid, min_d2), bit-identical distances via the SHARED
    ``dedup.seq_argmin_d2`` kernel (dim-sequential float64 folds
    replicate ``sq_dist_nd``'s F.aggregate order, ties to lowest cid:
    centers sorted; argmin keeps the first minimum), O(1) plan size in
    K·dim."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from kmeans_mapreduce_spark.operators.dedup import seq_argmin_d2

    order = sorted((int(c), [float(x) for x in v]) for c, v in centers)
    cids = np.array([c for c, _ in order], dtype=np.int32)
    C = np.array([v for _, v in order], dtype=np.float64)

    # point_id keeps the INPUT's type (assign_nd_expr preserves it, so
    # impl='auto' must not widen e.g. INT→LONG when K·dim crosses the
    # dispatch threshold)
    out_schema = StructType(
        [
            points.schema["point_id"],
            StructField("cid", IntegerType(), False),
            StructField("min_d2", DoubleType(), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            w, d2 = seq_argmin_d2(x, C)
            yield pd.DataFrame(
                {
                    "point_id": pdf["point_id"],
                    "cid": cids[w],
                    "min_d2": d2,
                }
            )

    return points.select("point_id", "vec").mapInPandas(fn, schema=out_schema)


def assign_nd(
    points: DataFrame, centers: list[NDCenter], impl: str = "auto"
) -> DataFrame:
    """n-D nearest-centroid assignment with the plan-size auto-switch
    (same dial as ``dedup.assign_cells``): the K·dim-literal expression
    plan below ``CELL_LITERAL_MAX_KD``, the O(1)-plan Arrow matmul pass
    above it. Both paths are bit-identical by construction."""
    from kmeans_mapreduce_spark.operators.dedup import CELL_LITERAL_MAX_KD

    if not centers:
        raise ValueError("assign_nd: empty centers")
    if impl == "auto":
        kd = len(centers) * len(centers[0][1])
        impl = "expr" if kd <= CELL_LITERAL_MAX_KD else "arrow"
    if impl == "expr":
        return assign_nd_expr(points, centers)
    if impl == "arrow":
        return assign_nd_arrow(points, centers)
    raise ValueError(f"assign_nd: unknown impl {impl!r}")


def _assign_batches(centers_arr: np.ndarray):
    """Build a mapInPandas function: per Arrow batch, vectorized
    nearest-centroid via one matmul; accumulates across the partition's
    batches and emits ONE K-row partial frame per partition — the
    driver sees O(partitions × K) rows regardless of N (yielding per
    10k-row Arrow batch instead would send N/10k × K rows up)."""
    k, dim = centers_arr.shape
    sq_c = (centers_arr ** 2).sum(axis=1)  # K

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_acc = np.zeros(k, dtype=np.int64)
        sse_acc = np.zeros(k)
        vsum_acc = np.zeros((k, dim))
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            x = np.stack(pdf["vec"].to_numpy())  # N×dim
            # argmin_c |x|² − 2x·c + |c|² (|x|² constant per row), scored
            # in place in the matmul's own N×K buffer
            scores = x @ centers_arr.T
            scores *= -2.0
            scores += sq_c
            cid = scores.argmin(axis=1)
            d2 = (x ** 2).sum(axis=1) + scores[np.arange(len(x)), cid]
            n_acc += np.bincount(cid, minlength=k)
            sse_acc += np.bincount(cid, weights=d2, minlength=k)
            np.add.at(vsum_acc, cid, x)
        if seen:
            live = n_acc > 0
            yield pd.DataFrame(
                {
                    "cid": np.arange(k, dtype=np.int32)[live],
                    "n": n_acc[live],
                    "sse": sse_acc[live],
                    "vsum": [v.tolist() for v in vsum_acc[live]],
                }
            )

    return fn


# Vector bytes per Arrow batch fit_nd's steps send to Python. Every core
# streams its own partition at once, so the JVM holds one batch buffer
# per running task: at Spark's default 10k rows, 100k×64 doubles on 4
# balanced partitions raised the driver JVM's memory outside its heap
# by ~60 MB over a one-partition input; 2 MiB batches (4096 rows at
# dim 64) kept it at the one-partition level with no slower steps.
ARROW_BATCH_BYTES = 1 << 21


def lloyd_step_nd(
    points: DataFrame, centers: list[NDCenter]
) -> tuple[dict[int, list[float]], dict[int, int], float]:
    """One n-D Lloyd iteration: mapInPandas partial sums → tiny final
    reduce on the driver (K rows per partition — same contract as the
    2-D ``lloyd_step``, with numpy doing the distance math)."""
    order = sorted(centers)
    centers_arr = np.array([c for _, c in order], dtype=np.float64)
    cid_of_row = {i: cid for i, (cid, _) in enumerate(order)}
    dim = centers_arr.shape[1]
    partials = points.select("point_id", "vec").mapInPandas(
        _assign_batches(centers_arr),
        schema=f"cid INT, n LONG, sse DOUBLE, vsum ARRAY<DOUBLE>",
    )
    rows = partials.collect()
    sums: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    sse = 0.0
    for r in rows:
        c = cid_of_row[r["cid"]]
        sums[c] = sums.get(c, np.zeros(dim)) + np.array(r["vsum"])
        counts[c] = counts.get(c, 0) + r["n"]
        sse += r["sse"]
    means = {c: (sums[c] / counts[c]).tolist() for c in sums}
    return means, counts, sse


def fit_nd(
    points: DataFrame,
    k: int,
    max_iter: int = 10,
    tol: float = 1e-4,
    seed: int = 42,
    init_centers: list[NDCenter] | None = None,
    round_digits: int | None = None,
):
    """n-D Lloyd loop. Init: first k points by point_id (deterministic)
    unless explicit centers are given. Returns (centers, wssse_history,
    sizes).

    The input is balanced over the cores by ``kmeans.normalize_partitions``
    before it is cached, decided from one count job that reads no
    column (a parquet scan answers it from row-group metadata; caching
    first instead would copy a skewed input's vectors into the cache on
    one core before the shuffle: +0.16 s of prep in a traced probe on
    100k×64). Results are bit-repeatable when the input's row order is.
    An input with no rows raises ``ValueError``. As in the 2-D ``fit``,
    AQE is off for the duration of the loop, so the rebalance shuffle
    runs inside the job that fills the cache rather than as a job of its
    own, and Arrow batches are capped at ``ARROW_BATCH_BYTES`` of vector
    data; both confs are session-global and restored after, with the
    same caveat for concurrent queries as ``fit``'s.

    ``round_digits``: round each iteration's per-dimension means
    (HALF_UP, like ``F.round``/DuckDB) before they become the next
    generation's centers — with fixed init and ``tol=0.0`` this makes
    the whole loop deterministic across engines, which is how
    ``kmeans_nd_fit_fixed`` puts ``fit_nd`` itself under the DuckDB
    hash gate (mirroring the 2-D ``kmeans_fit_fixed``)."""
    conf = points.sparkSession.conf
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    aqe_before = conf.get("spark.sql.adaptive.enabled", "true")
    batch_before = conf.get(batch_key)
    conf.set("spark.sql.adaptive.enabled", "false")
    cached = None
    try:
        pts = points.select("point_id", "vec")
        part_rows = kmeans.partition_rows(pts)
        if not sum(part_rows):
            raise ValueError("fit_nd: the input has no rows")
        pts = cached = kmeans.normalize_partitions(pts, part_rows).cache()
        if init_centers is None:
            first = pts.orderBy("point_id").limit(k).collect()
            centers = [(i, list(r["vec"])) for i, r in enumerate(first)]
        else:
            centers = [(int(c), [float(x) for x in v]) for c, v in init_centers]
        cap = max(1, ARROW_BATCH_BYTES // (8 * len(centers[0][1])))
        if int(batch_before) > 0:
            cap = min(int(batch_before), cap)
        conf.set(batch_key, str(cap))
        history: list[float] = []
        sizes: dict[int, int] = {}
        for _ in range(max_iter):
            means, sizes, sse = lloyd_step_nd(pts, centers)
            if round_digits is not None:
                means = {
                    c: [kmeans.round_half_up(x, round_digits) for x in v]
                    for c, v in means.items()
                }
            history.append(sse)
            centers = [
                (cid, means.get(cid, cvec)) for cid, cvec in centers
            ]  # empty clusters keep previous center (sequential-kmeans.py:46-48 policy)
            if len(history) >= 2 and abs(history[-2] - history[-1]) < tol:
                break
        return centers, history, sizes
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe_before)
        conf.set(batch_key, batch_before)
        if cached is not None:
            cached.unpersist()
