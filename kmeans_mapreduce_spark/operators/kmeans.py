"""2-D Lloyd's k-means as pure DataFrame operators (SURVEY §2.1 O6–O13).

Reference architecture being replaced (``/root/reference``): master
splits the input into M files (master.py:50-77), RPCs centroids to M
mapper processes (master.py:179-189) which write mod-R partition files
(mapper.py:53-74), R reducers pull them over an R×M gRPC mesh
(reducer.py:59-139) and emit per-cluster means (reducer.py:29-44); the
master loops until |ΔWSSSE| < 0.5 (master.py:352-366), re-scanning the
raw input twice per iteration for the objective (master.py:315-332).

The Spark-native shape: per iteration, ONE job —
a narrow arg-min map (no shuffle, no crossJoin: centers are K literals
inside whole-stage codegen) feeding one partial+final hash aggregation
whose shuffle carries O(partitions × K) rows, not O(N) like the
reference (no map-side combine there — BASELINE.md §2). WSSSE falls out
of the same aggregation: zero extra scans. Centroids live on the driver
between iterations (K rows), exactly like MLlib's own KMeans; plans are
rebuilt from literals each iteration so lineage stays O(1).

Every plan over driver-held centres — assignment, the Lloyd step and
k-means|| scoring and weighting — takes its arg-min from
``functions.distance``, which renders it as one SQL text expression
with exact double literals; nothing here builds a ``Column`` tree of
centre literals.

Semantics are textbook Lloyd's, fixing the reference's accidents
(SURVEY §2.3): cluster identity survives aggregation (cid, not
partition index), init/repair sample uniformly within the true bounding
box, ties break to the lowest cid (strict ``<`` first-wins,
mapper.py:43), convergence on |ΔWSSSE| < tol with an iteration cap.

Investigated and rejected (round 8): running the WHOLE loop as ONE
barrier-mode job with ``BarrierTaskContext.allGather`` syncing the
K-row partials per iteration. The idea is sound (job-submission
overhead paid once) but Spark 4.1.2's ``runBarrier`` polls its RPC
future with a hardcoded ``Thread.sleep(1000)`` (BarrierTaskContext,
bytecode-verified), so every global sync costs ≥1 s wall — measured
1.002 s/allGather flat, i.e. 10 s of pure sleep for a 10-iteration
fit that the per-job loop finishes in <3 s. Barrier scheduling also
requires every partition concurrently resident (caps input at cluster
slots). If the poll interval ever becomes tunable, the one-job design
is worth revisiting for many-iteration fits.
"""

from __future__ import annotations

import math
import random
import re
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import (
    nearest_centroid_2d,
    nearest_centroid_2d_sql,
    sq_dist_2d,
)

Center = tuple[int, float, float]  # (cid, cx, cy)


def round_half_up(x: float, digits: int) -> float:
    """HALF_UP decimal rounding of a double — the same semantics as
    Spark's ``F.round`` (BigDecimal HALF_UP over the shortest decimal
    repr) and DuckDB's ``ROUND`` (half away from zero). Python's
    built-in ``round`` is half-to-even, which diverges on exact
    representable half-ties (dyadic values like x.0078125); driver-side
    means that re-enter the oracle-gated loop must round identically
    to both engines."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-digits), rounding=decimal.ROUND_HALF_UP
        )
    )


def partition_rows(df: DataFrame) -> list[int]:
    """Rows in each non-empty partition of ``df``, in no particular
    order: one job that reads no column of ``df`` (a parquet scan
    answers it from row-group metadata)."""
    counts = (
        df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return [r["n"] for r in counts]


# the first word of each node line in a physical plan's tree string
_PLAN_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s+)?(\w+)", re.MULTILINE)


def _order_is_fixed(df: DataFrame) -> bool:
    """True when every run of ``df``'s plan yields the same rows in the
    same order within each partition: no exchange anywhere in it, the
    plan a cached frame was built from included. A shuffle's output
    order is whatever order its fetches completed in."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return not any(n.endswith("Exchange") for n in _PLAN_NODE.findall(plan))


def _cap_partitions(df: DataFrame) -> DataFrame:
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() > 8 * p:
        return df.repartition(2 * p)
    return df


def normalize_partitions(
    df: DataFrame, part_rows: list[int] | None = None
) -> DataFrame:
    """Shape a loop input so every iteration uses every core, at the
    price of at most ONE shuffle, amortized over all iterations. Shared
    by ``fit`` and ``kmeans_nd.fit_nd`` — retune here, not per caller.

    The rule is on ROWS per partition, with P = ``defaultParallelism``:

    - an over-partitioned input (more than 8P partitions) is capped at
      2P: many small files multiply the per-task launch and Arrow
      round-trip by every iteration (measured 1.5× above linear at 304
      partitions);
    - otherwise, when the largest partition holds more than twice its
      fair share ceil(N/P), the input is repartitioned to P partitions.
      A parquet file with one row group scans as several splits with
      every row in one of them (600k lineitem points as 3 splits,
      100k×64 vectors as 4), so without this every Lloyd step ran on
      one core; a single partition is the most skewed case of the same
      rule;
    - anything else is returned as it is, with no exchange added.

    The rebalance never hashes on the coordinates: that would send
    every copy of a duplicated point to one partition. When the input's
    row order is fixed (no exchange in its plan, e.g. a file or range
    scan with narrow operators on top) it hashes on
    ``monotonically_increasing_id()``, which is row-unique and follows
    that order, so two fits of one input, and a fit whose upstream
    tasks are retried, see the same rows in the same order and give
    bit-identical results. When the order is not fixed (the input
    comes out of a join, an aggregate or another shuffle), a rerun map
    task could number its rows differently and drop or duplicate rows
    under a hash on that id, so it uses round-robin ``repartition(P)``
    instead, which Spark makes retry-safe by sorting each partition
    before dealing it out; that sort costs time, and the fit's result
    is bit-repeatable only as far as the input's own order is.

    Measured with ``kmbench`` on 4 cores, medians of 10 alternating
    runs against the partition-count rule (cap at 2P, raise to
    max(2, P/4)): warm ``fit_nd`` on 100k×64, K=256, 3 iterations
    4.00 → 3.03 s; warm ``fit`` on 600k lineitem points, K=8, 6
    iterations 3.49 → 2.68 s; on 60k points with k-means|| init warm
    fits 2.51 → 2.56 s and the first fit in a fresh JVM 6.88 → 7.79 s.
    Inputs already balanced by their row groups: 600k points 2.19 →
    2.19 s, 100k×64 vectors 2.57 → 2.76 s (5 pairs each).

    ``part_rows`` are the rows in each partition of ``df`` when the
    caller already has them; without them the decision costs one
    :func:`partition_rows` job.
    """
    capped = _cap_partitions(df)
    if capped is not df:
        return capped
    if part_rows is None:
        part_rows = partition_rows(df)
    p = df.sparkSession.sparkContext.defaultParallelism
    fair = -(-sum(part_rows) // p)
    if max(part_rows, default=0) <= 2 * fair:
        return df
    if _order_is_fixed(df):
        return df.repartition(p, F.monotonically_increasing_id())
    return df.repartition(p)


# ---------------------------------------------------------------------------
# O6 — nearest-centroid assignment (the "map", mapper.py:35-51)
# ---------------------------------------------------------------------------

def assign(points: DataFrame, centers: list[Center]) -> DataFrame:
    """Assign each point to its nearest centroid (squared Euclidean).

    Narrow (shuffle-free) path for driver-held centers — the common case
    in the Lloyd loop. Output keeps x,y so recompute/wssse reuse it.
    """
    best = nearest_centroid_2d(F.col("x"), F.col("y"), centers)
    return points.select(
        "point_id",
        "x",
        "y",
        best["cid"].alias("cid"),
        best["d2"].alias("min_d2"),
    )


def assign_df(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """General assignment when centroids are a DataFrame (unknown K).

    Broadcast nested-loop join + per-point struct-min aggregation — the
    declarative form of the reference's RPC centroid fan-out
    (master.py:184-188) + Python argmin loop (mapper.py:38-49). The
    explicit ``broadcast`` hint guarantees no N×K shuffle at any scale;
    the groupBy shuffles N rows once. Prefer :func:`assign` inside
    loops; use this when centroids come from data (e.g. another query).
    """
    d2 = sq_dist_2d(F.col("x"), F.col("y"), F.col("cx"), F.col("cy"))
    scored = points.crossJoin(F.broadcast(centroids)).select(
        "point_id",
        "x",
        "y",
        F.struct(d2.alias("d2"), F.col("cid").cast("int").alias("cid")).alias("cand"),
    )
    best = (
        scored.groupBy("point_id", "x", "y")
        .agg(F.min("cand").alias("best"))
        .select(
            "point_id",
            "x",
            "y",
            F.col("best.cid").alias("cid"),
            F.col("best.d2").alias("min_d2"),
        )
    )
    return best


# ---------------------------------------------------------------------------
# O8 — per-cluster mean (the "reduce", reducer.py:29-44)
# ---------------------------------------------------------------------------

def recompute(assigned: DataFrame) -> DataFrame:
    """New centroid = mean of assigned points, plus member count.

    Catalyst plans partial+final HashAggregate automatically — the
    map-side combine the reference lacks (its shuffle carries every
    point: mapper.py:53-74). Clusters with no members are absent here;
    see :func:`repair_empty`.
    """
    return assigned.groupBy("cid").agg(
        F.avg("x").alias("cx"),
        F.avg("y").alias("cy"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# O9 — bounding box (master.py:274-303)
# ---------------------------------------------------------------------------

def _spark_order(v: float) -> tuple[bool, float]:
    # Spark orders doubles with NaN above +inf (and NaN = NaN)
    return (True, 0.0) if math.isnan(v) else (False, v)


def _spark_min(values) -> float | None:
    """Spark SQL ``min`` of doubles on the driver: NULLs skipped, NaN only
    when every value is NaN."""
    return min((v for v in values if v is not None), key=_spark_order, default=None)


def _spark_max(values) -> float | None:
    """Spark SQL ``max`` of doubles on the driver: NULLs skipped, NaN when
    any value is NaN."""
    return max((v for v in values if v is not None), key=_spark_order, default=None)


def bbox(points: DataFrame) -> DataFrame:
    """Global min/max of both coordinates in one partial+final agg."""
    return points.agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# O10 — WSSSE objective (master.py:315-332)
# ---------------------------------------------------------------------------

def wssse(assigned: DataFrame) -> DataFrame:
    """Σ min-squared-distance. Reuses O6's output: the reference instead
    re-scans the raw input twice per iteration (called twice at
    master.py:365) — two full O(N·K) passes this plan never does."""
    return assigned.agg(F.sum("min_d2").alias("wssse"))


# ---------------------------------------------------------------------------
# O11 — seeded init (master.py:81-88, textbook bounds per SURVEY §2.3.3)
# ---------------------------------------------------------------------------

def init_random(
    k: int, bounds: tuple[float, float, float, float], seed: int = 42
) -> list[Center]:
    """K uniform samples within the data bounding box.

    All randomness stays on the driver (like the reference's
    master-side init) so runs are reproducible regardless of
    partitioning. The reference scrambles axes/signs when passing
    bounds (master.py:346-347); intent per getInputRange
    (master.py:274-303) is the true box — implemented here.
    """
    min_x, max_x, min_y, max_y = bounds
    rng = random.Random(seed)
    return [
        (cid, rng.uniform(min_x, max_x), rng.uniform(min_y, max_y))
        for cid in range(k)
    ]


def kmpp_scores(points: DataFrame, cands: list[tuple[float, float]]) -> DataFrame:
    """One k-means|| round's D²-scoring: distance of every point to its
    nearest current candidate — the quantity Bahmani's sampling weights
    by. A narrow literal-argmin map (no shuffle); shared by the
    :func:`init_kmeans_parallel` loop and the oracle-gated
    ``kmeans_kmpp_round1`` query so the gated math IS the init's math."""
    lit_centers = [(i, cx, cy) for i, (cx, cy) in enumerate(cands)]
    best = nearest_centroid_2d(F.col("x"), F.col("y"), lit_centers)
    return points.select("*", best["d2"].alias("d2"))


def kmpp_round_probs(
    points: DataFrame,
    cands: list[tuple[float, float]],
    l: int,
    phi_digits: int = 2,
    prob_digits: int = 6,
) -> DataFrame:
    """The deterministic half of one k-means|| sampling round: per-point
    d² and the sampling probability min(1, l·d²/φ), as ONE plan — φ is
    a cross-joined broadcast 1-row sum, rounded to ``phi_digits`` so
    both engines divide by a bit-identical scalar. Everything up to the
    seeded coin-flip is SQL-expressible; this is what the oracle gates
    (the flip itself stays rows-only by declared contract)."""
    scored = kmpp_scores(points, cands)
    phi = scored.agg(F.round(F.sum("d2"), phi_digits).alias("__phi"))
    # phi can ROUND to 0.0 near convergence: the division would yield
    # NULL (non-ANSI div-by-zero), which F.least silently skips,
    # turning every prob into 1.0 — guard to the degenerate-cover
    # answer (nothing left worth sampling) on both engines
    prob = F.when(
        F.col("__phi") > 0,
        F.least(F.lit(1.0), F.lit(float(l)) * F.col("d2") / F.col("__phi")),
    ).otherwise(F.lit(0.0))
    return (
        scored.crossJoin(F.broadcast(phi))
        .select(
            "*",
            F.round(prob, prob_digits).alias("prob"),
        )
        .drop("__phi")
    )


def kmpp_candidates(
    points: DataFrame,
    k: int,
    seed: int = 42,
    rounds: int = 5,
    oversample: int | None = None,
    n_rows: int | None = None,
) -> tuple[list[tuple[float, float]], np.ndarray]:
    """The distributed half of :func:`init_kmeans_parallel`: draw the
    k-means|| candidates and weight each by the points nearest to it.

    Each round: score every point against the current candidate set
    (:func:`kmpp_scores`: the narrow literal arg-min of
    ``nearest_centroid_2d``, one SQL text expression — no shuffle, no
    per-literal Py4J calls), Σd² via one aggregate, then sample points
    with probability min(1, l·d²/φ) using a seeded per-round ``rand``.
    The weights are the candidates' nearest-point counts, from one more
    ``nearest_centroid_2d`` job. O(rounds) passes over the data, exactly
    like MLlib's implementation of the same paper.

    ``n_rows`` is the row count of ``points`` when the caller already
    has it (``fit`` counts in its bounding-box job); without it the
    first draw's sampling fraction costs one ``count()`` job.
    """
    l = oversample or 2 * k
    pts = points.select("x", "y")
    if n_rows is None:
        n_rows = pts.count()
    frac = min(1.0, 100.0 / max(n_rows, 1))
    first = pts.sample(False, frac, seed).limit(1).collect()
    if not first:
        first = pts.limit(1).collect()
    cands: list[tuple[float, float]] = [(first[0]["x"], first[0]["y"])]

    for r in range(rounds):
        scored = kmpp_scores(pts, cands)
        phi = scored.agg(F.sum("d2").alias("phi")).collect()[0]["phi"]
        if not phi or phi <= 0:
            break  # every point coincides with a candidate
        new = (
            scored.filter(
                F.rand(seed + 1000 + r) < (F.lit(float(l)) * F.col("d2") / F.lit(float(phi)))
            )
            .select("x", "y")
            .collect()
        )
        cands.extend((row["x"], row["y"]) for row in new)

    lit_centers = [(i, cx, cy) for i, (cx, cy) in enumerate(cands)]
    best = nearest_centroid_2d(F.col("x"), F.col("y"), lit_centers)
    wrows = pts.select(best["cid"].alias("cid")).groupBy("cid").count().collect()
    weights = np.zeros(len(cands))
    for row in wrows:
        weights[row["cid"]] = row["count"]
    return cands, weights


def init_kmeans_parallel(
    points: DataFrame,
    k: int,
    seed: int = 42,
    rounds: int = 5,
    oversample: int | None = None,
    n_rows: int | None = None,
) -> list[Center]:
    """k-means|| init (Bahmani et al., VLDB 2012) — the scale-correct
    seeding the reference lacks (its uniform-box init needs many Lloyd
    iterations to recover from bad seeds; D²-sampling starts near the
    final solution).

    :func:`kmpp_candidates` draws ≈ rounds·l weighted candidates
    (driver-tiny); a deterministic weighted Lloyd on the driver reduces
    them to k. ``n_rows`` is passed through: give it when the row count
    is already known, to save a ``count()`` job.
    """
    cands, weights = kmpp_candidates(points, k, seed, rounds, oversample, n_rows)
    rng = random.Random(seed)

    # driver-side weighted Lloyd to reduce candidates → k (deterministic)
    arr = np.array(cands)
    if len(cands) <= k:
        out = [(i, float(x), float(y)) for i, (x, y) in enumerate(cands)]
        while len(out) < k:  # degenerate corpus: pad with jittered copies
            i = len(out)
            x, y = cands[i % len(cands)]
            out.append((i, x + rng.uniform(-1e-6, 1e-6), y + rng.uniform(-1e-6, 1e-6)))
        return out
    # seed with the k heaviest candidates, then a few weighted-Lloyd steps
    top = np.argsort(-weights, kind="stable")[:k]
    centers = arr[top].copy()
    for _ in range(20):
        d2 = ((arr[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        moved = 0.0
        for j in range(k):
            m = a == j
            w = weights[m]
            if w.sum() > 0:
                nc = (arr[m] * w[:, None]).sum(axis=0) / w.sum()
                moved += float(((nc - centers[j]) ** 2).sum())
                centers[j] = nc
        if moved < 1e-12:
            break
    return [(i, float(cx), float(cy)) for i, (cx, cy) in enumerate(centers)]


# ---------------------------------------------------------------------------
# O12 — empty-cluster repair (master.py:265-271 / sequential-kmeans.py:46-48)
# ---------------------------------------------------------------------------

def repair_empty(
    centers: list[Center],
    new_stats: dict[int, tuple[float, float]],
    bounds: tuple[float, float, float, float],
    rng: random.Random,
    policy: str = "reseed",
) -> list[Center]:
    """Guarantee exactly K centroids every generation.

    ``reseed``: empty clusters get a fresh uniform sample in the data
    bounding box (distributed reference semantics, master.py:265-271,
    with the sign-scramble fixed — SURVEY §2.3.3).
    ``keep``: retain the previous centroid (sequential reference
    semantics, sequential-kmeans.py:46-48).
    """
    min_x, max_x, min_y, max_y = bounds
    out: list[Center] = []
    for cid, old_x, old_y in centers:
        if cid in new_stats:
            nx, ny = new_stats[cid]
            out.append((cid, nx, ny))
        elif policy == "keep":
            out.append((cid, old_x, old_y))
        else:
            out.append((cid, rng.uniform(min_x, max_x), rng.uniform(min_y, max_y)))
    return out


def empty_clusters(expected: DataFrame, stats: DataFrame) -> DataFrame:
    """Declarative empty-cluster *detection*: expected cids anti-joined
    with observed cluster stats (the oracle-checkable face of O12)."""
    return expected.join(stats, "cid", "left_anti").select("cid")


# ---------------------------------------------------------------------------
# O13 — the iteration loop (master.py:352-366)
# ---------------------------------------------------------------------------

@dataclass
class KMeansResult:
    centers: list[Center]
    wssse_history: list[float] = field(default_factory=list)
    iterations: int = 0
    converged: bool = False
    cluster_sizes: dict[int, int] = field(default_factory=dict)


def lloyd_step(
    points: DataFrame, centers: list[Center]
) -> tuple[dict[int, tuple[float, float]], dict[int, int], float]:
    """One Lloyd iteration as ONE Spark job.

    Single aggregation returns per-cluster (mean, count) AND the WSSSE
    of the *current* centers: sums shuffle as O(partitions×K) partial
    rows. Returns (means, sizes, wssse). Compare: the reference runs a
    full map phase, an R×M shuffle of every point, plus two extra whole-
    input scans for the objective — per iteration.
    """
    rows = (
        assign(points, centers)
        .groupBy("cid")
        .agg(
            F.avg("x").alias("cx"),
            F.avg("y").alias("cy"),
            F.count(F.lit(1)).alias("n"),
            F.sum("min_d2").alias("sse"),
        )
        .collect()
    )
    means = {r["cid"]: (r["cx"], r["cy"]) for r in rows}
    sizes = {r["cid"]: r["n"] for r in rows}
    f_cur = float(sum(r["sse"] for r in rows))
    return means, sizes, f_cur


def lloyd_step_arrow(
    points_xy: DataFrame,
    centers: list[Center],
    n_parts: int | None = None,
) -> tuple[dict[int, tuple[float, float]], dict[int, int], float]:
    """One Lloyd iteration via Arrow-vectorized partial aggregation.

    Same contract as :func:`lloyd_step`, different physical strategy:
    ``mapInPandas`` emits K partial-sum rows per partition (numpy
    argmin over a (batch × K) distance matrix), then a K-row groupBy
    merges them. Why this exists alongside the pure-Catalyst step: the
    expression form bakes centroid literals into the plan, so every
    iteration re-analyzes and re-compiles codegen (~0.2 s/iter — the
    dominant per-iteration cost at bench scale, and pure driver-side
    latency at any scale). Here centers ride in the Python closure:
    the plan is structurally identical every iteration, nothing
    recompiles, and the shuffle still carries only K rows per
    partition. Distances use the same (x−cx)²+(y−cy)² float64 op
    order; argmin ties break to the lowest index = lowest cid
    (reference mapper.py:43 first-wins).
    """
    import numpy as np
    import pandas as pd

    ordered = sorted((int(c), float(x), float(y)) for c, x, y in centers)
    cids = [c for c, _, _ in ordered]
    cx = np.array([x for _, x, _ in ordered])
    cy = np.array([y for _, _, y in ordered])
    k = len(ordered)
    # nan-guard is only needed when a center is non-finite; keep the
    # hot loop one pass
    guard_nan = not (np.isfinite(cx).all() and np.isfinite(cy).all())

    def partials(batches):
        sx = np.zeros(k)
        sy = np.zeros(k)
        n = np.zeros(k, dtype=np.int64)
        sse = np.zeros(k)  # per-cluster, so the groupBy merge is exact
        for pdf in batches:
            x = pdf["x"].to_numpy()
            y = pdf["y"].to_numpy()
            dx = x[:, None] - cx[None, :]
            dy = y[:, None] - cy[None, :]
            d2 = dx * dx + dy * dy
            if guard_nan:
                # a nan center (or inf−inf) yields nan distances;
                # np.argmin would return the nan column AND the nan
                # partial would cross the Arrow boundary as NULL
                # (pandas nan_as_null), crashing the driver merge. A
                # non-finite center simply never wins: nan → +inf
                # before the argmin.
                d2 = np.where(np.isnan(d2), np.inf, d2)
            a = d2.argmin(axis=1)
            n += np.bincount(a, minlength=k)
            sx += np.bincount(a, weights=x, minlength=k)
            sy += np.bincount(a, weights=y, minlength=k)
            sse += np.bincount(a, weights=d2[np.arange(len(x)), a], minlength=k)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        yield pd.DataFrame(
            {
                "pid": np.full(k, pid, dtype=np.int32),
                "cid": np.arange(k, dtype=np.int32),
                "sx": sx,
                "sy": sy,
                "n": n,
                "sse": sse,
            }
        )

    part_df = points_xy.mapInPandas(
        partials, "pid INT, cid INT, sx DOUBLE, sy DOUBLE, n LONG, sse DOUBLE"
    )
    if n_parts is None:
        # .rdd forces a plan→RDD conversion; callers looping (fit)
        # should compute this once and pass it in
        n_parts = points_xy.rdd.getNumPartitions()
    if n_parts <= 1024:
        # Single-stage job: P×K partial rows come straight to the
        # driver (MLlib's treeAggregate endgame) — no shuffle at all.
        # Merge in pid order so float sums are deterministic per layout.
        rows = sorted(part_df.collect(), key=lambda r: (r["pid"], r["cid"]))
    else:
        # Cluster-scale fallback: merge partials through a K-row
        # groupBy so the driver sees K rows, not P×K.
        rows = (
            part_df.groupBy("cid")
            .agg(
                F.sum("sx").alias("sx"),
                F.sum("sy").alias("sy"),
                F.sum("n").alias("n"),
                F.sum("sse").alias("sse"),
            )
            .collect()
        )
    import collections

    acc = collections.defaultdict(lambda: [0.0, 0.0, 0, 0.0])
    for r in rows:
        a = acc[r["cid"]]
        a[0] += r["sx"]
        a[1] += r["sy"]
        a[2] += r["n"]
        a[3] += r["sse"]
    means = {
        cids[c]: (a[0] / a[2], a[1] / a[2]) for c, a in acc.items() if a[2] > 0
    }
    sizes = {cids[c]: int(a[2]) for c, a in acc.items() if a[2] > 0}
    f_cur = float(sum(a[3] for a in acc.values()))
    return means, sizes, f_cur


# Below this many cached rows, one iteration's interpreted-eval cost is
# smaller than Janino's ~0.2 s whole-stage-codegen compile of the fresh
# literal plan, so the loop runs faster with codegen off. Above it, the
# compile amortizes over the scan and codegen wins (and at 100 TB it is
# not even a rounding error). Measured crossover at sf0.1 (600 K rows):
# interpreted step ≈ 0.31 s vs codegen step ≈ 0.5 s (compile-dominated).
CODEGEN_MIN_ROWS = 5_000_000


def lloyd_step_sql(
    points_xy: DataFrame, centers: list[Center]
) -> tuple[dict[int, tuple[float, float]], dict[int, int], float]:
    """One Lloyd iteration as a single text-built Catalyst plan.

    Same contract and semantics as :func:`lloyd_step`, because both
    take their arg-min from ``functions.distance``: squared Euclidean
    ``(x−cx)²+(y−cy)²`` in the identical IEEE op order, ties break
    first-wins to the lowest cid (reference ``mapper.py:43``), and a
    non-finite centre never beats a finite one. Here the arg-min is the
    ``nearest_centroid_2d_sql`` text itself, parsed by the JVM in one
    call (~5 ms) rather than built from one Py4J ``Column`` call per
    literal (profiled at ~0.3 s an iteration at sf0.1).

    The plan itself is the right one at every scale: a narrow literal
    arg-min map (no join, no shuffle of points) into a partial+final
    hash aggregate whose exchange carries K rows per partition. The
    caller decides whether whole-stage codegen pays for itself (see
    ``CODEGEN_MIN_ROWS`` — fresh literals mean a fresh compile every
    iteration, which dominates at bench scale and vanishes at 100 TB).
    """
    rows = (
        points_xy.selectExpr("x", "y", f"{nearest_centroid_2d_sql(centers)} AS best")
        .selectExpr("x", "y", "best.d2 AS min_d2", "best.cid AS cid")
        .groupBy("cid")
        .agg(
            F.avg("x").alias("cx"),
            F.avg("y").alias("cy"),
            F.count(F.lit(1)).alias("n"),
            F.sum("min_d2").alias("sse"),
        )
        .collect()
    )
    means = {r["cid"]: (r["cx"], r["cy"]) for r in rows}
    sizes = {r["cid"]: r["n"] for r in rows}
    f_cur = float(sum(r["sse"] for r in rows))
    return means, sizes, f_cur


def fit(
    points: DataFrame,
    k: int,
    max_iter: int = 20,
    tol: float = 0.5,
    seed: int = 42,
    init_centers: list[Center] | None = None,
    empty_policy: str = "reseed",
    impl: str = "auto",
    init: str = "random",
    round_digits: int | None = None,
) -> KMeansResult:
    """Full Lloyd's loop: init → (assign → recompute → repair) → converge.

    Convergence: |f(prev) − f(cur)| < tol, matching the reference's δ=0.5
    absolute-WSSSE test (master.py:22,365) but with tol configurable.
    ``points`` is cached once (the reference re-reads points.txt 3+
    times per iteration); plans are rebuilt from driver-held centers
    each iteration so lineage does not grow across iterations.

    The cached input is spread over the cores by
    :func:`normalize_partitions`, the even M-way split the reference
    makes before any mapper runs (master.py:50-77). The decision takes
    the rows per input partition from the bounding-box job, which runs
    anyway and fills the cache, so it adds no job and an input that
    needs no move is computed once. When it rebalances, the one shuffle
    reads that cache and rides the loop's first job, and the first
    cache is dropped after that job has filled the rebalanced one.
    Results are bit-repeatable when the input's row order is (see
    :func:`normalize_partitions`). An input with no rows raises
    ``ValueError``.

    ``impl``: ``"auto"`` (default) resolves to ``"sql"`` —
    :func:`lloyd_step_sql`, a pure-Catalyst string-built step with
    whole-stage codegen toggled off for small inputs (the per-iteration
    Janino compile of fresh centroid literals costs more than
    interpreted eval below ``CODEGEN_MIN_ROWS``; above it codegen stays
    on and amortizes). ``"arrow"`` iterates with
    :func:`lloyd_step_arrow` (constant plan, Arrow partial agg);
    ``"expr"`` uses :func:`lloyd_step` (the ``assign`` DataFrame, which
    keeps ``point_id``). Same textbook semantics in every mode.

    ``round_digits``: round each iteration's means to this many decimals
    before they become the next generation's centers. With a fixed init
    and ``tol=0.0`` this makes the WHOLE loop deterministic across
    engines (rounding absorbs float summation-order noise), which is how
    the ``kmeans_fit_fixed`` query puts ``fit`` itself — repair path
    included — under the DuckDB hash gate.

    .. warning:: session-global conf toggle. For the duration of the
       loop, ``fit`` sets ``spark.sql.adaptive.enabled=false`` and (for
       small inputs on the sql path) ``spark.sql.codegen.wholeStage=
       false`` on the shared ``SparkSession``, restoring both in a
       ``finally``. Any query run CONCURRENTLY on the same session
       executes with those settings (interpreted, non-adaptive) —
       harmless for a single-threaded driver, a footgun for
       multi-threaded library use. Spark has no per-query scope for
       these confs; callers who need isolation should run ``fit`` on
       its own session (``spark.newSession()``).
    """
    if impl == "auto":
        impl = "sql"
    cols = ["x", "y"] if impl in ("arrow", "sql") else ["point_id", "x", "y"]
    points = points.select(*cols)
    spark = points.sparkSession
    # The loop's only shuffle is a K-row aggregate: AQE's adaptive
    # re-planning buys nothing there but costs ~0.1 s scheduling per
    # iteration (20% of iteration wall at sf0.1). Disable for the loop,
    # restore after — large one-shot queries elsewhere keep AQE.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    cg_before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    cached: list[DataFrame] = []  # the input's cache, then the rebalanced one
    try:
        points = _cap_partitions(points).cache()
        cached.append(points)
        # ONE pre-loop job, which fills the cache: per input partition,
        # its bounding box and row count. The row counts decide
        # normalize_partitions' rebalance, their sum the codegen strategy;
        # the bounds (init/repair sampling range) merge on the driver in
        # Spark's own order, so they equal one global min/max aggregate.
        per = (
            points.groupBy(F.spark_partition_id())
            .agg(
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.min("y").alias("min_y"),
                F.max("y").alias("max_y"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        part_rows = [r["n"] for r in per]
        n_rows = sum(part_rows)
        bounds = (
            _spark_min(r["min_x"] for r in per),
            _spark_max(r["max_x"] for r in per),
            _spark_min(r["min_y"] for r in per),
            _spark_max(r["max_y"] for r in per),
        )
        if not n_rows:
            raise ValueError("fit: the input has no rows")
        balanced = normalize_partitions(points, part_rows)
        if balanced is not points:
            # its shuffle reads the cache the bounding-box job filled
            points = balanced.cache()
            cached.append(points)
        if impl == "arrow":
            cached_parts = points.rdd.getNumPartitions()

            def step(pts, cs):
                return lloyd_step_arrow(pts, cs, n_parts=cached_parts)

        elif impl == "sql":
            step = lloyd_step_sql
        else:
            step = lloyd_step
        if impl == "sql" and n_rows < CODEGEN_MIN_ROWS:
            spark.conf.set("spark.sql.codegen.wholeStage", "false")
        if init_centers is None:
            if init == "k-means||":
                centers = init_kmeans_parallel(points, k, seed, n_rows=n_rows)
            else:
                centers = init_random(k, bounds, seed)
        else:
            centers = [(int(c), float(x), float(y)) for c, x, y in init_centers]

        rng = random.Random(seed + 1)
        result = KMeansResult(centers=centers)
        f_prev: float | None = None
        for it in range(max_iter):
            means, sizes, f_cur = step(points, centers)
            if len(cached) > 1:  # the rebalanced cache is filled now
                cached.pop(0).unpersist()
            if round_digits is not None:
                means = {
                    c: (
                        round_half_up(mx, round_digits),
                        round_half_up(my, round_digits),
                    )
                    for c, (mx, my) in means.items()
                }
            result.wssse_history.append(f_cur)
            result.cluster_sizes = sizes
            centers = repair_empty(centers, means, bounds, rng, empty_policy)
            result.centers = centers
            result.iterations = it + 1
            if f_prev is not None and abs(f_prev - f_cur) < tol:
                result.converged = True
                break
            f_prev = f_cur
        return result
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.codegen.wholeStage", cg_before)
        for df in cached:
            df.unpersist()
