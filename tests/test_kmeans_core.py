"""Golden micro-fixtures (FIXTURES.md F4/F5) + operator unit tests.

Hand-computed expectations: values chosen to be exact in binary floating
point, so comparisons are exact (no tolerance needed).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from kmeans_mapreduce_spark.operators import kmeans as km
from kmeans_mapreduce_spark.schema import POINTS_2D

F4_POINTS = [
    (0, 0.0, 0.0),
    (1, 0.0, 2.0),
    (2, 2.0, 0.0),
    (3, 2.0, 2.0),
    (4, 10.0, 10.0),
    (5, 10.0, 12.0),
    (6, 12.0, 10.0),
    (7, 12.0, 12.0),
]
F4_CENTERS = [(0, 1.0, 1.0), (1, 11.0, 11.0)]


@pytest.fixture(scope="module")
def f4(spark):
    return spark.createDataFrame(F4_POINTS, POINTS_2D)


def test_assign_golden(f4):
    rows = {r["point_id"]: r for r in km.assign(f4, F4_CENTERS).collect()}
    for pid in range(4):
        assert rows[pid]["cid"] == 0
    for pid in range(4, 8):
        assert rows[pid]["cid"] == 1
    assert all(r["min_d2"] == 2.0 for r in rows.values())


def test_assign_tiebreak_lowest_cid(spark, f4):
    # (6,6) is exactly equidistant (50.0) from both centroids →
    # must go to cid 0 (strict `<` first-wins, reference mapper.py:43).
    extra = spark.createDataFrame([(99, 6.0, 6.0)], POINTS_2D)
    row = km.assign(extra, F4_CENTERS).collect()[0]
    assert row["cid"] == 0
    assert row["min_d2"] == 50.0


def test_lloyd_step_sql_matches_expr_and_arrow(spark, f4):
    """The three step implementations are one contract: identical
    means, sizes, and WSSSE on the golden fixture — INCLUDING the
    first-wins tie-break (the (6,6) point is exactly equidistant from
    both centroids and must count toward cid 0 in every impl)."""
    extra = spark.createDataFrame([(99, 6.0, 6.0)], POINTS_2D)
    pts = f4.unionByName(extra)
    expr = km.lloyd_step(pts, F4_CENTERS)
    sql = km.lloyd_step_sql(pts.select("x", "y"), F4_CENTERS)
    arrow = km.lloyd_step_arrow(pts.select("x", "y"), F4_CENTERS, n_parts=2)
    assert expr == sql == arrow
    means, sizes, _ = sql
    assert sizes[0] == 5  # the tie went to cid 0 everywhere


def test_assign_df_matches_assign(spark, f4):
    cents = spark.createDataFrame(
        [(c, x, y) for c, x, y in F4_CENTERS], "cid INT, cx DOUBLE, cy DOUBLE"
    )
    a = {(r["point_id"], r["cid"], r["min_d2"]) for r in km.assign(f4, F4_CENTERS).collect()}
    b = {(r["point_id"], r["cid"], r["min_d2"]) for r in km.assign_df(f4, cents).collect()}
    assert a == b


def test_recompute_golden(f4):
    assigned = km.assign(f4, F4_CENTERS)
    stats = {r["cid"]: r for r in km.recompute(assigned).collect()}
    assert stats[0]["cx"] == 1.0 and stats[0]["cy"] == 1.0 and stats[0]["n"] == 4
    assert stats[1]["cx"] == 11.0 and stats[1]["cy"] == 11.0 and stats[1]["n"] == 4


def test_wssse_golden(f4):
    assigned = km.assign(f4, F4_CENTERS)
    assert km.wssse(assigned).collect()[0]["wssse"] == 16.0


def test_bbox_golden(f4):
    b = km.bbox(f4).collect()[0]
    assert (b["min_x"], b["max_x"], b["min_y"], b["max_y"]) == (0.0, 12.0, 0.0, 12.0)


def test_empty_cluster_repair_policies(spark, f4):
    # F5: K=3 with an unreachable centroid → exactly K centroids out.
    centers3 = F4_CENTERS + [(2, 1000.0, 1000.0)]
    means, sizes, _ = km.lloyd_step(f4, centers3)
    assert 2 not in means
    import random

    reseeded = km.repair_empty(centers3, means, (0, 12, 0, 12), random.Random(0), "reseed")
    kept = km.repair_empty(centers3, means, (0, 12, 0, 12), random.Random(0), "keep")
    assert [c[0] for c in reseeded] == [0, 1, 2]
    assert kept[2] == (2, 1000.0, 1000.0)
    r2 = reseeded[2]
    assert 0 <= r2[1] <= 12 and 0 <= r2[2] <= 12


def test_empty_clusters_df(spark, f4):
    from pyspark.sql import functions as F

    expected = spark.range(3).select(F.col("id").cast("int").alias("cid"))
    stats = km.recompute(km.assign(f4, F4_CENTERS + [(2, 1000.0, 1000.0)]))
    empties = km.empty_clusters(expected, stats).collect()
    assert [r["cid"] for r in empties] == [2]


def test_fit_converges_and_is_fixpoint(f4):
    res = km.fit(f4, k=2, max_iter=10, tol=1e-9, init_centers=F4_CENTERS)
    # F4 init is already the fixpoint: converges immediately, WSSSE 16.
    assert res.converged
    assert res.wssse_history[0] == 16.0
    assert sorted(res.centers) == [(0, 1.0, 1.0), (1, 11.0, 11.0)]


def test_fit_wssse_nonincreasing(spark, sf_dir):
    from kmeans_mapreduce_spark.sources.derive import points_2d

    pts = points_2d(spark, sf_dir)
    res = km.fit(pts, k=4, max_iter=6, tol=0.0, seed=42)
    hist = res.wssse_history
    assert len(hist) >= 2
    for prev, cur in zip(hist, hist[1:]):
        assert cur <= prev * (1 + 1e-9)


def test_kmeans_parallel_init_beats_random_first_iteration(spark, sf_dir):
    from kmeans_mapreduce_spark.sources.derive import points_2d

    pts = points_2d(spark, sf_dir)
    rnd = km.fit(pts, k=4, max_iter=2, tol=0.0, seed=42)
    kmpp = km.fit(pts, k=4, max_iter=2, tol=0.0, seed=42, init="k-means||")
    assert sorted(c[0] for c in kmpp.centers) == [0, 1, 2, 3]
    # D²-sampled seeds start far closer to the optimum than uniform-box
    assert kmpp.wssse_history[0] < rnd.wssse_history[0]


def test_fit_always_k_centers(spark, sf_dir):
    from kmeans_mapreduce_spark.sources.derive import points_2d

    pts = points_2d(spark, sf_dir)
    res = km.fit(pts, k=8, max_iter=3, tol=0.5, seed=7)
    assert sorted(c[0] for c in res.centers) == list(range(8))


def test_round_half_up_matches_both_engines(spark):
    """Driver-side mean rounding must agree with Spark F.round and
    DuckDB ROUND everywhere — including exactly-representable decimal
    half-ties (dyadic values like 1.0078125), where Python's built-in
    round() (half-to-even) diverges."""
    import random as rnd

    import duckdb
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators.kmeans import round_half_up

    vals = [
        1.0078125, -1.0078125, 33.0078125,  # dyadic 7-digit half-ties
        2.5e-6, -2.5e-6, 0.9999995, -0.9999995, 0.0, 123.456789499,
    ]
    r = rnd.Random(0)
    vals += [r.uniform(-1000, 1000) for _ in range(200)]
    # built-in round() must actually diverge on the planted ties
    assert round(1.0078125, 6) != round_half_up(1.0078125, 6)

    py = [round_half_up(v, 6) for v in vals]
    con = duckdb.connect()
    duck = [
        con.execute("SELECT ROUND(CAST(? AS DOUBLE), 6)", [v]).fetchone()[0]
        for v in vals
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i INT, v DOUBLE"
    ).select("i", F.round("v", 6).alias("r"))
    sp = [row["r"] for row in df.orderBy("i").collect()]
    assert py == duck
    assert py == sp


def test_elbow_sweep_wssse_monotone_in_k(spark):
    """The elbow table's point: more clusters → lower cost. With the
    fixed in-box inits, WSSSE must strictly decrease across the
    candidate ks, and every row must cover the full point set."""
    from kmeans_mapreduce_spark.queries import q_kmeans_elbow_sweep

    rows = sorted(
        q_kmeans_elbow_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [2, 4, 8]
    assert len({r["n_points"] for r in rows}) == 1
    ws = [r["wssse"] for r in rows]
    assert ws[0] > ws[1] > ws[2]


def test_lloyd_step_sql_nonfinite_center_falls_back(spark):
    """ADVICE r8: repr() of nan/inf makes unparseable/always-false SQL
    text, so lloyd_step_sql must render non-finite centers its own way
    instead of crashing — and still produce the numeric answer for the
    finite centers."""
    from kmeans_mapreduce_spark.operators import kmeans as km

    pts = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 1.0), (10.0, 10.0)], "x DOUBLE, y DOUBLE"
    )
    bad = [(0, float("nan"), 0.0), (1, 10.0, 10.0)]
    means, sizes, sse = km.lloyd_step_sql(pts, bad)
    # every point lands on the one finite center (nan distances never
    # win an argmin against a finite one)
    assert sizes == {1: 3}
    inf_c = [(0, float("inf"), 0.0), (1, 0.0, 0.0)]
    means2, sizes2, _ = km.lloyd_step_sql(pts, inf_c)
    assert sizes2 == {1: 3}


def test_assign_nd_arrow_matches_expr_bitwise(spark):
    """assign_nd's two physical paths (K*d-literal expression vs Arrow
    matmul) must agree bit-for-bit — unrounded d2 included — and break
    ties to the lowest cid; auto dispatch picks by plan size."""
    from kmeans_mapreduce_spark.operators import kmeans_nd as knd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F

    pts = emb.select(
        F.col("vec_id").alias("point_id"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
            "vec"
        ),
    )
    first = pts.orderBy("point_id").limit(5).collect()
    centers = [(i, list(r["vec"])) for i, r in enumerate(first)]
    # plant an exact duplicate center under a higher cid: ties -> 0
    centers.append((9, centers[0][1]))
    a = {
        r["point_id"]: (r["cid"], r["min_d2"])
        for r in knd.assign_nd(pts, centers, impl="expr").collect()
    }
    b = {
        r["point_id"]: (r["cid"], r["min_d2"])
        for r in knd.assign_nd(pts, centers, impl="arrow").collect()
    }
    assert len(a) == 500 and a == b
    assert a[first[0]["point_id"]][0] == 0  # duplicate-center tie -> lowest
    # r9 ADVICE: the Arrow path must preserve the INPUT's point_id type
    # (it hardcoded LONG, so impl='auto' silently widened INT ids when
    # K*d crossed CELL_LITERAL_MAX_KD)
    pts_int = pts.withColumn("point_id", F.col("point_id").cast("int"))
    for impl in ("expr", "arrow"):
        got = dict(knd.assign_nd(pts_int, centers, impl=impl).dtypes)
        assert got["point_id"] == "int", (impl, got)


# ---------------------------------------------------------------------------
# the shared SQL-text arg-min (functions.distance) against numpy
# ---------------------------------------------------------------------------

NAN, INF = float("nan"), float("inf")
EXACT_LITERALS = [5e-324, 1.7976931348623157e308, 1e-07, 0.30000000000000004]


def _np_nearest(xy, centers):
    """numpy twin of the rendered arg-min: per centre
    ((x - cx)*(x - cx)) + ((y - cy)*(y - cy)), then the first centre in
    cid order under Spark's double ordering (NaN above every value)."""
    ordered = sorted(centers)
    cx = np.array([c[1] for c in ordered])
    cy = np.array([c[2] for c in ordered])
    x, y = xy[:, :1], xy[:, 1:]
    with np.errstate(invalid="ignore", over="ignore"):
        d = (x - cx) * (x - cx) + (y - cy) * (y - cy)
    out = []
    for row in d:
        j = min(
            range(len(ordered)),
            key=lambda j: (math.isnan(row[j]), 0.0 if math.isnan(row[j]) else row[j], j),
        )
        out.append((ordered[j][0], float(row[j])))
    return out


def _same(a, b):
    return a == b or (math.isnan(a) and math.isnan(b))


def _renderer_cases():
    rng = np.random.default_rng(11)
    finite = [(cid, *map(float, rng.uniform(-40, 40, 2))) for cid in (7, 2, 11, 0, 5)]
    dup = [(4, 1.5, -2.0), (1, 1.5, -2.0), (3, 10.0, 10.0), (2, 10.0, 10.0)]
    nonfinite = [(0, NAN, 0.0), (1, INF, 1.0), (2, 3.0, -INF), (3, 4.0, 4.0)]
    a, b, c, d = EXACT_LITERALS
    literals = [(0, a, c), (1, d, b), (2, c, d), (3, -b, a)]
    return {
        "finite": finite,
        "duplicates": dup,
        "nonfinite": nonfinite,
        "all_nan": [(0, NAN, 1.0), (1, NAN, NAN)],
        "nan_and_inf": [(5, NAN, 0.0), (6, -INF, 0.0)],
        "literals": literals,
        "one_centre": [(9, c, d)],
    }


@pytest.fixture(scope="module")
def renderer_points():
    rng = np.random.default_rng(5)
    a, b, c, d = EXACT_LITERALS
    special = [
        (5.75, 4.0),  # equidistant from both duplicate pairs
        (1.5, -2.0),
        (d, c),
        (a, 0.0),
        (c, d),
        (1e308, -1e308),
        (0.0, 0.0),
    ]
    xy = np.vstack([rng.uniform(-60, 60, size=(200, 2)), np.array(special)])
    return xy


@pytest.mark.parametrize("case", list(_renderer_cases()))
def test_nearest_centroid_text_is_exact_through_every_caller(spark, renderer_points, case):
    """assign, kmpp_scores and lloyd_step_sql all take their arg-min from
    the shared SQL-text renderer: cid and d2 must equal numpy's in the
    program's op order, bit for bit — random, duplicate (ties to the
    lowest cid), NaN/±inf (never win; all-NaN gives the lowest cid with
    d2 NaN) and extreme-literal centres alike."""
    centers = _renderer_cases()[case]
    xy = renderer_points
    want = _np_nearest(xy, centers)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]
    df = spark.createDataFrame(rows, POINTS_2D)

    got = {r["point_id"]: (r["cid"], r["min_d2"]) for r in km.assign(df, centers).collect()}
    for i, (cid, d2) in enumerate(want):
        assert got[i][0] == cid and _same(got[i][1], d2), (case, xy[i], got[i], (cid, d2))

    # kmpp_scores numbers its candidates by position
    cands = [(cx, cy) for _, cx, cy in sorted(centers)]
    scored = km.kmpp_scores(df, cands).select("point_id", "d2").collect()
    for r in scored:
        assert _same(r["d2"], want[r["point_id"]][1]), (case, r)

    # one partition: Spark's per-cluster sums run in row order, as here
    means, sizes, sse = km.lloyd_step_sql(df.select("x", "y").coalesce(1), centers)
    members: dict[int, list[int]] = {}
    for i, (cid, _) in enumerate(want):
        members.setdefault(cid, []).append(i)
    assert sizes == {cid: len(ix) for cid, ix in members.items()}
    want_sse = 0.0
    for cid, ix in members.items():
        sx = sy = s2 = 0.0
        for i in ix:
            sx += xy[i, 0]
            sy += xy[i, 1]
            s2 += want[i][1]
        assert _same(means[cid][0], sx / len(ix)) and _same(means[cid][1], sy / len(ix))
        want_sse += s2
    assert _same(sse, want_sse) or math.isclose(sse, want_sse, rel_tol=1e-12)


def test_sql_double_literals_round_trip(spark):
    """Double literals are exact: shortest repr plus a D suffix (a bare
    1.5 would parse as DECIMAL), string casts for NaN and ±inf."""
    from kmeans_mapreduce_spark.functions.distance import sql_double

    values = EXACT_LITERALS + [-1e-07, -0.0, 123456789.125, NAN, INF, -INF]
    cols = ", ".join(f"{sql_double(v)} AS v{i}" for i, v in enumerate(values))
    df = spark.sql(f"SELECT {cols}")
    assert all(t == "double" for _, t in df.dtypes)
    row = df.collect()[0]
    for i, v in enumerate(values):
        assert _same(row[i], v), (v, row[i])
        if v == 0.0:
            assert math.copysign(1.0, row[i]) == math.copysign(1.0, v)


def test_kmeans_parallel_init_repeatable_and_weighted(spark):
    """init_kmeans_parallel draws the same centres for the same seed,
    with or without the caller's row count, and weights each candidate
    by exactly the points numpy assigns to it."""
    rng = np.random.default_rng(3)
    xy = np.vstack([rng.normal(c, 1.5, size=(300, 2)) for c in [(0, 0), (25, 0), (0, 25)]])
    df = spark.createDataFrame([(float(x), float(y)) for x, y in xy], "x DOUBLE, y DOUBLE")

    first = km.init_kmeans_parallel(df, 3, seed=5)
    assert km.init_kmeans_parallel(df, 3, seed=5) == first
    assert km.init_kmeans_parallel(df, 3, seed=5, n_rows=len(xy)) == first

    cands, weights = km.kmpp_candidates(df, 3, seed=5, n_rows=len(xy))
    assert len(cands) > 3  # the weighted reduce runs
    nearest = _np_nearest(xy, [(i, cx, cy) for i, (cx, cy) in enumerate(cands)])
    counts = np.bincount([cid for cid, _ in nearest], minlength=len(cands))
    assert weights.tolist() == counts.tolist()


# ---------------------------------------------------------------------------
# loop input balance: normalize_partitions decides by rows per partition
# ---------------------------------------------------------------------------


def _fair_share(spark, n: int) -> int:
    return -(-n // spark.sparkContext.defaultParallelism)


@pytest.fixture(scope="module")
def one_row_group_points(spark, tmp_path_factory):
    """40k 2-D points in a parquet file with ONE row group, read back
    with 64 KB splits: the file scans as several partitions and every
    row lands in the one whose split holds the row group's midpoint —
    the layout of the benchmark's lineitem inputs, at test size. Returns
    (context manager that reads the file, row count); the split-size
    confs are set only while the caller's block runs."""
    import contextlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    xy = np.vstack([rng.normal(c, 2.0, size=(10_000, 2)) for c in [(0, 0), (30, 0), (0, 30), (30, 30)]])
    path = str(tmp_path_factory.mktemp("one_row_group") / "points.parquet")
    pq.write_table(
        pa.table({"x": xy[:, 0], "y": xy[:, 1]}), path, row_group_size=len(xy)
    )
    confs = {
        "spark.sql.files.maxPartitionBytes": "64k",
        "spark.sql.files.openCostInBytes": "0",
    }

    @contextlib.contextmanager
    def small_splits():
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            yield spark.read.parquet(path)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return small_splits, len(xy)


def test_normalize_partitions_balances_one_row_group_parquet(spark, one_row_group_points):
    small_splits, n = one_row_group_points
    with small_splits() as df:
        assert df.rdd.getNumPartitions() > 1
        assert max(km.partition_rows(df)) == n  # the skew this fixes
        out = km.normalize_partitions(df)
        rows = km.partition_rows(out)
    assert sum(rows) == n
    assert max(rows) <= 2 * _fair_share(spark, n)


def test_normalize_partitions_balances_identical_points(spark):
    """Duplicates must not land in one partition: a hash on the
    coordinates would put all of them there. An input of fixed row
    order is hashed on its row id; one that comes out of a shuffle,
    whose order a rerun task need not repeat, is dealt round-robin."""
    n = 20_000
    fixed = spark.range(n, numPartitions=1).selectExpr("1.5D AS x", "-2.0D AS y")
    shuffled = fixed.repartition(1)
    p = spark.sparkContext.defaultParallelism
    for df, by_row_id in [(fixed, True), (shuffled, False)]:
        out = km.normalize_partitions(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("monotonically_increasing_id()" in plan) == by_row_id, plan
        assert (f"RoundRobinPartitioning({p})" in plan) != by_row_id, plan
        rows = km.partition_rows(out)
        assert sum(rows) == n
        assert max(rows) <= 2 * _fair_share(spark, n)


def test_normalize_partitions_keeps_balanced_input(spark):
    p = spark.sparkContext.defaultParallelism
    df = spark.range(10_000, numPartitions=p).selectExpr("CAST(id AS DOUBLE) AS x")
    out = km.normalize_partitions(df)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == p


def test_fits_on_skewed_input_are_repeatable(spark, one_row_group_points):
    """The rebalance key is deterministic for a deterministic input, so
    two fits of the skewed file agree bit for bit, in 2-D and n-D."""
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators import kmeans_nd as knd

    small_splits, _ = one_row_group_points
    with small_splits() as df:
        fits = [km.fit(df, k=4, max_iter=4, tol=0.0, seed=9) for _ in range(2)]
        nd = df.select(
            F.monotonically_increasing_id().alias("point_id"),
            F.array("x", "y", "x").alias("vec"),
        )
        fits_nd = [knd.fit_nd(nd, 4, max_iter=3, tol=0.0) for _ in range(2)]
    assert fits[0].centers == fits[1].centers
    assert fits[0].wssse_history == fits[1].wssse_history
    assert fits_nd[0][0] == fits_nd[1][0]
    assert fits_nd[0][1] == fits_nd[1][1]


def test_fits_compute_their_input_once(spark):
    """The pre-loop job fills the cache, and a rebalance reads that
    cache: balanced or skewed, a fit evaluates its input's plan once
    per row."""
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators import kmeans_nd as knd

    sc = spark.sparkContext
    n = 4_000
    for parts in (sc.defaultParallelism, 1):  # balanced, then skewed
        calls = sc.accumulator(0)

        @F.udf("double")
        def counted(v):
            calls.add(1)
            return v

        pts = spark.range(n, numPartitions=parts).select(
            counted(F.col("id").cast("double")).alias("x"),
            (F.col("id") % 7).cast("double").alias("y"),
        )
        km.fit(pts, k=3, max_iter=3, tol=0.0, seed=1)
        assert calls.value == n, parts
        nd = pts.select(F.col("x").cast("long").alias("point_id"), F.array("x", "y").alias("vec"))
        knd.fit_nd(nd, 3, max_iter=3, tol=0.0)
        assert calls.value == 2 * n, parts


def test_fits_reject_empty_input(spark):
    from kmeans_mapreduce_spark.operators import kmeans_nd as knd

    with pytest.raises(ValueError, match="no rows"):
        km.fit(spark.createDataFrame([], POINTS_2D), k=2)
    with pytest.raises(ValueError, match="no rows"):
        knd.fit_nd(spark.createDataFrame([], "point_id LONG, vec ARRAY<DOUBLE>"), 2)
    # the loop's conf toggles are restored on the error path too
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"


_RETRY_FIT = r"""
import json

from pyspark import TaskContext
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.operators import kmeans as km
from kmeans_mapreduce_spark.session import get_spark

spark = get_spark("kmeans-retry-test")
sc = spark.sparkContext


def passthrough(fail_first_attempt):
    @F.udf("double")
    def f(v):
        ctx = TaskContext.get()
        if fail_first_attempt and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected failure of a first task attempt")
        return v

    return f


# one partition, so the rebalance runs; the first job fills the input cache
# the rebalance shuffle reads, and its task for partition 0 fails once
base = spark.range(20_000, numPartitions=1).select(
    (F.rand(1) * 100.0).alias("x"), (F.randn(2) * 10.0).alias("y")
)


def fit(fail, shuffled):
    pts = base.select(passthrough(fail)("x").alias("x"), "y")
    if shuffled:  # row order not fixed: the round-robin rebalance
        pts = pts.repartition(1)
    r = km.fit(pts, k=5, max_iter=4, tol=0.0, seed=3, init="k-means||")
    return r.centers, r.wssse_history


clean = [fit(False, shuffled) for shuffled in (False, True)]
sc.setJobGroup("retried", "fit with failing first attempts")
retried = [fit(True, shuffled) for shuffled in (False, True)]
tracker = sc.statusTracker()
failed = 0
for job in tracker.getJobIdsForGroup("retried"):
    for stage in tracker.getJobInfo(job).stageIds:
        info = tracker.getStageInfo(stage)
        failed += info.numFailedTasks if info else 0
print(json.dumps({"clean": clean, "retried": retried, "failed_tasks": failed}))
spark.stop()
"""


def test_fit_is_unchanged_by_task_retry(tmp_path):
    """A task that fails its first attempt upstream of the rebalance
    (the reference's simulated mapper failure, BASELINE.md §2) is rerun
    by Spark; the loop must still see the same rows in the same order,
    so the fit equals an undisturbed one bit for bit,
    whether the input's row order is fixed (hash rebalance) or comes
    out of a shuffle (round-robin rebalance). Runs in its own
    ``local[4,2]`` session (two attempts per task)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER="local[4,2]",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_SHUFFLE_PARTITIONS="4",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_FIT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed_tasks"] >= 1  # the injected failures did happen
    assert out["retried"] == out["clean"]


def test_driver_side_min_max_match_spark(spark):
    """fit merges per-partition bounds on the driver; the merge must give
    what one Spark min/max aggregate gives, NaN, ±inf and NULL included."""
    from pyspark.sql import functions as F

    nan, inf = float("nan"), float("inf")
    cases = [
        [1.0, -2.0, 3.5],
        [1.0, nan, -2.0],
        [nan, nan],
        [None, 3.0, None],
        [inf, nan, -inf],
        [-inf, 5.0],
        [None, None],
        [-0.0, 0.0],
    ]
    rows = [(i, v) for i, case in enumerate(cases) for v in case]
    got = {
        r["i"]: (r["lo"], r["hi"])
        for r in spark.createDataFrame(rows, "i INT, v DOUBLE")
        .groupBy("i")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }

    def same(a, b):
        return (a is None and b is None) or (
            a is not None and b is not None and (a == b or (math.isnan(a) and math.isnan(b)))
        )

    for i, case in enumerate(cases):
        assert same(km._spark_min(case), got[i][0]), (case, got[i])
        assert same(km._spark_max(case), got[i][1]), (case, got[i])
