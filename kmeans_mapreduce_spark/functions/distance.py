"""Distance expressions — the engine's only scalar math, all JVM-side.

The reference computes Euclidean distance in interpreted Python, twice
over (``/root/reference/master.py:305-313`` and the duplicate
``mapper.py:19-27``), then re-squares it for comparison
(``mapper.py:42``) — net semantics: *squared* Euclidean distance.
Here the same math is a Catalyst expression inside whole-stage codegen:
no UDF, no Python on the hot path (SURVEY §2.1 scalar functions).

Multiplication (not ``pow``) is used everywhere so the Spark plan and
the DuckDB oracle run the identical IEEE-754 op sequence —
bit-reproducible distances, which lets per-row oracle checks compare
unrounded doubles.

Driver-held centres enter plans only through this module: the arg-min
over K literal centres is rendered as ONE SQL text expression
(:func:`nearest_centroid_2d_sql`) that the JVM parses in one call,
instead of a Py4J ``Column`` tree built one round-trip per literal
(~0.9 s of driver time for a ~200-literal k-means|| init, against
~5 ms to parse the same text).
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sq_dist_2d(x: Column, y: Column, cx: Column, cy: Column) -> Column:
    """Squared Euclidean distance in 2-D: (x−cx)² + (y−cy)²."""
    dx = x - cx
    dy = y - cy
    return dx * dx + dy * dy


_NON_FINITE_SQL = {
    "nan": "CAST('NaN' AS DOUBLE)",
    "inf": "CAST('Infinity' AS DOUBLE)",
    "-inf": "CAST('-Infinity' AS DOUBLE)",
}


def sql_double(v: float) -> str:
    """Exact Spark SQL text for the double ``v``.

    A finite double renders as its shortest ``repr`` with a ``D``
    suffix: the parser reads a bare ``1.5`` as DECIMAL, while ``1.5D``
    is a DOUBLE literal whose text ``Double.parseDouble`` maps back to
    exactly ``v`` (shortest repr round-trips). NaN and ±inf have no
    literal syntax and render as string casts."""
    v = float(v)
    if math.isfinite(v):
        return f"({v!r}D)"
    return _NON_FINITE_SQL[repr(v)]


def nearest_centroid_2d_sql(
    centers: Sequence[tuple[int, float, float]], x: str = "x", y: str = "y"
) -> str:
    """SQL text of ``named_struct('d2', DOUBLE, 'cid', INT)``: the
    nearest of K literal centroids to the point ``(x, y)``.

    Per centre, ``d = ((x - cx)*(x - cx)) + ((y - cy)*(y - cy))`` — the
    op order of :func:`sq_dist_2d`. ``d2`` is ``least`` over them and
    ``cid`` belongs to the first centre, in cid order, whose distance
    equals it, so ties break to the lowest cid, matching the
    reference's strict ``<`` first-wins scan (``mapper.py:43``;
    SURVEY §2.3.7). Spark orders NaN above every double and holds
    NaN = NaN, so a NaN or ±inf centre never beats a finite one, and
    with every distance NaN the answer is the lowest cid with d2 NaN.

    The text grows linearly in K, and each distance is evaluated once
    per row: subexpression elimination shares the repeated ones.
    Extracting one field lets the optimizer drop the other
    (``SimplifyExtractValueOps``), so ``.d2`` alone is a bare ``least``.
    """
    ordered = sorted((int(c), float(cx), float(cy)) for c, cx, cy in centers)
    dists = []
    for _, cx, cy in ordered:
        lx, ly = sql_double(cx), sql_double(cy)
        dists.append(f"((({x} - {lx})*({x} - {lx})) + (({y} - {ly})*({y} - {ly})))")
    if len(dists) == 1:
        return f"named_struct('d2', {dists[0]}, 'cid', {ordered[0][0]})"
    d2 = f"least({', '.join(dists)})"
    cids = ", ".join(str(c) for c, _, _ in ordered)
    # A NULL coordinate makes every distance NULL: pick the lowest cid,
    # where NULLs-first (d2, cid) ordering puts it. The index must not
    # be NULL anyway: element_at over a literal array assumes it is
    # not, and reads the last element for a NULL one.
    pos = f"coalesce(CAST(array_position(array({', '.join(dists)}), {d2}) AS INT), 1)"
    return f"named_struct('d2', {d2}, 'cid', element_at(array({cids}), {pos}))"


def nearest_centroid_2d(
    x: Column, y: Column, centers: Sequence[tuple[int, float, float]]
) -> Column:
    """Arg-min over K *literal* centroids, as one narrow expression.

    Returns ``struct(d2 DOUBLE, cid INT)`` of the winning centroid, as
    rendered by :func:`nearest_centroid_2d_sql` and parsed in one call.
    ``x`` and ``y`` must be plain column references (``F.col("x")``):
    the text names the columns they refer to.

    Scale rationale: the reference ships centroids to every mapper as
    RPC payload then loops in Python (``master.py:184-188``,
    ``mapper.py:35-51``). The Spark-native equivalent for driver-held
    centers is NOT a crossJoin — it is this unrolled expression: zero
    shuffle, zero broadcast variable, K×(4 flops) per row inside
    whole-stage codegen. At 100 TB this is a pure map stage that scans
    each parquet row-group once.
    """
    return F.expr(nearest_centroid_2d_sql(centers, _column_name(x), _column_name(y)))


_COLUMN_REF = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _column_name(c: Column) -> str:
    """The (backtick-quoted) SQL text of a plain column reference."""
    name = str(c._jc.toString())
    if not _COLUMN_REF.fullmatch(name):
        raise ValueError(f"expected a plain column reference, got {name!r}")
    return ".".join(f"`{part}`" for part in name.split("."))


def sq_dist_nd(vec: Column, cvec: Column) -> Column:
    """Squared Euclidean distance between two ``array<double>`` columns.

    ``zip_with`` + ``aggregate`` stay in Catalyst (no Python); the fold
    is sequential in index order — the same order DuckDB's list
    functions use, so oracle comparisons agree after rounding.
    """
    diffs = F.zip_with(vec, cvec, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def dot_nd(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_nd(a: Column) -> Column:
    return F.sqrt(dot_nd(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity between two ``array<double>`` columns.

    ``try_divide`` → NULL for zero-norm vectors (ANSI mode would error);
    callers filtering ``cosine >= t`` drop such rows, the right
    semantics for degenerate embeddings at scale."""
    return F.try_divide(dot_nd(a, b), norm_nd(a) * norm_nd(b))
