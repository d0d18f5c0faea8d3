"""numpy references that decide whether a fit's output is correct.

Float discipline follows FIXTURES.md: per-row squared distances use the
program's exact op order, so they are bit-identical; sums differ only by
summation order, so histories and centres are compared with rtol 1e-9.
"""

from __future__ import annotations

import random

import numpy as np

RTOL = 1e-9
_CHUNK = 1 << 15


def _assign_2d(xy: np.ndarray, c: np.ndarray):
    """Nearest centre per point, ties to the lowest index, as
    ``lloyd_step_sql`` computes it: (x-cx)*(x-cx) + (y-cy)*(y-cy).
    One centre at a time over cache-sized chunks, into reused buffers."""
    n = len(xy)
    cid = np.zeros(n, dtype=np.int64)
    best = np.full(n, np.inf)
    xs = np.ascontiguousarray(xy[:, 0])
    ys = np.ascontiguousarray(xy[:, 1])
    dx, dy, d = np.empty(_CHUNK), np.empty(_CHUNK), np.empty(_CHUNK)
    m = np.empty(_CHUNK, dtype=bool)
    for s in range(0, n, _CHUNK):
        x, y = xs[s : s + _CHUNK], ys[s : s + _CHUNK]
        L = len(x)
        bx, by, bd, bm = dx[:L], dy[:L], d[:L], m[:L]
        b, a = best[s : s + L], cid[s : s + L]
        for j, (cx, cy) in enumerate(c):
            np.subtract(x, cx, out=bx)
            np.multiply(bx, bx, out=bx)
            np.subtract(y, cy, out=by)
            np.multiply(by, by, out=by)
            np.add(bx, by, out=bd)
            np.less(bd, b, out=bm)  # strict: the lowest index wins ties
            np.copyto(b, bd, where=bm)
            np.copyto(a, j, where=bm)
    return cid, best


def lloyd_2d(xy: np.ndarray, init_centers, iters: int, seed: int):
    """Lloyd with ``fit``'s reseed repair of empty clusters.

    Returns (centres as [(cid, x, y)], WSSSE history), the history entry
    of each iteration being the objective of the centres it started from."""
    bounds = (xy[:, 0].min(), xy[:, 0].max(), xy[:, 1].min(), xy[:, 1].max())
    rng = random.Random(seed + 1)
    centers = [(int(c), float(x), float(y)) for c, x, y in init_centers]
    k = len(centers)
    history = []
    for _ in range(iters):
        c = np.array([(x, y) for _, x, y in centers])
        cid, d2 = _assign_2d(xy, c)
        n = np.bincount(cid, minlength=k)
        sx = np.bincount(cid, weights=xy[:, 0], minlength=k)
        sy = np.bincount(cid, weights=xy[:, 1], minlength=k)
        history.append(float(d2.sum()))
        nxt = []
        for i, (c_id, _, _) in enumerate(centers):
            if n[i]:
                nxt.append((c_id, sx[i] / n[i], sy[i] / n[i]))
            else:
                nxt.append(
                    (c_id, rng.uniform(bounds[0], bounds[1]), rng.uniform(bounds[2], bounds[3]))
                )
        centers = nxt
    return centers, history


def lloyd_nd(x: np.ndarray, k: int, iters: int):
    """``fit_nd``'s loop: first-K init, |x|^2 - 2x.c + |c|^2 distances,
    empty clusters keep their centre. ``x`` is ordered by point id."""
    centers = x[:k].copy()
    sq_x = (x**2).sum(axis=1)
    history = []
    for _ in range(iters):
        sq_c = (centers**2).sum(axis=1)
        cid = np.empty(len(x), dtype=np.int64)
        d2 = np.empty(len(x))
        for s in range(0, len(x), _CHUNK):
            scores = -2.0 * (x[s : s + _CHUNK] @ centers.T) + sq_c
            a = scores.argmin(axis=1)
            cid[s : s + len(a)] = a
            d2[s : s + len(a)] = sq_x[s : s + len(a)] + scores[np.arange(len(a)), a]
        n = np.bincount(cid, minlength=k)
        history.append(float(d2.sum()))
        sums = np.stack(
            [np.bincount(cid, weights=x[:, j], minlength=k) for j in range(x.shape[1])],
            axis=1,
        )
        live = n > 0
        centers[live] = sums[live] / n[live, None]
    return centers, history


def close(a, b) -> bool:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    scale = max(float(np.abs(b).max(initial=0.0)), 1.0)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=RTOL, atol=RTOL * scale))


def centers_array(centers) -> np.ndarray:
    """[(cid, x, y)] or [(cid, vec)] -> array ordered by cid."""
    out = []
    for c in sorted(centers, key=lambda t: t[0]):
        out.append(list(c[1]) if len(c) == 2 else [c[1], c[2]])
    return np.array(out, dtype=np.float64)
