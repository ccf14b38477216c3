"""Seeded inputs for the benchmark workloads, and numpy oracles over them.

Everything here is Spark-free: the workloads hand these arrays to the
package only through its public functions, and check what comes back
against the numpy values computed here.
"""

from __future__ import annotations

import math
import struct

import numpy as np

EXTENT = 100.0  # every input lives in [0, EXTENT] x [0, EXTENT]
_PACK = struct.Struct("<BIII")  # byte order, type=Polygon, 1 ring, npoints


def log_uniform_strata(rng, n, lo, hi):
    """n draws from log-uniform(lo, hi), one from the middle half of each
    equal-probability stratum, in random order: sizes that are continuous
    over seeds but whose sum barely moves with the seed."""
    u = (np.arange(n) + 0.25 + 0.5 * rng.random(n)) / n
    out = np.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))
    rng.shuffle(out)
    return out


def _morton(ix, iy):
    def spread(v):
        v = v.astype(np.uint64) & np.uint64(0xFFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x33333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x55555555)
        return v

    return spread(ix) | (spread(iy) << np.uint64(1))


class Polygons:
    """Convex polygons with 6-32 vertices on rotated ellipses, sorted along
    a Z-order curve so row groups cover compact regions.

    ``xs``/``ys`` hold the closed rings padded to 33 columns (padding
    repeats the closing vertex, so it adds zero-length edges only)."""

    MAXV = 33

    def __init__(self, seed: int, n: int, scale: float = 1.0):
        rng = np.random.default_rng(seed)
        cx = rng.uniform(0.0, EXTENT, n)
        cy = rng.uniform(0.0, EXTENT, n)
        order = np.argsort(_morton((cx / EXTENT * 1023).astype(np.int64),
                                   (cy / EXTENT * 1023).astype(np.int64)),
                           kind="stable")
        cx, cy = cx[order], cy[order]
        nv = rng.integers(6, 33, n)
        a = scale * np.exp(rng.uniform(math.log(0.05), math.log(0.3), n))
        b = a * rng.uniform(0.4, 1.0, n)
        rot = rng.uniform(0.0, math.pi, n)
        j = np.arange(self.MAXV)[None, :]
        # one angle per stratum (jittered within its middle 60%): vertices
        # never crowd, so a tiny simplify tolerance keeps every vertex
        t = 2.0 * math.pi * (np.minimum(j, nv[:, None] - 1)
                             + 0.2 + 0.6 * rng.random((n, self.MAXV))) / nv[:, None]
        ex, ey = a[:, None] * np.cos(t), b[:, None] * np.sin(t)
        cr, sr = np.cos(rot)[:, None], np.sin(rot)[:, None]
        xs = cx[:, None] + ex * cr - ey * sr
        ys = cy[:, None] + ex * sr + ey * cr
        close = j >= nv[:, None]  # closing vertex and padding
        xs = np.where(close, xs[:, :1], xs)
        ys = np.where(close, ys[:, :1], ys)
        self.n, self.nv, self.xs, self.ys = n, nv, xs, ys
        self.ids = np.arange(n, dtype=np.int64)
        self.xmin, self.xmax = xs.min(1), xs.max(1)
        self.ymin, self.ymax = ys.min(1), ys.max(1)
        cross = xs[:, :-1] * ys[:, 1:] - xs[:, 1:] * ys[:, :-1]
        sa = 0.5 * cross.sum(1)
        self.area = np.abs(sa)
        self.perimeter = np.hypot(np.diff(xs, axis=1), np.diff(ys, axis=1)).sum(1)
        self.cx = ((xs[:, :-1] + xs[:, 1:]) * cross).sum(1) / (6.0 * sa)
        self.cy = ((ys[:, :-1] + ys[:, 1:]) * cross).sum(1) / (6.0 * sa)
        self.npoints = nv + 1

    def wkb(self):
        out = []
        for i in range(self.n):
            m = int(self.nv[i]) + 1
            xy = np.empty((m, 2))
            xy[:, 0] = self.xs[i, :m]
            xy[:, 1] = self.ys[i, :m]
            out.append(_PACK.pack(1, 3, 1, m) + xy.tobytes())
        return out

    def in_window(self, w):
        return ((self.xmin <= w[2]) & (self.xmax >= w[0])
                & (self.ymin <= w[3]) & (self.ymax >= w[1]))

    def containing(self, px, py, chunk=512):
        """(point index, polygon index) for every point inside a polygon."""
        out_p, out_g = [], []
        for s in range(0, len(px), chunk):
            x, y = px[s:s + chunk, None], py[s:s + chunk, None]
            pi, gi = np.nonzero((self.xmin <= x) & (self.xmax >= x)
                                & (self.ymin <= y) & (self.ymax >= y))
            xs, ys = self.xs[gi], self.ys[gi]
            ax, ay = xs[:, :-1], ys[:, :-1]
            dx, dy = xs[:, 1:] - ax, ys[:, 1:] - ay
            qx, qy = x[pi], y[pi]
            inside = ((dx * (qy - ay) - dy * (qx - ax)) >= 0).all(1)
            out_p.append(pi[inside] + s)
            out_g.append(gi[inside])
        if not out_p:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(out_p), np.concatenate(out_g)

    def distance_to(self, px, py, mask):
        """Planar distance from (px, py) to each masked polygon (0 inside)."""
        xs, ys = self.xs[mask], self.ys[mask]
        ax, ay, bx, by = xs[:, :-1], ys[:, :-1], xs[:, 1:], ys[:, 1:]
        dx, dy = bx - ax, by - ay
        ll = dx * dx + dy * dy
        t = np.clip(np.where(ll > 0, ((px - ax) * dx + (py - ay) * dy)
                             / np.where(ll > 0, ll, 1.0), 0.0), 0.0, 1.0)
        d = np.hypot(ax + t * dx - px, ay + t * dy - py).min(1)
        # counter-clockwise convex ring: inside iff left of every edge
        inside = ((dx * (py - ay) - dy * (px - ax)) >= 0).all(1)
        return np.where(inside, 0.0, d)


def windows(rng, n, lo_frac=1e-3, hi_frac=1.0):
    """n query windows whose area is log-uniform in [lo, hi] x extent^2."""
    fr = log_uniform_strata(rng, n, lo_frac, hi_frac)
    out = []
    for f in fr:
        aspect = math.exp(rng.uniform(math.log(0.5), math.log(2.0)))
        w = min(EXTENT, EXTENT * math.sqrt(f * aspect))
        h = min(EXTENT, EXTENT * EXTENT * f / w)
        x0 = rng.uniform(0.0, EXTENT - w)
        y0 = rng.uniform(0.0, EXTENT - h)
        out.append((x0, y0, x0 + w, y0 + h))
    return out


def clustered_points(seed: int, n: int, blobs: int = 24, background: float = 0.2):
    """Gaussian blobs plus a uniform background share, ids 0..n-1."""
    rng = np.random.default_rng(seed)
    nb = int(n * background)
    nc = n - nb
    centers = rng.uniform(10.0, EXTENT - 10.0, (blobs, 2))
    sigma = rng.uniform(0.5, 2.5, blobs)
    which = rng.integers(0, blobs, nc)
    xy = np.concatenate([
        centers[which] + rng.normal(size=(nc, 2)) * sigma[which, None],
        rng.uniform(0.0, EXTENT, (nb, 2)),
    ])
    xy = np.clip(xy, 0.0, EXTENT)
    perm = rng.permutation(n)
    return np.arange(n, dtype=np.int64), xy[perm, 0].copy(), xy[perm, 1].copy()


def knn_brute(qx, qy, rid, rx, ry, k):
    """Exact top-k (dist, id) per query row, ties broken on id."""
    dx = qx[:, None] - rx[None, :]
    dy = qy[:, None] - ry[None, :]
    dist = np.sqrt(dx * dx + dy * dy)
    order = np.lexsort((np.broadcast_to(rid, dist.shape), dist), axis=1)[:, :k]
    return np.take_along_axis(dist, order, 1), rid[order]


def dbscan_roles(xs, ys, eps, min_pts):
    """(n_core, n_border, n_noise, n_clusters) for DBSCAN over the points:
    grid neighbor pairs, then connected components of the core-core edges
    by min-label propagation (min_pts counts the point itself)."""
    n = len(xs)
    P = 1 << 21
    cx = np.floor(xs / eps).astype(np.int64)
    cy = np.floor(ys / eps).astype(np.int64)
    key = cx * P + cy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    src, dst = [], []
    e2 = eps * eps
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            nk = (cx + ox) * P + (cy + oy)
            lo = np.searchsorted(skey, nk, "left")
            hi = np.searchsorted(skey, nk, "right")
            cnt = hi - lo
            a = np.repeat(np.arange(n), cnt)
            b = order[np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())]
            dx, dy = xs[a] - xs[b], ys[a] - ys[b]
            keep = (dx * dx + dy * dy <= e2) & (a != b)
            src.append(a[keep])
            dst.append(b[keep])
    src, dst = np.concatenate(src), np.concatenate(dst)
    core = np.bincount(src, minlength=n) + 1 >= min_pts
    cc = core[src] & core[dst]
    a, b = src[cc], dst[cc]
    lab = np.arange(n)
    while True:
        m = np.minimum(lab[a], lab[b])
        new = lab.copy()
        np.minimum.at(new, a, m)
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    n_clusters = len(np.unique(lab[core]))
    has_core_nb = np.zeros(n, bool)
    has_core_nb[src[core[dst]]] = True
    border = ~core & has_core_nb
    n_core, n_border = int(core.sum()), int(border.sum())
    return n_core, n_border, n - n_core - n_border, n_clusters


def vectors(seed: int, n: int, dim: int):
    """n standard-normal embedding vectors, ids 0..n-1."""
    rng = np.random.default_rng([seed, 5])
    return np.arange(n, dtype=np.int64), rng.normal(size=(n, dim))


def fold_dot(a, b):
    """Dot product of paired rows summed left to right from 0.0, the same
    IEEE op sequence as Spark's ``aggregate`` fold."""
    s = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for j in range(a.shape[-1]):
        s = s + a[..., j] * b[..., j]
    return s


def cosine_matrix(q, c):
    """Cosine of every (query, corpus) pair, rounded to 8 decimals."""
    num = fold_dot(q[:, None, :], c[None, :, :])
    den = np.sqrt(fold_dot(q, q))[:, None] * np.sqrt(fold_dot(c, c))[None, :]
    return np.round(num / den, 8)


EVENT_TYPES = ("view", "cart", "buy", "other")


def events(seed: int, n_users: int, per_user: int = 10, horizon: int = 1_000_000):
    """(user_id, event type index, ts) with a per-user count of 1..2*per_user
    events, uniform types and integer timestamps in [0, horizon)."""
    rng = np.random.default_rng([seed, 6])
    counts = rng.integers(1, 2 * per_user, n_users)
    user = np.repeat(np.arange(n_users, dtype=np.int64), counts)
    kind = rng.integers(0, len(EVENT_TYPES), len(user))
    ts = rng.integers(0, horizon, len(user)).astype(np.int64)
    return user, kind, ts


def funnel_counts(user, kind, ts, steps, window):
    """Users reaching each step of an ordered funnel: step 1 is a user's
    first event of ``steps[0]``; step i the first event of ``steps[i-1]``
    after step i-1 and at most ``window`` after step 1."""
    def first(mask, lo, hi):
        # per user, the smallest ts in (lo[user], hi[user]] among the masked events
        u, t = user[mask], ts[mask]
        ok = (t > lo[u]) & (t <= hi[u])
        out = np.full(len(lo), np.iinfo(np.int64).max)
        np.minimum.at(out, u[ok], t[ok])
        return out

    n = int(user.max()) + 1 if len(user) else 0
    none = np.iinfo(np.int64).max
    t1 = first(kind == steps[0], np.full(n, -1), np.full(n, none - 1))
    counts, cur = [int((t1 < none).sum())], t1
    hi = np.where(t1 < none, t1 + window, -1)
    for s in steps[1:]:
        cur = first(kind == s, np.where(cur < none, cur, none), hi)
        counts.append(int((cur < none).sum()))
    return counts
