"""Answer checks made apart from the engine: brute force in numpy and
required properties, never a stored copy of an earlier output.

Every check raises ``CheckFailed`` with a short reason.  Distances are
compared with an absolute tolerance ``TOL``: coordinates are at most a few
hundred in magnitude, so float64 distances carry errors near 1e-13, while
TOL stays far below the gap between distinct neighbour distances that
matters.  Where the true distance of a candidate lies within TOL of a
boundary (the k-th distance, a radius, a tile edge), either answer is
accepted.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-9


class CheckFailed(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckFailed(msg)


def pairwise(q: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Euclidean distances, shape (len(q), len(p))."""
    dx = q[:, None, 0] - p[None, :, 0]
    dy = q[:, None, 1] - p[None, :, 1]
    return np.sqrt(dx * dx + dy * dy)


def kth_dist(xy: np.ndarray, k: int, chunk: int = 512) -> np.ndarray:
    """Brute-force distance from every point to its k-th nearest point,
    itself included (inf when there are fewer than k points)."""
    n = len(xy)
    if n < k:
        return np.full(n, np.inf)
    out = np.empty(n)
    for s in range(0, n, chunk):
        d = pairwise(xy[s : s + chunk], xy)
        out[s : s + chunk] = np.partition(d, k - 1, axis=1)[:, k - 1]
    return out


def brute_knn_dists(q: np.ndarray, xy: np.ndarray, k: int, chunk: int = 512) -> np.ndarray:
    """Sorted distances of the k nearest points of each query, shape
    (len(q), min(k, len(xy)))."""
    kk = min(k, len(xy))
    out = np.empty((len(q), kk))
    for s in range(0, len(q), chunk):
        d = pairwise(q[s : s + chunk], xy)
        part = np.partition(d, kk - 1, axis=1)[:, :kk]
        out[s : s + chunk] = np.sort(part, axis=1)
    return out


def brute_graph(ids: np.ndarray, xy: np.ndarray, k: int, chunk: int = 512):
    """The exact kNN graph (src, dst, dist, rank), self included, ranks in
    (dist, id) order."""
    n, kk = len(ids), min(k, len(ids))
    src = np.repeat(ids, kk)
    dst = np.empty(n * kk, np.int64)
    dist = np.empty(n * kk)
    for s in range(0, n, chunk):
        d = pairwise(xy[s : s + chunk], xy)
        # a few spare columns so ties at the k-th distance sort by id
        m = min(kk + 8, n)
        part = np.argpartition(d, m - 1, axis=1)[:, :m]
        for r, (row, cand) in enumerate(zip(d, part)):
            best = cand[np.lexsort((ids[cand], row[cand]))][:kk]
            i = (s + r) * kk
            dst[i : i + kk] = ids[best]
            dist[i : i + kk] = row[best]
    rank = np.tile(np.arange(1, kk + 1, dtype=np.int32), n)
    return src, dst, dist, rank


class PointSet:
    """Reference coordinates by id."""

    def __init__(self, ids: np.ndarray, xy: np.ndarray):
        order = np.argsort(ids)
        self.ids = np.asarray(ids, np.int64)[order]
        self.xy = np.asarray(xy, np.float64)[order]

    def __len__(self) -> int:
        return len(self.ids)

    def index(self, ids: np.ndarray, what: str) -> np.ndarray:
        ids = np.asarray(ids, np.int64)
        pos = np.searchsorted(self.ids, ids)
        pos_c = np.minimum(pos, len(self.ids) - 1)
        bad = (pos >= len(self.ids)) | (self.ids[pos_c] != ids)
        if bad.any():
            _fail(f"{what}: id {int(ids[bad][0])} is not a live point")
        return pos_c

    def coords(self, ids: np.ndarray, what: str) -> np.ndarray:
        return self.xy[self.index(ids, what)]


def _group(keys: np.ndarray, order_by: np.ndarray):
    """Sort rows by (key, order_by); return the sort order, the distinct
    keys and the start offset of each key's run."""
    order = np.lexsort((order_by, keys))
    ks = keys[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]]) if len(ks) else np.array([], int)
    return order, ks[starts], starts


def check_knn_rows(
    qkeys: np.ndarray,
    ids: np.ndarray,
    dists: np.ndarray,
    ranks: np.ndarray,
    expect_keys: np.ndarray,
    k: int,
    n_points: int,
    self_first: bool,
) -> None:
    """Structure of a kNN answer: each expected key has exactly
    min(k, n_points) rows, ranks 1..k, no repeated neighbour, distances
    never decrease with rank, and (for a graph) the source itself at rank
    1 with distance 0."""
    kk = min(k, n_points)
    order, keys, starts = _group(qkeys, ranks)
    if not np.array_equal(np.sort(expect_keys), keys):
        missing = np.setdiff1d(expect_keys, keys)
        extra = np.setdiff1d(keys, expect_keys)
        _fail(f"knn: sources differ (missing {missing[:3]}, unexpected {extra[:3]})")
    if len(qkeys) != kk * len(keys):
        counts = np.diff(np.r_[starts, len(qkeys)])
        bad = int(keys[np.flatnonzero(counts != kk)[0]])
        _fail(f"knn: source {bad} does not have {kk} rows")
    r = ranks[order].reshape(-1, kk)
    if not (r == np.arange(1, kk + 1)).all():
        _fail(f"knn: source {int(keys[np.flatnonzero((r != np.arange(1, kk + 1)).any(1))[0]])} ranks are not 1..{kk}")
    d = dists[order].reshape(-1, kk)
    if (np.diff(d, axis=1) < 0).any():
        _fail("knn: distances decrease with rank")
    nb = np.sort(ids[order].reshape(-1, kk), axis=1)
    if (nb[:, 1:] == nb[:, :-1]).any():
        _fail("knn: a neighbour repeats within one source")
    if self_first:
        first = ids[order].reshape(-1, kk)[:, 0]
        if not (np.array_equal(first, keys) and (d[:, 0] == 0.0).all()):
            _fail("knn: rank 1 is not the source itself at distance 0")


def check_knn_exact(
    qkeys: np.ndarray,
    ids: np.ndarray,
    dists: np.ndarray,
    ranks: np.ndarray,
    sample_keys: np.ndarray,
    sample_xy: np.ndarray,
    points: PointSet,
    k: int,
) -> None:
    """Brute force for the sampled sources: the i-th distance equals the
    true i-th nearest distance, and every returned neighbour really lies
    at its reported distance (any neighbour tied within TOL is accepted,
    which is the (dist, id) tie-break up to TOL)."""
    if not len(sample_keys):
        return
    sel = np.isin(qkeys, sample_keys)
    order, keys, _ = _group(qkeys[sel], ranks[sel])
    kk = min(k, len(points))
    if len(keys) != len(sample_keys) or sel.sum() != kk * len(keys):
        _fail("knn exact: sampled sources lack rows")
    pos = np.searchsorted(keys, sample_keys)
    q = np.empty_like(sample_xy)
    q[pos] = sample_xy
    got_ids = ids[sel][order].reshape(-1, kk)
    got_d = dists[sel][order].reshape(-1, kk)
    exp_d = brute_knn_dists(q, points.xy, k)
    bad = np.abs(got_d - exp_d) > TOL
    if bad.any():
        i = np.argwhere(bad)[0]
        _fail(
            f"knn exact: source {int(keys[i[0]])} rank {i[1] + 1} dist {got_d[tuple(i)]!r}"
            f" != brute force {exp_d[tuple(i)]!r}"
        )
    nb_xy = points.coords(got_ids.ravel(), "knn exact").reshape(-1, kk, 2)
    true_d = np.sqrt(((nb_xy - q[:, None, :]) ** 2).sum(-1))
    bad = np.abs(true_d - got_d) > TOL
    if bad.any():
        i = np.argwhere(bad)[0]
        _fail(
            f"knn exact: source {int(keys[i[0]])} neighbour {int(got_ids[tuple(i)])}"
            f" is not at its reported distance"
        )


def check_within(
    qkeys: np.ndarray,
    ids: np.ndarray,
    dists: np.ndarray,
    q_keys: np.ndarray,
    q_xy: np.ndarray,
    points: PointSet,
    limit_for,
    what: str,
) -> None:
    """Answer of a "within distance" query, checked by brute force: every
    point whose true distance is below its limit by more than TOL is
    returned, none above it by more than TOL, with its true distance, at
    most once.  ``limit_for(q_index, d)`` gives the limit per (query,
    point) pair from the true distances ``d`` of one query."""
    if len(qkeys):
        pair = np.stack([qkeys, ids], 1)
        if len(np.unique(pair, axis=0)) != len(pair):
            _fail(f"{what}: a point is returned twice for one query")
        extra = np.setdiff1d(qkeys, q_keys)
        if len(extra):
            _fail(f"{what}: answer for unknown query {int(extra[0])}")
    order = np.argsort(qkeys, kind="stable")
    qk_sorted = qkeys[order]
    for j, (key, xy) in enumerate(zip(q_keys, q_xy)):
        lo, hi = np.searchsorted(qk_sorted, [key, key + 1])
        rows = order[lo:hi]
        d = pairwise(xy[None, :], points.xy)[0]
        lim = limit_for(j, d)
        must = points.ids[d <= lim - TOL]
        may = points.ids[d <= lim + TOL]
        got = ids[rows]
        if len(np.setdiff1d(must, got)):
            _fail(f"{what}: query {int(key)} misses point {int(np.setdiff1d(must, got)[0])}")
        if len(np.setdiff1d(got, may)):
            _fail(f"{what}: query {int(key)} returns point {int(np.setdiff1d(got, may)[0])} out of range")
        true_d = d[points.index(got, what)]
        if (np.abs(true_d - dists[rows]) > TOL).any():
            _fail(f"{what}: query {int(key)} reports a wrong distance")


def check_range(qkeys, ids, dists, q_keys, q_xy, radius: float, points: PointSet) -> None:
    check_within(qkeys, ids, dists, q_keys, q_xy, points, lambda j, d: radius, "range")


def check_rknn(qkeys, ids, dists, q_keys, q_xy, kdist: np.ndarray, points: PointSet) -> None:
    """Reverse kNN: p answers q iff dist(p, q) <= p's brute-force k-th
    neighbour distance (``kdist``, aligned with ``points.ids``)."""
    check_within(qkeys, ids, dists, q_keys, q_xy, points, lambda j, d: kdist, "rknn")


def check_tiles(
    pt_ids: np.ndarray,
    tile_ids: np.ndarray,
    points: PointSet,
    centres: np.ndarray,
    r: float,
) -> None:
    """Closed-form diamond containment |x-cx| + |y-cy| <= r for every
    (point, tile) pair of the whole point set."""
    pair = np.stack([pt_ids, tile_ids], 1)
    if len(np.unique(pair, axis=0)) != len(pair):
        _fail("tiles: a (point, tile) pair repeats")
    if len(tile_ids) and (tile_ids.min() < 0 or tile_ids.max() >= len(centres)):
        _fail("tiles: unknown tile id")
    pos = points.index(pt_ids, "tiles")
    l1 = np.abs(points.xy[pos, 0] - centres[tile_ids, 0]) + np.abs(
        points.xy[pos, 1] - centres[tile_ids, 1]
    )
    if (l1 > r + TOL).any():
        _fail("tiles: a point lies outside its tile")
    n_must = 0
    for s in range(0, len(points), 4096):
        xy = points.xy[s : s + 4096]
        l1_all = np.abs(xy[:, None, 0] - centres[None, :, 0]) + np.abs(
            xy[:, None, 1] - centres[None, :, 1]
        )
        n_must += int((l1_all <= r - TOL).sum())
    n_got_must = int((l1 <= r - TOL).sum())
    if n_got_must != n_must:
        _fail(f"tiles: {n_must - n_got_must} inside pairs missing")


def check_state(
    pts_ids: np.ndarray,
    pts_xy: np.ndarray,
    graph: dict,
    live: PointSet,
    deleted: np.ndarray,
    exact_ids: np.ndarray,
    k: int,
) -> None:
    """One committed index state against the op-stream replay: the live
    point set exactly, deleted ids absent as points and as graph targets,
    the graph's structure for every source, and exact rows for
    ``exact_ids`` (inserted points, points that lost a neighbour, and a
    sample of the rest)."""
    order = np.argsort(pts_ids)
    if not np.array_equal(pts_ids[order], live.ids):
        gone = np.intersect1d(pts_ids, deleted)
        if len(gone):
            _fail(f"state: deleted id {int(gone[0])} is still a point")
        _fail("state: live point set differs from the op replay")
    if not np.array_equal(pts_xy[order], live.xy):
        _fail("state: point coordinates differ from the op replay")
    gone = np.intersect1d(graph["dst"], deleted)
    if len(gone):
        _fail(f"state: deleted id {int(gone[0])} is still a graph target")
    src, dst, dist, rank = graph["src"], graph["dst"], graph["dist"], graph["rank"]
    check_knn_rows(src, dst, dist, rank, live.ids, k, len(live), self_first=True)
    ex = np.unique(exact_ids)
    check_knn_exact(src, dst, dist, rank, ex, live.coords(ex, "state"), live, k)


def lost_neighbour(prev: PointSet, prev_kdist: np.ndarray, deleted: np.ndarray, live: PointSet) -> np.ndarray:
    """Ids still live after a batch that held a deleted point among their
    k nearest before it: dist(p, d) <= p's k-th distance in ``prev``."""
    if not len(deleted):
        return np.array([], np.int64)
    dxy = prev.coords(deleted, "lost")
    near = np.zeros(len(prev), bool)
    for s in range(0, len(dxy), 256):
        d = pairwise(prev.xy, dxy[s : s + 256]).min(axis=1)
        near |= d <= prev_kdist + TOL
    cand = prev.ids[near]
    return np.intersect1d(cand, live.ids)
