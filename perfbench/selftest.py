"""Self-test of the answer checks: each check must accept a correct answer
and reject every corrupted copy of it.  numpy only, no Spark:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
from checks import CheckFailed, PointSet  # noqa: E402

K = 5


def exact_knn(q_xy, pts: PointSet, k: int, keys=None):
    """Rows (key, id, dist, rank) sorted by (dist, id): a full sort, not the
    partition the checks use."""
    rows = []
    keys = np.arange(len(q_xy)) if keys is None else keys
    for key, xy in zip(keys, q_xy):
        d = np.sqrt(((pts.xy - xy) ** 2).sum(1))
        order = np.lexsort((pts.ids, d))[:k]
        for r, j in enumerate(order, 1):
            rows.append((key, pts.ids[j], d[j], r))
    a = np.array(rows, dtype=object)
    return [a[:, i].astype(t) for i, t in enumerate((np.int64, np.int64, float, np.int64))]


def expect_fail(name: str, fn) -> None:
    try:
        fn()
    except CheckFailed:
        return
    raise SystemExit(f"selftest: corrupted answer '{name}' passed its check")


def copy(cols):
    return [c.copy() for c in cols]


def graph_cases(pts: PointSet) -> int:
    g = exact_knn(pts.xy, pts, K, keys=pts.ids)
    sample = pts.ids[:40]

    def check(cols):
        src, dst, dist, rank = cols
        checks.check_knn_rows(src, dst, dist, rank, pts.ids, K, len(pts), self_first=True)
        checks.check_knn_exact(src, dst, dist, rank, sample, pts.coords(sample, "t"), pts, K)

    check(g)
    far = pts.ids[np.argmax(np.abs(pts.xy).sum(1))]
    cases = {}
    c = copy(g)
    cases["row dropped"] = [x[1:] for x in c]
    c = copy(g)
    c[1][2] = far if c[1][2] != far else pts.ids[0]
    cases["neighbour swapped for a far point"] = c
    c = copy(g)
    c[2][3] += 1e-6
    cases["distance off by 1e-6"] = c
    c = copy(g)
    c[1][0], c[1][1] = c[1][1], c[1][0]
    cases["self not at rank 1"] = c
    c = copy(g)
    c[2][2], c[2][3] = c[2][3] + 1.0, c[2][2]
    cases["distances decrease"] = c
    c = copy(g)
    c[1][2] = c[1][3]
    cases["neighbour repeated"] = c
    c = copy(g)
    c[3][4] = 7
    cases["rank out of 1..k"] = c
    # the k-th neighbour of source 0 replaced by its (k+1)-th, true distance
    c = copy(g)
    nxt = exact_knn(pts.xy[:1], pts, K + 1, keys=pts.ids[:1])
    row = np.flatnonzero((c[0] == pts.ids[0]) & (c[3] == K))[0]
    c[1][row], c[2][row] = nxt[1][K], nxt[2][K]
    cases["k-th neighbour replaced by the next one"] = c
    for name, cols in cases.items():
        expect_fail(name, lambda cols=cols: check(cols))
    return len(cases)


def query_cases(pts: PointSet, rng) -> int:
    q_xy = rng.uniform(-100, 100, (20, 2))
    q_keys = np.arange(100, 120, dtype=np.int64)
    n = 0
    # kNN of external queries
    a = exact_knn(q_xy, pts, K, keys=q_keys)

    def knn(cols):
        checks.check_knn_rows(*cols, q_keys, K, len(pts), self_first=False)
        checks.check_knn_exact(*cols, q_keys, q_xy, pts, K)

    knn(a)
    c = copy(a)
    c[1][0] = c[1][K]  # another query's neighbour
    expect_fail("knn query neighbour from another query", lambda: knn(c))
    c = copy(a)
    c[0] = np.where(c[0] == q_keys[0], q_keys[1], c[0])
    expect_fail("knn query answer missing", lambda: knn(c))
    n += 2

    # range
    radius = 15.0
    d = checks.pairwise(q_xy, pts.xy)
    qi, pi = np.nonzero(d <= radius)
    rq, rid, rd = q_keys[qi], pts.ids[pi], d[qi, pi]
    checks.check_range(rq, rid, rd, q_keys, q_xy, radius, pts)
    far_q, far_p = np.unravel_index(np.argmax(d), d.shape)
    bad = {
        "range hit removed": (rq[1:], rid[1:], rd[1:]),
        "range point out of radius added": (
            np.r_[rq, q_keys[far_q]], np.r_[rid, pts.ids[far_p]], np.r_[rd, d[far_q, far_p]]
        ),
        "range distance wrong": (rq, rid, rd + np.r_[0.5, np.zeros(len(rd) - 1)]),
        "range hit repeated": (np.r_[rq, rq[:1]], np.r_[rid, rid[:1]], np.r_[rd, rd[:1]]),
    }
    for name, cols in bad.items():
        expect_fail(name, lambda cols=cols: checks.check_range(*cols, q_keys, q_xy, radius, pts))
    n += len(bad)

    # reverse kNN
    kd = checks.kth_dist(pts.xy, K)
    qi, pi = np.nonzero(d <= kd[None, :])
    rq, rid, rd = q_keys[qi], pts.ids[pi], d[qi, pi]
    checks.check_rknn(rq, rid, rd, q_keys, q_xy, kd, pts)
    outside = np.argwhere(d > kd[None, :] + 1.0)[0]
    bad = {
        "rknn hit removed": (rq[1:], rid[1:], rd[1:]),
        "rknn non-answer added": (
            np.r_[rq, q_keys[outside[0]]],
            np.r_[rid, pts.ids[outside[1]]],
            np.r_[rd, d[outside[0], outside[1]]],
        ),
    }
    for name, cols in bad.items():
        expect_fail(name, lambda cols=cols: checks.check_rknn(*cols, q_keys, q_xy, kd, pts))
    return n + len(bad)


def tile_cases(pts: PointSet) -> int:
    centres = np.array([(x, y) for y in (-60.0, 0.0, 60.0) for x in (-60.0, 0.0, 60.0)])
    r = 40.0
    l1 = np.abs(pts.xy[:, None, 0] - centres[None, :, 0]) + np.abs(
        pts.xy[:, None, 1] - centres[None, :, 1]
    )
    pi, ti = np.nonzero(l1 <= r)
    checks.check_tiles(pts.ids[pi], ti, pts, centres, r)
    po, to = np.argwhere(l1 > r + 1.0)[0]
    bad = {
        "tile pair removed": (pts.ids[pi][1:], ti[1:]),
        "point outside its tile": (np.r_[pts.ids[pi], pts.ids[po]], np.r_[ti, to]),
        "tile pair repeated": (np.r_[pts.ids[pi], pts.ids[pi][0]], np.r_[ti, ti[0]]),
    }
    for name, (a, b) in bad.items():
        expect_fail(name, lambda a=a, b=b: checks.check_tiles(a, b, pts, centres, r))
    return len(bad)


def state_cases(pts: PointSet, rng) -> int:
    prev_kd = checks.kth_dist(pts.xy, K)
    deleted = pts.ids[rng.choice(len(pts), 6, replace=False)]
    ins_ids = np.arange(10_000, 10_006, dtype=np.int64)
    ins_xy = rng.uniform(-100, 100, (6, 2))
    keep = ~np.isin(pts.ids, deleted)
    live = PointSet(np.r_[pts.ids[keep], ins_ids], np.r_[pts.xy[keep], ins_xy])
    lost = checks.lost_neighbour(pts, prev_kd, deleted, live)
    if not len(lost):
        raise SystemExit("selftest: scenario has no point that lost a neighbour")
    exact = np.r_[ins_ids, lost]
    g = exact_knn(live.xy, live, K, keys=live.ids)

    def check(p_ids, p_xy, cols):
        graph = dict(zip(("src", "dst", "dist", "rank"), cols))
        checks.check_state(p_ids, p_xy, graph, live, deleted, exact, K)

    check(live.ids, live.xy, g)
    n = 0
    expect_fail(
        "deleted id still a point",
        lambda: check(np.r_[live.ids, deleted[0]], np.r_[live.xy, [[0.0, 0.0]]], g),
    )
    expect_fail("live point missing", lambda: check(live.ids[1:], live.xy[1:], g))
    xy2 = live.xy.copy()
    xy2[0, 0] += 1e-3
    expect_fail("point moved", lambda: check(live.ids, xy2, g))
    c = copy(g)
    c[1][np.flatnonzero(c[3] == K)[0]] = deleted[0]
    expect_fail("deleted id still a graph target", lambda: check(live.ids, live.xy, c))
    n += 4
    # an inserted point's and a lost-neighbour point's rank-k row replaced by
    # the (k+1)-th neighbour at its true distance: only the exact rows catch it
    for who, pid in (("inserted point", ins_ids[0]), ("point that lost a neighbour", lost[0])):
        c = copy(g)
        nxt = exact_knn(live.coords(np.array([pid]), "t"), live, K + 1, keys=[pid])
        row = np.flatnonzero((c[0] == pid) & (c[3] == K))[0]
        c[1][row], c[2][row] = nxt[1][K], nxt[2][K]
        expect_fail(f"{who} row not exact", lambda c=c: check(live.ids, live.xy, c))
        n += 1
    return n


def main() -> int:
    rng = np.random.default_rng(7)
    ids = rng.permutation(300).astype(np.int64) * 3 + 1
    pts = PointSet(ids, rng.uniform(-100, 100, (300, 2)))
    n = graph_cases(pts) + query_cases(pts, rng) + tile_cases(pts) + state_cases(pts, rng)
    print(f"selftest: {n} corrupted answers rejected, correct answers accepted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
