"""knn_for_queries' resident serving path: small query batches answered
on the driver from a cell-sorted copy of the points; build_knn_graph's
driver path over the same copy.

* parity — the resident path and the ring-round path (forced by setting
  the byte budget to 0) return identical (qid, id, dist, rank) rows;
* jobs — a small call on an already-resident persisted frame launches
  at most 2 jobs with its collect, and none of them scans the points;
* staleness — a frame that is not persisted is never held, and a
  persisted one is dropped once it is no longer cached;
* the brute tail's carried-bound extraction (shared kernel).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from rindex_spark.config import EngineConfig
from rindex_spark.grid import grid_and_extent
from rindex_spark.operators import knn as knn_mod
from rindex_spark.operators.knn import build_knn_graph, knn_for_queries

from tests.conftest import brute_knn, brute_knn_queries, count_jobs


def _points(spark, xy, ids=None, extra=None):
    ids = np.arange(len(xy)) if ids is None else ids
    rows = [
        (int(i), float(p[0]), float(p[1]), *([] if extra is None else [float(e) for e in extra[j]]))
        for j, (i, p) in enumerate(zip(ids, xy))
    ]
    cols = "id long, x double, y double" + ("" if extra is None else ", z double")
    return spark.createDataFrame(rows, cols)


def _queries(spark, qxy, extra=None):
    rows = [
        (j, float(q[0]), float(q[1]), *([] if extra is None else [float(e) for e in extra[j]]))
        for j, q in enumerate(qxy)
    ]
    cols = "qid long, x double, y double" + ("" if extra is None else ", z double")
    return spark.createDataFrame(rows, cols)


def _rows(df):
    return sorted((r["qid"], r["id"], r["dist"], r["rank"]) for r in df.collect())


def _both_paths(monkeypatch, points, queries, k, **kw):
    resident = _rows(knn_for_queries(points, queries, k, **kw))
    with monkeypatch.context() as m:
        m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
        ring = _rows(knn_for_queries(points, queries, k, **kw))
    return resident, ring


def _check_brute(rows, qxy, pxy, pids, k):
    exp = brute_knn_queries(np.asarray(qxy), np.asarray(pxy), np.asarray(pids), k)
    got: dict[int, list] = {}
    for qid, i, d, rank in rows:
        got.setdefault(qid, []).append((rank, d, i))
    for j, e in enumerate(exp):
        g = sorted(got.get(j, []))
        assert [r for r, _, _ in g] == list(range(1, len(e) + 1))
        assert [(d, i) for _, d, i in g] == e


@pytest.mark.parametrize("kind", ["uniform", "clustered"])
def test_resident_matches_ring_path(spark, monkeypatch, kind):
    rng = np.random.default_rng(3)
    if kind == "uniform":
        xy = rng.uniform(-100.0, 100.0, size=(600, 2))
    else:
        xy = np.concatenate(
            [
                rng.normal((60.0, 60.0), 3.0, size=(250, 2)),
                rng.normal((-40.0, 10.0), 8.0, size=(250, 2)),
                rng.uniform(-100.0, 100.0, size=(100, 2)),
            ]
        )
    ids = rng.permutation(10_000)[: len(xy)]
    # queries inside, on top of points, and far outside the extent
    qxy = np.concatenate(
        [rng.uniform(-100.0, 100.0, size=(20, 2)), xy[:5], [[900.0, -900.0], [-1e4, 3.0]]]
    )
    pts = _points(spark, xy, ids).persist()
    k = 7
    resident, ring = _both_paths(monkeypatch, pts, _queries(spark, qxy), k)
    assert resident == ring
    _check_brute(resident, qxy, xy, ids, k)
    pts.unpersist()


def test_resident_duplicates_and_ties(spark, monkeypatch):
    # integer lattice with every point doubled: exact duplicates at
    # distance 0 and many equal distances at the k-th boundary
    g = np.array([(x, y) for x in range(8) for y in range(8)], dtype=np.float64)
    xy = np.concatenate([g, g])
    ids = np.arange(len(xy))[::-1].copy()
    qxy = np.array([[3.0, 3.0], [3.5, 3.5], [0.0, 0.0], [7.5, -2.0], [3.5, 9.0]])
    pts = _points(spark, xy, ids)
    for k in (1, 4, 9, 13):
        resident, ring = _both_paths(monkeypatch, pts, _queries(spark, qxy), k)
        assert resident == ring, k
        _check_brute(resident, qxy, xy, ids, k)


def test_resident_3d_extra_cols(spark, monkeypatch):
    rng = np.random.default_rng(9)
    xyz = rng.uniform(-50.0, 50.0, size=(400, 3))
    xyz[:100] = rng.normal(5.0, 2.0, size=(100, 3))
    qxyz = rng.uniform(-60.0, 60.0, size=(25, 3))
    pts = _points(spark, xyz[:, :2], extra=xyz[:, 2:])
    qs = _queries(spark, qxyz[:, :2], extra=qxyz[:, 2:])
    resident, ring = _both_paths(monkeypatch, pts, qs, 5, extra_cols=("z",))
    assert resident == ring
    _check_brute(resident, qxyz, xyz, np.arange(len(xyz)), 5)


def test_resident_edge_cases(spark, monkeypatch):
    rng = np.random.default_rng(4)
    xy = rng.uniform(0.0, 10.0, size=(6, 2))
    qxy = np.array([[5.0, 5.0], [50.0, 50.0], [-3.0, 7.0]])
    pts = _points(spark, xy)
    qs = _queries(spark, qxy)
    # k > n: every point, ranked
    resident, ring = _both_paths(monkeypatch, pts, qs, 10)
    assert resident == ring and len(resident) == 3 * 6
    _check_brute(resident, qxy, xy, np.arange(6), 10)
    # k = 0 and an empty point set: empty results on both paths
    assert _both_paths(monkeypatch, pts, qs, 0) == ([], [])
    empty = spark.createDataFrame([], "id long, x double, y double")
    assert _both_paths(monkeypatch, empty, qs, 3) == ([], [])
    # an empty query batch
    noq = spark.createDataFrame([], "qid long, x double, y double")
    assert _both_paths(monkeypatch, pts, noq, 3) == ([], [])


def test_resident_jobs_per_call(spark):
    """On an already-resident persisted frame a 16-query call, with its
    collect, runs at most 2 jobs, and none of them scans the points.
    The points sit in 7 partitions, so a scan of them is a 7-task stage;
    the first call, which builds the copy, shows one (the control)."""
    rng = np.random.default_rng(11)
    xy = rng.uniform(-50.0, 50.0, size=(2000, 2))
    pts = _points(spark, xy).repartition(7).persist()
    ext = {"n": pts.count()}
    qxy = rng.uniform(-60.0, 60.0, size=(16, 2))
    local_q = _queries(spark, qxy)
    # a query frame that is not driver-local: its collect is one job
    dist_q = spark.range(0, 16, numPartitions=3).selectExpr(
        "id as qid", "cast(id * 3 - 20 as double) as x", "cast(20 - id * 2 as double) as y"
    )

    def call(q):
        return knn_for_queries(pts, q, 5, extent=ext).collect()

    _, first = count_jobs(spark, lambda: call(local_q))
    assert any(7 in stages for stages in first), first
    dist_qxy = np.array([(i * 3.0 - 20.0, 20.0 - i * 2.0) for i in range(16)])
    for q, q_xy in ((local_q, qxy), (dist_q, dist_qxy)):
        rows, jobs = count_jobs(spark, lambda: call(q))
        assert len(jobs) <= 2, jobs
        assert not any(7 in stages for stages in jobs), jobs
        got = [(r["qid"], r["id"], r["dist"], r["rank"]) for r in rows]
        _check_brute(got, q_xy, xy, np.arange(2000), 5)
    pts.unpersist()


def _write_points(path, xy):
    # fixed-width encoding: the rewrite has the same byte size, so the
    # file listing a frame took at creation stays valid for its re-read
    pq.write_table(
        pa.table({"id": np.arange(len(xy), dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}),
        path,
        compression="NONE",
        use_dictionary=False,
    )


def test_resident_no_stale_reads(spark, tmp_path):
    rng = np.random.default_rng(13)
    a = rng.uniform(0.0, 10.0, size=(300, 2))
    b = rng.uniform(100.0, 110.0, size=(300, 2))
    f = tmp_path / "pts" / "part-0.parquet"
    f.parent.mkdir()
    _write_points(str(f), a)
    size = os.path.getsize(f)
    qxy = np.array([[5.0, 5.0], [105.0, 105.0]])
    qs = _queries(spark, qxy)
    k = 4

    # not persisted: never held, so an overwrite is seen at once
    pts = spark.read.parquet(str(f.parent))
    _check_brute(_rows(knn_for_queries(pts, qs, k)), qxy, a, np.arange(300), k)
    _write_points(str(f), b)
    assert os.path.getsize(f) == size
    _check_brute(_rows(knn_for_queries(pts, qs, k)), qxy, b, np.arange(300), k)
    assert pts not in knn_mod._resident

    # persisted: held while cached, dropped once unpersisted, rebuilt
    # from the new cache entry once persisted again
    pts.persist()
    _check_brute(_rows(knn_for_queries(pts, qs, k)), qxy, b, np.arange(300), k)
    assert pts in knn_mod._resident
    pts.unpersist(blocking=True)
    _write_points(str(f), a)
    _check_brute(_rows(knn_for_queries(pts, qs, k)), qxy, a, np.arange(300), k)
    assert pts not in knn_mod._resident
    pts.persist()
    _write_points(str(f), b)
    _check_brute(_rows(knn_for_queries(pts, qs, k)), qxy, b, np.arange(300), k)
    # unpersisted and persisted anew between two calls, over changed
    # files: the held copy belongs to the old cache entry and is rebuilt
    pts.unpersist(blocking=True)
    _write_points(str(f), a)
    pts.persist()
    _check_brute(_rows(knn_for_queries(pts, qs, k)), qxy, a, np.arange(300), k)
    pts.unpersist(blocking=True)


def test_resident_call_writes_zero_stats(spark, monkeypatch):
    """A call on the resident path reports no ring round instead of the
    previous call's figures."""
    rng = np.random.default_rng(17)
    xy = rng.uniform(-50.0, 50.0, size=(700, 2))
    pts = _points(spark, xy)
    big_q = _queries(spark, rng.uniform(-50.0, 50.0, size=(knn_mod._SMALL_BATCH + 1, 2)))
    small_q = _queries(spark, rng.uniform(-50.0, 50.0, size=(8, 2)))
    # the budget leaves room for 8 query rows beside the points: the
    # larger batch takes the ring path
    monkeypatch.setattr(knn_mod, "_RESIDENT_MAX_BYTES", knn_mod.resident_bytes(700 + 8))
    knn_mod.last_run_stats.clear()
    knn_for_queries(pts, big_q, 4).count()
    assert knn_mod.last_run_stats["rounds"] >= 1
    assert knn_mod.last_run_stats["shipped_rows"] > 0
    knn_for_queries(pts, small_q, 4).count()
    assert knn_mod.last_run_stats == {
        "rounds": 0,
        "shipped_rows": 0,
        "n_points": 700,
        "replication": 0.0,
        "brute_tail_queries": 0,
    }


def test_ring_self_graph_records_stats_without_env(spark, monkeypatch):
    """The ring path records its stats on every call, with no switch: a
    self graph ships every point to its own group in round 0."""
    for name in [n for n in os.environ if n.startswith("RINDEX_")]:
        monkeypatch.delenv(name)
    # a point set this small is built on the driver; force the ring path
    monkeypatch.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
    rng = np.random.default_rng(41)
    xy = rng.uniform(-50.0, 50.0, size=(400, 2))
    knn_mod.last_run_stats.clear()
    assert build_knn_graph(_points(spark, xy), 5).count() == 400 * 5
    st = knn_mod.last_run_stats
    assert st["rounds"] >= 1 and st["n_points"] == 400
    assert st["shipped_rows"] >= 400
    assert st["replication"] == round(st["shipped_rows"] / 400, 3)


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_points_are_dropped(spark, monkeypatch, bad):
    """A point with a NaN or infinite coordinate has no distance: both
    paths answer from the other points, and in a self graph it gets no
    rows and is nobody's neighbour."""
    rng = np.random.default_rng(31)
    xy = rng.uniform(-20.0, 20.0, size=(60, 2))
    xy[7, 0] = bad
    xy[23, 1] = -bad
    ok = np.flatnonzero(np.isfinite(xy).all(axis=1))
    pts = _points(spark, xy)
    qxy = rng.uniform(-25.0, 25.0, size=(12, 2))
    k = 4
    resident, ring = _both_paths(monkeypatch, pts, _queries(spark, qxy), k)
    assert resident == ring
    _check_brute(resident, qxy, xy[ok], ok, k)
    graph: dict[int, list] = {}
    for r in build_knn_graph(pts, k).collect():
        graph.setdefault(r["src"], []).append((r["rank"], r["dist"], r["dst"]))
    exp = brute_knn(xy[ok], ok, k)
    assert set(graph) == set(exp)
    for src, rows in graph.items():
        assert [(d, i) for _, d, i in sorted(rows)] == exp[src]


def _graph_rows(df):
    return sorted((r["src"], r["dst"], r["dist"], r["rank"]) for r in df.collect())


def _graph_both_paths(monkeypatch, points, k, **kw):
    """(driver rows, ring rows) of build_knn_graph; the driver call must
    run no ring round."""
    knn_mod.last_run_stats.clear()
    driver = _graph_rows(build_knn_graph(points, k, **kw))
    assert knn_mod.last_run_stats["rounds"] == 0
    with monkeypatch.context() as m:
        m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
        ring = _graph_rows(build_knn_graph(points, k, **kw))
    return driver, ring


def _line_with_null_id(spark):
    """10 points on a line and a point with a null id between two of them."""
    rows = [(i, float(i), 0.0) for i in range(10)] + [(None, 2.2, 0.0)]
    return spark.createDataFrame(rows, "id long, x double, y double")


def _graph_case(spark, case):
    """(points frame, k, build kwargs, valid xy or None, valid ids)."""
    rng = np.random.default_rng(43)
    if case == "lattice_ties":
        xy = np.array([(x, y) for x in range(9) for y in range(7)], dtype=np.float64)
        return _points(spark, xy), 9, {}, xy, np.arange(len(xy))
    if case == "duplicates":
        g = np.array([(x, y) for x in range(6) for y in range(6)], dtype=np.float64)
        xy = np.concatenate([g, g, g[:5]])
        ids = np.arange(len(xy))[::-1].copy()
        return _points(spark, xy, ids), 4, {}, xy, ids
    if case == "extra_cols_3d":
        xyz = rng.uniform(-30.0, 30.0, size=(300, 3))
        xyz[:80] = rng.normal(4.0, 1.5, size=(80, 3))
        return _points(spark, xyz[:, :2], extra=xyz[:, 2:]), 5, {"extra_cols": ("z",)}, None, None
    if case == "k_ge_n":
        xy = rng.uniform(0.0, 10.0, size=(6, 2))
        return _points(spark, xy), 10, {}, xy, np.arange(6)
    if case == "k_zero":
        return _points(spark, rng.uniform(0.0, 10.0, size=(6, 2))), 0, {}, None, None
    if case == "empty":
        return spark.createDataFrame([], "id long, x double, y double"), 3, {}, None, None
    if case == "null_id":
        xy = np.array([(float(i), 0.0) for i in range(10)])
        return _line_with_null_id(spark), 3, {}, xy, np.arange(10)
    # a NaN or infinite coordinate
    bad = float(case[len("non_finite_"):])
    xy = rng.uniform(-20.0, 20.0, size=(80, 2))
    xy[7, 0] = bad
    xy[31, 1] = -bad
    ok = np.flatnonzero(np.isfinite(xy).all(axis=1))
    return _points(spark, xy), 4, {}, xy[ok], ok


@pytest.mark.parametrize(
    "case",
    [
        "lattice_ties", "duplicates", "extra_cols_3d", "k_ge_n", "k_zero", "empty",
        "null_id", "non_finite_nan", "non_finite_inf",
    ],
)
def test_self_graph_driver_rows_equal_ring_rows(spark, monkeypatch, case):
    """build_knn_graph's driver path returns the ring path's rows bit for
    bit; a point with a null id or a non-finite coordinate gets no rows
    and is nobody's neighbour on either path."""
    pts, k, kw, xy, ids = _graph_case(spark, case)
    driver, ring = _graph_both_paths(monkeypatch, pts, k, **kw)
    assert driver == ring
    if case in ("k_zero", "empty"):
        assert driver == []
    if xy is not None:
        exp = brute_knn(xy, ids, k)
        got: dict[int, list] = {}
        for src, dst, d, rank in driver:
            got.setdefault(src, []).append((rank, d, dst))
        assert set(got) == set(exp)
        for src, rows in got.items():
            assert [(d, i) for _, d, i in sorted(rows)] == exp[src]


def test_ring_query_ignores_null_id_point(spark, monkeypatch):
    """An external query on the ring path never names a null-id point as a
    neighbour (it used to come back as id -2^63)."""
    monkeypatch.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
    pts = _line_with_null_id(spark)
    rows = _rows(knn_for_queries(pts, _queries(spark, [(2.1, 0.0)]), 3))
    xy = np.array([(float(i), 0.0) for i in range(10)])
    _check_brute(rows, [(2.1, 0.0)], xy, np.arange(10), 3)


def test_self_graph_one_past_the_gate_takes_the_ring(spark, monkeypatch):
    """A point set one past _GRAPH_MAX_POINTS runs the ring rounds and gives
    the driver path's rows, whether its size comes from extent= or from
    the bounded collect; at the bound it stays on the driver."""
    rng = np.random.default_rng(47)
    xy = rng.uniform(-40.0, 40.0, size=(300, 2))
    pts = _points(spark, xy)
    k = 6
    _, ext = grid_and_extent(pts, EngineConfig(k=k))
    driver = _graph_rows(build_knn_graph(pts, k))
    for kw in ({}, {"extent": ext}):
        for bound, rounds in ((300, 0), (299, 1)):
            monkeypatch.setattr(knn_mod, "_GRAPH_MAX_POINTS", bound)
            knn_mod.last_run_stats.clear()
            assert _graph_rows(build_knn_graph(pts, k, **kw)) == driver
            assert min(knn_mod.last_run_stats["rounds"], 1) == rounds, (kw, bound)


def test_self_graph_jobs(spark):
    """On a persisted in-budget frame a build plus its toArrow runs the
    bounded collect and the toArrow; with the copy held (the first build
    holds it) a build with extent= runs only the toArrow, and so does a
    following knn_for_queries.  The points sit in 7 partitions, so a scan
    of them is a 7-task stage."""
    import pandas as pd

    rng = np.random.default_rng(53)
    xy = rng.uniform(-50.0, 50.0, size=(2000, 2))
    pts = _points(spark, xy).repartition(7).persist()
    ext = {"n": pts.count()}
    k = 5
    exp = brute_knn(xy, np.arange(2000), k)

    def check(tbl):
        got: dict[int, list] = {}
        for src, dst, d, rank in zip(*(tbl.column(c).to_pylist() for c in ("src", "dst", "dist", "rank"))):
            got.setdefault(src, []).append((rank, d, dst))
        assert {s: [(d, i) for _, d, i in sorted(r)] for s, r in got.items()} == exp

    tbl, jobs = count_jobs(spark, lambda: build_knn_graph(pts, k).toArrow())
    assert len(jobs) <= 2, jobs
    check(tbl)
    assert pts in knn_mod._resident
    tbl, jobs = count_jobs(spark, lambda: build_knn_graph(pts, k, extent=ext).toArrow())
    assert len(jobs) <= 1 and not any(7 in stages for stages in jobs), jobs
    check(tbl)
    qxy = rng.uniform(-60.0, 60.0, size=(16, 2))
    q = spark.createDataFrame(pd.DataFrame({"qid": np.arange(16), "x": qxy[:, 0], "y": qxy[:, 1]}))
    out, jobs = count_jobs(spark, lambda: knn_for_queries(pts, q, k, extent=ext).toArrow())
    assert len(jobs) <= 1 and not any(7 in stages for stages in jobs), jobs
    got = [tuple(r.values()) for r in out.to_pylist()]
    _check_brute(got, qxy, xy, np.arange(2000), k)
    pts.unpersist()

    # a fresh persisted frame with extent=: one scan job for the copy
    pts = _points(spark, xy).repartition(7).persist()
    pts.count()
    tbl, jobs = count_jobs(spark, lambda: build_knn_graph(pts, k, extent=ext).toArrow())
    assert len(jobs) <= 2, jobs
    check(tbl)
    pts.unpersist()


def test_resident_index_drops_non_finite_extra_coordinate():
    """The driver copy drops a point whose extra coordinate is NaN."""
    xs = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    es = np.array([[0.0], [0.0], [np.nan], [0.0], [np.inf]])
    index = knn_mod._ResidentIndex(np.arange(5), xs, np.zeros(5), es, ("z",))
    assert index.n == 3
    cols = index.knn(np.array([0]), np.array([2.0]), np.array([0.0]), np.array([[0.0]]), 5)
    assert cols["id"].tolist() == [1, 3, 0]


def test_carried_bounds_fields_missing_and_null(spark):
    """The brute tail's carried-bound extraction: rows with cnt/kth bound
    the scan where cnt >= k, rows without the fields are unbounded, a
    null bounds nothing on its own row, and a value of the wrong type
    raises instead of silently turning the box prune off."""
    from rindex_spark.operators.knn import _carried_bounds, _small_frontier_knn

    k = 3
    with_fields = [
        Row(qid=0, qx=1.0, qy=1.0, cnt=3, kth=2.5),
        Row(qid=1, qx=5.0, qy=5.0, cnt=1, kth=0.5),  # cnt < k: no bound
        Row(qid=2, qx=9.0, qy=2.0, cnt=None, kth=1.0),
        Row(qid=3, qx=4.0, qy=8.0, cnt=4, kth=None),
    ]
    ub = _carried_bounds(with_fields, k)
    assert ub[0] == 2.5 and np.isinf(ub[1:]).all()
    lacking = [Row(qid=0, qx=1.0, qy=1.0), Row(qid=1, qx=5.0, qy=5.0)]
    assert np.isinf(_carried_bounds(lacking, k)).all()
    assert len(_carried_bounds([], k)) == 0
    with pytest.raises(ValueError):
        _carried_bounds([Row(qid=0, qx=1.0, qy=1.0, cnt="three", kth=1.0)], k)

    # every variant still answers exactly (the bound of row 0 is a true
    # upper bound: its 3rd-nearest point below sits at distance 2.5)
    xy = np.array([[1.0, 1.0], [1.0, 2.0], [3.5, 1.0], [6.0, 6.0], [9.0, 9.0], [0.0, 9.0]])
    pts = _points(spark, xy)
    for rows in (with_fields, lacking):
        got = _rows(_small_frontier_knn(pts, rows, k))
        qxy = [(r["qx"], r["qy"]) for r in rows]
        _check_brute(got, qxy, xy, np.arange(len(xy)), k)
