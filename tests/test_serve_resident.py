"""Driver serving of every in-budget read batch: bulk kNN, range and
reverse-kNN batches answered from the resident copy of the points.

* parity — each driver path returns the same rows as the Spark plan,
  forced by setting the byte budget to 0, bit for bit: lattice ties,
  k >= n, null qids, NaN coordinates, 3-D points, far-away queries,
  points exactly on the radius, radii beyond the extent, points with
  fewer than k neighbours and queries tied with a point's k-th distance;
* jobs — a driver call with a local query frame runs no job, and its
  result is a local frame that collects with none either (a Spark-path
  call also runs none before its collect, so the collect is counted);
* bounds — the query collect takes at most what the point copy leaves of
  the budget (24 B a 2-D query row) and at most ``_DRIVER_MAX_REDO``
  rows; a batch past either bound takes the ring path with the same rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rindex_spark.config import EngineConfig
from rindex_spark.grid import grid_and_extent, infer_grid
from rindex_spark.operators import knn as knn_mod
from rindex_spark.operators.knn import build_knn_graph, knn_for_queries
from rindex_spark.operators.range_query import range_join
from rindex_spark.operators.rknn import reverse_knn, rknn_stats

from tests.conftest import brute_knn_queries, count_jobs


def _frame(spark, cols: dict, schema: str):
    """A driver-local frame (pandas-made) with an explicit schema."""
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _points(spark, xy, ids=None, z=None):
    ids = np.arange(len(xy)) if ids is None else ids
    cols = {"id": np.asarray(ids, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}
    schema = "id long, x double, y double"
    if z is not None:
        cols["z"], schema = z, schema + ", z double"
    return _frame(spark, cols, schema).persist()


def _queries(spark, qxy, qid=None, z=None, radius=None):
    qid = pd.array(np.arange(len(qxy)) if qid is None else qid, dtype="Int64")
    cols = {"qid": qid, "x": qxy[:, 0], "y": qxy[:, 1]}
    schema = "qid long, x double, y double"
    if z is not None:
        cols["z"], schema = z, schema + ", z double"
    if radius is not None:
        cols["radius"], schema = radius, schema + ", radius double"
    return _frame(spark, cols, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _spark_plan(monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
        return fn()


def _lattice():
    # an integer lattice with every point doubled: exact duplicates at
    # distance 0 and many equal distances at every boundary
    g = np.array([(x, y) for x in range(12) for y in range(12)], dtype=np.float64)
    xy = np.concatenate([g, g])
    return xy, np.arange(len(xy))[::-1].copy()


def test_bulk_knn_driver_matches_ring_path(spark, monkeypatch):
    """A batch past the old 512-query cap is answered on the driver, with
    no job for the call and its collect, and the ring path gives the same
    rows."""
    xy, ids = _lattice()
    rng = np.random.default_rng(5)
    pts = _points(spark, xy, ids)
    # lattice points, half-lattice points, random points and queries
    # far outside the extent
    qxy = np.concatenate(
        [
            xy[rng.integers(0, len(xy), 300)],
            rng.integers(0, 12, size=(200, 2)) + 0.5,
            rng.uniform(-3.0, 15.0, size=(200, 2)),
            [[900.0, -900.0], [-1e4, 3.0], [5.0, 1e5]],
        ]
    )
    qid = list(range(len(qxy)))
    # a null qid names no query; NaN coordinates have no distance
    qid[3] = None
    qxy[10, 0] = np.nan
    qxy[11, 1] = np.nan
    q = _queries(spark, qxy, qid)
    assert q.isLocal() and q.count() > knn_mod._SMALL_BATCH
    # the same rows from a frame that is not driver-local keep their NaNs
    # (the pandas frame turns them into nulls); its collect is one job
    q_nan = spark.createDataFrame(
        [(j, float(a), float(b)) for j, (a, b) in zip(qid, qxy)], "qid long, x double, y double"
    )
    _, ext = grid_and_extent(pts, EngineConfig())
    for k in (1, 9, len(xy) + 5):
        out, jobs = count_jobs(spark, lambda: knn_for_queries(pts, q, k, extent=ext).collect())
        driver = sorted(tuple(r) for r in out)
        ring = _spark_plan(monkeypatch, lambda: _rows(knn_for_queries(pts, q, k, extent=ext)))
        assert driver == ring, k
        assert not any(r[0] in (3, 10, 11) for r in driver)
        if k == 9:
            # the first call built the copy; later ones hold it
            assert jobs == [], jobs
            assert _rows(knn_for_queries(pts, q_nan, k, extent=ext)) == driver
            ring_nan = _spark_plan(monkeypatch, lambda: _rows(knn_for_queries(pts, q_nan, k, extent=ext)))
            assert ring_nan == driver
    got = {}
    for qq, i, d, rank in driver:
        got.setdefault(qq, []).append((rank, d, i))
    exp = brute_knn_queries(qxy, xy, ids, len(xy) + 5)
    for j in (0, 400, len(qxy) - 1):
        assert [(d, i) for _, d, i in sorted(got[j])] == exp[j]
    pts.unpersist()


def test_bulk_knn_3d_driver_matches_ring_path(spark, monkeypatch):
    rng = np.random.default_rng(9)
    xyz = rng.uniform(-50.0, 50.0, size=(600, 3))
    xyz[:200] = rng.normal(5.0, 2.0, size=(200, 3))
    pts = _points(spark, xyz[:, :2], z=xyz[:, 2])
    qxyz = np.concatenate([rng.uniform(-60.0, 60.0, size=(600, 3)), [[1e3, 1e3, 0.0]]])
    q = _queries(spark, qxyz[:, :2], z=qxyz[:, 2])
    driver = _rows(knn_for_queries(pts, q, 6, extra_cols=("z",)))
    ring = _spark_plan(monkeypatch, lambda: _rows(knn_for_queries(pts, q, 6, extra_cols=("z",))))
    assert driver == ring and len(driver) == 6 * len(qxyz)
    pts.unpersist()


def test_query_collect_is_bounded_by_bytes_and_work(spark, monkeypatch):
    """The collect takes what the point copy leaves of the budget at 24 B
    a query row, and at most _DRIVER_MAX_REDO rows: one row more on
    either bound sends the batch to the ring path, with the same rows."""
    rng = np.random.default_rng(21)
    xy = rng.uniform(-50.0, 50.0, size=(800, 2))
    pts = _points(spark, xy)
    n_q = 40
    qxy = rng.uniform(-55.0, 55.0, size=(n_q + 1, 2))
    fits, over = _queries(spark, qxy[:n_q]), _queries(spark, qxy)

    def rounds(q):
        rows = _rows(knn_for_queries(pts, q, 5))
        return knn_mod.last_run_stats["rounds"], rows

    full = None
    for budget, bound in (
        (knn_mod.resident_bytes(len(xy) + n_q), knn_mod._DRIVER_MAX_REDO),
        (knn_mod._RESIDENT_MAX_BYTES, n_q),
    ):
        with monkeypatch.context() as m:
            m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", budget)
            m.setattr(knn_mod, "_DRIVER_MAX_REDO", bound)
            r_fit, rows_fit = rounds(fits)
            r_over, rows_over = rounds(over)
        assert r_fit == 0 and r_over >= 1, (budget, bound)
        assert rows_over[: len(rows_fit)] == rows_fit
        full = full or rows_over
        assert rows_over == full
    exp = brute_knn_queries(qxy, xy, np.arange(len(xy)), 5)
    by_rank = sorted(full, key=lambda r: (r[0], r[3]))
    assert [(d, i) for _, i, d, _ in by_rank] == [p for e in exp for p in e]
    pts.unpersist()


def test_range_driver_matches_spark_plan(spark, monkeypatch):
    """Range batches on a held copy: points exactly on the radius count,
    a radius beyond the extent returns every point, and the driver call
    and its collect run no job."""
    xy, ids = _lattice()
    z = np.tile([0.0, 1.0], len(xy) // 2)
    pts = _points(spark, xy, ids, z=z)
    spec = infer_grid(pts, EngineConfig())
    for extra in ((), ("z",)):
        # a kNN call holds the copy the range path answers from
        warm = _queries(spark, xy[:2], z=z[:2] if extra else None)
        knn_for_queries(pts, warm, 1, extra_cols=extra).collect()
        qxy = np.array([[3.0, 3.0], [3.0, 3.0], [3.0, 3.0], [5.5, 5.5], [0.0, 11.0],
                        [6.0, 6.0], [2.0, 2.0], [40.0, 40.0]])
        radius = np.array([1.0, np.sqrt(2.0), 2.0, np.sqrt(0.5), 0.0, 1e6, -1.0, 40.0])
        q = _queries(spark, qxy, z=np.zeros(len(qxy)) if extra else None, radius=radius)
        out, jobs = count_jobs(spark, lambda: range_join(pts, q, spec=spec, extra_cols=extra).collect())
        assert jobs == [], jobs
        driver = [tuple(r) for r in out]
        spark_rows = _spark_plan(
            monkeypatch, lambda: [tuple(r) for r in range_join(pts, q, spec=spec, extra_cols=extra).collect()]
        )
        assert driver == spark_rows, extra
        assert sum(r[0] == 5 for r in driver) == len(xy)
        if not extra:
            # 4 neighbours at 1.0 plus the doubled centre, all inclusive
            assert sum(r[0] == 0 for r in driver) == 2 * 5
    pts.unpersist()


def test_reverse_knn_driver_matches_spark_plan(spark, monkeypatch):
    """Reverse-kNN batches on an rknn_stats handle: ties at a point's
    k-th distance count, points with fewer than k neighbours hold every
    query, and the driver call and its collect run no job."""
    xy, ids = _lattice()
    few = np.array([[0.0, 0.0], [3.0, 0.0], [0.0, 4.0]])
    qxy = np.concatenate(
        [xy[:40], np.array([(x + 0.5, y) for x in range(-1, 12) for y in (0.0, 5.0)]), [[50.0, 50.0]]]
    )
    for data, k in ((xy, 5), (few, 5)):
        pts = _points(spark, data, ids[: len(data)])
        spec = infer_grid(pts, EngineConfig(k=k))
        g = build_knn_graph(pts, k, spec=spec).persist()
        q = _queries(spark, qxy)
        handle = rknn_stats(pts, g, k, spec)
        assert handle["index"] is not None
        out, jobs = count_jobs(spark, lambda: reverse_knn(pts, g, q, k, spec, stats=handle).collect())
        assert jobs == [], jobs
        driver = [tuple(r) for r in out]

        def spark_plan():
            h = rknn_stats(pts, g, k, spec)
            assert h["index"] is None
            rows = [tuple(r) for r in reverse_knn(pts, g, q, k, spec, stats=h).collect()]
            h["stats"].unpersist()
            return rows

        assert driver == _spark_plan(monkeypatch, spark_plan) and driver
        if len(data) < k:
            # infinite balls: every point answers every query
            assert len(driver) == len(data) * len(qxy)
        handle["stats"].unpersist()
        g.unpersist()
        pts.unpersist()
