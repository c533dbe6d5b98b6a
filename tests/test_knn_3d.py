"""D > 2 kNN (reference const-generic [f64; D], lib/src/rindex.rs:34):
grid on the leading (x, y) pair, exact full-D distances in the kernel,
2-D ring lower bound as the (still valid) termination certificate.
Brute numpy oracle in 3-D, exact distance + (dist, id) order checks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rindex_spark.operators.knn import build_knn_graph, knn_for_queries

from tests.conftest import GRAPH_PATHS, graph_path


def _pts3(n, seed=5, spread=60.0):
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    xyz = rng.uniform(-spread, spread, size=(n, 3))
    # a dense clump to exercise ring certification against a hot core
    xyz[: n // 4] = rng.normal(10.0, 2.0, size=(n // 4, 3))
    return ids, xyz


def _brute3(qxyz, pxyz, pids, k):
    out = []
    for q in qxyz:
        dx, dy, dz = (q[0] - pxyz[:, 0]), (q[1] - pxyz[:, 1]), (q[2] - pxyz[:, 2])
        d = np.sqrt(dx * dx + dy * dy + dz * dz)
        order = sorted(range(len(pids)), key=lambda j: (d[j], pids[j]))[: min(k, len(pids))]
        out.append([(float(d[j]), int(pids[j])) for j in order])
    return out


def test_knn_3d_graph_exact(spark, monkeypatch):
    k = 6
    ids, xyz = _pts3(800)
    df = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1]), float(p[2])) for i, p in zip(ids, xyz)],
        "id long, x double, y double, z double",
    )
    oracle = _brute3(xyz, xyz, ids, k)
    for path in GRAPH_PATHS:
        with graph_path(monkeypatch, path):
            g = build_knn_graph(df, k, extra_cols=("z",)).collect()
        got: dict[int, list] = {}
        for r in g:
            got.setdefault(r["src"], []).append((r["rank"], r["dist"], r["dst"]))
        assert len(got) == len(ids), path
        for i, exp in zip(ids, oracle):
            rows = sorted(got[int(i)])
            assert len(rows) == k
            # self at rank 1, dist 0.0 (reference invariant rindex.rs:481)
            assert rows[0] == (1, 0.0, int(i))
            for (rk, d, dst), (ed, eid) in zip(rows, exp):
                assert d == ed and dst == eid, (path, i, rk, d, dst, ed, eid)


def test_knn_3d_external_queries(spark):
    k = 5
    ids, xyz = _pts3(600, seed=9)
    rng = np.random.default_rng(17)
    qxyz = rng.uniform(-70.0, 70.0, size=(40, 3))
    pts = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1]), float(p[2])) for i, p in zip(ids, xyz)],
        "id long, x double, y double, z double",
    )
    qs = spark.createDataFrame(
        [(1000 + j, float(q[0]), float(q[1]), float(q[2])) for j, q in enumerate(qxyz)],
        "qid long, x double, y double, z double",
    )
    res = knn_for_queries(pts, qs, k, extra_cols=("z",)).collect()
    got: dict[int, list] = {}
    for r in res:
        got.setdefault(r["qid"], []).append((r["rank"], r["dist"], r["id"]))
    oracle = _brute3(qxyz, xyz, ids, k)
    assert len(got) == len(qxyz)
    for j, exp in enumerate(oracle):
        rows = sorted(got[1000 + j])
        assert [(d, i) for _, d, i in rows] == exp


def test_range_join_3d_exact(spark):
    """D=3 range query vs brute force: 2-D covering-block prune
    (dist_3 >= dist_2 keeps it a valid filter), full-D refine."""
    from rindex_spark.operators.range_query import range_join

    ids, xyz = _pts3(500, seed=11)
    pts = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1]), float(p[2])) for i, p in zip(ids, xyz)],
        "id long, x double, y double, z double",
    )
    rng = np.random.default_rng(13)
    qxyz = rng.uniform(-50.0, 50.0, size=(15, 3))
    radii = rng.uniform(5.0, 40.0, size=15)
    qs = spark.createDataFrame(
        [
            (j, float(q[0]), float(q[1]), float(q[2]), float(r))
            for j, (q, r) in enumerate(zip(qxyz, radii))
        ],
        "qid long, x double, y double, z double, radius double",
    )
    got = {
        (r["qid"], r["id"]): r["dist"]
        for r in range_join(pts, qs, extra_cols=("z",)).collect()
    }
    exp = {}
    for j, (q, rad) in enumerate(zip(qxyz, radii)):
        d = np.sqrt(((q - xyz) ** 2).sum(axis=1))
        for i in np.nonzero(d <= rad)[0]:
            exp[(j, int(ids[i]))] = float(d[i])
    assert set(got) == set(exp)
    for key in exp:
        assert got[key] == exp[key]


def test_reverse_knn_3d_exact(spark):
    """D=3 reverse kNN vs brute force: all p with
    dist_3(p, q) <= knn_dist_3(p), inclusive."""
    from rindex_spark.config import EngineConfig
    from rindex_spark.grid import infer_grid
    from rindex_spark.operators.rknn import reverse_knn

    k = 4
    ids, xyz = _pts3(400, seed=21)
    pts = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1]), float(p[2])) for i, p in zip(ids, xyz)],
        "id long, x double, y double, z double",
    )
    g = build_knn_graph(pts, k, extra_cols=("z",))
    rng = np.random.default_rng(27)
    qxyz = rng.uniform(-50.0, 50.0, size=(12, 3))
    qs = spark.createDataFrame(
        [(100 + j, float(q[0]), float(q[1]), float(q[2])) for j, q in enumerate(qxyz)],
        "qid long, x double, y double, z double",
    )
    spec = infer_grid(pts, EngineConfig(k=k))
    got = {
        (r["qid"], r["id"])
        for r in reverse_knn(pts, g, qs, k, spec=spec, extra_cols=("z",)).collect()
    }
    # brute: per-point 3-D knn_dist (self included), then the inclusive cover test
    d_all = np.sqrt(((xyz[:, None, :] - xyz[None, :, :]) ** 2).sum(axis=2))
    kth = np.sort(d_all, axis=1)[:, k - 1]
    exp = set()
    for j, q in enumerate(qxyz):
        dq = np.sqrt(((q - xyz) ** 2).sum(axis=1))
        for i in np.nonzero(dq <= kth)[0]:
            exp.add((100 + j, int(ids[i])))
    assert got == exp
