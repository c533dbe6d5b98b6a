"""grid.shrink_to_occupancy is the one p95 occupancy shrink: the grid
knn_for_queries infers (grid_from_extent + shrink) must equal what its
former inline copy of the shrink computed, on clustered and uniform
points.  grid_and_extent sizes the grid from the finite points only."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.grid import (
    grid_and_extent,
    grid_from_extent,
    infer_grid,
    infer_grid_adaptive,
    shrink_to_occupancy,
    with_cells,
)
from rindex_spark.operators.knn import build_knn_graph
from rindex_spark.operators.range_query import range_join
from rindex_spark.operators.rknn import reverse_knn


def _inline_shrink(points, ext, cfg):
    """The shrink knn_for_queries carried inline before it called
    shrink_to_occupancy (verbatim logic)."""
    spec = grid_from_extent(ext, cfg)
    occ = (
        with_cells(points.select("x", "y"), spec)
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    p = occ.agg(F.expr("percentile(occ, 0.95, occ)").alias("p")).collect()[0]["p"]
    t = cfg.effective_target_per_cell
    if p and p > 2.0 * t:
        spec = GridSpec(
            cell_size=max(spec.cell_size * (t / p) ** 0.5, 1e-9),
            x0=spec.x0,
            y0=spec.y0,
        )
    return spec


@pytest.mark.parametrize("kind", ["clustered", "uniform"])
def test_shrink_matches_former_inline_copy(spark, kind):
    rng = np.random.default_rng(5)
    if kind == "clustered":
        xy = np.concatenate(
            [rng.normal((10.0, 10.0), 0.5, size=(3000, 2)), rng.uniform(-100, 100, size=(500, 2))]
        )
    else:
        xy = rng.uniform(-100.0, 100.0, size=(3500, 2))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)], "id long, x double, y double"
    )
    cfg = EngineConfig(k=10)
    base, ext = grid_and_extent(pts, cfg)
    new = shrink_to_occupancy(pts, base, cfg)
    assert new == _inline_shrink(pts, ext, cfg)
    # the clustered core shrinks its cells; the uniform grid is kept
    assert (new.cell_size < base.cell_size) == (kind == "clustered")
    assert infer_grid_adaptive(pts, cfg) == shrink_to_occupancy(pts, infer_grid(pts, cfg), cfg)


def test_grid_and_extent_skips_non_finite_points(spark):
    """A point with a NaN coordinate would make the extent NaN (Spark
    orders NaN above every number) and the grid's cell size invalid; the
    extent is the finite points', and the callers that size a grid from
    the points answer from them."""
    lattice = [(i, float(i % 8), float(i // 8)) for i in range(40)]
    pts = spark.createDataFrame(lattice + [(40, float("nan"), 1.0)], "id long, x double, y double")
    cfg = EngineConfig(k=3)
    spec, ext = grid_and_extent(pts, cfg)
    assert (ext["n"], ext["xmin"], ext["xmax"], ext["ymin"], ext["ymax"]) == (40, 0.0, 7.0, 0.0, 4.0)
    clean = spark.createDataFrame(lattice, "id long, x double, y double")
    assert spec == grid_and_extent(clean, cfg)[0] == infer_grid(pts, cfg)

    q = spark.createDataFrame([(0, 3.0, 2.0, 1.5)], "qid long, x double, y double, radius double")
    got = sorted((r["id"], r["dist"]) for r in range_join(pts, q).collect())
    exp = sorted(
        (i, float(np.sqrt((x - 3.0) ** 2 + (y - 2.0) ** 2)))
        for i, x, y in lattice
        if (x - 3.0) ** 2 + (y - 2.0) ** 2 <= 1.5**2
    )
    assert got == exp and len(exp) > 0
    graph = build_knn_graph(pts, 3)
    rev = reverse_knn(pts, graph, q.select("qid", "x", "y"), 3).collect()
    assert 40 not in {r["id"] for r in rev} and len(rev) > 0
    assert rev == reverse_knn(clean, graph, q.select("qid", "x", "y"), 3).collect()
