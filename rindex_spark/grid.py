"""Flat integer cell grid — the distributed replacement for the
reference's bounding-sphere tree (rindex.rs / node.rs / sphere.rs).

All helpers are pure Spark column expressions (JVM-side, whole-stage
codegen) — no UDFs.  The grid supplies exactly the three primitives the
engine needs (SURVEY.md §7.0):

  * ``encode(x, y) -> (ix, iy)``            cell assignment
  * covering block / ring explode            candidate generation
  * ``cell_min_dist(cell, point)``           lower bound for pruning,
    the analogue of ``Sphere::min_distance`` (sphere.rs:28-31)

Key geometric invariant used for exact-kNN termination (the Spark
analogue of the best-first bound at rindex.rs:800-802): for a point p
in cell (ix, iy), every point in a cell at Chebyshev ring > R is at
Euclidean distance >= lb(p, R) where lb is the minimum of the four
axis gaps to the ring-R block boundary; and lb(p, R) >= R * cell_size.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rindex_spark.config import EngineConfig, GridSpec


def infer_grid_adaptive(
    points: DataFrame,
    cfg: EngineConfig,
    x: str = "x",
    y: str = "y",
    quantile: float = 0.95,
    slack: float = 2.0,
) -> GridSpec:
    """Density-aware cell sizing: the mean-occupancy grid of
    ``infer_grid``, shrunk by ``shrink_to_occupancy``.  Two aggregate
    jobs (extent, then occupancy)."""
    return shrink_to_occupancy(
        points, infer_grid(points, cfg, x, y), cfg, x, y, quantile, slack
    )


def shrink_to_occupancy(
    points: DataFrame,
    spec: GridSpec,
    cfg: EngineConfig,
    x: str = "x",
    y: str = "y",
    quantile: float = 0.95,
    slack: float = 2.0,
) -> GridSpec:
    """Shrink an already-computed base grid so the POINT-WEIGHTED
    ``quantile`` occupancy is about ``target_per_cell`` — the
    distributed answer to urban-density skew (the reference's
    max-variance node splits play this role, rindex.rs:636-713).  Dense
    cores get small cells (bounded per-query candidate sets); sparse
    regions simply search wider, mostly-empty rings, which cost almost
    nothing.  The base spec is returned unchanged unless that occupancy
    exceeds ``slack * target_per_cell``.  One aggregate job."""
    t = cfg.effective_target_per_cell
    occ = (
        with_cells(points.select(F.col(x).alias("x"), F.col(y).alias("y")), spec)
        .groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    p = occ.agg(
        F.expr(f"percentile(occ, {quantile}, occ)").alias("p"),
    ).collect()[0]["p"]
    if p and p > slack * t:
        return GridSpec(
            cell_size=max(spec.cell_size * (t / p) ** 0.5, 1e-9),
            x0=spec.x0,
            y0=spec.y0,
        )
    return spec


def infer_grid(points: DataFrame, cfg: EngineConfig, x: str = "x", y: str = "y") -> GridSpec:
    """Choose a cell size so the mean occupied-area cell holds roughly
    ``cfg.target_per_cell`` points — the layout-quality decision that the
    reference makes via fanout + max-variance splits (rindex.rs:636-713).

    One tiny aggregate job; everything else stays lazy.
    """
    return grid_and_extent(points, cfg, x, y)[0]


def grid_and_extent(
    points: DataFrame, cfg: EngineConfig, x: str = "x", y: str = "y"
) -> tuple[GridSpec, object]:
    """One aggregate job -> (GridSpec, extent row with n/xmin/xmax/
    ymin/ymax).  Callers running several operators over the same point
    set pass BOTH down (spec= and extent=) so each op adds zero fixed
    driver jobs (r2 verdict item 8).  Points with a null, NaN or
    infinite coordinate have no place on the grid and are left out of
    both (Spark orders NaN above every number, so one would make the
    extent NaN)."""
    row = points.filter(all_finite((x, y))).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(x).alias("xmin"),
        F.max(x).alias("xmax"),
        F.min(y).alias("ymin"),
        F.max(y).alias("ymax"),
    ).collect()[0]
    return grid_from_extent(row, cfg), row


def all_finite(cols) -> Column:
    """True where every column of ``cols`` is finite: abs(NaN) < inf is
    false in Spark, and a null compares to null, which a filter drops."""
    return reduce(lambda a, b: a & b, [F.abs(F.col(c)) < F.lit(float("inf")) for c in cols])


def grid_from_extent(row, cfg: EngineConfig) -> GridSpec:
    """Build a GridSpec from a pre-collected extent row (n, xmin, xmax,
    ymin, ymax) — lets callers fold extent+grid into one aggregate job."""
    n = row["n"] or 0
    if n == 0:
        return GridSpec(cell_size=1.0)
    ex = max(row["xmax"] - row["xmin"], 1e-9)
    ey = max(row["ymax"] - row["ymin"], 1e-9)
    t = cfg.effective_target_per_cell
    # cells ≈ n / target  =>  cs = sqrt(area * target / n).  The per-axis
    # floor (ex*t/n) guards DEGENERATE distributions: for near-1-D data
    # the area formula collapses to ~0 cell size, the grid becomes a
    # line of millions of cells, and ring expansion blows up O(r^2).
    cs = max(
        (ex * ey * t / n) ** 0.5,
        ex * t / n,
        ey * t / n,
        1e-9,
    )
    return GridSpec(cell_size=cs, x0=float(row["xmin"]), y0=float(row["ymin"]))


def cell_index(origin: float, cell_size: float, v: Column) -> Column:
    return F.floor((v - F.lit(origin)) / F.lit(cell_size)).cast("long")


def with_cells(
    df: DataFrame, spec: GridSpec, x: str = "x", y: str = "y", prefix: str = ""
) -> DataFrame:
    """Add integer cell coordinates ``{prefix}ix, {prefix}iy`` — each
    axis against ITS OWN origin (x0 for x, y0 for y; the two origins
    differ whenever the data bbox isn't square-cornered)."""
    return df.withColumn(
        f"{prefix}ix", cell_index(spec.x0, spec.cell_size, F.col(x))
    ).withColumn(f"{prefix}iy", cell_index(spec.y0, spec.cell_size, F.col(y)))


def explode_block(
    df: DataFrame, radius: Column, qix: str = "qix", qiy: str = "qiy"
) -> DataFrame:
    """Explode each row to every cell in its Chebyshev block of the given
    per-row radius: (2R+1)^2 rows with columns ``cix, ciy``.

    Pure ``sequence`` + ``explode`` — candidate-cell generation without
    any Python.  This is the covering-cells step of filter-and-refine.
    """
    r = radius.cast("long")
    out = df.withColumn("cix", F.explode(F.sequence(F.col(qix) - r, F.col(qix) + r)))
    out = out.withColumn("ciy", F.explode(F.sequence(F.col(qiy) - r, F.col(qiy) + r)))
    return out


def ring_lower_bound(
    spec: GridSpec,
    x: Column,
    y: Column,
    qix: Column,
    qiy: Column,
    r: Column,
) -> Column:
    """Exact per-point lower bound on the distance from (x, y) to any
    point lying in a cell with Chebyshev ring distance > r.

    Any such cell differs by >= r+1 in at least one axis, so its
    distance is at least the smallest axis gap to the ring-r block
    boundary.  This is the termination test of exact kNN ring expansion
    (the `min_distance < kth` invariant of rindex.rs:800-802).
    """
    cs = F.lit(spec.cell_size)
    x0 = F.lit(spec.x0)
    y0 = F.lit(spec.y0)
    gap_left = x - (x0 + (qix - r).cast("double") * cs)
    gap_right = (x0 + (qix + r + F.lit(1)).cast("double") * cs) - x
    gap_down = y - (y0 + (qiy - r).cast("double") * cs)
    gap_up = (y0 + (qiy + r + F.lit(1)).cast("double") * cs) - y
    return F.least(gap_left, gap_right, gap_down, gap_up)


def cell_min_dist(
    spec: GridSpec, cix: Column, ciy: Column, qx: Column, qy: Column
) -> Column:
    """Lower bound on distance from query point (qx, qy) to any point in
    cell (cix, ciy) — the analogue of ``Sphere::min_distance``
    (sphere.rs:28-31), used for RkNN cell pruning (rindex.rs:826-829).
    """
    cs = F.lit(spec.cell_size)
    cx_lo = F.lit(spec.x0) + cix.cast("double") * cs
    cy_lo = F.lit(spec.y0) + ciy.cast("double") * cs
    dx = F.greatest(cx_lo - qx, qx - (cx_lo + cs), F.lit(0.0))
    dy = F.greatest(cy_lo - qy, qy - (cy_lo + cs), F.lit(0.0))
    return F.sqrt(dx * dx + dy * dy)


_Z_BIAS = 1 << 30  # cell indices supported in [-2^30, 2^30)


def _spread_bits(v: Column) -> Column:
    """Spread the low 31 bits of a non-negative long so bit i lands at
    position 2i (Morton encoding half) — five shift/mask stages, pure
    JVM expressions inside whole-stage codegen."""
    v = v.bitwiseAND(F.lit(0x7FFFFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return v


def z_order_key(ix: Column, iy: Column) -> Column:
    """Morton (Z-order) key of a cell: interleave the bits of the two
    (bias-shifted) cell indices into one sortable long.  Sorting or
    range-partitioning a corpus by this key is the standard spatial
    data-lake LAYOUT move (Delta/Iceberg `Z-ORDER BY`): rows that are
    near in space land in the same files/partitions, so cell-range
    scans prune file-level min/max statistics instead of reading the
    table.  Pure column expressions — no UDF, stays in codegen.

    Valid for cell indices in [-2^30, 2^30); the bias makes the key's
    unsigned ordering match the natural curve order for negative
    indices too (62 bits used, always non-negative).
    """
    ux = (ix + F.lit(_Z_BIAS)).cast("long")
    uy = (iy + F.lit(_Z_BIAS)).cast("long")
    return _spread_bits(ux).bitwiseOR(F.shiftleft(_spread_bits(uy), 1))


def cluster_by_zorder(
    df: DataFrame,
    spec: GridSpec,
    n_partitions: int | None = None,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Range-partition + sort a point set along the Z-order curve —
    the write-side layout helper: `cluster_by_zorder(df, spec)
    .write.parquet(...)` produces files whose (x, y) min/max footprints
    are spatially tight, so any cell-range predicate prunes most files
    at scan time.  One exchange (range partitioner over the z key) +
    an in-partition sort; the key column is dropped from the output."""
    out = df.withColumn(
        "_z", z_order_key(cell_index(spec.x0, spec.cell_size, F.col(x)),
                          cell_index(spec.y0, spec.cell_size, F.col(y)))
    )
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    return out.repartitionByRange(n, "_z").sortWithinPartitions("_z").drop("_z")
