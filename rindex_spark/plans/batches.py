"""Dynamic insert/delete micro-batches with incremental kNN-graph repair.

Reference semantics being reproduced (SURVEY.md §2 rows 2-3):

* ``insert`` (rindex.rs:92-109): adding a point updates BOTH the new
  point's kNN heap and every existing point's heap that improves
  (``preinsert``, rindex.rs:500-560).
* ``delete`` (rindex.rs:120-135): removing a point resets the heaps of
  its reverse neighbors — everyone who held it as a neighbor — and
  recomputes them exactly (``post_delete``, rindex.rs:562-615).

Distributed re-expression: ops arrive as micro-batches.  Per batch:

1. fold the point set: ``base ANTI-JOIN deletes UNION inserts``
   (MERGE INTO when an Iceberg catalog is configured; parquet
   union/anti-join fallback otherwise).
2. repair the graph incrementally — never a full rebuild:
   - ``full_recompute`` = new points ∪ points that LOST a neighbor
     (graph rows whose dst was deleted — exactly the reverse-kNN set
     the reference queries at rindex.rs:128, but cheaper because the
     graph is materialized).  These run the generic exact kNN search
     (cell-ring expansion) against the folded point set.
   - ``merge_only`` = surviving points that may have GAINED a new
     neighbor: p gains iff dist(p, new point) <= p's current k-th
     distance — found with the reverse-kNN operator over the NEW
     points as queries (the rindex.rs:553 pruning invariant, powered
     by the per-cell max_knn_dist ≡ sphere.bound aggregate).  Their
     new kNN ⊆ old kNN ∪ {captured new-point edges}, so repair is a
     unionByName + window top-k — no search at all.
   - everything else keeps its graph rows untouched.

Batch semantics vs per-op semantics: the kNN graph of a point set is
state-free, so folding N ops at once yields the same final graph as N
single-op folds (proved by the replay tests at batch sizes 1/16/full,
mirroring lib/tests/random.rs / graph.rs).  Within one batch, an
insert-then-delete of the same id cancels out before the fold.

Small folds run on the driver.  A state that fits the resident byte
budget (``knn.fits_resident``: 24 B per point plus 28 B per graph row
against ``knn._RESIDENT_MAX_BYTES``) carries a driver copy, an Arrow
table per frame registered in ``knn``'s copy registry by
``empty_state``, by the driver fold and by ``BatchCheckpointer.write``/
``load``.  A batch on such a state whose ops (as point rows) fit what
the state leaves of the budget, and whose folded state fits it too, is
folded on that copy with the same affected set, computed in numpy
(losers by ``np.isin``, gainers by ``_ResidentIndex.reverse``, every
affected point recomputed by ``_ResidentIndex.knn``, the ring path's
kernel and tie-break, so rows are bit-identical), and returns local
frames with no Spark job; collecting ops from frames that are not
driver-local costs one job.  An affected set of more than
``_DRIVER_MAX_REDO`` points (``knn``'s driver-work bound, shared with
``knn_for_queries``) and over-budget states keep the distributed plan
above, in which the driver holds only op counts.  Insert-only and
delete-only batches skip the dead half of the repair (the common case in
streaming ingest).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.grid import infer_grid
from rindex_spark.operators import knn as _knn
from rindex_spark.operators.knn import (
    _DRIVER_MAX_REDO,  # knn_for_queries' bound too; the fold reads this name
    _ResidentIndex,
    fits_resident,
    knn_for_queries,
    register_copy,
    registered_table,
    resident_bytes,
)
from rindex_spark.operators.rknn import reverse_knn

POINTS_ARROW = pa.schema([("id", pa.int64()), ("x", pa.float64()), ("y", pa.float64())])
GRAPH_ARROW = pa.schema(
    [("src", pa.int64()), ("dst", pa.int64()), ("dist", pa.float64()), ("rank", pa.int32())]
)
_IDS_ARROW = pa.schema([("id", pa.int64())])


@dataclass
class IndexState:
    """The engine's durable state: the live point set + its kNN graph.

    Plays the role of the reference's arena + per-point heaps
    (index.rs:3-42, node.rs:12) — but immutable: each batch produces a
    new state."""

    points: DataFrame  # (id, x, y)
    graph: DataFrame  # (src, dst, dist, rank)
    k: int


def _frame(spark, table: pa.Table) -> DataFrame:
    """A local frame of an Arrow table (no job)."""
    if not table.num_rows:
        return spark.createDataFrame([], from_arrow_schema(table.schema))
    return spark.createDataFrame(table)


def _local_state(spark, points: pa.Table, graph: pa.Table, k: int) -> IndexState:
    """A state of local frames, registered with their tables."""
    return IndexState(
        points=register_copy(_frame(spark, points), points),
        graph=register_copy(_frame(spark, graph), graph),
        k=k,
    )


def empty_state(spark, k: int) -> IndexState:
    return _local_state(spark, POINTS_ARROW.empty_table(), GRAPH_ARROW.empty_table(), k)


def _rows_table(rows, schema: pa.Schema) -> pa.Table:
    """Driver rows (tuples in ``schema``'s column order) as an Arrow table."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table({f.name: pa.array(c, f.type) for f, c in zip(schema, cols)})


def _ops_on_driver(inserts, delete_ids, limit: int):
    """The batch's (insert table, delete ids) on the driver, or None when
    it holds more than ``limit`` ops.  ``None`` for either side means no
    ops of that kind.  Row lists, Arrow tables and local frames cost no
    job; frames that are not local are collected together, at most
    ``limit`` + 1 rows, in one job."""
    tables, remote = {}, []
    for side, ops, schema in (("ins", inserts, POINTS_ARROW), ("del", delete_ids, _IDS_ARROW)):
        if ops is None:
            tables[side] = schema.empty_table()
        elif isinstance(ops, pa.Table):
            tables[side] = ops.select(schema.names).cast(schema)
        elif not isinstance(ops, DataFrame):
            tables[side] = _rows_table(ops, schema)
        elif ops.isLocal():
            tables[side] = _rows_table(ops.select(*schema.names).collect(), schema)
        else:
            nul = F.lit(None).cast("double")
            remote.append(
                ops.select(
                    F.lit(side == "del").alias("_del"),
                    F.col("id").cast("long").alias("id"),
                    *(
                        [nul.alias("x"), nul.alias("y")]
                        if side == "del"
                        else [F.col("x").cast("double"), F.col("y").cast("double")]
                    ),
                )
            )
    if remote:
        got = reduce(DataFrame.unionByName, remote).limit(limit + 1).toArrow()
        is_del = got.column("_del")
        for side, schema, mask in (
            ("ins", POINTS_ARROW, pc.invert(is_del)),
            ("del", _IDS_ARROW, is_del),
        ):
            if side not in tables:
                tables[side] = got.filter(mask).select(schema.names).cast(schema)
    if tables["ins"].num_rows + tables["del"].num_rows > limit:
        return None
    return tables["ins"], tables["del"].column("id").to_numpy().astype(np.int64, copy=False)


def _as_frame(spark, ops, schema: pa.Schema) -> DataFrame:
    if isinstance(ops, DataFrame):
        return ops
    if not isinstance(ops, pa.Table):
        ops = _rows_table(ops, schema)
    return _frame(spark, ops.select(schema.names).cast(schema))


def _fold_on_driver(
    points: pa.Table, graph: pa.Table, ins: pa.Table, dels: np.ndarray, k: int, max_redo: int
):
    """apply_batch's repair on driver copies; returns the folded (points,
    graph) tables, or None when more than ``max_redo`` points would be
    recomputed.  The affected set is the distributed plan's: inserts,
    losers (``src`` of a row whose ``dst`` is deleted) and gainers
    (survivors p with dist(p, insert) <= p's k-th distance, inclusive;
    inf below k rows).  Every affected point is recomputed on the folded
    set; a gainer's new list is exact however it was reached, so this
    matches the merge-only path row for row."""

    def col(t, c, dtype):
        return t.column(c).to_numpy().astype(dtype, copy=False)

    pid, px, py = col(points, "id", np.int64), col(points, "x", np.float64), col(points, "y", np.float64)
    src, dst = col(graph, "src", np.int64), col(graph, "dst", np.int64)
    dist, rank = col(graph, "dist", np.float64), col(graph, "rank", np.int64)
    iid, ix, iy = col(ins, "id", np.int64), col(ins, "x", np.float64), col(ins, "y", np.float64)
    alive = ~np.isin(pid, dels)
    # inserts and losers, checked before the gainers' per-insert scan
    redo = np.union1d(iid, src[np.isin(dst, dels)])
    redo = redo[~np.isin(redo, dels)]
    if len(redo) > max_redo:
        return None

    # each point's k-th neighbour distance: its rank-k row's, inf when it
    # has fewer than k rows
    kd = np.full(len(pid), np.inf)
    kth = np.flatnonzero(rank == k)
    if len(kth) and len(pid):
        o = np.argsort(pid, kind="stable")
        at = o[np.minimum(np.searchsorted(pid, src[kth], sorter=o), len(pid) - 1)]
        hit = pid[at] == src[kth]
        kd[at[hit]] = dist[kth[hit]]

    nid = np.concatenate([pid[alive], iid])
    nx = np.concatenate([px[alive], ix])
    ny = np.concatenate([py[alive], iy])
    # inserted points hold no ball yet: -inf keeps them out of reverse()
    index = _ResidentIndex(
        nid, nx, ny, None, (), knn_dist=np.concatenate([kd[alive], np.full(len(iid), -np.inf)])
    )
    _, gained, _ = index.reverse(ix, iy)
    redo = np.unique(np.concatenate([redo, index.ids[gained]]))
    if len(redo) > max_redo:
        return None
    keep = ~(np.isin(src, dels) | np.isin(src, redo))
    parts = [{"src": src[keep], "dst": dst[keep], "dist": dist[keep], "rank": rank[keep]}]
    if len(redo):
        o = np.argsort(nid, kind="stable")
        at = o[np.searchsorted(nid, redo, sorter=o)]
        cols = index.knn(redo, nx[at], ny[at], None, k)
        if cols is not None:
            parts.append({"src": cols["qid"], "dst": cols["id"], "dist": cols["dist"], "rank": cols["rank"]})
    return (
        pa.table({"id": nid, "x": nx, "y": ny}, schema=POINTS_ARROW),
        pa.table(
            {c: np.concatenate([p[c] for p in parts]) for c in GRAPH_ARROW.names},
            schema=GRAPH_ARROW,
        ),
    )


def apply_batch(
    state: IndexState,
    inserts,
    delete_ids,
    spec: GridSpec | None = None,
    cfg: EngineConfig | None = None,
    n_inserts: int | None = None,
    n_deletes: int | None = None,
    materialize: bool = True,
    extent=None,
) -> IndexState:
    """Fold one micro-batch of ops into the state.

    inserts:    (id, x, y) — ids must be new (never reused; the
                reference reuses arena slots, index.rs:24-36, but ids
                are caller-visible handles either way).
    delete_ids: (id) — must exist in the current point set.
    Either may be a DataFrame, an Arrow table or a list of driver rows
    (``(id, x, y)`` and ``(id,)`` tuples).

    Driver folds: when both frames of ``state`` have a registered driver
    copy (see the module docstring), its ops and the folded state fit
    the resident byte budget, and at most ``_DRIVER_MAX_REDO`` points
    are recomputed, the fold runs on the driver and returns local frames
    with registered copies; the ops cost at most one collect job.
    ``spec``, ``cfg``, ``extent`` and ``materialize`` only steer the
    distributed plan, which every other batch takes.
    n_inserts / n_deletes: optional driver-known batch sizes; passing 0
                lets the dead half of the repair be skipped without a
                count job.
    extent:     optional extent row/dict of state.points (n, xmin,
                xmax, ymin, ymax).  The folded extent is derived
                arithmetically — n adjusts exactly by the op counts
                (ids are unique by contract); bounds widen by the
                insert batch's bbox (one insert-batch-sized agg) and
                never shrink on delete (a superset bbox only pads the
                ring backstop, still exact) — so the repair search
                launches no data-sized extent job.
    materialize=False returns the new graph LAZY — callers that
    immediately persist the state (the checkpointing replay loop) must
    pass False.  NEVER chain many materialize=True batches in memory:
    Catalyst's join-size statistics compound across localCheckpoint
    generations and blow up plan analysis — long op streams must go
    through apply_ops_batches, which parquet-checkpoints every batch.
    """
    k = state.k
    spark = state.points.sparkSession
    pts_copy, graph_copy = registered_table(state.points), registered_table(state.graph)
    # the ops, held as point rows, get what the state leaves of the budget
    limit = 0
    if pts_copy is not None and graph_copy is not None:
        room = _knn._RESIDENT_MAX_BYTES - resident_bytes(pts_copy.num_rows, graph_copy.num_rows)
        limit = room // resident_bytes(1)
    if 0 < limit and (n_inserts or 0) + (n_deletes or 0) <= limit:
        ops = _ops_on_driver(
            None if n_inserts == 0 else inserts,
            None if n_deletes == 0 else delete_ids,
            limit,
        )
        if ops is not None:
            ins, dels = ops
            n_inserts, n_deletes = ins.num_rows, len(dels)
            if n_inserts == 0 and n_deletes == 0:
                return state
            if fits_resident(pts_copy.num_rows + n_inserts, graph_copy.num_rows + k * n_inserts):
                folded = _fold_on_driver(pts_copy, graph_copy, ins, dels, k, _DRIVER_MAX_REDO)
                if folded is not None:
                    return _local_state(spark, *folded, k)
            # already collected: the distributed plan needs no count job
            inserts, delete_ids = ins, pa.table({"id": dels})
    cfg = cfg or EngineConfig(k=k)
    inserts = _as_frame(spark, inserts, POINTS_ARROW).select("id", "x", "y")
    delete_ids = _as_frame(spark, delete_ids, _IDS_ARROW).select("id")
    if n_inserts is None:
        n_inserts = inserts.count()
    if n_deletes is None:
        n_deletes = delete_ids.count()
    if n_inserts == 0 and n_deletes == 0:
        return state

    has_ins = n_inserts > 0
    has_del = n_deletes > 0

    # 1. fold the point set
    new_points = state.points
    if has_del:
        new_points = new_points.join(delete_ids, "id", "left_anti")
    if has_ins:
        new_points = new_points.unionByName(inserts)
    # coalesce before checkpointing: unions CONCATENATE partition lists,
    # so without this the partition count (and task count) grows every
    # batch — superlinear slowdown over a long op stream.
    n_part = max(state.points.sparkSession.sparkContext.defaultParallelism, 2)
    new_points = new_points.coalesce(n_part).localCheckpoint(eager=True)
    if spec is None:
        spec = infer_grid(new_points, cfg)
    spark = new_points.sparkSession

    # 2a. who lost a neighbor?  graph rows pointing at a deleted dst
    # (the reverse-kNN set of the deleted points, rindex.rs:128-132).
    if has_del:
        lost = (
            state.graph.join(
                delete_ids.withColumnRenamed("id", "dst"), "dst", "left_semi"
            )
            .select("src")
            .distinct()
            .join(delete_ids.withColumnRenamed("id", "src"), "src", "left_anti")
        )
        survivors = state.points.join(delete_ids, "id", "left_anti")
    else:
        lost = spark.createDataFrame([], "src long")
        survivors = state.points

    # 2b. who may gain a new neighbor?  survivors whose k-NN ball covers
    # an inserted point — reverse kNN of the new points over the OLD
    # graph (rindex.rs:553's `dist < kth` improvement test, inclusive so
    # the canonical (dist, id) tie-break below stays exact).  One pass
    # yields both the affected srcs AND their candidate edges.
    if has_ins:
        new_q = inserts.select(F.col("id").alias("qid"), "x", "y")
        rk_pairs = (
            reverse_knn(survivors, state.graph, new_q, k, spec)
            .select(F.col("id").alias("src"), F.col("qid").alias("dst"), "dist")
            .coalesce(n_part)
            .localCheckpoint(eager=True)
        )
        gained = rk_pairs.select("src").distinct()
        full_src = lost.unionByName(inserts.select(F.col("id").alias("src"))).distinct()
        merge_src = gained.join(full_src, "src", "left_anti")
    else:
        rk_pairs = spark.createDataFrame([], "src long, dst long, dist double")
        merge_src = spark.createDataFrame([], "src long")
        full_src = lost.distinct()

    # 3. repair
    untouched = state.graph
    if has_del:
        untouched = untouched.join(
            delete_ids.withColumnRenamed("id", "src"), "src", "left_anti"
        )
    untouched = untouched.join(full_src, "src", "left_anti")

    parts = []
    if has_ins:
        # merge-only path: old rows (all still alive) ∪ captured edges
        # to new points, window top-k — exact, no search.
        untouched = untouched.join(merge_src, "src", "left_anti")
        old_rows = state.graph.join(merge_src, "src", "left_semi").select(
            "src", "dst", "dist"
        )
        cand = old_rows.unionByName(rk_pairs.join(merge_src, "src", "left_semi"))
        w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
        merged = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("src", "dst", "dist", F.col("rank").cast("int").alias("rank"))
        )
        parts.append(merged)

    # full-recompute path: exact cell-ring search for new points + losers.
    # The affected-query set is checkpointed ONCE (query-scale): the
    # ring rounds re-reference it, re-deriving it would re-scan the
    # graph-sized lost/semi-join subtree, and the checkpoint makes the
    # count below free — which lets a batch whose repair set is empty
    # (e.g. deletes of isolated points nobody held as a neighbor) skip
    # the whole ring machinery (r3 verdict item 5).
    full_q = (
        new_points.join(full_src, new_points["id"] == full_src["src"], "left_semi")
        .select(F.col("id").alias("qid"), "x", "y")
        .coalesce(n_part)
        .localCheckpoint(eager=True)
    )
    n_affected = full_q.count()
    if extent is not None:
        folded_ext = {
            "n": int(extent["n"]) + n_inserts - n_deletes,
            "xmin": extent["xmin"],
            "xmax": extent["xmax"],
            "ymin": extent["ymin"],
            "ymax": extent["ymax"],
        }
        if has_ins:
            ibox = inserts.agg(
                F.min("x").alias("xmin"), F.max("x").alias("xmax"),
                F.min("y").alias("ymin"), F.max("y").alias("ymax"),
            ).collect()[0]
            folded_ext["xmin"] = min(folded_ext["xmin"], ibox["xmin"])
            folded_ext["xmax"] = max(folded_ext["xmax"], ibox["xmax"])
            folded_ext["ymin"] = min(folded_ext["ymin"], ibox["ymin"])
            folded_ext["ymax"] = max(folded_ext["ymax"], ibox["ymax"])
    else:
        folded_ext = None
    if folded_ext is not None and n_affected:
        # the folded n is pure arithmetic over the op contract; deletes
        # of absent ids (or double-counted re-inserts) can drift it to
        # 0 while points remain, and knn_for_queries short-circuits on
        # n == 0 — a non-empty repair set PROVES the point set is
        # non-empty, so clamp (r4 advisor)
        folded_ext["n"] = max(int(folded_ext["n"]), n_affected, 1)
    if n_affected:
        # full_q ⊆ new_points by construction (lost srcs survive the
        # fold; inserted ids are in it), so the query-extent job is
        # skipped too
        recomputed = knn_for_queries(
            new_points, full_q, k, spec=spec, cfg=cfg,
            extent=folded_ext, queries_within_extent=True,
        ).select(F.col("qid").alias("src"), F.col("id").alias("dst"), "dist", "rank")
        parts.append(recomputed)

    new_graph = untouched.select("src", "dst", "dist", "rank")
    for p in parts:
        new_graph = new_graph.unionByName(p)
    new_graph = new_graph.coalesce(n_part)
    if materialize:
        new_graph = new_graph.localCheckpoint(eager=True)
    return IndexState(points=new_points, graph=new_graph, k=k)


def fold_chunk(chunk) -> tuple[list[tuple], list[tuple[int]]]:
    """Normalize one op chunk: cancel insert-then-delete of the same id,
    collapse re-deletes.  Returns (insert rows, delete id rows)."""
    ins: dict[int, tuple] = {}
    dels: list[tuple[int]] = []
    seen_del: set[int] = set()
    for r in chunk:  # rows are (seq, op, id, x, y)
        _, op, pid, x, y = r[0], r[1], r[2], r[3], r[4]
        if op == "insert":
            ins[pid] = (pid, float(x), float(y))
        elif pid in ins:
            del ins[pid]
        elif pid not in seen_del:
            seen_del.add(pid)
            dels.append((pid,))
    return list(ins.values()), dels


def slice_ops(ops: DataFrame, batch_size: int | None):
    """Assign batch ids ARITHMETICALLY: ``_batch = floor((seq - min)/bs)``.

    No window, no global sort, no single-partition exchange (the r2
    plan-shape risk: ``Window.orderBy("seq")`` with no partitionBy
    funnels the whole op stream through one task).  Pure arithmetic is
    correct for ANY distinct seq values — batch boundaries always
    respect seq order; only batch SIZES become irregular when seqs are
    sparse (dense seqs, the generator contract, give exactly batch_size
    ops per batch).

    Returns (sliced_df_with__batch, n_batches, n_ops); (None, 0, 0) for
    an empty stream."""
    row = ops.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
    ).collect()[0]
    n_ops = row["n"]
    if not n_ops:
        return None, 0, 0
    bs = batch_size or int(row["hi"] - row["lo"] + 1)
    # pure LONG arithmetic via integer DIV (r3 advisor: floor() of a
    # double ratio can misassign boundary rows once seq spans exceed
    # 2^53; seq - lo >= 0 so DIV == floor division)
    sliced = ops.withColumn(
        "_batch",
        F.expr(f"CAST((seq - {int(row['lo'])}) DIV {int(bs)} AS LONG)"),
    )
    n_batches = int((row["hi"] - row["lo"]) // bs) + 1
    return sliced, n_batches, n_ops


def apply_ops_batches(
    spark,
    ops: DataFrame,
    k: int,
    batch_size: int | None = None,
    cfg: EngineConfig | None = None,
    checkpoint_dir: str | None = None,
) -> IndexState:
    """Replay an op stream (seq, op, id, x, y) in micro-batches with
    per-batch parquet checkpoints + manifests (resume-aware).

    op ∈ {'insert', 'delete'}; x/y null for deletes.  batch_size=None
    folds everything in one batch; batch_size=1 reproduces the
    reference's per-op semantics exactly (lib/tests/random.rs replay).

    If checkpoint_dir already holds manifests for a prefix of the same
    op stream (matching lineage fingerprints), those batches are
    SKIPPED and replay resumes after them (north_rule resumability).
    """
    import tempfile
    import time as _time

    from rindex_spark.plans.checkpoint import BatchCheckpointer, ops_fingerprint

    # distributed batch slicing: the stream is NEVER collected whole —
    # batch ids are arithmetic on seq (slice_ops; no window, no global
    # sort) and only ONE batch's rows ever sit on the driver at a time
    # (bounded by batch_size).
    sliced, n_batches, n_ops = slice_ops(ops, batch_size)
    if n_ops == 0:
        return empty_state(spark, k)

    ckpt = BatchCheckpointer(checkpoint_dir or tempfile.mkdtemp(prefix="rindex_ops_"))
    state: IndexState | None = None
    last_committed = -1
    resuming = True
    # the replay filters the stream once per batch: persist it so each
    # filter reads the cached slice instead of re-deriving the stream
    sliced = sliced.persist()
    try:
        for b in range(n_batches):
            rows = (
                sliced.filter(F.col("_batch") == b)
                .orderBy("seq")
                .select("seq", "op", "id", "x", "y")
                .collect()
            )
            ins_rows, del_rows = fold_chunk(rows)
            fp = ops_fingerprint(ins_rows, del_rows)
            if resuming:
                m = ckpt.read_manifest(b)
                if m is not None and m.get("status") == "ok" and m.get("ops_fingerprint") == fp:
                    last_committed = b
                    continue  # committed with identical lineage: skip
                resuming = False
                if last_committed >= 0:
                    pts, g = ckpt.load(spark, last_committed)
                    state = IndexState(points=pts, graph=g, k=k)
                else:
                    state = empty_state(spark, k)
            t0 = _time.monotonic()
            # the rows are on the driver already: a small fold collects nothing
            state = apply_batch(
                state,
                ins_rows,
                del_rows,
                cfg=cfg,
                n_inserts=len(ins_rows),
                n_deletes=len(del_rows),
                materialize=False,
            )
            pts, g = ckpt.write(
                spark,
                b,
                state.points,
                state.graph,
                fp,
                timings={"apply": round(_time.monotonic() - t0, 3)},
                extra={"n_inserts": len(ins_rows), "n_deletes": len(del_rows)},
            )
            state = IndexState(points=pts, graph=g, k=k)
    finally:
        sliced.unpersist()
    if state is None:  # every batch was already committed
        pts, g = ckpt.load(spark, last_committed)
        state = IndexState(points=pts, graph=g, k=k)
    return state
