"""Small insert/delete folds on the driver copy of a committed state.

* parity — the driver fold and the distributed fold (forced by setting
  the byte budget to 0) give bit-identical points and graph rows, batch
  after batch: ties from duplicate coordinates, insert-only and
  delete-only batches, deletes nobody held as a neighbour, deleting
  everything then reinserting, and k >= n;
* gate — a batch of any size folds on the driver while the budget holds
  it, and one that would recompute more than ``_DRIVER_MAX_REDO`` points
  takes the distributed fold, with the same rows;
* jobs — a 20-op fold plus its commit on a committed 2,000-point state
  runs at most one Spark job, and a small kNN batch on the committed
  state runs none before the caller's collect;
* the copy registry holds a table only as long as its frame lives.
"""

from __future__ import annotations

import gc
import os
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rindex_spark.operators import knn as knn_mod
from rindex_spark.plans import batches as batches_mod
from rindex_spark.operators.knn import knn_for_queries, register_copy, registered_table
from rindex_spark.plans.batches import IndexState, apply_batch, empty_state
from rindex_spark.plans.checkpoint import BatchCheckpointer

from tests.conftest import count_jobs


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _replay(spark, batches, k, budget=None):
    """Fold ``batches`` ([(insert rows, delete ids)]) from the empty state;
    returns per batch (point rows, graph rows, whether the output came
    from the driver fold)."""
    out = []
    with pytest.MonkeyPatch.context() as m:
        if budget is not None:
            m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", budget)
        state = empty_state(spark, k)
        for ins, dels in batches:
            state = apply_batch(
                state,
                spark.createDataFrame(ins, "id long, x double, y double"),
                spark.createDataFrame([(d,) for d in dels], "id long"),
            )
            out.append(
                (
                    _sorted_rows(state.points),
                    _sorted_rows(state.graph),
                    registered_table(state.graph) is not None,
                )
            )
    return out


def _assert_parity(spark, batches, k):
    driver = _replay(spark, batches, k)
    dist = _replay(spark, batches, k, budget=0)
    for b, ((dp, dg, d_reg), (sp, sg, s_reg)) in enumerate(zip(driver, dist)):
        assert d_reg and not s_reg, f"batch {b}: wrong paths taken"
        assert dp == sp, f"batch {b}: points differ"
        assert dg == sg, f"batch {b}: graph rows differ"


def test_driver_fold_matches_spark_fold(spark):
    """One seeded stream, one case per batch.  Integer coordinates on a
    6x6 lattice give many exact distance ties, and the inserts' ids are
    below the lattice's, so an insert tied with a k-th neighbour wins the
    tie-break; no lattice point holds one of the four far points, so
    deleting them leaves nothing to recompute."""
    rng = np.random.default_rng(7)
    lattice = [(1000 + i, float(x), float(y)) for i, (x, y) in enumerate(rng.integers(0, 6, (40, 2)))]
    far = [(100 + j, 1000.0 * (j + 1), -1000.0 * (j + 1)) for j in range(4)]
    more = [(200 + j, float(x), float(y)) for j, (x, y) in enumerate(rng.integers(0, 6, (8, 2)))]
    lattice_ids = [r[0] for r in lattice]
    gone = [int(i) for i in rng.choice(lattice_ids, 6, replace=False)]
    rest = sorted(set(lattice_ids) - set(gone)) + [r[0] for r in more]
    batches = [
        (lattice + far, []),  # insert-only into the empty state
        (more, gone),  # mixed: losers and gainers, tied distances
        ([], [r[0] for r in far]),  # deletes nobody held as a neighbour
        ([], rest),  # delete everything
        ([(300, 1.0, 1.0), (301, 1.0, 1.0), (302, 2.0, 1.0)], []),  # reinsert
    ]
    _assert_parity(spark, batches, k=4)


def test_driver_fold_k_at_least_n(spark):
    """Below k rows every point gains every insert: the insert-only batch
    recomputes the old points through gainers alone."""
    batches = [
        ([(i, float(i % 3), float(i // 3)) for i in range(5)], []),
        ([(10, 0.5, 0.5), (11, 0.0, 0.0)], []),
        ([(12, 4.0, 4.0)], [2, 10]),
        ([], [0, 1]),
    ]
    _assert_parity(spark, batches, k=8)


def test_driver_fold_gate_is_budget_and_recompute_bound(spark, monkeypatch):
    """600 inserts (more than a small kNN batch) fold on the driver.
    Under a bound of 599 recomputed points the same batch is refused
    before the gainer scan; under a bound of 1 a single insert is
    refused after it, since the insert's gainers pass the bound.  Both
    fall back to the distributed fold, which gives the same rows."""
    rng = np.random.default_rng(5)
    ins = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.random((600, 2)))]
    one = [(1000, 0.5, 0.5)]

    def fold(state, rows):
        new = apply_batch(
            state, spark.createDataFrame(rows, "id long, x double, y double"), [],
            n_inserts=len(rows), n_deletes=0,
        )
        return new, registered_table(new.graph) is not None

    state, on_driver = fold(empty_state(spark, 5), ins)
    assert on_driver
    want, on_driver = fold(state, one)
    assert on_driver
    monkeypatch.setattr(batches_mod, "_DRIVER_MAX_REDO", 599)
    bounded, on_driver = fold(empty_state(spark, 5), ins)
    assert not on_driver
    assert _sorted_rows(bounded.graph) == _sorted_rows(state.graph)
    monkeypatch.setattr(batches_mod, "_DRIVER_MAX_REDO", 1)
    got, on_driver = fold(state, one)
    assert not on_driver
    assert _sorted_rows(got.graph) == _sorted_rows(want.graph)
    assert _sorted_rows(got.points) == _sorted_rows(want.points)


def _brute_graph(ids, xy, k):
    dx = xy[:, 0][:, None] - xy[:, 0][None, :]
    dy = xy[:, 1][:, None] - xy[:, 1][None, :]
    d = np.sqrt(dx * dx + dy * dy)
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :k]
    n = len(ids)
    return (
        np.repeat(ids, k),
        ids[order].ravel(),
        np.take_along_axis(d, order, axis=1).ravel(),
        np.tile(np.arange(1, k + 1, dtype=np.int32), n),
    )


def test_small_fold_and_commit_run_at_most_one_job(spark, tmp_path):
    """The 20-op fold of the serve benchmark, with its ops in frames made
    by createDataFrame of row lists (collected in one job), and its
    commit; then a 10-query kNN batch that reads the committed copy."""
    k, n = 10, 2000
    rng = np.random.default_rng(3)
    ids = np.arange(n, dtype=np.int64)
    xy = rng.random((n, 2))
    for name, table in (
        ("points", pa.table({"id": ids, "x": xy[:, 0], "y": xy[:, 1]})),
        ("graph", pa.table(dict(zip(("src", "dst", "dist", "rank"), _brute_graph(ids, xy, k))))),
    ):
        os.makedirs(tmp_path / "index" / name)
        pq.write_table(table, str(tmp_path / "index" / name / "part-0.parquet"))
    ckpt = BatchCheckpointer(str(tmp_path / "ckpt"))
    p, g = ckpt.write(
        spark, 0,
        spark.read.parquet(str(tmp_path / "index" / "points")),
        spark.read.parquet(str(tmp_path / "index" / "graph")),
        "f0",
    )
    assert registered_table(p) is not None and registered_table(g) is not None
    state = IndexState(points=p, graph=g, k=k)

    ins = [(n + j, float(a), float(b)) for j, (a, b) in enumerate(rng.random((10, 2)))]
    dels = [int(d) for d in rng.choice(n, 10, replace=False)]

    def fold():
        new = apply_batch(
            state,
            spark.createDataFrame(ins, "id long, x double, y double"),
            spark.createDataFrame([(d,) for d in dels], "id long"),
            n_inserts=len(ins),
            n_deletes=len(dels),
            materialize=False,
        )
        return ckpt.write(spark, 1, new.points, new.graph, "f1")

    (p, g), jobs = count_jobs(spark, fold)
    assert len(jobs) <= 1, jobs

    live = np.setdiff1d(ids, dels)
    lids = np.concatenate([live, [r[0] for r in ins]])
    lxy = np.vstack([xy[live], [(r[1], r[2]) for r in ins]])
    want = sorted(zip(*(a.tolist() for a in _brute_graph(lids, lxy, k))))
    got = pq.read_table(ckpt.path(1) + "/graph")
    assert sorted(zip(*(got.column(c).to_pylist() for c in ("src", "dst", "dist", "rank")))) == want

    qxy = rng.random((10, 2))
    q = spark.createDataFrame(pd.DataFrame({"qid": np.arange(10), "x": qxy[:, 0], "y": qxy[:, 1]}))
    ext = {"n": len(lids), "xmin": 0.0, "xmax": 1.0, "ymin": 0.0, "ymax": 1.0}
    out, jobs = count_jobs(spark, lambda: knn_for_queries(p, q, k, extent=ext))
    assert not jobs, jobs
    rows = out.collect()
    assert len(rows) == 10 * k


def test_registered_copy_goes_with_its_frame(spark):
    table = pa.table({"id": pa.array([1], pa.int64())})
    frame = register_copy(spark.createDataFrame([(1,)], "id long"), table)
    ref = weakref.ref(frame)
    assert registered_table(frame) is table
    n = len(knn_mod._registered)
    del frame
    gc.collect()
    assert ref() is None
    assert len(knn_mod._registered) == n - 1
