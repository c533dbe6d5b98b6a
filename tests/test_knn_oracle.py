"""Randomized + scenario oracle tests, mirroring the reference's own
definition of correctness:

* lib/tests/graph.rs:7-73 — every live point's kNN distances must match
  a brute-force oracle (tolerance 1e-5 there; we assert 1e-9 and exact
  id sets off tie boundaries).
* lib/src/rindex.rs:993-1030 — the vertical-line knn_dist scenario.
* lib/src/rindex.rs:1032-1069 — range result == kNN result with
  k = |range result| on the 0..100 diagonal.
* lib/src/rindex.rs:1071-1089 — RkNN distances on the diagonal.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.grid import infer_grid
from rindex_spark.operators import knn as knn_mod
from rindex_spark.operators.knn import build_knn_graph, knn_for_queries
from rindex_spark.operators.range_query import range_join
from rindex_spark.operators.rknn import reverse_knn
from rindex_spark.operators.stats import knn_dist

from tests.conftest import GRAPH_PATHS, brute_knn, count_jobs, graph_path


def make_points(spark, coords, ids=None):
    ids = ids if ids is not None else range(len(coords))
    rows = [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, coords)]
    return spark.createDataFrame(rows, "id long, x double, y double")


def check_graph_vs_oracle(graph_rows, oracle, tol=1e-9):
    by_src: dict[int, list] = {}
    for r in graph_rows:
        by_src.setdefault(r["src"], []).append((r["dist"], r["dst"], r["rank"]))
    assert set(by_src) == set(oracle)
    for src, got in by_src.items():
        got.sort(key=lambda t: t[2])
        exp = oracle[src]
        assert len(got) == len(exp), f"src {src}: {len(got)} != {len(exp)}"
        # distance multisets must match exactly (reference compares
        # distances, graph.rs:60-67); ids compared off tie boundaries
        for (gd, gid, _), (ed, eid) in zip(got, exp):
            assert gd == pytest.approx(ed, abs=tol), f"src {src}"
        for (gd, gid, _), (ed, eid) in zip(got, exp):
            # unique-distance positions must agree on id too
            dists = [e[0] for e in exp]
            if dists.count(ed) == 1:
                assert gid == eid, f"src {src} dist {ed}"


@pytest.mark.parametrize("dist_kind", ["uniform", "clustered"])
def test_knn_graph_vs_bruteforce(spark, monkeypatch, dist_kind):
    rng = np.random.default_rng(0)
    if dist_kind == "uniform":
        # matches the reference's randomized workload domain
        # (lib/tests/random.rs:24-25): uniform in [-100, 100)^2
        coords = rng.uniform(-100.0, 100.0, size=(300, 2))
    else:
        # 3 Gaussian clusters sized like demo/data/sparse.csv (108/176/190)
        cs = [
            rng.normal((60.0, 60.0), 8.0, size=(108, 2)),
            rng.normal((-50.0, 10.0), 12.0, size=(176, 2)),
            rng.normal((20.0, -70.0), 5.0, size=(190, 2)),
        ]
        coords = np.concatenate(cs)
    k = 10
    pts = make_points(spark, coords).cache()
    oracle = brute_knn(coords, np.arange(len(coords)), k)
    for path in GRAPH_PATHS:
        with graph_path(monkeypatch, path):
            check_graph_vs_oracle(build_knn_graph(pts, k).collect(), oracle)


def test_knn_graph_with_duplicate_points(spark, monkeypatch):
    # duplicate coordinates: distance ties at 0.0; identity is positional
    # in the reference (index.rs slot ids) — ours is the id column.
    coords = [(1.0, 1.0), (1.0, 1.0), (1.0, 1.0), (5.0, 5.0)]
    pts = make_points(spark, coords)
    for path in GRAPH_PATHS:
        with graph_path(monkeypatch, path):
            graph = build_knn_graph(pts, 2, spec=GridSpec(cell_size=1.0))
            rows = graph.filter("src = 1").orderBy("rank").collect()
        # rank 1 must be dist 0.0 (self or co-located twin — tie broken by id)
        assert rows[0]["dist"] == 0.0 and rows[1]["dist"] == 0.0, path
        assert {r["dst"] for r in rows} <= {0, 1, 2}, path


def test_vertical_line_knn_dist(spark, monkeypatch):
    for path in GRAPH_PATHS:
        with graph_path(monkeypatch, path):
            _check_vertical_line_knn_dist(spark)


def _check_vertical_line_knn_dist(spark):
    # rindex.rs:993-1030, k=5 (includes self)
    k = 5
    pts5 = make_points(spark, [(0.0, 1.0), (0.0, 2.0), (0.0, 3.0), (0.0, 4.0), (0.0, 5.0)])
    g = build_knn_graph(pts5, k, spec=GridSpec(cell_size=1.0))
    kd = {r["id"]: r["knn_dist"] for r in knn_dist(g, k).collect()}
    assert kd == {0: 4.0, 1: 3.0, 2: 2.0, 3: 3.0, 4: 4.0}

    pts6 = make_points(
        spark, [(0.0, 1.0), (0.0, 2.0), (0.0, 3.0), (0.0, 4.0), (0.0, 5.0), (0.0, 6.0)]
    )
    g6 = build_knn_graph(pts6, k, spec=GridSpec(cell_size=1.0))
    kd6 = {r["id"]: r["knn_dist"] for r in knn_dist(g6, k).collect()}
    assert kd6 == {0: 4.0, 1: 3.0, 2: 2.0, 3: 2.0, 4: 3.0, 5: 4.0}

    # delete a ([0,1]) — remaining distances (rindex.rs:1025-1029)
    g5 = build_knn_graph(pts6.filter("id != 0"), k, spec=GridSpec(cell_size=1.0))
    kd5 = {r["id"]: r["knn_dist"] for r in knn_dist(g5, k).collect()}
    assert kd5 == {1: 4.0, 2: 3.0, 3: 2.0, 4: 3.0, 5: 4.0}


def test_diagonal_range_knn_consistency(spark):
    # rindex.rs:1032-1069: range((50,50), 5) == kNN with k = |range|
    coords = [(float(i), float(i)) for i in range(100)]
    pts = make_points(spark, coords).cache()
    q = spark.createDataFrame(
        [(0, 50.0, 50.0, 5.0)], "qid long, x double, y double, radius double"
    )
    spec = infer_grid(pts, EngineConfig())
    rng_ids = sorted(r["id"] for r in range_join(pts, q, spec=spec).collect())
    expected = [i for i in range(100) if math.dist((i, i), (50, 50)) <= 5.0]
    assert rng_ids == expected

    qk = spark.createDataFrame([(0, 50.0, 50.0)], "qid long, x double, y double")
    knn_ids = sorted(
        r["id"] for r in knn_for_queries(pts, qk, len(rng_ids), spec=spec).collect()
    )
    assert knn_ids == expected


def test_diagonal_reverse_query(spark):
    # rindex.rs:1071-1089: RkNN((50,50)) distances = [0, √2, √2, √8, √8]
    k = 5
    coords = [(float(i), float(i)) for i in range(100)]
    pts = make_points(spark, coords).cache()
    spec = infer_grid(pts, EngineConfig())
    graph = build_knn_graph(pts, k, spec=spec)
    q = spark.createDataFrame([(0, 50.0, 50.0)], "qid long, x double, y double")
    rows = reverse_knn(pts, graph, q, k, spec=spec).collect()
    dists = [r["dist"] for r in rows]
    assert len(dists) == 5
    assert dists[0] == 0.0
    assert dists[1] == pytest.approx(math.sqrt(2), abs=1e-12)
    assert dists[2] == pytest.approx(math.sqrt(2), abs=1e-12)
    assert dists[3] == pytest.approx(math.sqrt(8), abs=1e-12)
    assert dists[4] == pytest.approx(math.sqrt(8), abs=1e-12)


def test_rknn_vs_bruteforce(spark):
    rng = np.random.default_rng(7)
    coords = rng.uniform(-100.0, 100.0, size=(200, 2))
    k = 10
    pts = make_points(spark, coords).cache()
    spec = infer_grid(pts, EngineConfig())
    graph = build_knn_graph(pts, k, spec=spec)
    qpts = rng.uniform(-100.0, 100.0, size=(5, 2))
    q = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(qpts)],
        "qid long, x double, y double",
    )
    got = reverse_knn(pts, graph, q, k, spec=spec).collect()
    by_q: dict[int, set] = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["id"])
    oracle = brute_knn(coords, np.arange(len(coords)), k)
    for qi, qp in enumerate(qpts):
        exp = set()
        for pid, nbrs in oracle.items():
            kth = nbrs[-1][0] if len(nbrs) == k else float("inf")
            if math.dist(coords[pid], qp) <= kth:
                exp.add(pid)
        assert by_q.get(qi, set()) == exp


def test_rknn_plan_is_equijoin_not_bnlj(spark):
    """With a finite global max_knn_dist, the cell prune must be a
    covering-block EQUI-join — at 100x scale the stats table is n/32
    rows and a queries x cells broadcast nested loop is quadratic (r2
    verdict item 6).  The BNLJ survives only as the blanket-the-grid
    fallback (gmax = inf / extent-scale bounds)."""
    rng = np.random.default_rng(13)
    coords = rng.uniform(-100.0, 100.0, size=(400, 2))
    k = 8
    pts = make_points(spark, coords).cache()
    # fine explicit grid so the covering block beats scanning all cells
    # ((2rb+1)^2 <= n_cells); coarse grids legitimately take the fallback
    spec = GridSpec(cell_size=4.0, x0=-100.0, y0=-100.0)
    graph = build_knn_graph(pts, k, spec=spec).cache()
    q = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(coords[::7] + 0.3)],
        "qid long, x double, y double",
    )
    res = reverse_knn(pts, graph, q, k, spec=spec)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # and the equi-join result must equal the brute-force answer
    got: dict[int, set] = {}
    for r in res.collect():
        got.setdefault(r["qid"], set()).add(r["id"])
    oracle = brute_knn(coords, np.arange(len(coords)), k)
    qpts = coords[::7] + 0.3
    for qi, qp in enumerate(qpts):
        exp = set()
        for pid, nbrs in oracle.items():
            kth = nbrs[-1][0] if len(nbrs) == k else float("inf")
            if math.dist(coords[pid], qp) <= kth:
                exp.add(pid)
        assert got.get(qi, set()) == exp, f"query {qi}"


def test_range_join_extent_scale_radius(spark):
    """A radius comparable to the extent on a FINE grid must not
    explode (2*ceil(r/cs)+1)^2 covering cells per query (r2 verdict
    item 7): extent-scale queries take the broadcast-scan path and the
    result stays exact."""
    rng = np.random.default_rng(17)
    coords = rng.uniform(-100.0, 100.0, size=(300, 2))
    pts = make_points(spark, coords).cache()
    # fine grid: 0.05 cells over a 200-wide extent = 4000 cells/axis;
    # the old unconditioned explode would generate ~(2*20000+1)^2 cell
    # rows per big query — this call would not return
    spec = GridSpec(cell_size=0.05, x0=-100.0, y0=-100.0)
    q = spark.createDataFrame(
        [(0, 0.0, 0.0, 1000.0), (1, 50.0, -50.0, 3.0)],
        "qid long, x double, y double, radius double",
    )
    rows = range_join(pts, q, spec=spec).collect()
    big = sorted(r["id"] for r in rows if r["qid"] == 0)
    assert big == list(range(300))  # covers everything, exactly once
    small = {r["id"] for r in rows if r["qid"] == 1}
    exp_small = {
        i for i, c in enumerate(coords) if math.dist(c, (50.0, -50.0)) <= 3.0
    }
    assert small == exp_small


def test_range_join_extent_param_zero_jobs_same_result(spark):
    """r3 verdict item 2: with spec= AND extent= supplied, range_join
    must launch ZERO fixed driver jobs at plan-construction time (the
    span guard becomes arithmetic), and the result must be identical to
    the legacy aggregate path."""
    from rindex_spark.grid import grid_and_extent

    rng = np.random.default_rng(23)
    coords = rng.uniform(-50.0, 50.0, size=(200, 2))
    pts = make_points(spark, coords).cache()
    pts.count()
    cfg = EngineConfig()
    spec, extent = grid_and_extent(pts, cfg)
    q = spark.createDataFrame(
        [(0, 0.0, 0.0, 10.0), (1, 20.0, -20.0, 500.0)],
        "qid long, x double, y double, radius double",
    )
    res, jobs = count_jobs(spark, lambda: range_join(pts, q, spec=spec, extent=extent))
    assert not jobs, "extent= path must not launch driver jobs"
    got = sorted((r["qid"], r["id"]) for r in res.collect())
    legacy = sorted(
        (r["qid"], r["id"]) for r in range_join(pts, q, spec=spec).collect()
    )
    assert got == legacy and len(got) > 0


def test_knn_round_states_released_across_calls(spark, monkeypatch):
    """r3 verdict item 7: repeated build_knn_graph calls must not
    accumulate persisted round states — each call frees its
    predecessor's, and release_round_states() returns the persisted-RDD
    count to baseline.  Round states belong to the ring path, which a
    driver byte budget of 0 forces."""
    from rindex_spark.operators import knn as knn_mod

    monkeypatch.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)

    rng = np.random.default_rng(29)
    coords = rng.uniform(-50.0, 50.0, size=(300, 2))
    pts = make_points(spark, coords).cache()
    pts.count()
    # flush any round states left over from earlier tests in this
    # session so the baseline is clean.  NOTE: the JVM-side persistent
    # -RDD count can only be asserted non-increasing, not equal —
    # Spark's ContextCleaner asynchronously unpersists earlier tests'
    # garbage-collected caches, so unrelated entries may vanish at any
    # moment during this test (observed as an order-dependent flake).
    knn_mod.release_round_states(blocking=True)
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    counts = []
    states = []
    for _ in range(3):
        g = build_knn_graph(pts, 5)
        assert g.count() == 300 * 5
        counts.append(spark.sparkContext._jsc.getPersistentRDDs().size())
        states.append(len(knn_mod._round_states))
    # the registry holds exactly ONE call's round states at any time
    # (each call releases its predecessor's on entry) ...
    assert states[0] > 0
    assert states[1] == states[0] and states[2] == states[1]
    # ... so the JVM cache population never grows across calls
    assert counts[1] <= counts[0] and counts[2] <= counts[1]
    knn_mod.release_round_states(blocking=True)
    assert len(knn_mod._round_states) == 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= baseline


def test_knn_queries_far_outside_extent(spark):
    # a query far from the data must still be exact (ring backstop)
    coords = [(float(i % 10), float(i // 10)) for i in range(100)]
    pts = make_points(spark, coords)
    q = spark.createDataFrame([(0, 500.0, 500.0)], "qid long, x double, y double")
    rows = knn_for_queries(pts, q, 3, spec=GridSpec(cell_size=1.0)).orderBy("rank").collect()
    # nearest to (500,500) is (9,9) = id 99, then (8,9)=98 / (9,8)=89
    assert rows[0]["id"] == 99
    assert {rows[1]["id"], rows[2]["id"]} == {89, 98}


def test_single_bucket_cogroup_exact(spark, monkeypatch):
    """Adversarial grouping: force EVERY supercell subgroup into one
    cogroup bucket.  The kernel's sorted single-key subgroup slicing
    (and the packed-gk superset-merge argument) must keep results exact
    under maximal collision."""
    monkeypatch.setattr(knn_mod, "_MIN_BUCKETS", 1)
    monkeypatch.setattr(knn_mod, "_BUCKETS_PER_CORE", 0)
    rng = np.random.default_rng(29)
    coords = np.concatenate(
        [
            rng.normal((40.0, 40.0), 4.0, size=(120, 2)),
            rng.uniform(-100.0, 100.0, size=(180, 2)),
        ]
    )
    k = 7
    pts = make_points(spark, coords).cache()
    graph = build_knn_graph(pts, k)
    oracle = brute_knn(coords, np.arange(len(coords)), k)
    check_graph_vs_oracle(graph.collect(), oracle)


def test_asymmetric_extent_grid(spark):
    """Regression: cell y-indices must use the Y origin.  With x0 != y0
    (asymmetric bbox) a shared-origin grid silently breaks every
    y-direction pruning bound (infinite ring loops or wrong results)."""
    rng = np.random.default_rng(21)
    coords = np.column_stack(
        [rng.uniform(-96.0, 90.0, 250), rng.uniform(-40.0, 95.0, 250)]
    )
    pts = make_points(spark, coords).cache()
    k = 8
    graph = build_knn_graph(pts, k)  # inferred grid: x0=-96-ish, y0=-40-ish
    oracle = brute_knn(coords, np.arange(len(coords)), k)
    check_graph_vs_oracle(graph.collect(), oracle)


def test_knn_concurrent_driver_threads_isolated_states(spark, monkeypatch):
    """r4 verdict item 7: two driver threads running interleaved
    build_knn_graph calls must not release each other's live round
    states — the registry is thread-local, so each thread's slot holds
    only its own call's frames, storage stays flat per thread, and
    both results remain exact.  Round states belong to the ring path,
    which a driver byte budget of 0 forces."""
    import threading

    from rindex_spark.operators import knn as knn_mod

    monkeypatch.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)

    rng = np.random.default_rng(31)
    coords = rng.uniform(-50.0, 50.0, size=(400, 2))
    pts = make_points(spark, coords).cache()
    pts.count()
    oracle = {
        k: brute_knn(coords, np.arange(len(coords)), k) for k in (3, 5)
    }

    results: dict[int, list] = {}
    slot_sizes: dict[int, list] = {3: [], 5: []}
    errs: list = []
    barrier = threading.Barrier(2)

    def run(k: int):
        try:
            for _ in range(2):  # interleaved calls per thread
                barrier.wait(timeout=300)
                g = build_knn_graph(pts, k).collect()
                slot_sizes[k].append(len(knn_mod._round_states))
                results[k] = g
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    ts = [threading.Thread(target=run, args=(k,)) for k in (3, 5)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(600)
    assert not errs, errs
    for k in (3, 5):
        check_graph_vs_oracle(results[k], oracle[k])
        # per-thread slot: exactly one call's round states at any time
        assert slot_sizes[k][0] > 0
        assert slot_sizes[k][1] == slot_sizes[k][0]
    knn_mod.release_round_states(blocking=True)


def test_rknn_stats_handle_no_driver_jobs_and_identical(spark):
    """r5: with a precomputed rknn_stats handle, reverse_knn
    construction launches ZERO driver jobs and the result matches the
    per-call path exactly (the range_join extent= amortization
    pattern)."""
    from rindex_spark.operators.rknn import rknn_stats

    rng = np.random.default_rng(37)
    coords = rng.uniform(-50.0, 50.0, size=(300, 2))
    pts = make_points(spark, coords).cache()
    pts.count()
    k = 4
    spec = infer_grid(pts, EngineConfig(k=k))
    g = build_knn_graph(pts, k, spec=spec).cache()
    g.count()
    q = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 20.0, -20.0), (2, 80.0, 80.0)],
        "qid long, x double, y double",
    )
    st = rknn_stats(pts, g, k, spec)
    res, jobs = count_jobs(spark, lambda: reverse_knn(pts, g, q, k, spec, stats=st))
    assert not jobs, "stats= path must not launch driver jobs"
    got = sorted((r["qid"], r["id"]) for r in res.collect())
    legacy = sorted(
        (r["qid"], r["id"]) for r in reverse_knn(pts, g, q, k, spec).collect()
    )
    assert got == legacy and len(got) > 0
    st["stats"].unpersist()
