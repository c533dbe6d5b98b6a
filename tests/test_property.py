"""Property-based oracle tests (hypothesis): the reference defines
correctness as agreement with a brute-force scan after randomized
workloads (lib/tests/random.rs, graph.rs) — hypothesis turns that into
a SEARCHED property over point layouts the fixed-seed tests never try
(duplicate points, collinear runs, extreme aspect ratios, tiny k vs
huge k, coordinate offsets far from the origin).

Kept deliberately small per example (n <= 48) so the suite stays
minutes, not hours; hypothesis shrinks any failure to a minimal
layout."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.operators.knn import build_knn_graph, knn_for_queries
from rindex_spark.operators.range_query import range_join

from tests.conftest import GRAPH_PATHS, brute_knn, graph_path


coord = st.one_of(
    st.integers(-40, 40).map(float),  # exact grid: forces distance ties
    st.floats(-100.0, 100.0, allow_nan=False, width=32),
    st.floats(9_000.0, 9_050.0, allow_nan=False, width=32),  # far offset
)
point_sets = st.lists(st.tuples(coord, coord), min_size=1, max_size=48)


_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(pts=point_sets, k=st.integers(1, 12), cell=st.sampled_from([0.7, 5.0, 60.0]))
@_SETTINGS
def test_knn_graph_matches_bruteforce_property(spark, monkeypatch, pts, k, cell):
    coords = np.array(pts, dtype=np.float64)
    ids = np.arange(len(coords))
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, coords)],
        "id long, x double, y double",
    )
    oracle = brute_knn(coords, ids, k)
    for path in GRAPH_PATHS:
        with graph_path(monkeypatch, path):
            graph = build_knn_graph(
                df, k, spec=GridSpec(cell_size=cell), cfg=EngineConfig(k=max(k, 1))
            ).collect()
        by_src: dict[int, list] = {}
        for r in graph:
            by_src.setdefault(r["src"], []).append((r["dist"], r["dst"], r["rank"]))
        assert set(by_src) == set(oracle), path
        for src, got in by_src.items():
            got.sort(key=lambda t: t[2])
            exp = oracle[src]
            assert len(got) == len(exp)
            # distance multisets must match exactly (reference contract);
            # ids must match at unique-distance positions
            for (gd, gid, _), (ed, eid) in zip(got, exp):
                assert gd == ed or abs(gd - ed) < 1e-9, (path, src, gd, ed)
            dists = [e[0] for e in exp]
            for (gd, gid, _), (ed, eid) in zip(got, exp):
                if dists.count(ed) == 1:
                    assert gid == eid, (path, src, ed)


@given(
    pts=point_sets,
    q=st.tuples(coord, coord),
    radius=st.floats(0.0, 150.0, allow_nan=False),
)
@_SETTINGS
def test_range_query_matches_bruteforce_property(spark, pts, q, radius):
    coords = np.array(pts, dtype=np.float64)
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(coords)],
        "id long, x double, y double",
    )
    qdf = spark.createDataFrame(
        [(0, float(q[0]), float(q[1]), float(radius))],
        "qid long, x double, y double, radius double",
    )
    got = sorted(r["id"] for r in range_join(df, qdf, spec=GridSpec(cell_size=3.0)).collect())
    exp = sorted(
        i for i, c in enumerate(coords) if math.dist(c, q) <= radius  # INCLUSIVE
    )
    assert got == exp


@given(pts=point_sets, k=st.integers(1, 60))
@_SETTINGS
def test_k_exceeding_n_returns_all_property(spark, pts, k):
    """k > n must return every point exactly once per query, never pad
    (the reference pads with infinity dummies and filters them out on
    read, rindex.rs:279-283)."""
    coords = np.array(pts, dtype=np.float64)
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(coords)],
        "id long, x double, y double",
    )
    q = spark.createDataFrame([(7, 0.0, 0.0)], "qid long, x double, y double")
    rows = knn_for_queries(df, q, k, spec=GridSpec(cell_size=4.0)).collect()
    assert len(rows) == min(k, len(coords))
    assert len({r["id"] for r in rows}) == len(rows)
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, len(rows) + 1)
    )


_event_sets = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 2000)),  # (user, seconds)
    min_size=1,
    max_size=40,
)


@given(evs=_event_sets, gap=st.sampled_from([1, 30, 250, 10_000]))
@_SETTINGS
def test_sessionize_matches_python_reference_property(spark, evs, gap):
    """Random event layouts (duplicate timestamps, single-event users,
    gap exactly equal to the threshold) vs a direct python scan of the
    definition: new session iff first event or gap strictly greater."""
    import datetime as dt

    from rindex_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, int(u), t0 + dt.timedelta(seconds=int(s)))
        for i, (u, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, gap_sec=float(gap)).collect()
    }
    exp = {}
    by_user: dict[int, list] = {}
    for eid, u, ts in rows:
        by_user.setdefault(u, []).append((ts, eid))
    for u, lst in by_user.items():
        lst.sort()
        seq, prev = 0, None
        for ts, eid in lst:
            if prev is None or (ts - prev).total_seconds() > gap:
                seq += 1
            prev = ts
            exp[eid] = seq
    assert got == exp


@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)),
                   min_size=1, max_size=20),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)),
                    min_size=0, max_size=20),
    strict=st.booleans(),
)
@_SETTINGS
def test_asof_join_matches_python_reference_property(spark, lefts, rights, strict):
    """Random two-stream layouts (equal timestamps across and within
    streams, empty right side, keys with no right rows) vs a direct
    python scan: the matched right row is the (ts, id)-max among rows
    at-or-before (or strictly before) each left row."""
    import datetime as dt

    from rindex_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1)
    lrows = [
        (i, int(u), t0 + dt.timedelta(seconds=int(s)))
        for i, (u, s) in enumerate(lefts)
    ]
    rrows = [
        (1000 + i, int(u), t0 + dt.timedelta(seconds=int(s)), float(i))
        for i, (u, s) in enumerate(rights)
    ]
    l_df = spark.createDataFrame(lrows, "event_id long, user_id long, ts timestamp")
    r_df = spark.createDataFrame(
        rrows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: r["r_event_id"]
        for r in asof_join(
            l_df, r_df, ["user_id"], "ts",
            right_cols=["event_id", "value"], right_id_col="event_id",
            strict=strict,
        ).collect()
    }
    for eid, u, ts in lrows:
        cand = [
            (rts, rid)
            for rid, ru, rts, _ in rrows
            if ru == u and (rts < ts if strict else rts <= ts)
        ]
        exp = max(cand)[1] if cand else None
        assert got[eid] == exp, (eid, got[eid], exp)


@given(
    pts=st.lists(st.tuples(st.integers(-60, 60), st.integers(-60, 60)),
                 min_size=1, max_size=40),
    levels=st.integers(1, 5),
)
@_SETTINGS
def test_tile_pyramid_rollup_property(spark, pts, levels):
    """Every level's tile counts must equal the floor-division rollup
    of the raw points, and per-level totals are invariant."""
    from rindex_spark.operators.tiling import tile_pyramid

    df = spark.createDataFrame(
        [(float(x) + 0.5, float(y) + 0.5) for x, y in pts], "x double, y double"
    )
    spec = GridSpec(cell_size=1.0, x0=0.0, y0=0.0)
    got = {
        (r["level"], r["tx"], r["ty"]): r["n_points"]
        for r in tile_pyramid(df, spec, levels=levels).collect()
    }
    exp: dict = {}
    for x, y in pts:
        for lvl in range(levels):
            key = (lvl, x >> lvl, y >> lvl)
            exp[key] = exp.get(key, 0) + 1
    assert got == exp
