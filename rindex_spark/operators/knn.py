"""Exact k-nearest-neighbor search and kNN-graph construction.

Reference semantics reproduced here (SURVEY.md §2):

* ``query_neighbors(q, k)`` (rindex.rs:197-214, :764-807): exact kNN by
  best-first branch-and-bound — descend subtrees while their
  ``min_distance`` beats the current k-th candidate distance.
* the per-point kNN graph maintained on insert (rindex.rs:478-482,
  :500-560): every point's k nearest INCLUDING ITSELF at distance 0.0.

Distributed re-expression: iterative **cell-ring expansion** with the
kNN math in vectorized Arrow UDFs (the north_star architecture):

round r:
  1. queries group by SUPERCELL (4x4 grid cells by default — grouping
     at cell granularity pays per-group pandas overhead and ships each
     point ~9x through Arrow; supercell halos amortize both, and the
     side length balances kernel flops vs candidate replication, see
     _SUPER below).
     Distinct (supercell, ring-window) keys explode to the supercell
     block DILATED by the ring radius (pure sequence/explode) and
     equi-join the points.
  2. queries and candidates COGROUP on the supercell key; a pandas UDF
     computes, per group, the numpy distance matrix (chunked on both
     axes, in-place temporaries), selects each query's top-k via
     argpartition with tie-exact boundary widening, and merges it into
     the query's carried best list (packed binary, not Arrow lists —
     object-per-element serialization dominates otherwise).  The halo
     may re-scan cells a query already saw; the merge dedupes exact
     (dist, id) duplicates, so over-inclusion never corrupts the top-k.
  3. a query finishes when its k-th distance is STRICTLY below the
     minimum possible distance of any cell outside its visited ring
     (grid.ring_lower_bound — the exact invariant of rindex.rs:800-802;
     the halo only ever visits MORE than the ring, so the bound stays
     conservative) or the ring covers the whole data extent.
  4. unfinished queries jump their ring radius to the certifying radius
     (floor(kth/cs)+1), clamped geometrically; the frontier shrinks
     monotonically.

Scale notes (100 TB posture):
* per round: one equi-join keyed on supercell ints + one cogroup
  shuffle — both AQE-managed; nothing driver-side grows with data (the
  loop keeps only frontier row counts).
* dense (urban/hot) cells cost numpy flops, not shuffled rows.
* determinism: candidates ordered by (dist, id); ties at the k-th
  distance break by id (the reference's order is arbitrary on ties —
  its tests compare sets/multisets only, lib/tests/graph.rs:60-67).
* distance = sqrt((qx-x)^2 + (qy-y)^2) in float64, the same IEEE op
  order as the reference (distance.rs:1-7) and the SQL oracles.
"""

from __future__ import annotations

import os
import threading
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.grid import all_finite, ring_lower_bound, with_cells

# Supercell side in grid cells (S = _SUPER): 4x4, measured in r6
# against the earlier 8x8.  The kernel computes the FULL query x
# candidate matrix per dilated supercell block, so flops/query scale
# with block area (S + 2*khi)^2
# while shuffle replication scales with ((S + 2*khi)/S)^2: S=4 trades
# ~2x candidate-row replication (cheap bytes) for ~2.8x fewer kernel
# flops.  Interleaved best-of-N at 1M points: uniform-lattice events
# 5.96s -> 4.03s (the kernel is ~100% of the round stage there);
# clustered corpus statistically tied (8.05 vs 8.13 best-of-5).  S=16
# measured 3x WORSE than S=8 (18s) — the flop blowup dominates long
# before per-group overhead matters.
_SUPER_SHIFT = 2
_SUPER = 1 << _SUPER_SHIFT

# Safety rail on the density-derived INITIAL ring radius (in cells).
# MEASURED (r3, 2M clustered docs, e2e pipeline): capping khi0 small
# (3) to cut the sparse-fringe candidate replication LOSES on wall
# clock at every core count (1c: 266s vs 245s, 4c: 83s vs 72s, 8c
# graph-only: 48s vs 42s) — the replicated candidates cost numpy flops
# that parallelize fine, while the extra certify round costs a full
# shuffle+Arrow cascade for the whole sparse fringe.  So the cap is a
# backstop for pathological density estimates only (the k=10 formula
# maxes at ~20); the ANNULUS trim below is what keeps multi-round
# stragglers cheap: each later round ships only never-seen cells, so
# total shipped volume is bounded by the final window size instead of
# (rounds x window).
_KHI0_CAP = 64
# khi0 = ceil(sqrt(_KHI0_FACTOR * k / occupancy)) cells.  Swept in r6
# (1M clustered e2e corpus, interleaved best-of-3, kernel already
# vectorized): factor 2.0 ships 3.48x of n at 12.8s; 1.5 ships 3.07x at
# 11.9s; 1.0 ships 2.67x at 11.9s with a doubled (but gate-trivial)
# brute tail; 3.0 ships 4.30x at 12.2s.  All converge in ONE round on
# both corpus shapes; 1.5 has the wall of 1.0 with more sparse-corpus
# margin.
_KHI0_FACTOR = 1.5

# Cogroup buckets per call: max(_MIN_BUCKETS, defaultParallelism *
# _BUCKETS_PER_CORE).  The cogroup keys on a HASH BUCKET of the
# supercell key, not the key itself: millions of points mean tens of
# thousands of supercell groups, and Spark's per-group pandas machinery
# was ~95% of round CPU.  Buckets keep each task's Arrow/pandas overhead
# O(1); the UDF slices subgroups out with one sort + searchsorted.  16
# per core (r6: was 4): with shuffle partitions at core count, 4
# buckets per task is LUMPY — the round stage ran 2x-skewed (task
# runtime 68s / 32 tasks but 4.5s wall at 1M events); 16 buckets per
# task smooths the hash placement (interleaved A/B best-of-4: 6.25s ->
# 5.36s) while each bucket still holds thousands of queries, so the
# per-bucket slicing overhead stays noise.
_MIN_BUCKETS = 64
_BUCKETS_PER_CORE = 16

_OUT_SCHEMA = "qid long, id long, dist double, rank int"
_GRAPH_SCHEMA = "src long, dst long, dist double, rank int"

# ``shipped``: the candidate rows of the row's cogroup call on its first
# row, 0 on the others — summed by the round's one aggregate, so the
# stats cost no job.  Dropped before the next frontier.
_STATE_SCHEMA = (
    "qid long, qx double, qy double, qix long, qiy long, "
    "r_lo long, r_hi long, salt long, cnt long, kth double, "
    "best_dist binary, best_id binary, shipped long"
)


def _state_schema(n_extra: int) -> str:
    """_STATE_SCHEMA extended with qe0..qe{n-1} double columns for the
    query's extra (>2-D) coordinates."""
    if n_extra == 0:
        return _STATE_SCHEMA
    extras = ", ".join(f"qe{i} double" for i in range(n_extra))
    return _STATE_SCHEMA + ", " + extras

# a single cogroup task must not exceed this many queries — hot
# supercells (urban density / point masses) get salted into sub-groups
# (the north_star's "salted repartitioning on hot cells"; candidates
# are replicated per salt, queries are split)
_MAX_GROUP_QUERIES = 32768

class _ThreadLocalFrameList(threading.local):
    """A per-THREAD list of persisted frames (r4 verdict item 7): the
    release-on-next-call pattern with a plain module list meant two
    concurrent driver threads released each other's LIVE round states
    (correctness survived via deterministic recompute; cost did not).
    threading.local gives each driver thread its own slot, so a call
    only ever releases its own thread's predecessor."""

    def __init__(self):
        self.frames: list = []

    def append(self, frame) -> None:
        self.frames.append(frame)

    def __len__(self) -> int:
        return len(self.frames)

    def release(self, blocking: bool = False) -> None:
        """Unpersist and forget every frame of the calling thread."""
        while self.frames:
            try:
                self.frames.pop().unpersist(blocking=blocking)
            except Exception:
                pass


# Persisted per-round state frames of the CURRENT THREAD's most recent
# knn_for_queries call (r3 verdict item 7: they were MEMORY_ONLY-cached
# and never unpersisted, so repeated build_knn_graph calls in a long
# session accumulated blocks until eviction).  Each call releases its
# thread's predecessor states on entry, bounding the session footprint
# at one call's round count PER DRIVER THREAD; callers that have fully
# consumed their output can reclaim immediately via
# release_round_states().  An unpersisted state that a still-lazy
# result frame later needs simply recomputes its deterministic lineage
# (the documented MEMORY_ONLY eviction semantics — correctness is
# unaffected).
_round_states = _ThreadLocalFrameList()


def release_round_states(blocking: bool = False) -> None:
    """Unpersist all round-state frames of the current thread's most
    recent knn_for_queries call.  Safe to call any time after the
    caller has consumed (collected / written) the returned DataFrame."""
    _round_states.release(blocking)


# Diagnostics of the most recent knn_for_queries call of any thread:
# rounds run, candidate rows shipped into the cogroup (the replication
# factor the annulus trim + khi0 policy control), and the brute-tail
# size.  The round UDF counts its candidates into the persisted state
# and the round's one aggregate sums them, so the stats cost no job.
# Every call writes the dict, including calls that run no ring round
# (k <= 0, empty points, the resident path: all zeros), so it never
# holds a predecessor's figures.
last_run_stats: dict = {}


def _record_stats(rounds: int, shipped_rows: int, n_points: int, brute_tail: int) -> None:
    last_run_stats.clear()
    last_run_stats.update(
        {
            "rounds": rounds,
            "shipped_rows": int(shipped_rows),
            "n_points": int(n_points),
            "replication": round(shipped_rows / max(int(n_points), 1), 3),
            "brute_tail_queries": int(brute_tail),
        }
    )


def _make_round_udf(k: int, chunk: int = 256, cand_chunk: int = 4096, n_extra: int = 0):
    """Cogrouped kNN round over a HASH BUCKET of supercell groups:
    merge each query's carried top-k (packed binary) with the
    candidates of its dilated block.  Subgroups inside the bucket are
    matched with one sort + searchsorted — see fn's docstring.

    n_extra > 0 (D > 2 points, reference const-generic [f64; D],
    lib/src/rindex.rs:34): extra coordinates ride as qe{i}/e{i} double
    columns; distances are exact full-D f64 (the f32 selection lane is
    2-D-only), still in the canonical left-to-right IEEE op order
    sqrt(((dx^2+dy^2)+dz^2)+...) that the SQL oracles use."""

    empty = pd.DataFrame(
        columns=[
            "qid", "qx", "qy", "qix", "qiy", "r_lo", "r_hi", "salt",
            "cnt", "kth", "best_dist", "best_id", "shipped",
            *[f"qe{i}" for i in range(n_extra)],
        ]
    )

    def fn(queries: pd.DataFrame, cand: pd.DataFrame) -> pd.DataFrame:
        """One HASH BUCKET of supercell groups (not one supercell): the
        cogroup key is pmod(gk, B) with gk = xxhash64(supercell key),
        so each call carries MANY (sx, sy, r_lo, r_hi, salt) subgroups.
        Subgroups are matched by sorting both sides on gk and slicing —
        the per-group pandas/Arrow overhead that dominated
        per-supercell cogrouping (~95% of round CPU at 2M points, the
        kernel itself being seconds) is paid once per BUCKET instead.

        gk is a single PACKED key (candidates carry ONE long instead of
        the five (ksx, ksy, klo, khi, ksalt) longs — 40 of the 64 bytes
        of every shuffled candidate row).  A gk collision merely merges
        two subgroups: every query still meets all of its OWN group's
        candidates (superset), the extras are real points scored with
        exact distances, and the (dist, id) merge dedupes — correctness
        is unaffected, so no collision handling is needed.

        The call's candidate count rides on its first output row
        (``shipped``).  It is exact: every candidate's gk is the key of a
        frontier query, so a bucket holding candidates holds queries."""
        nq = len(queries)
        if nq == 0:
            return empty

        # --- bucket-level extraction + subgroup sort (once per bucket)
        qkv = queries["gk"].to_numpy(dtype=np.int64)
        qord = np.argsort(qkv, kind="stable")
        qkv = qkv[qord]
        qkey = np.stack(
            [queries[c].to_numpy(dtype=np.int64) for c in ("r_lo", "r_hi", "salt")],
            axis=1,
        )[qord]
        qid_a = queries["qid"].to_numpy()[qord]
        qx = queries["qx"].to_numpy(dtype=np.float64)[qord]
        qy = queries["qy"].to_numpy(dtype=np.float64)[qord]
        qix_a = queries["qix"].to_numpy()[qord]
        qiy_a = queries["qiy"].to_numpy()[qord]
        if n_extra:
            QE = np.column_stack(
                [queries[f"qe{i}"].to_numpy(dtype=np.float64) for i in range(n_extra)]
            )[qord]
        bd_in = queries["best_dist"].to_numpy()[qord]
        bi_in = queries["best_id"].to_numpy()[qord]
        prev_d = [
            np.frombuffer(b, dtype=np.float64) if b else np.empty(0) for b in bd_in
        ]
        prev_i = [
            np.frombuffer(b, dtype=np.int64) if b else np.empty(0, dtype=np.int64)
            for b in bi_in
        ]

        nc = len(cand)
        if nc:
            ckv = cand["gk"].to_numpy(dtype=np.int64)
            cord = np.argsort(ckv, kind="stable")
            ckv = ckv[cord]
            cx = cand["x"].to_numpy(dtype=np.float64)[cord]
            cy = cand["y"].to_numpy(dtype=np.float64)[cord]
            cid = cand["id"].to_numpy(dtype=np.int64)[cord]
            if n_extra:
                CE = np.column_stack(
                    [cand[f"e{i}"].to_numpy(dtype=np.float64) for i in range(n_extra)]
                )[cord]

        out_cnt = np.empty(nq, dtype=np.int64)
        out_kth = np.empty(nq, dtype=np.float64)
        out_shipped = np.zeros(nq, dtype=np.int64)
        out_shipped[0] = nc
        out_d: list[bytes] = [b""] * nq
        out_i: list[bytes] = [b""] * nq

        def merge_into(r, dd, ii):
            """Merge chunk top-k into query r's running best; the halo
            may re-scan visited cells, so DEDUPE exact (dist,id)
            duplicates (equal keys sort adjacent)."""
            o = np.lexsort((ii, dd))[:k]
            dd, ii = dd[o], ii[o]
            if len(prev_d[r]):
                md = np.concatenate([prev_d[r], dd])
                mi = np.concatenate([prev_i[r], ii])
                mo = np.lexsort((mi, md))
                md, mi = md[mo], mi[mo]
                keep = np.ones(len(mi), dtype=bool)
                keep[1:] = (mi[1:] != mi[:-1]) | (md[1:] != md[:-1])
                prev_d[r], prev_i[r] = md[keep][:k], mi[keep][:k]
            else:
                prev_d[r], prev_i[r] = dd, ii

        def run_subgroup_2d(qs, qe_, lo, hi):
            # float32 SELECTION lane: halves the memory traffic of the
            # distance matrices.  Coordinates are centered on the
            # SUBGROUP first — raw f32 casts suffer catastrophic
            # cancellation for nearby points at large coordinates;
            # centered values are cell-scale.  Selection uses SQUARED
            # distance; exactness is restored by a rigorously widened
            # pool + exact f64 refine.
            #
            # r6 kernel shape (output-identical, measured 2.1x on a
            # lattice subgroup / kernel CPU 87.6s -> ~35s per 1M-point
            # build): value-only np.partition finds the k-th f32
            # distance (the old per-row argpartition index machinery
            # was ~75% of chunk CPU), the widened pool is ONE flat
            # boolean mask + np.nonzero gather for the whole chunk, and
            # (dist, id) ranking is ONE chunk-level lexsort keyed
            # (row, dist, id) + a segmented first-k take — no per-row
            # Python on ANY path.  Integer-lattice corpora make the
            # k-th distance carry dozens of exact ties (the sf1.0
            # events lattice widens EVERY row), so the old "rare" slow
            # path was the common case there.
            gx0 = cx[lo:hi].mean()
            gy0 = cy[lo:hi].mean()
            cx32 = (cx[lo:hi] - gx0).astype(np.float32)
            cy32 = (cy[lo:hi] - gy0).astype(np.float32)
            qx32 = (qx[qs:qe_] - gx0).astype(np.float32)
            qy32 = (qy[qs:qe_] - gy0).astype(np.float32)
            span2 = float(
                max(
                    cx32.max() - cx32.min(),
                    cy32.max() - cy32.min(),
                    float(np.abs(qx32).max()),
                    float(np.abs(qy32).max()),
                    1e-30,
                )
            )
            # rigorous f32 squared-distance error bound (ADVICE r1):
            # with |coords| <= S := span2, each centered f32 coordinate
            # carries error <= 2*S*2^-24, so |d32 - d_true| <=
            # 3*sqrt(d)*e1 + 2*e1^2 + 3*d*2^-24 with e1 = 4*S*2^-24.
            _e1 = 4.0 * span2 * 2.0**-24
            ncl = hi - lo
            for s in range(0, qe_ - qs, chunk):
                e = min(s + chunk, qe_ - qs)
                m = e - s
                pool_r: list = []
                pool_d: list = []
                pool_i: list = []
                for cs_ in range(0, ncl, cand_chunk):
                    ce = min(cs_ + cand_chunk, ncl)
                    ids_c = cid[lo + cs_ : lo + ce]
                    d32 = qx32[s:e, None] - cx32[None, cs_:ce]
                    np.multiply(d32, d32, out=d32)
                    dy32 = qy32[s:e, None] - cy32[None, cs_:ce]
                    np.multiply(dy32, dy32, out=dy32)
                    d32 += dy32
                    del dy32
                    kk = min(k, ce - cs_)
                    # k-th smallest f32 squared distance per row, then
                    # widen by 4x the derived error bound: a true top-k
                    # member's f32 value exceeds it by at most
                    # 2*err(kth_true^2), kth_true^2 <= kth + err
                    kth = np.partition(d32, kk - 1, axis=1)[:, kk - 1].astype(
                        np.float64
                    )
                    err = (
                        3.0 * np.sqrt(np.maximum(kth, 0.0)) * _e1
                        + 2.0 * _e1 * _e1
                        + 3.0 * kth * 2.0**-24
                    )
                    thr = kth + 4.0 * err + 1e-300
                    # pool = every candidate within the widened bound.
                    # The f64 compare d32 <= thr is done in f32 against
                    # the round-DOWN of thr (exact: a f32 value exceeds
                    # f64 t iff it exceeds the largest f32 <= t),
                    # avoiding a full-matrix f64 upcast temp.
                    thr32 = thr.astype(np.float32)
                    over = thr32.astype(np.float64) > thr
                    if over.any():
                        thr32[over] = np.nextafter(
                            thr32[over], np.float32(-np.inf)
                        )
                    rows, cols = np.nonzero(d32 <= thr32[:, None])
                    # exact f64 refine on the pool only — ORIGINAL
                    # coordinates, canonical IEEE op order (matches the
                    # reference and the SQL oracles)
                    ddx = qx[qs + s + rows] - cx[lo + cs_ + cols]
                    ddy = qy[qs + s + rows] - cy[lo + cs_ + cols]
                    pool_r.append(rows)
                    pool_d.append(np.sqrt(ddx * ddx + ddy * ddy))
                    pool_i.append(ids_c[cols])
                if len(pool_r) == 1:
                    rows, dd, ii = pool_r[0], pool_d[0], pool_i[0]
                else:
                    rows = np.concatenate(pool_r)
                    dd = np.concatenate(pool_d)
                    ii = np.concatenate(pool_i)
                # one lexsort for the whole chunk: group rows, order
                # (dist, id) asc within each — then keep each row's
                # first k (cand chunks partition the candidate range,
                # so no within-call duplicates to dedupe)
                order = np.lexsort((ii, dd, rows))
                r_s = rows[order]
                dd_s = dd[order]
                ii_s = ii[order]
                counts = np.bincount(r_s, minlength=m)
                starts = np.zeros(m + 1, dtype=np.int64)
                np.cumsum(counts, out=starts[1:])
                keep = (np.arange(len(r_s), dtype=np.int64) - starts[r_s]) < k
                dd_k = dd_s[keep]
                ii_k = ii_s[keep]
                kstarts = np.zeros(m + 1, dtype=np.int64)
                np.cumsum(np.minimum(counts, k), out=kstarts[1:])
                for r in range(m):
                    a, b = int(kstarts[r]), int(kstarts[r + 1])
                    gq = qs + s + r
                    if len(prev_d[gq]):
                        merge_into(gq, dd_k[a:b], ii_k[a:b])
                    else:
                        prev_d[gq] = dd_k[a:b]
                        prev_i[gq] = ii_k[a:b]

        def run_subgroup_nd(qs, qe_, lo, hi):
            # D > 2: exact full-D f64 squared distances (no f32 lane);
            # accumulation order ((dx^2+dy^2)+dz^2)+... is the canonical
            # IEEE order of the oracles, so sqrt(d2) IS the exact dist.
            ncl = hi - lo
            for s in range(0, qe_ - qs, chunk):
                e = min(s + chunk, qe_ - qs)
                for cs_ in range(0, ncl, cand_chunk):
                    ce = min(cs_ + cand_chunk, ncl)
                    ids_c = cid[lo + cs_ : lo + ce]
                    d2 = qx[qs + s : qs + e, None] - cx[None, lo + cs_ : lo + ce]
                    np.multiply(d2, d2, out=d2)
                    dy = qy[qs + s : qs + e, None] - cy[None, lo + cs_ : lo + ce]
                    np.multiply(dy, dy, out=dy)
                    d2 += dy
                    del dy
                    for j in range(n_extra):
                        dj = (
                            QE[qs + s : qs + e, j][:, None]
                            - CE[lo + cs_ : lo + ce, j][None, :]
                        )
                        np.multiply(dj, dj, out=dj)
                        d2 += dj
                        del dj
                    kk = min(k, ce - cs_)
                    part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                    pool_d2 = np.take_along_axis(d2, part, axis=1)
                    pmax = pool_d2.max(axis=1)
                    # ties live in DIST (sqrt) space: two d2 values a
                    # few ulp apart can round to the SAME sqrt, so the
                    # pool includes d2 in [pmax, pmax + 4 ulp]
                    thr = pmax + 4.0 * np.spacing(np.abs(pmax))
                    n_le = (d2 <= thr[:, None]).sum(axis=1)
                    # vectorized fast path (see run_subgroup_2d)
                    fresh = np.array(
                        [len(prev_d[qs + s + r]) == 0 for r in range(e - s)]
                    )
                    fast = fresh & (n_le <= kk)
                    if fast.any():
                        fidx = np.nonzero(fast)[0]
                        dd = np.sqrt(pool_d2[fidx])
                        ii = ids_c[part[fidx]]
                        o1 = np.argsort(ii, axis=1, kind="stable")
                        dd = np.take_along_axis(dd, o1, axis=1)
                        ii = np.take_along_axis(ii, o1, axis=1)
                        o2 = np.argsort(dd, axis=1, kind="stable")
                        dd = np.take_along_axis(dd, o2, axis=1)[:, :k]
                        ii = np.take_along_axis(ii, o2, axis=1)[:, :k]
                        for m, r in enumerate(fidx):
                            prev_d[qs + s + r] = dd[m]
                            prev_i[qs + s + r] = ii[m]
                    for r in np.nonzero(~fast)[0]:
                        if n_le[r] > kk:
                            idxs = np.nonzero(d2[r] <= thr[r])[0]
                        else:
                            idxs = part[r]
                        merge_into(
                            qs + s + r, np.sqrt(d2[r][idxs]), ids_c[idxs]
                        )

        # subgroup boundaries in the sorted queries; candidates matched
        # by binary search on the shared composite key
        bounds = np.concatenate(
            [[0], np.nonzero(qkv[1:] != qkv[:-1])[0] + 1, [nq]]
        )
        for g in range(len(bounds) - 1):
            qs, qe_ = int(bounds[g]), int(bounds[g + 1])
            if nc:
                key = qkv[qs]
                lo = int(np.searchsorted(ckv, key, side="left"))
                hi = int(np.searchsorted(ckv, key, side="right"))
            else:
                lo = hi = 0
            if hi > lo:
                if n_extra:
                    run_subgroup_nd(qs, qe_, lo, hi)
                else:
                    run_subgroup_2d(qs, qe_, lo, hi)

        for r in range(nq):
            out_d[r] = prev_d[r].tobytes()
            out_i[r] = prev_i[r].tobytes()
            out_cnt[r] = len(prev_d[r])
            out_kth[r] = prev_d[r][-1] if len(prev_d[r]) else np.inf

        out = {
            "qid": qid_a,
            "qx": qx,
            "qy": qy,
            "qix": qix_a,
            "qiy": qiy_a,
            "r_lo": qkey[:, 0],
            "r_hi": qkey[:, 1],
            "salt": qkey[:, 2],
            "cnt": out_cnt,
            "kth": out_kth,
            "best_dist": out_d,
            "best_id": out_i,
            "shipped": out_shipped,
        }
        for i in range(n_extra):
            out[f"qe{i}"] = QE[:, i]
        return pd.DataFrame(out)

    return fn


def _carried_bounds(frontier_rows, k: int) -> np.ndarray:
    """Per-query upper bound on the true k-th distance from the carried
    ring state (inf = no bound).

    Rows without ``cnt``/``kth`` fields (external callers) are
    unbounded; a row whose ``cnt`` or ``kth`` is null is unbounded on
    its own (None -> NaN under the float cast, and NaN compares false).
    Values of the wrong type raise instead of silently disabling the
    box prune."""
    kth_ub = np.full(len(frontier_rows), np.inf)
    if not frontier_rows:
        return kth_ub
    fields = frontier_rows[0].__fields__
    if "cnt" not in fields or "kth" not in fields:
        return kth_ub
    cnt_a = np.array([r["cnt"] for r in frontier_rows], dtype=np.float64)
    kth_a = np.array([r["kth"] for r in frontier_rows], dtype=np.float64)
    has = (cnt_a >= k) & ~np.isnan(kth_a)
    kth_ub[has] = kth_a[has]
    return kth_ub


def _knn_scan(qx, qy, qe, kth_ub, px, py, pid, pe, k, best_d, best_i, chunk=128):
    """Merge the exact top-k of the points (px, py[, pe], pid) into each
    query's running best lists ``best_d[r]`` / ``best_i[r]`` (in place).

    The one exact kNN kernel of the scan paths: the Spark brute tail
    calls it once per Arrow batch of a partition, the resident serving
    path once per query group with the points of its candidate cells.

    qe / pe: (n, D-2) extra coordinate columns or None.  kth_ub: a per
    -query UPPER bound on its true k-th distance (inf = none).  Queries
    are processed in chunks of ``chunk`` in the order given, so callers
    sort them spatially to keep each chunk's box tight.

    Carried-bound box prune: any point with |px-qx| > kth_ub or
    |py-qy| > kth_ub can never enter the query's top-k (a point at
    dist == kth_ub CAN displace a same-dist larger id and is kept —
    bounds are inclusive, dilated a relative 1e-9 to dominate any f64
    rounding chain).  Points are sorted by x once, and each query chunk
    is resolved against only the points inside the chunk's bound
    -dilated bounding box (searchsorted x-slice + y mask) — measured 60 s
    of scan CPU -> ~2 s for the 1342-straggler clustered 1M build,
    output identical (pruned points are provably outside every chunk
    member's top-k; unbounded queries keep the full scan).

    Distances are sqrt(dx*dx + dy*dy [+ de*de ...]) accumulated left to
    right in f64 — the IEEE op order of the ring kernel, the reference
    and the SQL oracles, so every path returns bit-identical dists."""
    n_extra = 0 if qe is None else qe.shape[1]
    # sort by x for the box prune's searchsorted slice.  The point order
    # never affects output: the pool predicate d <= pmax is position
    # -independent, the tie-widened path takes ALL boundary ties, and
    # the final (dist, id) lexsort canonicalizes order.
    order = np.argsort(px, kind="stable")
    px, py, pid = px[order], py[order], pid[order]
    if n_extra:
        pe = pe[order]
    for s in range(0, len(qx), chunk):
        e = min(s + chunk, len(qx))
        M = float(kth_ub[s:e].max())
        if np.isfinite(M):
            # inclusive box, dilated to dominate rounding
            Me = M * (1.0 + 1e-9) + 1e-300
            lo = int(np.searchsorted(px, qx[s:e].min() - Me, "left"))
            hi = int(np.searchsorted(px, qx[s:e].max() + Me, "right"))
            ym = (py[lo:hi] >= qy[s:e].min() - Me) & (
                py[lo:hi] <= qy[s:e].max() + Me
            )
            sel = np.nonzero(ym)[0] + lo
            if not len(sel):
                continue
            cx_, cy_, ci_ = px[sel], py[sel], pid[sel]
            ce_ = pe[sel] if n_extra else None
        else:
            cx_, cy_, ci_, ce_ = px, py, pid, pe
        if not len(cx_):
            continue
        d = qx[s:e, None] - cx_[None, :]
        np.multiply(d, d, out=d)
        dy = qy[s:e, None] - cy_[None, :]
        np.multiply(dy, dy, out=dy)
        d += dy
        del dy
        for j in range(n_extra):
            dj = qe[s:e, j][:, None] - ce_[:, j][None, :]
            np.multiply(dj, dj, out=dj)
            d += dj
            del dj
        np.sqrt(d, out=d)
        kk = min(k, d.shape[1])
        # argpartition (O(n)) + exact tie-widening instead of a full-row
        # argsort — the row sort was ~80% of the brute tail's wall time.
        # Distances here are exact f64, so "<= pool max" captures every
        # k-th-boundary tie exactly.
        part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
        pmax = np.take_along_axis(d, part, axis=1).max(axis=1)
        wide = (d <= pmax[:, None]).sum(axis=1) > kk
        for r in range(e - s):
            idxs = np.nonzero(d[r] <= pmax[r])[0] if wide[r] else part[r]
            dd = d[r][idxs]
            ii = ci_[idxs]
            o = np.lexsort((ii, dd))[:kk]
            dd, ii = dd[o], ii[o]
            if len(best_d[s + r]):
                md = np.concatenate([best_d[s + r], dd])
                mi = np.concatenate([best_i[s + r], ii])
                mo = np.lexsort((mi, md))[:k]
                best_d[s + r], best_i[s + r] = md[mo], mi[mo]
            else:
                best_d[s + r], best_i[s + r] = dd, ii


def _best_columns(qid, best_d, best_i) -> dict | None:
    """Running best lists -> (qid, id, dist, rank) column arrays, or
    None when no query has a neighbour."""
    lens = np.fromiter((len(b) for b in best_d), dtype=np.int64, count=len(best_d))
    total = int(lens.sum())
    if not total:
        return None
    starts = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    return {
        "qid": np.repeat(np.asarray(qid, dtype=np.int64), lens),
        "id": np.concatenate(best_i).astype(np.int64, copy=False),
        "dist": np.concatenate(best_d),
        "rank": (
            np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], lens) + 1
        ).astype(np.int32),
    }


def _small_frontier_knn(
    points: DataFrame, frontier_rows, k: int, extra_cols: tuple = ()
) -> DataFrame:
    """Exact kNN for a SMALL query set by broadcast + one map pass over
    the points (no candidate generation at all).  Straggler queries
    after the bulk round typically sit in sparse regions whose certify
    radius sweeps dense areas — ring candidates explode there, while a
    full scan is a few hundred numpy flops per point.

    frontier_rows: collected rows with qid/qx/qy (driver-scale by
    contract: callers gate on a flop budget), plus optionally cnt/kth —
    the straggler's carried state from the ring rounds.  A straggler
    with cnt >= k already holds k true candidates whose k-th distance
    ``kth`` is an UPPER bound on its true k-th distance (merging more
    points only lowers it), which turns on ``_knn_scan``'s box prune.
    Returns (qid, id, dist, rank)."""
    qid = np.array([r["qid"] for r in frontier_rows], dtype=np.int64)
    qx = np.array([r["qx"] for r in frontier_rows], dtype=np.float64)
    qy = np.array([r["qy"] for r in frontier_rows], dtype=np.float64)
    n_extra = len(extra_cols)
    qe = (
        np.column_stack(
            [np.array([r[f"qe{i}"] for r in frontier_rows], dtype=np.float64) for i in range(n_extra)]
        )
        if n_extra
        else None
    )
    kth_ub = _carried_bounds(frontier_rows, k)
    # spatial chunking: bounded queries sorted by (x, y) so chunk boxes
    # stay tight; unbounded (inf) queries go LAST in their own chunks
    # so one of them never widens a bounded chunk to a full scan
    qord = np.lexsort((qy, qx, ~np.isfinite(kth_ub)))
    qid, qx, qy, kth_ub = qid[qord], qx[qord], qy[qord], kth_ub[qord]
    if n_extra:
        qe = qe[qord]

    def scan(batches):
        # per-partition running top-k per query
        best_d = [np.empty(0)] * len(qid)
        best_i = [np.empty(0, dtype=np.int64)] * len(qid)
        for b in batches:
            _knn_scan(
                qx, qy, qe, kth_ub,
                b["x"].to_numpy(dtype=np.float64),
                b["y"].to_numpy(dtype=np.float64),
                b["id"].to_numpy(dtype=np.int64),
                np.column_stack([b[c].to_numpy(dtype=np.float64) for c in extra_cols])
                if n_extra
                else None,
                k, best_d, best_i,
            )
        cols = _best_columns(qid, best_d, best_i)
        if cols is not None:
            yield pd.DataFrame(cols)

    from rindex_spark.plans.scan import spread_scan

    partials = spread_scan(points.select("id", "x", "y", *extra_cols)).mapInPandas(
        scan, schema="qid long, id long, dist double, rank int"
    )
    # partition-local top-k lists -> global top-k (tiny volume:
    # n_queries * k * n_partitions rows)
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    return (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "id", "dist", F.col("rk").cast("int").alias("rank"))
    )


def _unpack_best(batches):
    """mapInPandas: packed binary best lists -> (qid, id, dist, rank).

    r6: vectorized — the packed per-query byte strings concatenate into
    ONE buffer per Arrow batch (b"".join + np.frombuffer), qid/rank come
    from np.repeat/arange segment arithmetic.  The old per-query Python
    loop cost ~3 µs x n_queries per build (~3 s CPU at 1M points)."""
    for b in batches:
        bd = b["best_dist"]
        bi = b["best_id"]
        lens = np.fromiter(
            (0 if x is None else len(x) >> 3 for x in bd),
            dtype=np.int64,
            count=len(bd),
        )
        total = int(lens.sum())
        if total == 0:
            continue
        d = np.frombuffer(b"".join(x for x in bd if x), dtype=np.float64)
        i = np.frombuffer(b"".join(x for x in bi if x), dtype=np.int64)
        qids = np.repeat(b["qid"].to_numpy(dtype=np.int64), lens)
        starts = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        rank = (
            np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], lens) + 1
        ).astype(np.int32)
        yield pd.DataFrame({"qid": qids, "id": i, "dist": d, "rank": rank})


# --------------------------------------------------------------------------
# Resident serving path: query batches and small self graphs answered on
# the driver from a cell-sorted copy of the points, with no ring round and
# no Spark job over the points once the copy is held (GeoBlocks, EDBT 2021: answer
# queries from a compact cell-ordered structure; Cache-Efficient Top-k
# Aggregation, VLDB 2023: one candidate gather and top-k merge per cell
# group instead of per query).

# A point set whose (id, x, y, *extra_cols) values fit this many bytes
# (8 per value: 48 MiB ~ 2.1M 2-D points; a committed state's or a built
# self graph's rows count too, see resident_bytes) is small enough to hold
# on the driver.
# Known from the extent's n, so the gate costs no job.
_RESIDENT_MAX_BYTES = 48 << 20
# Most kNN queries one call answers on the driver, whether a query batch
# (knn_for_queries) or the points a driver fold recomputes (plans.
# batches); larger sets take the distributed plans, which use every
# core.  Measured with the batched kernel on 4 vCPU at local[2], k = 10,
# 100k uniform points, driver against distributed:
#   apply_batch + BatchCheckpointer.write, ops (points recomputed):
#     1,000 (9.4k) 1.9 s / 13.7 s; 3,000 (25.7k) 2.6 / 11.6;
#     5,000 (39.1k) 3.5 / 25.0; 7,000 (50.6k) 3.5 / 15.6;
#     10,000 (65.0k) 4.3 / 13.5; 20,000 (94.2k) 3.9 / 14.0;
#     40,000 (120.4k) 5.3 / 16.7;
#   knn_for_queries + toArrow, queries: 10k 1.2 / 13.9;
#     50k 4.5 / 8.5; 100k 8.1 / 10.9; 200k 8.3 / 15.9.
# The driver won at every size, so no crossover was found at this scale;
# the bound is the largest size measured.  A fold's recompute set cannot
# outgrow its state, which the byte budget caps near 165k points at
# k = 10, so for folds the budget is the binding limit.
_DRIVER_MAX_REDO = 200_000
# Most points whose self graph build_knn_graph builds on the driver (the
# byte budget, counting the n * k graph rows, binds first above k = 35).
# Measured: build_knn_graph(...).write.parquet of a persisted frame of
# clustered Cities points, k = 10, 4 vCPU, median of 3 alternating runs,
# driver / ring path (ring forced by a byte budget of 0):
#   local[2]: 20k 1.47 / 4.20 s; 50k 4.03 / 5.22; 100k 7.34 / 7.72;
#             165k 12.42 / 15.56;
#   local[4]: 20k 1.45 / 3.91; 50k 3.66 / 4.74; 75k 5.87 / 5.58;
#             100k 7.47 / 6.55 (7.35 / 6.99 in another set);
#             165k 17.84 / 18.30.
# At 100k the driver's kernel (one core) takes ~4.4 s and the write of its
# 1M rows ~2.7 s; the ring rounds use every core, so at local[4] they
# catch up by 75k.  The gate sits below that size.
_GRAPH_MAX_POINTS = 50_000
# The ring loop always hands a straggler set of at most this many
# queries to the brute tail, whatever its flop gate says.
_SMALL_BATCH = 512
# mean points per resident CSR cell: cells only seed each query's
# k-th-distance bound and gather its candidates, so they stay small
_RESIDENT_PER_CELL = 8
# The batched kernels group queries by an aligned square of cells: the
# largest, up to 2^_GROUP_LEVELS cells a side, that holds at most
# _GROUP_POINTS points.  A group shares one candidate gather and one
# _knn_scan call, and its candidate set stays near its neighbourhood:
# dense cells form groups of their own, sparse regions pool many cells.
# Swept over 64-1024 points and 3-5 levels (2,000 and 16 queries on 5k
# clustered points, 10k on 100k uniform, 5k on 200k clustered): 256 and
# 4 were best or within noise of it everywhere; the worst settings cost
# up to 1.7x.
_GROUP_POINTS = 256
_GROUP_LEVELS = 4
# distance-matrix elements per block of a batched pass (32 MiB of f64)
_BLOCK = 1 << 22


def _clip_cell(f: float, n: int) -> int:
    """floor(f) clipped to [0, n - 1]: ``_ResidentIndex._ix`` for one
    value (NaN and -inf give 0, +inf gives n - 1)."""
    if not f > 0.0:
        return 0
    if f >= n - 1:
        return n - 1
    return int(f)


class _ResidentIndex:
    """Driver copy of a point set: id / x / y / extra columns sorted by
    cell (ix-major, so one cell column's cells are contiguous; x-sorted
    within a cell, so a gathered candidate set is a few x-sorted runs
    that the kernel's stable sort merges cheaply), CSR offsets per cell,
    and a summed-area table of cell counts.

    Every query method is batched: the queries are grouped by an aligned
    square of cells (``_groups``), and each group shares one candidate
    gather and one distance pass.  Within a group every query keeps its
    own bound or radius, so the cells only select candidates and the
    answers are exact and independent of the grouping.

    ``knn`` answers a kNN batch with ``_knn_scan``, the brute tail's
    kernel, so rows are bit-identical to the ring path.  Per group:

    1. expand Chebyshev rings around the group's cells until the block
       holds >= k points (counted in O(1) from the summed-area table);
       each query's k-th distance among those points bounds its own;
    2. in 2-D, tighten the bounds to the smallest distance from the
       group's query box to the farthest corner of a set of cells
       covering k points: every point of those cells lies within it, so
       it holds where step 1's square block overshoots by ~sqrt(2) next
       to a dense cluster;
    3. the candidates are the points of the cells whose nearest edge is
       within the largest bound of the group's query box, and each
       query's bound turns on the kernel's box prune.

    ``within`` answers radius queries and ``reverse`` reverse-kNN queries
    with the distance of ``euclidean_nd`` and inclusive ``<=`` tests.

    ``knn_dist`` (optional): each point's current k-th neighbour
    distance (inf below k neighbours, -inf for a point that holds no
    ball); it turns on ``reverse``, pruned by the per-cell maximum."""

    def __init__(self, ids, xs, ys, es, extra_cols: tuple, knn_dist=None):
        self.extra_cols = extra_cols
        # a point with a NaN or infinite coordinate has no distance (the
        # ring path drops it too); it would also make the extent NaN
        ok = np.isfinite(xs) & np.isfinite(ys)
        if es is not None:
            ok &= np.isfinite(es).all(axis=1)
        if not ok.all():
            ids, xs, ys = ids[ok], xs[ok], ys[ok]
            es = es[ok] if es is not None else None
            knn_dist = knn_dist[ok] if knn_dist is not None else None
        n = self.n = len(ids)
        if n == 0:
            self.ids = ids
            return
        self.x0, self.y0 = float(xs.min()), float(ys.min())
        ex, ey = float(xs.max()) - self.x0, float(ys.max()) - self.y0
        self.x1, self.y1 = self.x0 + ex, self.y0 + ey
        t = _RESIDENT_PER_CELL
        # grid.grid_from_extent's sizing: ~n/t cells, per-axis floors
        # keep near-1-D data from becoming a line of n cells
        cs = max((ex * ey * t / n) ** 0.5, ex * t / n, ey * t / n)
        self.cs = cs if cs > 0.0 else 1.0
        self.nx = int(ex / self.cs) + 1
        self.ny = int(ey / self.cs) + 1
        # cell edges are widened by this much where they bound distances:
        # floor() of a rounded quotient may place a point a few ulp
        # outside its nominal cell
        self.tol = 1e-9 * (self.cs + abs(self.x0) + abs(self.y0) + ex + ey)
        cell = self._ix(xs) * self.ny + self._iy(ys)
        order = np.lexsort((xs, cell))
        self.ids, self.xs, self.ys = ids[order], xs[order], ys[order]
        self.es = es[order] if es is not None else None
        counts = np.bincount(cell, minlength=self.nx * self.ny)
        self.counts = counts.reshape(self.nx, self.ny)
        self.offsets = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=self.offsets[1:])
        self.sat = np.zeros((self.nx + 1, self.ny + 1), dtype=np.int64)
        self.sat[1:, 1:] = self.counts.cumsum(0).cumsum(1)
        if knn_dist is not None:
            self.knn_dist = knn_dist[order]
            cell_kd = np.full(len(counts), -np.inf)
            nz = np.flatnonzero(counts)
            cell_kd[nz] = np.maximum.reduceat(self.knn_dist, self.offsets[nz])
            self.cell_kd = cell_kd.reshape(self.nx, self.ny)
            # cells holding a point with fewer than k neighbours meet
            # every query; the others only within the largest finite ball
            self.kd_open = np.flatnonzero(cell_kd == np.inf)
            finite = cell_kd[np.isfinite(cell_kd)]
            self.kd_reach = float(finite.max()) if len(finite) else -np.inf

    @classmethod
    def collect(
        cls, points: DataFrame, extra_cols: tuple, limit: int | None = None
    ) -> "_ResidentIndex | None":
        """One scan job.  With ``limit``, at most ``limit`` + 1 rows are
        collected (``_collect_queries``), and more than ``limit`` give
        None."""
        cols = ("id", "x", "y", *extra_cols)
        if limit is None:
            return cls.from_table(points.select(*cols).toArrow(), extra_cols)
        tbl = _collect_queries(points, cols, limit + 1)
        return cls.from_table(tbl, extra_cols) if tbl.num_rows <= limit else None

    @classmethod
    def from_table(cls, tbl, extra_cols: tuple, knn_dist: str | None = None) -> "_ResidentIndex":
        """Index of an Arrow table's (id, x, y, *extra_cols) and, if
        named, its ``knn_dist`` column.  Rows with a null id or a null,
        NaN or infinite coordinate are dropped: they have no distance
        (the ring path drops them too)."""
        import pyarrow.compute as pc

        cols = ("id", "x", "y", *extra_cols)
        valid = None
        for c in cols:
            v = pc.is_valid(tbl.column(c))
            valid = v if valid is None else pc.and_(valid, v)
        if valid is not None and tbl.num_rows and not pc.all(valid).as_py():
            tbl = tbl.filter(valid)

        def arr(c, dtype):
            return tbl.column(c).to_numpy().astype(dtype, copy=False)

        es = (
            np.column_stack([arr(c, np.float64) for c in extra_cols])
            if extra_cols
            else None
        )
        return cls(
            arr("id", np.int64), arr("x", np.float64), arr("y", np.float64), es, extra_cols,
            knn_dist=None if knn_dist is None else arr(knn_dist, np.float64),
        )

    def _ix(self, v):
        return np.clip(np.floor((v - self.x0) / self.cs), 0, self.nx - 1).astype(np.int64)

    def _iy(self, v):
        return np.clip(np.floor((v - self.y0) / self.cs), 0, self.ny - 1).astype(np.int64)

    def _gather(self, cells: np.ndarray) -> np.ndarray:
        """Positions of the points of ``cells`` (flat cell ids): one CSR
        run per cell."""
        starts = self.offsets[cells]
        lens = self.offsets[cells + 1] - starts
        return np.repeat(starts - np.cumsum(lens) + lens, lens) + np.arange(
            int(lens.sum()), dtype=np.int64
        )

    def _block(self, ix0: int, ix1: int, iy0: int, iy1: int) -> np.ndarray:
        """Flat ids of the cells of block [ix0, ix1] x [iy0, iy1]."""
        return (
            np.arange(ix0, ix1 + 1, dtype=np.int64)[:, None] * self.ny
            + np.arange(iy0, iy1 + 1, dtype=np.int64)[None, :]
        ).ravel()

    def _dists(self, qx, qy, qe, idx: np.ndarray) -> np.ndarray:
        """Queries x points-at-``idx`` matrix of exact distances, in the
        op order of ``_knn_scan`` and ``euclidean_nd``."""
        d = qx[:, None] - self.xs[idx][None, :]
        d *= d
        dy = qy[:, None] - self.ys[idx][None, :]
        dy *= dy
        d += dy
        for j in range(0 if qe is None else qe.shape[1]):
            dj = qe[:, j][:, None] - self.es[idx, j][None, :]
            dj *= dj
            d += dj
        return np.sqrt(d, out=d)

    def _groups(self, qx, qy):
        """The batched kernels' query groups: the batch order (by group,
        then x, y), group start offsets (with the end), per group the
        cell range [gx0, gx1] x [gy0, gy1] of its square, and per group
        its queries' box (lx, hx, ly, hy).  A query outside the points'
        bounding box is a group of its own: its clamped cell says little
        about where it is."""
        cix, ciy = self._ix(qx), self._iy(qy)
        out = ~((qx >= self.x0) & (qx <= self.x1) & (qy >= self.y0) & (qy <= self.y1))
        # the largest square level holding at most _GROUP_POINTS points:
        # squares nest, so their counts grow with the level
        level = np.zeros(len(qx), dtype=np.int64)
        s = self.sat
        for lv in range(1, _GROUP_LEVELS + 1):
            x0, y0 = (cix >> lv) << lv, (ciy >> lv) << lv
            x1 = np.minimum(x0 + (1 << lv), self.nx)
            y1 = np.minimum(y0 + (1 << lv), self.ny)
            level += (s[x1, y1] - s[x0, y1] - s[x1, y0] + s[x0, y0]) <= _GROUP_POINTS
        level[out] = 0
        gx, gy = cix >> level, ciy >> level
        key = (level * (self.nx + 1) + gx) * (self.ny + 1) + gy
        key[out] = -1 - np.flatnonzero(out)
        order = np.lexsort((qy, qx, key))
        key = key[order]
        starts = np.flatnonzero(np.concatenate([[True], key[1:] != key[:-1], [True]]))
        first = order[starts[:-1]]
        lv = level[first]
        gx0, gy0 = gx[first] << lv, gy[first] << lv
        gx1 = np.minimum(gx0 + (1 << lv) - 1, self.nx - 1)
        gy1 = np.minimum(gy0 + (1 << lv) - 1, self.ny - 1)
        sx, sy, heads = qx[order], qy[order], starts[:-1]
        boxes = zip(
            np.minimum.reduceat(sx, heads).tolist(), np.maximum.reduceat(sx, heads).tolist(),
            np.minimum.reduceat(sy, heads).tolist(), np.maximum.reduceat(sy, heads).tolist(),
        )
        return order, starts, (gx0, gx1, gy0, gy1), boxes

    def _ring_radius(self, x0, x1, y0, y1, k: int) -> np.ndarray:
        """Per cell range [x0, x1] x [y0, y1], the smallest Chebyshev
        dilation whose block holds >= k points (k <= n): geometric growth,
        then bisection, all counted from the summed-area table."""

        def holds(q, r):
            a = np.maximum(x0[q] - r, 0)
            b = np.minimum(x1[q] + r, self.nx - 1) + 1
            c = np.maximum(y0[q] - r, 0)
            d = np.minimum(y1[q] + r, self.ny - 1) + 1
            s = self.sat
            return s[b, d] - s[a, d] - s[b, c] + s[a, c] >= k

        nq = len(x0)
        lo = np.full(nq, -1, dtype=np.int64)  # largest radius known short
        hi = np.zeros(nq, dtype=np.int64)
        todo = np.arange(nq)
        while len(todo):
            todo = todo[~holds(todo, hi[todo])]
            lo[todo] = hi[todo]
            hi[todo] = np.maximum(hi[todo] * 2, hi[todo] + 1)
        todo = np.flatnonzero(hi - lo > 1)
        while len(todo):
            mid = (lo[todo] + hi[todo]) // 2
            ok = holds(todo, mid)
            hi[todo[ok]] = mid[ok]
            lo[todo[~ok]] = mid[~ok]
            todo = todo[hi[todo] - lo[todo] > 1]
        return hi

    def _box(self, lx: float, hx: float, ly: float, hy: float, reach: float):
        """The cells within ``reach`` of the box [lx, hx] x [ly, hy]:
        their block's corner (ix0, iy0), its width, and per cell the
        squared near distance and the squared far-corner distance from
        the box (cell edges widened by ``tol``)."""
        cs, tol = self.cs, self.tol
        ix0 = _clip_cell((lx - reach - self.x0) / cs, self.nx)
        ix1 = _clip_cell((hx + reach - self.x0) / cs, self.nx)
        iy0 = _clip_cell((ly - reach - self.y0) / cs, self.ny)
        iy1 = _clip_cell((hy + reach - self.y0) / cs, self.ny)
        xl = self.x0 + np.arange(ix0, ix1 + 1) * cs - tol
        yl = self.y0 + np.arange(iy0, iy1 + 1) * cs - tol
        xh, yh = xl + (cs + 2 * tol), yl + (cs + 2 * tol)
        near2 = (np.maximum(np.maximum(xl - hx, lx - xh), 0.0) ** 2)[:, None] + (
            np.maximum(np.maximum(yl - hy, ly - yh), 0.0) ** 2
        )[None, :]
        far2 = (np.maximum(hx - xl, xh - lx) ** 2)[:, None] + (
            np.maximum(hy - yl, yh - ly) ** 2
        )[None, :]
        return ix0, iy0, iy1 - iy0 + 1, near2, far2

    def _cells(self, ix0: int, iy0: int, w: int, sel: np.ndarray) -> np.ndarray:
        """Flat ids of the cells at ``sel`` of a ``_box`` block."""
        return (ix0 + sel // w) * self.ny + iy0 + sel % w

    def knn(self, qid, qx, qy, qe, k: int) -> dict | None:
        """Exact (qid, id, dist, rank) columns for the query batch, or
        None when nothing matches.  Queries with a NaN or infinite
        coordinate (a null in the batch gives NaN) have no distance and
        get no rows."""
        keep = np.isfinite(qx) & np.isfinite(qy)
        if qe is not None:
            keep &= np.isfinite(qe).all(axis=1)
        if self.n == 0 or not keep.any():
            return None
        qid, qx, qy = qid[keep], qx[keep], qy[keep]
        qe = qe[keep] if qe is not None else None
        nq = len(qx)
        best_d = [np.empty(0)] * nq
        best_i = [np.empty(0, dtype=np.int64)] * nq
        if k >= self.n:
            # every point is an answer: one unbounded scan for the batch
            _knn_scan(
                qx, qy, qe, np.full(nq, np.inf), self.xs, self.ys, self.ids, self.es,
                k, best_d, best_i,
            )
            return _best_columns(qid, best_d, best_i)
        order, starts, (gx0, gx1, gy0, gy1), boxes = self._groups(qx, qy)
        r = self._ring_radius(gx0, gx1, gy0, gy1, k)
        sx, sy = qx[order], qy[order]
        se = None if qe is None else qe[order]
        seeds = zip(
            np.maximum(gx0 - r, 0).tolist(), np.minimum(gx1 + r, self.nx - 1).tolist(),
            np.maximum(gy0 - r, 0).tolist(), np.minimum(gy1 + r, self.ny - 1).tolist(),
        )
        for a, b, (lx, hx, ly, hy), block in zip(
            starts[:-1].tolist(), starts[1:].tolist(), boxes, seeds
        ):
            gqx, gqy = sx[a:b], sy[a:b]
            gqe = None if se is None else se[a:b]
            # 1. each query's k-th distance among the seed block's points
            seed = self._gather(self._block(*block))
            ub = np.empty(b - a)
            rows = max(1, _BLOCK // len(seed))
            for s in range(0, b - a, rows):
                d = self._dists(gqx[s : s + rows], gqy[s : s + rows],
                                None if gqe is None else gqe[s : s + rows], seed)
                ub[s : s + rows] = np.partition(d, k - 1, axis=1)[:, k - 1]
            M = float(ub.max())
            Me = M * (1.0 + 1e-9) + 1e-300
            ix0, iy0, w, near2, far2 = self._box(lx, hx, ly, hy, Me)
            cnt = self.counts[ix0 : ix0 + near2.shape[0], iy0 : iy0 + w]
            if gqe is None:
                # 2. the box of the bounds holds every cell within them,
                # hence the k points each was taken from: the cover
                # always exists
                f = far2[cnt > 0]
                o = np.argsort(f, kind="stable")
                cover = np.searchsorted(np.cumsum(cnt[cnt > 0][o]), k)
                cell_ub = float(np.sqrt(f[o][cover])) * (1.0 + 1e-9)
                if cell_ub < M:
                    np.minimum(ub, cell_ub, out=ub)
                    M = float(ub.max())
                    Me = M * (1.0 + 1e-9) + 1e-300
            # 3. the candidates, and the kernel's box prune per query
            sel = np.flatnonzero((near2 <= Me * Me).ravel() & (cnt.ravel() > 0))
            cand = self._gather(self._cells(ix0, iy0, w, sel))
            bd = [np.empty(0)] * (b - a)
            bi = [np.empty(0, dtype=np.int64)] * (b - a)
            # candidate slices keep _knn_scan's 128-query chunks within _BLOCK
            step = max(k, _BLOCK // 128)
            for c in range(0, len(cand), step):
                idx = cand[c : c + step]
                _knn_scan(
                    gqx, gqy, gqe, ub, self.xs[idx], self.ys[idx], self.ids[idx],
                    None if self.es is None else self.es[idx], k, bd, bi,
                )
            for j, q in enumerate(order[a:b].tolist()):
                best_d[q], best_i[q] = bd[j], bi[j]
        return _best_columns(qid, best_d, best_i)

    def _pairs(self, qx, qy, qe, hits, max_pairs: int | None):
        """Shared loop of ``within`` and ``reverse``: per query group,
        ``hits(lx, hx, ly, hy, group rows)`` gives the candidate positions
        and a test of the (group queries x candidates) distance matrix;
        every pair passing it is kept.  Returns (query rows, positions,
        distances) in no particular order, or None once more than
        ``max_pairs`` pairs are found."""
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.empty(0))
        if self.n == 0 or not len(qx):
            return empty
        order, starts, _, boxes = self._groups(qx, qy)
        sx, sy = qx[order], qy[order]
        se = None if qe is None else qe[order]
        out_q, out_p, out_d = [], [], []
        found = 0
        for a, b, (lx, hx, ly, hy) in zip(starts[:-1].tolist(), starts[1:].tolist(), boxes):
            cand, test = hits(lx, hx, ly, hy, order[a:b])
            cols = max(1, _BLOCK // (b - a))
            for c in range(0, len(cand), cols):
                idx = cand[c : c + cols]
                d = self._dists(sx[a:b], sy[a:b], None if se is None else se[a:b], idx)
                rows, at = np.nonzero(test(d, idx))
                found += len(rows)
                if max_pairs is not None and found > max_pairs:
                    return None
                out_q.append(order[a + rows])
                out_p.append(idx[at])
                out_d.append(d[rows, at])
        if not out_q:
            return empty
        return np.concatenate(out_q), np.concatenate(out_p), np.concatenate(out_d)

    def within(self, qx, qy, qe, radius, max_pairs: int | None = None):
        """Radius queries: every (query row, point position, dist) with
        dist <= the query's radius, inclusive, as ``range_join`` tests it.
        Queries must have finite coordinates and a non-NaN radius.  None
        once more than ``max_pairs`` pairs are found."""

        def hits(lx, hx, ly, hy, rows):
            rad = radius[rows]
            R = float(rad.max())
            if R < 0.0:
                return np.empty(0, dtype=np.int64), None
            Me = R * (1.0 + 1e-9) + 1e-300
            ix0, iy0, w, near2, _ = self._box(lx, hx, ly, hy, Me)
            cnt = self.counts[ix0 : ix0 + near2.shape[0], iy0 : iy0 + w]
            sel = np.flatnonzero((near2 <= Me * Me).ravel() & (cnt.ravel() > 0))
            cand = self._gather(self._cells(ix0, iy0, w, sel))
            return cand, lambda d, idx: d <= rad[:, None]

        return self._pairs(qx, qy, qe, hits, max_pairs)

    def reverse(self, qx, qy, qe=None, max_pairs: int | None = None):
        """Reverse-kNN queries: every (query row, point position, dist)
        where the point's kNN ball holds the query, dist <= knn_dist[p]
        inclusive, so a query tied with p's k-th neighbour counts (it may
        win the (dist, id) tie-break).  Only cells whose near edge is
        within their largest ball are scanned, so the cost follows each
        query's neighbourhood rather than n.  The cell prune is 2-D,
        which stays valid in D > 2: dist_D >= dist_2.  None once more
        than ``max_pairs`` pairs are found."""

        def hits(lx, hx, ly, hy, rows):
            cells = [self.kd_open]
            if self.kd_reach >= 0.0:
                Me = self.kd_reach * (1.0 + 1e-9) + 1e-300
                ix0, iy0, w, near2, _ = self._box(lx, hx, ly, hy, Me)
                kd = self.cell_kd[ix0 : ix0 + near2.shape[0], iy0 : iy0 + w]
                lim = kd * (1.0 + 1e-9) + 1e-300
                sel = np.flatnonzero(
                    ((kd >= 0.0) & np.isfinite(kd) & (near2 <= lim * lim)).ravel()
                )
                cells.append(self._cells(ix0, iy0, w, sel))
            cand = self._gather(np.concatenate(cells))
            return cand, lambda d, idx: d <= self.knn_dist[idx][None, :]

        return self._pairs(qx, qy, qe, hits, max_pairs)


# Resident copies of PERSISTED point frames, keyed weakly by the frame
# object: dropping the frame drops its copy.  Each entry remembers the
# identity of the cache entry it was read from; a call that finds the
# frame no longer cached (unpersisted, cache cleared, or persisted anew,
# possibly over changed files) drops or rebuilds the copy.
_resident = weakref.WeakKeyDictionary()
_resident_lock = threading.Lock()


def _cache_token(points: DataFrame):
    """Identity of the cache entry backing ``points``, or None when the
    frame is not persisted (or the session cannot say, e.g. a remote
    client — then the frame is treated as not persisted)."""
    if not getattr(points, "is_cached", False):
        return None
    from py4j.protocol import Py4JError

    try:
        cd = (
            points.sparkSession._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(points._jdf)
        )
        if not cd.isDefined():
            return None
        return points.sparkSession._jvm.System.identityHashCode(
            cd.get().cachedRepresentation().cacheBuilder()
        )
    except (AttributeError, Py4JError):
        return None


# Driver copies of committed index states (plans.batches, plans.checkpoint):
# frame -> _Copy, keyed weakly like _resident and under the same lock.  A
# copy is registered only for a frame whose rows are known to equal the
# table: a local frame built from it, or a read of files that the
# registering call wrote or read itself.  It needs no cache check; it is
# dropped with its frame, or when the files under its path are rewritten.
_registered = weakref.WeakKeyDictionary()

# bytes per graph row (src, dst, dist, rank) of a registered state
_GRAPH_ROW_BYTES = 28


def resident_bytes(n_points: int, n_graph_rows: int = 0, n_extra: int = 0) -> int:
    """Driver bytes of ``n_points`` rows (id, x, y, ``n_extra`` extra
    columns: 8 bytes a value) and ``n_graph_rows`` kNN-graph rows."""
    return n_points * 8 * (3 + n_extra) + n_graph_rows * _GRAPH_ROW_BYTES


def fits_resident(n_points: int, n_graph_rows: int = 0, n_extra: int = 0) -> bool:
    """Whether such a point set (and graph) may be held on the driver:
    the one test of ``_RESIDENT_MAX_BYTES``."""
    return resident_bytes(n_points, n_graph_rows, n_extra) <= _RESIDENT_MAX_BYTES


class _Copy:
    """A registered table, the directory its frame reads (None for a
    local frame), and the resident index built from it on first use."""

    __slots__ = ("table", "path", "index")

    def __init__(self, table, path):
        self.table, self.path, self.index = table, path, None


def register_copy(frame: DataFrame, table, path: str | None = None) -> DataFrame:
    """Hold ``table`` as the driver copy of ``frame``; returns ``frame``."""
    with _resident_lock:
        _registered[frame] = _Copy(table, path)
    return frame


def registered_table(frame: DataFrame):
    """The Arrow table registered for ``frame``, or None."""
    with _resident_lock:
        held = _registered.get(frame)
    return None if held is None else held.table


def drop_copies(path: str) -> None:
    """Drop the copies of every frame that reads files under ``path``."""
    root = os.path.join(os.path.abspath(path), "")
    with _resident_lock:
        for frame, held in list(_registered.items()):
            if held.path is not None and os.path.join(os.path.abspath(held.path), "").startswith(root):
                del _registered[frame]


def _resident_index(
    points: DataFrame, extra_cols: tuple, collect: bool = True, limit: int | None = None
):
    """The driver copy of ``points``: built from its registered table, or
    held across calls for a persisted frame, or collected afresh (one
    scan job) for any other — a frame that is not persisted may be
    re-read from changed files, so it is never held.  With ``collect``
    False, a copy that is not held already is None instead: no job.
    With ``limit``, the collect is bounded (``_ResidentIndex.collect``),
    and a frame of more rows gets None and no copy is held; a copy
    already held is returned whatever its size."""
    with _resident_lock:
        reg = _registered.get(points)
        # registered tables are 2-D states (id, x, y)
        if reg is not None and not extra_cols:
            if reg.index is None:
                reg.index = _ResidentIndex.from_table(reg.table, ())
            return reg.index
    token = _cache_token(points)
    if token is None:
        with _resident_lock:
            _resident.pop(points, None)
        return _ResidentIndex.collect(points, extra_cols, limit) if collect else None
    with _resident_lock:
        held = _resident.get(points)
        if held is None or held[0] != token or held[1].extra_cols != extra_cols:
            if not collect:
                return None
            index = _ResidentIndex.collect(points, extra_cols, limit)
            if index is None:
                _resident.pop(points, None)
                return None
            held = (token, index)
            _resident[points] = held
        return held[1]


def _collect_queries(queries: DataFrame, cols: tuple, limit: int):
    """At most ``limit`` rows of ``queries``' ``cols`` (the first a long
    id, the others doubles) as an Arrow table.  A local frame (e.g.
    createDataFrame of a pandas frame) is collected without a job; any
    other in one job — toArrow, since collecting a limit scans
    partitions in growing waves, a job each."""
    import pyarrow as pa

    q = queries.select(*cols).limit(limit)
    if not queries.isLocal():
        return q.toArrow()
    rows = q.collect()
    return pa.table(
        {
            c: pa.array([r[i] for r in rows], pa.int64() if i == 0 else pa.float64())
            for i, c in enumerate(cols)
        }
    )


def _query_limit(copy_bytes: int, cols: tuple) -> int:
    """Most query rows of ``cols`` (8 B a value) one driver call takes:
    what a copy of ``copy_bytes`` leaves of the byte budget, and at most
    the driver-work bound."""
    room = _RESIDENT_MAX_BYTES - copy_bytes
    return max(0, min(room // (8 * len(cols)), _DRIVER_MAX_REDO))


def local_queries(queries: DataFrame, cols: tuple, copy_bytes: int):
    """The rows of a driver-local query frame as an Arrow table of
    ``cols``, with no job, when they fit ``_query_limit``; None for any
    other frame, for more rows, or when a row holds a null or a
    non-finite value (the Spark plans keep their own semantics for
    those).  ``range_join`` and ``reverse_knn`` answer such a batch from
    a held copy."""
    import pyarrow.compute as pc

    limit = _query_limit(copy_bytes, cols)
    if not limit or not queries.isLocal():
        return None
    tbl = _collect_queries(queries, cols, limit + 1)
    if tbl.num_rows > limit:
        return None
    for c in cols:
        col = tbl.column(c)
        if col.null_count or (c != cols[0] and not pc.all(pc.is_finite(col)).as_py()):
            return None
    return tbl


def _query_arrays(qtbl, extra_cols: tuple):
    """(x, y, extra matrix or None) of a collected query table; nulls
    become NaN."""

    def col(name):
        return qtbl.column(name).to_numpy().astype(np.float64, copy=False)

    es = np.column_stack([col(c) for c in extra_cols]) if extra_cols else None
    return col("x"), col("y"), es


def pair_limit(copy_bytes: int, qtbl) -> int:
    """Most (qid, id, dist) rows, 24 B each, that a driver answer may
    hold beside the copy and the collected queries: ``within`` and
    ``reverse`` give up past it, and the Spark plan answers instead."""
    return max(0, (_RESIDENT_MAX_BYTES - copy_bytes - qtbl.nbytes) // 24)


def pairs_frame(spark, qid: np.ndarray, index: _ResidentIndex, pairs) -> DataFrame:
    """A local (qid, id, dist) frame of ``_ResidentIndex.within`` /
    ``reverse`` pairs, ordered by (qid, dist, id) like the Spark plans'
    results."""
    import pyarrow as pa

    q, p, d = pairs
    if not len(q):
        return spark.createDataFrame([], "qid long, id long, dist double")
    qq, ii = qid[q], index.ids[p]
    o = np.lexsort((ii, d, qq))
    return spark.createDataFrame(pa.table({"qid": qq[o], "id": ii[o], "dist": d[o]}))


def _resident_knn(points: DataFrame, qtbl, k: int, extra_cols: tuple) -> DataFrame:
    """knn_for_queries' driver path: answer the collected query batch (an
    Arrow table of qid, x, y, *extra_cols) on the driver; the result is a
    local DataFrame.  A query with a null qid names no query and gets no
    rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = points.sparkSession
    index = _resident_index(points, extra_cols)
    _record_stats(0, 0, index.n, 0)
    if qtbl.column("qid").null_count:
        qtbl = qtbl.filter(pc.is_valid(qtbl.column("qid")))
    # queries with a null (NaN) coordinate are skipped by index.knn
    qx, qy, qe = _query_arrays(qtbl, extra_cols)
    cols = index.knn(qtbl.column("qid").to_numpy().astype(np.int64, copy=False), qx, qy, qe, k)
    if cols is None:
        return spark.createDataFrame([], _OUT_SCHEMA)
    # the Arrow types map to _OUT_SCHEMA exactly; naming the schema again
    # would only add a DDL parse (~9 ms) to every call
    return spark.createDataFrame(pa.table(cols))


def knn_for_queries(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    spec: GridSpec | None = None,
    cfg: EngineConfig | None = None,
    queries_within_extent: bool = False,
    extra_cols: tuple = (),
    extent=None,
) -> DataFrame:
    """Exact kNN of each query point against ``points``.

    points:  columns (id long, x double, y double[, *extra_cols])
    queries: columns (qid long, x double, y double[, *extra_cols])
    returns: (qid long, id long, dist double, rank int) — rank 1..k by
             (dist, id); fewer than k rows per qid when the dataset has
             fewer than k points (the reference pads with infinity
             dummies and filters them on read-out, rindex.rs:279-283 —
             we simply omit them).

    ``extra_cols`` names additional coordinate columns (D > 2 — the
    reference API is const-generic [f64; D], lib/src/rindex.rs:34,
    node.rs:34).  The grid indexes the leading (x, y) pair only; the
    kernel computes exact full-D distances, and the 2-D ring lower
    bound remains a valid termination certificate because
    dist_D(q, p) >= dist_2(q, p) >= ring_lower_bound for any point
    outside the visited ring.  Convergence just takes more rounds in
    higher D (rings certify later), never wrong answers.

    ``query_neighbors`` parity: rindex.rs:197-214.  k <= 0 or empty
    points => empty result (rindex.rs:198-200).

    ``extent`` (optional): a precomputed extent row/dict with keys
    (n, xmin, xmax, ymin, ymax) for ``points`` — callers running many
    ops on the same point set (bench suites, batch replay) pass it
    together with ``spec`` so no per-call fixed driver job remains
    (grid.grid_and_extent computes both in one aggregate).

    Serving from the driver.  When ``points`` fits ``_RESIDENT_MAX_BYTES``
    (8 bytes per id / coordinate value, 48 MiB: ~2.1M 2-D points — known
    from the extent's n, no job) and the queries are external
    (``queries_within_extent=False``), the query rows are collected, at
    most what the point copy leaves of the budget (24 B a 2-D query row)
    and at most ``_DRIVER_MAX_REDO`` of them, plus one: one query-scale
    job, none for a driver-local query frame.  It replaces the ring
    path's query-extent aggregate.  A batch within both bounds is then
    answered exactly on the driver from a cell-sorted numpy copy of the
    points (``_ResidentIndex.knn``: one candidate gather and one call of
    the brute tail's kernel per cell group, bit-identical rows) and
    returned as a local DataFrame: no ring round, whatever the batch
    size.  A frame with a registered copy (a committed index state, see
    ``register_copy``) is indexed from that table.  Otherwise the copy
    is held across calls only for a PERSISTED frame
    (``points.is_cached``), keyed weakly by the frame object; a call that
    finds the frame no longer cached (unpersisted, cache cleared, or
    persisted anew) drops or rebuilds it, and dropping the frame object
    drops the copy.  So a call on a resident frame runs at most one job
    (the query collect) plus whatever consumes the result.  A frame that
    is neither registered nor persisted may be re-read from changed
    files, so it is never held: each call collects it in one scan job.
    ``build_knn_graph`` uses the same copy for an in-budget self graph
    (and holds the one it collects for a persisted frame).  Batches over
    either bound, point sets over the budget, self graphs over their
    gate and the distributed repair of ``apply_batch`` (the last two with
    ``queries_within_extent=True``) keep the ring rounds; a batch over
    the bounds from a query frame that is not driver-local pays the
    collect job on top.  On both paths a query with a null qid, or a
    null, NaN or infinite coordinate, gets no rows, and a point with a
    null id, or such a coordinate, is nobody's neighbour.
    """
    extra_cols = tuple(extra_cols)
    n_extra = len(extra_cols)
    spark = points.sparkSession
    # k = 0 / empty index => empty result (rindex.rs:198-200), before any
    # config validation (the reference validates k only at construction).
    if k <= 0:
        _record_stats(0, 0, 0, 0)
        return spark.createDataFrame([], _OUT_SCHEMA)
    cfg = cfg or EngineConfig(k=k)

    # a point with a null, NaN or infinite coordinate has no distance,
    # and one with a null id names no neighbour: the ring path drops both
    # before the extent (the driver copy drops them too), so such a point
    # is nobody's neighbour and, in a self graph, gets no rows.  The
    # filter is built only where it is used: a resident call with a given
    # extent pays no plan analysis for it.
    coords = ("x", "y", *extra_cols)

    def valid(df, id_col):
        return df.filter(all_finite(coords) & F.col(id_col).isNotNull())

    # one aggregate job yields both the grid spec and the extent
    ext = extent if extent is not None else valid(points, "id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    ).collect()[0]
    if not ext["n"]:
        _record_stats(0, 0, 0, 0)
        return spark.createDataFrame([], _OUT_SCHEMA)
    if not queries_within_extent and fits_resident(ext["n"], n_extra=n_extra):
        qcols = ("qid", "x", "y", *extra_cols)
        limit = _query_limit(resident_bytes(ext["n"], n_extra=n_extra), qcols)
        if limit:
            qtbl = _collect_queries(queries, qcols, limit + 1)
            if qtbl.num_rows <= limit:
                return _resident_knn(points, qtbl, k, extra_cols)
    points = valid(points, "id")
    # a query with a null qid names no query, and one with a null, NaN or
    # infinite coordinate has no distance: neither gets rows, as on the
    # driver path
    queries = valid(queries, "qid")
    if spec is None:
        from rindex_spark.grid import grid_from_extent, shrink_to_occupancy

        # density-adaptive shrink: skewed (clustered/urban) data makes
        # mean-sized cells quadratically expensive in the cores
        spec = shrink_to_occupancy(points, grid_from_extent(ext, cfg), cfg)

    # Ring radius that certifies full coverage of the data extent from
    # ANY query cell (termination backstop for k > n / far-out queries):
    # the Chebyshev span of the combined data+query bounding box.
    # queries_within_extent=True (e.g. the self kNN graph) skips the
    # query-extent job.
    if queries_within_extent:
        span = max(ext["xmax"] - ext["xmin"], ext["ymax"] - ext["ymin"])
    else:
        qext = queries.agg(
            F.min("x").alias("xmin"),
            F.max("x").alias("xmax"),
            F.min("y").alias("ymin"),
            F.max("y").alias("ymax"),
        ).collect()[0]

        def _mm(fn, *vals):
            vs = [v for v in vals if v is not None]
            return fn(vs)

        span = max(
            _mm(max, ext["xmax"], qext["xmax"]) - _mm(min, ext["xmin"], qext["xmin"]),
            _mm(max, ext["ymax"], qext["ymax"]) - _mm(min, ext["ymin"], qext["ymin"]),
        )
    r_max = int(span / spec.cell_size) + 2

    pts = with_cells(points.select("id", "x", "y", *extra_cols), spec)
    pts = pts.withColumn("sx", F.shiftright("ix", _SUPER_SHIFT)).withColumn(
        "sy", F.shiftright("iy", _SUPER_SHIFT)
    )

    # initial ring radius per SUPERCELL, derived from local density: the
    # smallest window expected to hold >= k neighbors.  Dense cores get
    # khi=1; sparse regions start wide instead of burning rounds (one
    # khi per supercell, so the group count is unchanged).
    sc_counts = (
        pts.groupBy("sx", "sy")
        .agg(F.count(F.lit(1)).alias("sc_n"))
        # fresh names: frontier may share lineage with pts (self kNN),
        # and same-name keys trip Catalyst's ambiguous-self-join check
        .select(
            F.col("sx").alias("scx"), F.col("sy").alias("scy"), "sc_n"
        )
    )
    occ_cell = F.col("sc_n") / F.lit(float(_SUPER * _SUPER))
    khi0 = F.least(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.sqrt(
                    F.lit(_KHI0_FACTOR * k) / F.greatest(occ_cell, F.lit(0.05))
                )
            ).cast("long"),
        ),
        F.lit(_KHI0_CAP).cast("long"),
        F.lit(r_max).cast("long"),
    )

    frontier = (
        with_cells(
            queries.select(
                "qid",
                F.col("x").alias("qx"),
                F.col("y").alias("qy"),
                *[F.col(c).alias(f"qe{i}") for i, c in enumerate(extra_cols)],
            ),
            spec,
            x="qx",
            y="qy",
            prefix="q",
        )
        .withColumn("sx", F.shiftright("qix", _SUPER_SHIFT))
        .withColumn("sy", F.shiftright("qiy", _SUPER_SHIFT))
        .join(
            F.broadcast(sc_counts),
            (F.col("sx") == F.col("scx")) & (F.col("sy") == F.col("scy")),
            "left",
        )
        .drop("scx", "scy")
        .na.fill({"sc_n": 0})
        .withColumn("r_lo", F.lit(-1).cast("long"))
        .withColumn("r_hi", khi0)
        .withColumn(
            # hot-supercell salting: split oversized query groups so no
            # single task owns a skewed cell
            "salt",
            F.when(
                F.col("sc_n") > _MAX_GROUP_QUERIES,
                F.pmod(
                    F.xxhash64("qid"),
                    F.ceil(F.col("sc_n") / F.lit(_MAX_GROUP_QUERIES)).cast("long"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("sc_n")
        .withColumn("cnt", F.lit(0).cast("long"))
        .withColumn("kth", F.lit(float("inf")))
        .withColumn("best_dist", F.lit(b""))
        .withColumn("best_id", F.lit(b""))
    )

    round_udf = _make_round_udf(k, n_extra=n_extra)
    state_schema = _state_schema(n_extra)
    finished_parts: list[DataFrame] = []
    n_buckets = max(_MIN_BUCKETS, spark.sparkContext.defaultParallelism * _BUCKETS_PER_CORE)
    # gk: the (supercell, window, salt) identity packed into ONE long
    # (xxhash64) — candidates ship 1 key column instead of 5 (40 of the
    # 64 bytes/row of the big shuffle side); see _fn on why collisions
    # are harmless.  The cogroup bucket is pmod(gk, B).
    q_gk = F.xxhash64("sx", "sy", "r_lo", "r_hi", "salt").alias("gk")
    c_gk = F.xxhash64("ksx", "ksy", "klo", "khi", "ksalt").alias("gk")

    release_round_states()  # free the PREVIOUS call's cached rounds
    shipped_rows = 0
    rounds_run = 0
    brute_tail = 0
    for _round in range(cfg.max_rounds):
        # candidate points for each DISTINCT (supercell, ring window):
        # the supercell block dilated by r_hi — in SUPERCELL units the
        # halo is ceil(r_hi / S) so the explode stays small; cell-exact
        # over-inclusion is fine (the UDF merge dedupes).
        ring_keys = frontier.select(
            F.col("sx").alias("ksx"),
            F.col("sy").alias("ksy"),
            F.col("r_lo").alias("klo"),
            F.col("r_hi").alias("khi"),
            F.col("salt").alias("ksalt"),
        ).distinct()
        halo = F.ceil(F.col("khi") / F.lit(_SUPER)).cast("long")
        cells = ring_keys.withColumn(
            "csx", F.explode(F.sequence(F.col("ksx") - halo, F.col("ksx") + halo))
        ).withColumn(
            "csy", F.explode(F.sequence(F.col("ksy") - halo, F.col("ksy") + halo))
        )
        # cell-exact trim of the supercell halo: keep only points within
        # Chebyshev khi CELLS of the supercell's member-cell range (the
        # union of every member query's needed annulus)
        lo_x = F.col("ksx") * _SUPER - F.col("khi")
        hi_x = F.col("ksx") * _SUPER + (_SUPER - 1) + F.col("khi")
        lo_y = F.col("ksy") * _SUPER - F.col("khi")
        hi_y = F.col("ksy") * _SUPER + (_SUPER - 1) + F.col("khi")
        # ANNULUS trim: drop the already-seen inner block [range +- klo].
        # Valid because (a) klo = each member query's own previous khi
        # (r_lo carries the prior window and is part of the group key),
        # (b) the previous round's candidate set for this (sx, sy, salt)
        # group was exactly the block [range +- klo], and (c) the kernel
        # merges EVERY group candidate into EVERY member query's carried
        # top-k — so every inner-block point is already reflected in the
        # carried state and re-shipping it is pure waste.  Round 0
        # (klo = -1) keeps the full block.
        seen_lo_x = F.col("ksx") * _SUPER - F.col("klo")
        seen_hi_x = F.col("ksx") * _SUPER + (_SUPER - 1) + F.col("klo")
        seen_lo_y = F.col("ksy") * _SUPER - F.col("klo")
        seen_hi_y = F.col("ksy") * _SUPER + (_SUPER - 1) + F.col("klo")
        # qualified alias: frontier's subtree references pts (density
        # join), so this is a self-join from Catalyst's point of view
        cp = pts.alias("cp")
        cand = (
            cells.join(
                cp,
                (F.col("csx") == F.col("cp.sx")) & (F.col("csy") == F.col("cp.sy")),
                "inner",
            )
            .filter(
                (F.col("cp.ix") >= lo_x)
                & (F.col("cp.ix") <= hi_x)
                & (F.col("cp.iy") >= lo_y)
                & (F.col("cp.iy") <= hi_y)
            )
            .filter(
                (F.col("klo") < 0)
                | (F.col("cp.ix") < seen_lo_x)
                | (F.col("cp.ix") > seen_hi_x)
                | (F.col("cp.iy") < seen_lo_y)
                | (F.col("cp.iy") > seen_hi_y)
            )
            .select(
                c_gk, F.col("cp.id").alias("id"), F.col("cp.x").alias("x"),
                F.col("cp.y").alias("y"),
                *[F.col(f"cp.{c}").alias(f"e{i}") for i, c in enumerate(extra_cols)],
            )
        )

        # persist (NOT localCheckpoint): the aggregate below doubles as
        # the materializer, saving one job per round — measured 6.7s
        # -> 3.8s for the 100k self-graph at local[32].  Lineage stays
        # intact (rounds are few, plans stay shallow); the cp alias on
        # pts already disambiguates the self-join.  MEMORY_ONLY is
        # deliberate (f14cfce): finished_parts keep referencing every
        # round's state until the caller consumes the output, so
        # MEMORY_AND_DISK would accumulate disk blocks across a long
        # session; under memory pressure eviction recomputes a
        # deterministic lineage instead (bounded: rounds are few).
        state = (
            frontier.withColumn("gk", q_gk)
            .withColumn("bkt", F.pmod(F.col("gk"), F.lit(n_buckets)))
            .groupBy("bkt")
            .cogroup(
                cand.withColumn(
                    "bkt", F.pmod(F.col("gk"), F.lit(n_buckets))
                ).groupBy("bkt")
            )
            .applyInPandas(round_udf, schema=state_schema)
            .persist(StorageLevel.MEMORY_ONLY)
        )
        _round_states.append(state)

        lb = ring_lower_bound(
            spec, F.col("qx"), F.col("qy"), F.col("qix"), F.col("qiy"), F.col("r_hi")
        )
        state = state.withColumn("lb", lb).withColumn(
            "is_done",
            ((F.col("cnt") >= k) & (F.col("kth") < F.col("lb")))
            | (F.col("r_hi") >= r_max),
        )

        finished_parts.append(
            state.filter("is_done")
            .select("qid", "best_dist", "best_id")
            .mapInPandas(_unpack_best, schema=_OUT_SCHEMA)
        )

        next_frontier = (
            state.filter(~F.col("is_done"))
            .withColumn("sx", F.shiftright("qix", _SUPER_SHIFT))
            .withColumn("sy", F.shiftright("qiy", _SUPER_SHIFT))
            .withColumn("r_lo", F.col("r_hi"))
            .withColumn(
                # Ring jump: lb(R') >= R'*cs, so R' = floor(kth/cs)+1
                # certifies the current k-th distance in one more round.
                # Geometric clamp (<= 2R+8) bounds halo size; r_max caps
                # at full coverage.
                "r_hi",
                F.least(
                    F.greatest(
                        F.col("r_hi") + 1,
                        F.when(
                            F.col("cnt") >= k,
                            F.floor(F.col("kth") / F.lit(spec.cell_size)) + 1,
                        ).otherwise(F.col("r_hi") * 2 + 8),
                    ),
                    F.col("r_hi") * 2 + 8,
                    F.lit(r_max).cast("long"),
                ),
            )
            .drop("lb", "is_done", "shipped")
        )
        # one job per round: materializes the state, counts the queries
        # left and sums the candidate rows the round shipped
        tally = state.agg(
            F.count(F.when(~F.col("is_done"), 1)).alias("left"),
            F.sum("shipped").alias("shipped"),
        ).collect()[0]
        n_left = tally["left"]
        shipped_rows += int(tally["shipped"] or 0)
        rounds_run = _round + 1
        if n_left == 0:
            break
        # small-frontier fallback: stragglers in sparse regions have
        # certify radii that sweep dense areas — ring candidates explode
        # there while a broadcast full scan costs a few flops per point.
        # The absolute row cap bounds the driver collect + closure size
        # even when the point set is tiny (flop gate alone would admit
        # multi-million-row collects).
        if (n_left * ext["n"] <= 4e9 and n_left <= 200_000) or n_left <= _SMALL_BATCH:
            # cnt/kth ride along: a straggler's carried k-th distance
            # is the exact box-prune bound for the brute scan
            rows = next_frontier.select(
                "qid", "qx", "qy", "cnt", "kth",
                *[f"qe{i}" for i in range(n_extra)],
            ).collect()
            finished_parts.append(
                _small_frontier_knn(points, rows, k, extra_cols=extra_cols)
            )
            brute_tail = n_left
            break
        frontier = next_frontier
    else:
        raise RuntimeError(
            f"knn_for_queries did not converge in {cfg.max_rounds} rounds"
        )

    _record_stats(rounds_run, shipped_rows, ext["n"], brute_tail)
    out = finished_parts[0]
    for part in finished_parts[1:]:
        out = out.unionByName(part)
    # bound the output partition count: the union concatenates one
    # partition set per ring round
    return out.coalesce(max(spark.sparkContext.defaultParallelism, 2))


def _graph_limit(k: int, n_extra: int) -> int:
    """Most points whose self graph is built on the driver: the copy and
    its n * k graph rows fit ``_RESIDENT_MAX_BYTES`` (``fits_resident``;
    ~165k 2-D points at k = 10), and at most ``_GRAPH_MAX_POINTS``."""
    return min(_RESIDENT_MAX_BYTES // resident_bytes(1, k, n_extra), _GRAPH_MAX_POINTS)


def _resident_graph(points: DataFrame, k: int, extra_cols: tuple, extent) -> DataFrame | None:
    """build_knn_graph's driver path: every point's row of the graph from
    ``_ResidentIndex.knn`` over the driver copy, as a local frame, or None
    when the point set is past ``_graph_limit``.  A held copy costs no
    job; otherwise at most the limit plus one row is collected in one
    job."""
    import pyarrow as pa

    limit = _graph_limit(k, len(extra_cols))
    if not limit or (extent is not None and not 0 < extent["n"] <= limit):
        return None
    index = _resident_index(points, extra_cols, limit=limit)
    if index is None or index.n > limit:
        return None
    _record_stats(0, 0, index.n, 0)
    spark = points.sparkSession
    # an empty copy holds no coordinate arrays
    cols = index.knn(index.ids, index.xs, index.ys, index.es, k) if index.n else None
    if cols is None:
        return spark.createDataFrame([], _GRAPH_SCHEMA)
    return spark.createDataFrame(
        pa.table({"src": cols["qid"], "dst": cols["id"], "dist": cols["dist"], "rank": cols["rank"]})
    )


def build_knn_graph(
    points: DataFrame,
    k: int,
    spec: GridSpec | None = None,
    cfg: EngineConfig | None = None,
    extra_cols: tuple = (),
    extent=None,
) -> DataFrame:
    """The materialized kNN graph: every point's k nearest neighbors
    INCLUDING itself at distance 0.0 / rank 1 (reference invariant:
    a point seeds its own heap with (0.0, self), rindex.rs:481;
    confirmed by neighbors_of in usage.rs:16-17 and the demo edge list
    self-loops, demo/data/knn.csv:1).

    returns: (src long, dst long, dist double, rank int)

    Built on the driver.  A point set whose copy and n * k graph rows fit
    ``_RESIDENT_MAX_BYTES`` (``fits_resident``: ~165k 2-D points at
    k = 10) and of at most ``_GRAPH_MAX_POINTS`` (50,000, below the
    measured crossover with the ring path) points is answered from
    the driver copy (``_ResidentIndex.knn``, the batched kernel that
    serves ``knn_for_queries``' batches; rows bit-identical to the ring
    path) and returned as a local DataFrame, with zero stats and no ring
    round.  ``extent``'s n, when given, decides the gate with no job.
    The copy is found as ``knn_for_queries`` finds it: a registered table
    or a persisted frame's held copy costs no job; otherwise at most the
    gate's size plus one row is collected in one job, and a frame that
    proves larger goes to the ring path.  A persisted frame's collected
    copy is held, so a later ``knn_for_queries`` on it collects no
    points.  Larger sets run the ring rounds of ``knn_for_queries``.  On
    both paths a point with a null id, or a null, NaN or infinite
    coordinate, gets no rows and is nobody's neighbour.
    """
    extra_cols = tuple(extra_cols)
    if k > 0:
        graph = _resident_graph(points, k, extra_cols, extent)
        if graph is not None:
            return graph
    queries = points.select(F.col("id").alias("qid"), "x", "y", *extra_cols)
    g = knn_for_queries(
        points, queries, k, spec=spec, cfg=cfg,
        queries_within_extent=True, extra_cols=extra_cols, extent=extent,
    )
    return g.select(
        F.col("qid").alias("src"), F.col("id").alias("dst"), "dist", "rank"
    )