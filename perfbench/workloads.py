"""The two workloads.  Each takes a ``Ctx`` and returns its end-to-end
figures; answers are kept and checked after the timed phase, so the
checks cost no measured time.

Every workload runs whole rounds of the same operations until the timed
phase has lasted ``ctx.seconds``.  In a traced run every call runs in a
job group, and the operations of each kind alternate between hooked
(``RINDEX_KNN_STATS=1``, which adds one job per kNN round) and unhooked:
the engine's kNN stats are read from the hooked half, times and event-log
counts from the unhooked half, and the two halves give the hook's
overhead.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs
from host import du_bytes
from inputs import CHURN_BATCH, K

import rindex_spark as rx
from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.operators import knn as knn_mod
from rindex_spark.plans.batches import IndexState, apply_batch
from rindex_spark.plans.checkpoint import BatchCheckpointer
from rindex_spark.sources.pages import points_from_pages

N_PAGES = 5000  # build: pages per repetition
# build: repetitions per round; a run times one round, and with one
# repetition a single slow stretch of the machine set a run's figures
BUILD_ROUND = 3
N_INDEX = 5000  # serve: clustered index size
N_CHURN = 2000  # serve: initial uniform churn index size
GRAPH_SAMPLE = 300  # sources checked by brute force per graph
STATE_SAMPLE = 100  # untouched sources checked by brute force per state


class Ctx:
    def __init__(self, spark, tracer, tmp: str, seed: int, seconds: float, trace: bool, t0: float):
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0  # process start: set-up time counts from here
        self.attempted = 0
        self.failed = 0
        self.n_by_name: dict[str, int] = {}
        self.setup_s = None
        self.warmup_s = 0.0
        self.gc_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def op(self, name: str, fn, **attrs):
        """One timed operation: returns (result or None, span record)."""
        seen = self.n_by_name.get(name, 0)
        self.n_by_name[name] = seen + 1
        hooked = self.trace and seen % 2 == 0
        self.attempted += 1
        if hooked:
            os.environ["RINDEX_KNN_STATS"] = "1"
        try:
            with self.tracer.span(name, hooked=hooked, **attrs) as rec:
                try:
                    out = fn()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.failed += 1
                    rec["failed"] = True
                    out = None
                if hooked and knn_mod.last_run_stats:
                    rec["knn_stats"] = dict(knn_mod.last_run_stats)
                    knn_mod.last_run_stats.clear()
        finally:
            # run.py starts every run with the hook off
            os.environ.pop("RINDEX_KNN_STATS", None)
        return out, rec

    def warm(self, fn):
        """A warm-up call: untimed, counted in set-up, must not fail."""
        t = time.monotonic()
        with self.tracer.span("warmup"):
            out = fn()
        self.warmup_s += time.monotonic() - t
        return out

    def setup_done(self) -> None:
        self.setup_s = time.monotonic() - self.t0
        self.gc0 = jvm_gc_s(self.spark)
        self.phase0 = time.monotonic()

    def timed_out(self) -> bool:
        """True once the phase has lasted ``seconds``; a traced run also
        needs every kind of operation run both hooked and unhooked."""
        if self.trace and min(self.n_by_name.values(), default=0) < 2:
            return False
        return time.monotonic() - self.phase0 >= self.seconds

    def phase_done(self) -> None:
        self.phase_s = time.monotonic() - self.phase0
        self.gc_s = jvm_gc_s(self.spark) - self.gc0


def jvm_gc_s(spark) -> float:
    """Total collection time of the JVM's collectors (driver and executor
    share one JVM in local mode)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1e3


def queries_df(spark, qids: np.ndarray, xy: np.ndarray, radius: float | None = None):
    cols = {"qid": qids.astype(np.int64), "x": xy[:, 0], "y": xy[:, 1]}
    if radius is not None:
        cols["radius"] = np.full(len(qids), radius)
    return spark.createDataFrame(pd.DataFrame(cols))


def arrays(table, *cols):
    return [table.column(c).to_numpy() for c in cols]


def read_parquet(path: str):
    return pq.read_table(path)


# --------------------------------------------------------------------------
# build: pages table -> extract -> tiles + exact k=10 graph -> parquet


def build(ctx: Ctx) -> dict:
    spark = ctx.spark
    table, ref_ids, ref_xy = inputs.pages_table(inputs.stream(ctx.seed, "pages"), N_PAGES)
    n_files = spark.sparkContext.defaultParallelism
    os.makedirs(ctx.path("pages"))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), ctx.path("pages", f"part-{i}.parquet"))
    tiles, centres = inputs.diamond_tiles()
    # cell of a quarter tile: each tile's bounding box covers 8x8 cells
    spec = GridSpec(cell_size=inputs.TILE_R / 4, x0=inputs.LON[0], y0=inputs.LAT[0])

    def rep(src: str, out: str) -> None:
        pages = spark.read.parquet(src)
        with ctx.tracer.span("pages.extract"):
            pts = points_from_pages(pages).persist()
            pts.count()
        with ctx.tracer.span("tiling.assign"):
            rx.assign_tiles(pts, tiles, spec, inclusive_l1_diamond=inputs.TILE_R).write.parquet(
                os.path.join(out, "tiles")
            )
        with ctx.tracer.span("knn.build") as rec:
            rx.build_knn_graph(pts, K).write.parquet(os.path.join(out, "graph"))
        if knn_mod.last_run_stats:
            rec["knn_stats"] = dict(knn_mod.last_run_stats)
            knn_mod.last_run_stats.clear()
        pts.unpersist()
        rx.release_round_states()

    # a session's first build runs ~3x slower than later ones; a warm-up
    # on the full table costs no more than one on a tenth of it and
    # leaves the next build less slow (18-31 % slower than the one after
    # it, against 30-43 % after a 500-page warm-up, in two runs each)
    ctx.warm(lambda: rep(ctx.path("pages"), ctx.path("warm")))
    shutil.rmtree(ctx.path("warm"))
    ctx.setup_done()
    reps = []
    while True:
        for _ in range(BUILD_ROUND):
            out = ctx.path("out", f"rep-{len(reps)}")
            _, rec = ctx.op("build.rep", lambda: rep(ctx.path("pages"), out), out=out)
            reps.append(rec)
        if ctx.timed_out():
            break
    ctx.phase_done()

    ok = [r for r in reps if not r.get("failed")]
    sizes = [du_bytes(r["out"]) for r in ok]
    points = checks.PointSet(ref_ids, ref_xy)
    sample = inputs.stream(ctx.seed, "graph-sample").choice(len(points), GRAPH_SAMPLE, replace=False)
    for r in ok:
        g = read_parquet(os.path.join(r["out"], "graph"))
        src, dst, dist, rank = arrays(g, "src", "dst", "dist", "rank")
        checks.check_knn_rows(src, dst, dist, rank, points.ids, K, len(points), self_first=True)
        checks.check_knn_exact(
            src, dst, dist, rank, points.ids[sample], points.xy[sample], points, K
        )
        t = read_parquet(os.path.join(r["out"], "tiles"))
        pid, tid = arrays(t, "id", "tile_id")
        checks.check_tiles(pid, tid, points, centres, inputs.TILE_R)
        r["tiling_pairs"] = len(pid)
    rep_ms = statistics.median(ms(r) for r in ok)
    layers = {}
    if ctx.trace:
        layers = build_prefixes(ctx, tiles, spec)
        layers["tiling.pairs"] = ok[0]["tiling_pairs"]
    return {
        "e2e": {
            "latency_p50_ms": rep_ms,
            "throughput_per_s": N_PAGES / (rep_ms / 1e3),
            "storage_mb": statistics.median(sizes) / 2**20,
        },
        "layers": layers,
    }


def build_prefixes(ctx: Ctx, tiles, spec) -> dict:
    """Self time of each build layer: run extract; extract + tiles;
    extract + graph into a noop sink and take differences."""
    spark = ctx.spark

    def prefix(step) -> float:
        t = time.monotonic()
        with ctx.tracer.span("prefix"):
            pts = points_from_pages(spark.read.parquet(ctx.path("pages"))).persist()
            pts.count()
            if step is not None:
                step(pts).write.format("noop").mode("overwrite").save()
            pts.unpersist()
            rx.release_round_states()
        return time.monotonic() - t

    t_e = prefix(None)
    t_et = prefix(lambda p: rx.assign_tiles(p, tiles, spec, inclusive_l1_diamond=inputs.TILE_R))
    t_eg = prefix(lambda p: rx.build_knn_graph(p, K))
    return {"pages.extract_s": t_e, "tiling.assign_s": t_et - t_e, "knn.build_s": t_eg - t_e}


def brute_index(ctx: Ctx, name: str, ids: np.ndarray, xy: np.ndarray):
    """Points and their exact kNN graph, computed in numpy, written as
    parquet under ``name`` and read back persisted.  The index is built
    apart from the engine: a first engine build costs 10-30 s of JIT
    warm-up in set-up, which the build workload measures already."""
    src, dst, dist, rank = checks.brute_graph(ids, xy, K)
    out = []
    for part, table in (
        ("points", pa.table({"id": ids, "x": xy[:, 0], "y": xy[:, 1]})),
        ("graph", pa.table({"src": src, "dst": dst, "dist": dist, "rank": rank})),
    ):
        os.makedirs(ctx.path(name, part))
        pq.write_table(table, ctx.path(name, part, "part-0.parquet"))
        df = ctx.spark.read.parquet(ctx.path(name, part)).persist()
        df.count()
        out.append(df)
    return out


# --------------------------------------------------------------------------
# serve: kNN / range / reverse-kNN batches on a clustered index, beside
# durable insert/delete micro-batches folded into a uniform index


def fingerprint(ins, dels) -> str:
    return hashlib.sha256(repr((ins, dels)).encode()).hexdigest()[:16]


def serve(ctx: Ctx) -> dict:
    spark = ctx.spark
    # the read-only clustered index
    cities = inputs.Cities()
    rng = inputs.stream(ctx.seed, "index")
    xy = cities.sample(rng, N_INDEX)
    ids = inputs.unique_ids(rng, N_INDEX)
    pts, graph = brute_index(ctx, "index", ids, xy)
    spec, ext = rx.grid_and_extent(pts, EngineConfig(k=K))
    with ctx.tracer.span("rknn.stats") as stats_rec:
        stats = rx.rknn_stats(pts, graph, K, spec)
    # the churn index, committed durably as state 0
    rng = inputs.stream(ctx.seed, "churn-index")
    cids = inputs.unique_ids(rng, N_CHURN)
    cxy = inputs.uniform_square(rng, N_CHURN)
    pts0, graph0 = brute_index(ctx, "index0", cids, cxy)
    cspec, ext_row = rx.grid_and_extent(pts0, EngineConfig(k=K))
    cext = ext_row.asDict()
    ckpt = BatchCheckpointer(ctx.path("ckpt"))
    p, g = ckpt.write(spark, 0, pts0, graph0, fingerprint([], []))
    pts0.unpersist()
    graph0.unpersist()
    state = IndexState(points=p, graph=g, k=K)
    ops = inputs.OpStream(ctx.seed, cids, cxy, CHURN_BATCH)
    qrng = inputs.stream(ctx.seed, "churn-queries")
    folds = []  # [batch id, inserts, deletes, fold record, [(qxy, kNN answer)]]

    def call(kind: str, qids, qxy):
        if kind == "knn":
            out = rx.knn_for_queries(pts, queries_df(spark, qids, qxy), K, spec=spec, extent=ext)
        elif kind == "range":
            q = queries_df(spark, qids, qxy, inputs.RANGE_RADIUS)
            out = rx.range_join(pts, q, spec=spec, extent=ext)
        elif kind == "rknn":
            out = rx.reverse_knn(pts, graph, queries_df(spark, qids, qxy), K, spec, stats=stats)
        else:  # knn.churn
            q = queries_df(spark, qids, qxy)
            out = rx.knn_for_queries(state.points, q, K, spec=cspec, extent=cext)
        return out.toArrow()

    def fold(ins, dels):
        nonlocal state
        b = len(folds)
        with ctx.tracer.span("batches.apply"):
            new = apply_batch(
                state,
                spark.createDataFrame(ins, "id long, x double, y double"),
                spark.createDataFrame([(d,) for d in dels], "id long"),
                spec=cspec,
                n_inserts=len(ins),
                n_deletes=len(dels),
                materialize=False,
                extent=cext,
            )
        with ctx.tracer.span("checkpoint.write"):
            p, g = ckpt.write(spark, b, new.points, new.graph, fingerprint(ins, dels))
        state = IndexState(points=p, graph=g, k=K)
        cext["n"] += len(ins) - len(dels)
        if ins:
            a = np.array([(x, y) for _, x, y in ins])
            cext["xmin"] = min(cext["xmin"], a[:, 0].min())
            cext["xmax"] = max(cext["xmax"], a[:, 0].max())
            cext["ymin"] = min(cext["ymin"], a[:, 1].min())
            cext["ymax"] = max(cext["ymax"], a[:, 1].max())

    def next_fold():
        ins, dels = ops.next_batch()
        item = [len(folds) + 1, ins, dels, None, []]
        folds.append(item)
        return item, lambda: fold(ins, dels)

    # the warm-up fold commits state 1; it runs the engine's kNN repair,
    # so the query warm-ups after it are short
    item, run = next_fold()
    ctx.warm(run)
    item[3] = {}
    warm_plan = inputs.QueryPlan(ctx.seed + 1_000_003, cities)
    for kind in ("knn", "range", "rknn"):
        ctx.warm(lambda kind=kind: call(kind, *warm_plan.batch(16)))
    ctx.setup_done()
    plan = inputs.QueryPlan(ctx.seed, cities)
    batches = []  # (record, qids, qxy, answer) on the clustered index
    broken = False
    while not broken:
        for kind, n in inputs.SERVE_ROUND:
            if kind == "fold":
                item, run = next_fold()
                _, item[3] = ctx.op("churn.fold", run, batch=item[0])
                if item[3].get("failed"):
                    broken = True  # the durable state is unknown after a failed fold
                    break
            elif kind == "knn.churn":
                qxy = inputs.uniform_square(qrng, n)
                qids = np.arange(n, dtype=np.int64)
                ans, _ = ctx.op("knn.small", lambda: call(kind, qids, qxy), kind="knn", n=n)
                folds[-1][4].append((qxy, ans))
            else:
                qids, qxy = plan.batch(n)
                name = f"{kind}.{'bulk' if n >= inputs.BULK else 'small'}"
                ans, rec = ctx.op(name, lambda: call(kind, qids, qxy), kind=kind, n=n)
                batches.append((rec, qids, qxy, ans))
        if ctx.timed_out():
            break
    ctx.phase_done()

    points = checks.PointSet(ids, xy)
    kdist = checks.kth_dist(points.xy, K)
    for rec, qids, qxy, ans in batches:
        if ans is None:
            continue
        if rec["kind"] == "knn":
            q, i, d, r = arrays(ans, "qid", "id", "dist", "rank")
            checks.check_knn_rows(q, i, d, r, qids, K, len(points), self_first=False)
            checks.check_knn_exact(q, i, d, r, qids, qxy, points, K)
        elif rec["kind"] == "range":
            q, i, d = arrays(ans, "qid", "id", "dist")
            checks.check_range(q, i, d, qids, qxy, inputs.RANGE_RADIUS, points)
        else:
            q, i, d = arrays(ans, "qid", "id", "dist")
            checks.check_rknn(q, i, d, qids, qxy, kdist, points)
        rec["rows"] = ans.num_rows
    changed = check_churn(ctx, ckpt, cids, cxy, folds)
    stats["stats"].unpersist()

    ok = [s for s in ctx.tracer.spans if "hooked" in s and not s.get("failed")]
    answered = sum(s["n"] for s in ok if "n" in s)
    committed = CHURN_BATCH * sum(1 for s in ok if s["name"] == "churn.fold")
    states = [ckpt.path(b) for b in range(len(folds) + 1)]
    state_bytes = statistics.median(du_bytes(p) for p in states if os.path.exists(p))
    return {
        "e2e": {
            "latency_p50_ms": statistics.median(ms(s) for s in ok if s["name"] == "knn.small"),
            "throughput_per_s": (answered + committed) / ctx.phase_s,
            "storage_mb": (du_bytes(ctx.path("index")) + state_bytes) / 2**20,
        },
        "layers": {"rknn.stats_s": ms(stats_rec) / 1e3},
        "changed": changed,
    }


def check_churn(ctx: Ctx, ckpt, ids, xy, folds) -> dict:
    """Replay the op stream and check every committed state and every kNN
    answer on it; returns, per timed batch, graph rows changed, rows
    written and bytes on disk."""
    live = dict(zip(ids.tolist(), map(tuple, xy.tolist())))
    deleted: list[int] = []
    prev = checks.PointSet(ids, xy)
    prev_kdist = checks.kth_dist(prev.xy, K)
    sample_rng = inputs.stream(ctx.seed, "state-sample")

    def load(b):
        pt = read_parquet(os.path.join(ckpt.path(b), "points"))
        gt = read_parquet(os.path.join(ckpt.path(b), "graph"))
        i, x, y = arrays(pt, "id", "x", "y")
        g = dict(zip(("src", "dst", "dist", "rank"), arrays(gt, "src", "dst", "dist", "rank")))
        return i, np.column_stack([x, y]), g

    pi, pxy, prev_g = load(0)
    sample = sample_rng.choice(len(prev), STATE_SAMPLE, replace=False)
    checks.check_state(pi, pxy, prev_g, prev, np.array([], np.int64), prev.ids[sample], K)
    changed = {}
    for b, ins, dels, rec, answers in folds:
        if rec is None or rec.get("failed"):
            break  # no state was committed from here on
        for d in dels:
            del live[d]
        deleted.extend(dels)
        for pid, x, y in ins:
            live[pid] = (x, y)
        cur = checks.PointSet(np.fromiter(live, np.int64, len(live)), np.array(list(live.values())))
        lost = checks.lost_neighbour(prev, prev_kdist, np.array(dels, np.int64), cur)
        pick = sample_rng.choice(len(cur), STATE_SAMPLE, replace=False)
        exact = np.concatenate([np.array([i for i, _, _ in ins], np.int64), lost, cur.ids[pick]])
        pi, pxy, g = load(b)
        checks.check_state(pi, pxy, g, cur, np.array(deleted, np.int64), exact, K)
        for qxy, ans in answers:
            if ans is None:
                continue
            q, i, d, r = arrays(ans, "qid", "id", "dist", "rank")
            qids = np.arange(len(qxy), dtype=np.int64)
            checks.check_knn_rows(q, i, d, r, qids, K, len(cur), self_first=False)
            checks.check_knn_exact(q, i, d, r, qids, qxy, cur, K)
        old = set(zip(prev_g["src"].tolist(), prev_g["dst"].tolist(), prev_g["rank"].tolist()))
        new = zip(g["src"].tolist(), g["dst"].tolist(), g["rank"].tolist())
        if "hooked" in rec:  # a timed fold
            changed[b] = {
                "changed_rows": sum(1 for t in new if t not in old),
                "rows_written": len(pi) + len(g["src"]),
                "bytes": du_bytes(ckpt.path(b)),
            }
        prev, prev_g = cur, g
        prev_kdist = checks.kth_dist(prev.xy, K)
    return changed


# --------------------------------------------------------------------------
# per-layer figures of a traced run

LAYER_METRICS = {
    "pages.extract_s": "s",
    "tiling.assign_s": "s",
    "tiling.pairs": "count",
    "knn.build_s": "s",
    "knn.rounds": "count",
    "knn.shipped_rows": "count",
    "knn.replication": "ratio",
    "knn.brute_tail_queries": "count",
    "knn.cpu_s": "s",
    "knn.shuffle_mb": "MiB",
    "knn.call_ms": "ms",
    "knn.jobs_per_call": "count",
    "knn.tasks_per_call": "count",
    "range.call_ms": "ms",
    "range.jobs_per_call": "count",
    "range.rows_per_query": "count",
    "rknn.stats_s": "s",
    "rknn.call_ms": "ms",
    "rknn.jobs_per_call": "count",
    "rknn.rows_per_query": "count",
    "batches.apply_ms": "ms",
    "batches.jobs_per_fold": "count",
    "batches.changed_rows_per_op": "count",
    "checkpoint.write_ms": "ms",
    "checkpoint.bytes_per_op": "B",
    "checkpoint.rows_written_per_changed_row": "ratio",
    "spark.session_s": "s",
    "spark.warmup_s": "s",
    "spark.gc_s": "s",
    "trace.overhead_pct": "%",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(ctx: Ctx, res: dict, counts: dict, session_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0.
    The engine's kNN stats come from hooked operations; times and
    event-log counts from unhooked ones and from set-up, so the hook's
    extra jobs are not in them."""
    spans = ctx.tracer.spans
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    def of(name, hooked=False):
        """Spans of ``name`` in timed operations run hooked (or not), or
        in set-up outside the warm-up calls."""
        out = []
        for s in spans:
            if s["name"] != name or s.get("failed"):
                continue
            r = root(s)
            if r["name"] != "warmup" and r.get("hooked", False) == hooked:
                out.append(s)
        return out

    out = {name: 0.0 for name in LAYER_METRICS}
    bulk = {"build": "knn.build", "serve": "knn.bulk"}.get(res["workload"])
    if bulk:
        st = [s["knn_stats"] for s in of(bulk, hooked=True) if "knn_stats" in s]
        for key in ("rounds", "shipped_rows", "replication", "brute_tail_queries"):
            out[f"knn.{key}"] = _med(x[key] for x in st)
        plain = of(bulk)
        out["knn.cpu_s"] = _med(counts[s["id"]]["cpu_s"] for s in plain)
        out["knn.shuffle_mb"] = _med(counts[s["id"]]["shuffle_mb"] for s in plain)
    for layer, names in (
        ("knn", ("knn.small",)),
        ("range", ("range.small",)),
        ("rknn", ("rknn.small",)),
    ):
        cs = [s for n in names for s in of(n)]
        if cs:
            out[f"{layer}.call_ms"] = _med(ms(s) for s in cs)
            out[f"{layer}.jobs_per_call"] = _med(counts[s["id"]]["jobs"] for s in cs)
        if layer == "knn" and cs:
            out["knn.tasks_per_call"] = _med(counts[s["id"]]["tasks"] for s in cs)
    for layer in ("range", "rknn"):
        cs = [s for s in spans if s.get("kind") == layer and "rows" in s]
        if cs:
            out[f"{layer}.rows_per_query"] = sum(s["rows"] for s in cs) / sum(s["n"] for s in cs)
    applies, writes = of("batches.apply"), of("checkpoint.write")
    if applies:
        out["batches.apply_ms"] = _med(ms(s) for s in applies)
        out["checkpoint.write_ms"] = _med(ms(s) for s in writes)
        out["batches.jobs_per_fold"] = _med(
            counts[a["id"]]["jobs"] + counts[w["id"]]["jobs"] for a, w in zip(applies, writes)
        )
    changed = res.get("changed") or {}
    if changed:
        ops = CHURN_BATCH
        out["batches.changed_rows_per_op"] = _med(c["changed_rows"] / ops for c in changed.values())
        out["checkpoint.bytes_per_op"] = _med(c["bytes"] / ops for c in changed.values())
        out["checkpoint.rows_written_per_changed_row"] = _med(
            c["rows_written"] / max(c["changed_rows"], 1) for c in changed.values()
        )
    out.update(res.get("layers", {}))
    out["spark.session_s"] = session_s
    out["spark.warmup_s"] = ctx.warmup_s
    out["spark.gc_s"] = ctx.gc_s
    out["trace.overhead_pct"] = overhead_pct(spans)
    return out


def overhead_pct(spans) -> float:
    """Overhead of the stats hook: for each kind of timed operation, the
    ratio of the median hooked time to the median unhooked time; the
    median ratio, as a percentage above 1.  Both halves run in job groups
    with the event log on, so the cost of those is not in this figure."""
    kinds: dict[str, dict[bool, list]] = {}
    for s in spans:
        if "hooked" in s and not s.get("failed"):
            kinds.setdefault(s["name"], {True: [], False: []})[s["hooked"]].append(ms(s))
    ratios = [
        statistics.median(v[True]) / statistics.median(v[False])
        for v in kinds.values()
        if v[True] and v[False]
    ]
    return 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0


WORKLOADS = {"build": build, "serve": serve}
