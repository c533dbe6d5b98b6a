from __future__ import annotations

import contextlib

import numpy as np
import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("rindex-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


def count_jobs(spark, fn):
    """Run fn; return (its result, [per Spark job it started: the task
    counts of the job's stages]).  ``len`` of the list is the job count."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    new = sorted(set(tracker.getJobIdsForGroup(None)) - before)
    tasks = []
    for j in new:
        info = tracker.getJobInfo(j)
        tasks.append([tracker.getStageInfo(s).numTasks for s in info.stageIds])
    return out, tasks


# build_knn_graph's two paths: the driver kernel for an in-budget point
# set, and the ring rounds, forced by a driver byte budget of 0
GRAPH_PATHS = ("driver", "ring")


@contextlib.contextmanager
def graph_path(monkeypatch, path: str):
    """Run the body with build_knn_graph on ``path`` (one of GRAPH_PATHS)."""
    from rindex_spark.operators import knn as knn_mod

    with monkeypatch.context() as m:
        if path == "ring":
            m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
        yield


def brute_knn(coords: np.ndarray, ids: np.ndarray, k: int):
    """Brute-force kNN oracle INCLUDING self at distance 0 — mirrors the
    reference's BruteForceNeighbors oracle (lib/tests/graph.rs:75-174).

    Returns dict src_id -> sorted list[(dist, dst_id)] of length
    min(k, n), tie-broken by id (canonical order; the reference compares
    distance multisets only)."""
    n = len(ids)
    out = {}
    if n == 0:
        return out
    d2 = ((coords[:, None, :] - coords[None, :, :]) ** 2).sum(-1)
    d = np.sqrt(d2)
    kk = min(k, n)
    for i in range(n):
        order = sorted(range(n), key=lambda j: (d[i, j], ids[j]))[:kk]
        out[int(ids[i])] = [(float(d[i, j]), int(ids[j])) for j in order]
    return out


def brute_knn_queries(qcoords, pcoords, pids, k):
    """Brute-force kNN of arbitrary query points against a point set."""
    res = []
    for q in qcoords:
        d = np.sqrt(((pcoords - q) ** 2).sum(-1))
        order = sorted(range(len(pids)), key=lambda j: (d[j], pids[j]))[: min(k, len(pids))]
        res.append([(float(d[j]), int(pids[j])) for j in order])
    return res
