"""Edge-case contracts of the ANN scoring paths (r2 advisor item):
null / ragged / zero-norm vectors must never silently drop rows or
poison rankings — they score -1.0 everywhere, identically in the
matmul scan, the pair UDF, and the crossjoin fallback."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rindex_spark.operators.ann import (
    _pair_cosine_kernel,
    cosine_topk,
    embedding_near_dup,
    ivf_cosine_topk,
    lsh_cosine_topk,
    pair_cosine_udf,
    train_ivf_centroids,
)


def test_pair_cosine_kernel_edges():
    a = pd.Series(
        [
            [1.0, 0.0],          # clean
            None,                # null vector
            [1.0, 0.0, 0.0],     # ragged vs b
            [0.0, 0.0],          # zero norm
            [3.0, 4.0],          # clean, non-unit
        ]
    )
    b = pd.Series(
        [
            [1.0, 0.0],
            [1.0, 0.0],
            [1.0, 0.0],
            [1.0, 0.0],
            [3.0, 4.0],
        ]
    )
    out = _pair_cosine_kernel(a, b).tolist()
    assert out[0] == 1.0
    assert out[1] == -1.0 and out[2] == -1.0 and out[3] == -1.0
    assert out[4] == 1.0
    # sequential-fold exactness vs a hand-rolled left-to-right fold
    rng = np.random.default_rng(3)
    x = rng.standard_normal(64)
    y = rng.standard_normal(64)
    d = na = nb = 0.0
    for j in range(64):
        d = d + x[j] * y[j]
        na = na + x[j] * x[j]
        nb = nb + y[j] * y[j]
    expected = d / (np.sqrt(na) * np.sqrt(nb))
    got = _pair_cosine_kernel(pd.Series([list(x)]), pd.Series([list(y)])).iloc[0]
    assert got == expected  # bit-identical, not approx


def test_cosine_topk_ragged_rows_not_dropped(spark):
    """A null or ragged corpus row must not silently drop its whole
    Arrow batch (the r2 bug): clean rows in the same batch still rank,
    and the bad rows themselves appear at score -1.0 exactly like the
    crossjoin fallback scores them."""
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, None),           # null embedding
            (3, [1.0, 0.0, 0.0]),  # ragged
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(100, [1.0, 0.0])], "qid long, embedding array<double>")
    rows = {r["neighbor_id"]: (r["score"], r["rank"]) for r in cosine_topk(corpus, q, k=4).collect()}
    assert rows[0][1] == 1 and rows[0][0] == 1.0
    assert rows[1][1] == 2
    # bad rows present, scored -1.0, ranked last (ties by id)
    assert rows[2] == (-1.0, 3) and rows[3] == (-1.0, 4)


def _clustered_vecs(n, dim, seed=0):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((4, dim))
    out = []
    for i in range(n):
        v = base[i % 4] + 0.01 * rng.standard_normal(dim)
        out.append((i, [float(x) for x in v]))
    return out


def test_ivf_null_query_no_duplicate_ranks(spark):
    """r3 advisor (medium): a null query embedding used to emit
    n_probe identical probes -> duplicate (qid, neighbor_id) pairs
    occupying several ranks.  Null queries now take ONE sentinel probe:
    every (qid, neighbor_id) appears at most once and ranks are dense
    from 1."""
    corpus = spark.createDataFrame(
        _clustered_vecs(40, 8), "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(900, None), (901, _clustered_vecs(1, 8, seed=5)[0][1])],
        "qid long, embedding array<double>",
    )
    out = ivf_cosine_topk(corpus, q, k=4, n_centroids=4, n_probe=3).collect()
    seen = set()
    for r in out:
        key = (r["qid"], r["neighbor_id"])
        assert key not in seen, f"duplicate candidate {key}"
        seen.add(key)
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r["rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # null query's candidates (cluster-0 members) all score -1.0
    for r in out:
        if r["qid"] == 900:
            assert r["score"] == -1.0


def test_ivf_empty_and_degenerate_corpus(spark):
    """r3 advisor (low): empty / all-null / all-zero-norm corpora used
    to raise AxisError in train_ivf_centroids; now they short-circuit
    to an empty result like the other ANN paths."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "qid long, embedding array<double>"
    )
    assert ivf_cosine_topk(empty, q, k=3, n_centroids=4).count() == 0
    allnull = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    assert ivf_cosine_topk(allnull, q, k=3, n_centroids=4).count() == 0
    zeros = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert train_ivf_centroids(zeros, 4).size == 0


def test_lsh_paths_survive_null_and_ragged_rows(spark):
    """r3 verdict item 4: a null/ragged embedding reaching the
    hyperplane signature UDF raised np.vstack errors in the executor.
    Bad rows now take the sentinel bucket -1 and are filtered out of
    the bucket join: the job completes, clean rows still rank, bad
    rows form no candidates."""
    dim = 8
    rows = _clustered_vecs(30, dim)
    corpus = spark.createDataFrame(
        rows + [(100, None), (101, [1.0, 2.0])],  # null + ragged (dim 2)
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(500, rows[0][1]), (501, None)], "qid long, embedding array<double>"
    )
    out = lsh_cosine_topk(
        corpus, q, k=3, dim=dim, n_planes=6, n_tables=4
    ).collect()
    assert any(r["qid"] == 500 for r in out)  # clean query still ranks
    for r in out:
        assert r["neighbor_id"] not in (100, 101)  # bad rows never rank
        assert r["qid"] != 501  # null query yields no candidates

    dup = embedding_near_dup(
        corpus, threshold=0.9, dim=dim, n_planes=6, n_tables=4
    ).collect()
    assert len(dup) > 0  # the clustered clean rows still pair up
    for r in dup:
        assert r["id_a"] not in (100, 101) and r["id_b"] not in (100, 101)


def test_pair_udf_matches_kernel_through_spark(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0], [2.0, 1.0]), (1, None, [1.0, 0.0])],
        "i long, a array<double>, b array<double>",
    )
    got = {r["i"]: r["s"] for r in df.select("i", pair_cosine_udf("a", "b").alias("s")).collect()}
    assert got[1] == -1.0
    assert abs(got[0] - 4.0 / 5.0) < 1e-15


def _refine_partitions(df) -> list[int]:
    """The round-robin partition counts in ``df``'s physical plan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)]


def test_near_dup_refine_partitions_follow_the_corpus(spark):
    """The refine's pair stream is no longer pinned to core count: a
    corpus read in more partitions than cores spreads it that wide; the
    pairs do not change."""
    dim = 8
    rows = _clustered_vecs(40, dim)
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cores = spark.sparkContext.defaultParallelism
    # hash-partitioned, so the only round-robin exchange is the refine's
    wide = base.repartition(cores * 3, "vec_id")

    def pairs(df):
        return sorted((r["id_a"], r["id_b"], r["score"]) for r in df.collect())

    default = embedding_near_dup(wide, threshold=0.9, dim=dim, n_planes=6, n_tables=4)
    assert _refine_partitions(default) == [cores * 3]
    narrow = embedding_near_dup(base.coalesce(1), threshold=0.9, dim=dim, n_planes=6, n_tables=4)
    # the signature pass spreads a one-partition corpus to core count
    # too; the refine stays at core count
    assert set(_refine_partitions(narrow)) == {cores}
    got = pairs(default)
    assert got and got == pairs(narrow)
