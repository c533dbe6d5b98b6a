"""Checkpoint/resume (north_rule): kill a replay mid-run, rerun with
the same checkpoint dir, output must be identical and completed batches
must NOT re-execute."""

from __future__ import annotations

import json
import os

from rindex_spark.datagen import generate_ops
from rindex_spark.plans.batches import apply_ops_batches
from rindex_spark.plans.checkpoint import BatchCheckpointer, ops_fingerprint


def graph_set(state):
    return {(r["src"], r["dst"], round(r["dist"], 9)) for r in state.graph.collect()}


def test_resume_skips_completed_batches(spark, tmp_path):
    k = 4
    rows = generate_ops(80, seed=5)
    ops = spark.createDataFrame(rows, "seq long, op string, id long, x double, y double")
    ckdir = str(tmp_path / "ck")

    # full run -> golden
    golden = graph_set(apply_ops_batches(spark, ops, k, batch_size=20, checkpoint_dir=ckdir))

    # simulate a crash after batch 1: drop manifests for batches 2,3
    for b in (2, 3):
        os.remove(os.path.join(ckdir, f"batch={b}", "manifest.json"))

    # batch 0 and 1 must be skipped on rerun: poison their data dirs'
    # mtime-independent proof — capture manifest inodes before/after
    pre = {
        b: os.stat(os.path.join(ckdir, f"batch={b}", "manifest.json")).st_mtime_ns
        for b in (0, 1)
    }
    resumed = apply_ops_batches(spark, ops, k, batch_size=20, checkpoint_dir=ckdir)
    post = {
        b: os.stat(os.path.join(ckdir, f"batch={b}", "manifest.json")).st_mtime_ns
        for b in (0, 1)
    }
    assert pre == post, "completed batches were re-executed"
    assert graph_set(resumed) == golden


def test_manifest_carries_lineage_and_metrics(spark, tmp_path):
    k = 3
    rows = generate_ops(30, seed=9)
    ops = spark.createDataFrame(rows, "seq long, op string, id long, x double, y double")
    ckdir = str(tmp_path / "ck2")
    apply_ops_batches(spark, ops, k, batch_size=15, checkpoint_dir=ckdir)
    with open(os.path.join(ckdir, "batch=1", "manifest.json")) as f:
        m = json.load(f)
    assert m["status"] == "ok"
    assert m["batch_id"] == 1
    assert len(m["ops_fingerprint"]) == 16
    assert m["n_points"] > 0 and m["n_graph_rows"] > 0
    assert sum(m["graph_rows_per_partition"]) == m["n_graph_rows"]
    assert "apply" in m["timings_sec"] and "write" in m["timings_sec"]


def test_fingerprint_mismatch_forces_rerun(spark, tmp_path):
    ck = BatchCheckpointer(str(tmp_path / "ck3"))
    assert ck.find_resume_point([ops_fingerprint([(1, 0.0, 0.0)], [])]) == 0


def _data_files(ckdir, b, table):
    d = os.path.join(ckdir, f"batch={b}", table)
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_rewrite_mixing_driver_and_spark_writes(spark, tmp_path, monkeypatch):
    """Rerun the tail of a replay with the other write path: a driver
    (pyarrow) rewrite over Spark's files and a Spark rewrite over the
    driver's must each leave only the new rows, and must drop the driver
    copies registered for frames of the old files."""
    import pyarrow.parquet as pq

    from rindex_spark.operators import knn as knn_mod
    from rindex_spark.operators.knn import registered_table

    k = 4
    rows = generate_ops(80, seed=5)
    ops = spark.createDataFrame(rows, "seq long, op string, id long, x double, y double")
    ckdir = str(tmp_path / "ck")
    ckpt = BatchCheckpointer(ckdir)

    def rerun_tail(budget):
        for b in (2, 3):
            os.remove(os.path.join(ckdir, f"batch={b}", "manifest.json"))
        with monkeypatch.context() as m:
            if budget is not None:
                m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", budget)
            return graph_set(apply_ops_batches(spark, ops, k, batch_size=20, checkpoint_dir=ckdir))

    def on_disk(b):
        t = pq.read_table(os.path.join(ckdir, f"batch={b}", "graph"))
        m = ckpt.read_manifest(b)
        assert t.num_rows == m["n_graph_rows"] == sum(m["graph_rows_per_partition"])
        return {(s, d, round(x, 9)) for s, d, x in zip(*(t.column(c).to_pylist() for c in ("src", "dst", "dist")))}

    with monkeypatch.context() as m:
        m.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
        golden = graph_set(apply_ops_batches(spark, ops, k, batch_size=20, checkpoint_dir=ckdir))
    assert _data_files(ckdir, 3, "graph") != ["part-00000.snappy.parquet"]  # Spark's names

    # driver rewrite over Spark's files
    _, old_g = ckpt.load(spark, 3)
    assert registered_table(old_g) is not None
    assert rerun_tail(None) == golden
    assert registered_table(old_g) is None
    assert _data_files(ckdir, 3, "graph") == ["part-00000.snappy.parquet"]
    assert on_disk(3) == golden

    # Spark rewrite over the driver's files
    _, old_g = ckpt.load(spark, 3)
    assert registered_table(old_g) is not None
    assert rerun_tail(0) == golden
    assert registered_table(old_g) is None
    assert "part-00000.snappy.parquet" not in _data_files(ckdir, 3, "graph")
    assert on_disk(3) == golden
    assert not [f for f in os.listdir(ckdir) if f.startswith(".")]  # no temporaries left


def test_spark_write_runs_only_its_write_jobs(spark, tmp_path, monkeypatch):
    """A Spark-path commit runs its two write jobs and nothing else: the
    manifest counts come from the parquet footers, and the state is read
    back with its known schema (no count, partition-count or inference
    job)."""
    from rindex_spark.operators import knn as knn_mod

    from tests.conftest import count_jobs

    monkeypatch.setattr(knn_mod, "_RESIDENT_MAX_BYTES", 0)
    pts = spark.range(0, 50, numPartitions=3).selectExpr(
        "id", "cast(id as double) as x", "cast(0 as double) as y"
    )
    g = spark.range(0, 50, numPartitions=2).selectExpr(
        "id as src", "id as dst", "cast(0 as double) as dist", "1 as rank"
    )
    ckpt = BatchCheckpointer(str(tmp_path / "ck4"))
    (p, gg), jobs = count_jobs(spark, lambda: ckpt.write(spark, 0, pts, g, "f"))
    assert len(jobs) == 2, jobs
    m = ckpt.read_manifest(0)
    assert m["n_points"] == 50 and m["n_graph_rows"] == 50
    assert sum(m["points_rows_per_partition"]) == 50
    for a, b in ((p, pts), (gg, g)):
        assert [(f.name, f.dataType) for f in a.schema] == [(f.name, f.dataType) for f in b.schema]
    assert sorted(r["id"] for r in p.collect()) == list(range(50))
