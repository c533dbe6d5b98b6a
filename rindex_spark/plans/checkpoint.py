"""Per-batch checkpointing with lineage + metrics manifests
(BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Each applied batch writes its folded state (points + kNN graph) as
parquet under ``<dir>/batch=<n>/`` together with ``manifest.json``:
batch id, op counts, an ops fingerprint (lineage), row counts, per-stage
timings, and per-partition output row counts.  A restarted job calls
``find_resume_point`` and skips every batch whose manifest matches its
ops fingerprint — identical output, no recompute (tested by killing a
replay mid-run in tests/test_checkpoint.py).

This doubles as the fix for a driver-side pathology: chaining
``localCheckpoint`` across micro-batches compounds Catalyst's join-size
statistics (sizeInBytes products) generation over generation until plan
analysis blows up.  A parquet round-trip gives each batch a fresh
relation with real file statistics.

A state whose frames carry registered driver copies (``knn``'s copy
registry; see ``plans.batches``) is written on the driver: one snappy
parquet file per table by pyarrow, graph rows ordered by (src, rank),
into a temporary directory that then replaces ``batch=<n>``.  Any other
state is written by Spark.  Either way the manifest's counts come from
the written files (the tables, or the parquet footers), the state is read
back with its known schema, and no job runs after the write.  A state
within the driver byte budget comes back with registered copies, so the
next small fold and small kNN batch on it need no job over the state.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from rindex_spark.operators.knn import (
    drop_copies,
    fits_resident,
    register_copy,
    registered_table,
)
from rindex_spark.plans.batches import GRAPH_ARROW, POINTS_ARROW

_ARROW = (POINTS_ARROW, GRAPH_ARROW)


def ops_fingerprint(ins_rows: list, del_rows: list) -> str:
    """Deterministic lineage id for a batch's normalized ops."""
    import hashlib

    h = hashlib.sha256()
    for r in sorted(ins_rows):
        h.update(repr(r).encode())
    h.update(b"|")
    for r in sorted(del_rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _data_files(path: str) -> list[str]:
    """The parquet files of a written table, in name (= partition) order;
    Spark's and pyarrow's hidden files (``_SUCCESS``, ``.crc``) excluded."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _file_rows(path: str) -> list[int]:
    """Rows per written file, from the parquet footers (no job)."""
    return [pq.read_metadata(f).num_rows for f in _data_files(path)]


def _read_back(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """A frame over a written table with its schema given, so Spark runs
    no inference job; the schema defaults to the first file's footer."""
    if schema is None:
        files = _data_files(path)
        if not files:
            return spark.read.parquet(path)
        schema = from_arrow_schema(pq.read_schema(files[0]))
    return spark.read.schema(schema).parquet(path)


def _register_files(frames, paths, n_points: int, n_graph_rows: int, tables=None) -> None:
    """Register driver copies of a written (points, graph) pair, when its
    counts fit the budget and its columns are the state's.  ``tables``:
    the pair as written; by default pyarrow reads the files back."""
    if not fits_resident(n_points, n_graph_rows):
        return
    if any(sorted(f.columns) != sorted(s.names) for f, s in zip(frames, _ARROW)):
        return
    for i, (frame, path, schema) in enumerate(zip(frames, paths, _ARROW)):
        table = tables[i] if tables is not None else pq.read_table(path, columns=schema.names)
        register_copy(frame, table.cast(schema), path)


@dataclass
class BatchCheckpointer:
    base_dir: str

    def path(self, batch_id: int) -> str:
        return os.path.join(self.base_dir, f"batch={batch_id}")

    def manifest_path(self, batch_id: int) -> str:
        return os.path.join(self.path(batch_id), "manifest.json")

    def write(
        self,
        spark: SparkSession,
        batch_id: int,
        points: DataFrame,
        graph: DataFrame,
        fingerprint: str,
        timings: dict[str, float] | None = None,
        extra: dict | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Materialize a batch's state; returns fresh parquet-backed
        (points, graph) DataFrames with truncated lineage.  Rewriting a
        batch leaves only the new rows and drops the copies registered
        for frames of the old files."""
        p = self.path(batch_id)
        pp, gp = os.path.join(p, "points"), os.path.join(p, "graph")
        pts_copy, graph_copy = registered_table(points), registered_table(graph)
        drop_copies(p)
        t0 = time.monotonic()
        tables = None
        if pts_copy is not None and graph_copy is not None:
            tables = (
                pts_copy.select(POINTS_ARROW.names).cast(POINTS_ARROW),
                graph_copy.select(GRAPH_ARROW.names)
                .cast(GRAPH_ARROW)
                .sort_by([("src", "ascending"), ("rank", "ascending")]),
            )
            self._write_tables(p, *tables)
            points_rows, graph_rows = [tables[0].num_rows], [tables[1].num_rows]
            schemas = [from_arrow_schema(t.schema) for t in tables]
        else:
            # an ok manifest must never describe a half-rewritten batch
            try:
                os.remove(self.manifest_path(batch_id))
            except FileNotFoundError:
                pass
            points.write.mode("overwrite").parquet(pp)
            graph.write.mode("overwrite").parquet(gp)
            points_rows, graph_rows = _file_rows(pp), _file_rows(gp)
            schemas = [points.schema, graph.schema]
        t_write = time.monotonic() - t0
        pts, g = _read_back(spark, pp, schemas[0]), _read_back(spark, gp, schemas[1])
        n_points, n_graph_rows = sum(points_rows), sum(graph_rows)
        _register_files((pts, g), (pp, gp), n_points, n_graph_rows, tables)
        manifest = {
            "batch_id": batch_id,
            "ops_fingerprint": fingerprint,
            "n_points": n_points,
            "n_graph_rows": n_graph_rows,
            "points_rows_per_partition": points_rows,
            "graph_rows_per_partition": graph_rows,
            "timings_sec": {**(timings or {}), "write": round(t_write, 3)},
            "status": "ok",
            **(extra or {}),
        }
        tmp = self.manifest_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path(batch_id))  # atomic commit
        return pts, g

    def _write_tables(self, p: str, points: pa.Table, graph: pa.Table) -> None:
        """Write both tables into a fresh directory, then swap it in for
        ``p``: the old batch directory, whoever wrote it, goes whole."""
        os.makedirs(self.base_dir, exist_ok=True)
        # a leading dot keeps the temporary out of latest_ok_epoch and
        # Spark's file listings
        tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(p)}.", dir=self.base_dir)
        for name, table in (("points", points), ("graph", graph)):
            os.mkdir(os.path.join(tmp, name))
            pq.write_table(table, os.path.join(tmp, name, "part-00000.snappy.parquet"), compression="snappy")
        old = None
        if os.path.exists(p):
            old = tmp + ".old"
            os.rename(p, old)
        os.rename(tmp, p)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def read_manifest(self, batch_id: int) -> dict | None:
        try:
            with open(self.manifest_path(batch_id)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def load(self, spark: SparkSession, batch_id: int) -> tuple[DataFrame, DataFrame]:
        """A committed state, read with its files' schema; it comes with
        registered driver copies when the manifest's counts fit."""
        p = self.path(batch_id)
        paths = (os.path.join(p, "points"), os.path.join(p, "graph"))
        frames = tuple(_read_back(spark, q) for q in paths)
        m = self.read_manifest(batch_id)
        if m is not None and "n_points" in m and "n_graph_rows" in m:
            _register_files(frames, paths, m["n_points"], m["n_graph_rows"])
        return frames

    def latest_ok_epoch(self) -> int | None:
        """Highest batch/epoch id with a committed (status ok) manifest,
        or None.  Used by restarts to reload the last durable state —
        Spark never re-delivers cleanly-committed streaming epochs, so
        a restarted stream must NOT start from empty_state."""
        best = None
        try:
            names = os.listdir(self.base_dir)
        except FileNotFoundError:
            return None
        for name in names:
            if not name.startswith("batch="):
                continue
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            m = self.read_manifest(bid)
            if m is not None and m.get("status") == "ok":
                best = bid if best is None else max(best, bid)
        return best

    def find_resume_point(self, fingerprints: list[str]) -> int:
        """Longest prefix of batches already committed with matching
        lineage; returns the first batch id that must (re)run."""
        for i, fp in enumerate(fingerprints):
            m = self.read_manifest(i)
            if m is None or m.get("status") != "ok" or m.get("ops_fingerprint") != fp:
                return i
        return len(fingerprints)
