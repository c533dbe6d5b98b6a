"""Structured Streaming ingestion of insert/delete op batches.

The reference has no streams (SURVEY.md §2.3); its dynamic behavior is
the interleaved insert/delete op sequence (lib/tests/random.rs).  At
engine scale that sequence arrives as files/partitions of an ops feed,
so the streaming layer is:

* ``stream_ops`` — ``readStream`` over an ops directory ->
  ``foreachBatch`` folding each micro-batch into the index state with
  the SAME apply_batch + checkpoint-manifest machinery as the batch
  path (exactly-once via Spark's streaming checkpoint + our per-batch
  parquet commits; replays of a committed epoch are detected by the
  lineage fingerprint and skipped).
* ``streaming_page_window_counts`` — event-time windowed aggregation
  with watermarking over a pages stream (late-data semantics demo:
  counts per (window, lang)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rindex_spark.config import EngineConfig
from rindex_spark.plans.batches import (
    IndexState,
    apply_batch,
    empty_state,
    fold_chunk,
)
from rindex_spark.plans.checkpoint import BatchCheckpointer, ops_fingerprint

OPS_SCHEMA = "seq long, op string, id long, x double, y double"


def stream_ops(
    spark: SparkSession,
    ops_dir: str,
    stream_checkpoint_dir: str,
    state_dir: str,
    k: int,
    cfg: EngineConfig | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Start a streaming fold of op files (json, OPS_SCHEMA) into the
    kNN index state.  Returns (StreamingQuery, state_holder) — after
    awaitTermination, ``state_holder['state']`` is the final
    parquet-backed IndexState.

    Ordering contract: deletes may reference ids from earlier files, so
    the feed must arrive in sequence — Spark's FileStreamSource orders
    pending files by MODIFICATION TIME, so producers must write files
    with monotonic mtimes (normal for append-style feeds).

    Retention contract: ``stream_checkpoint_dir`` (Spark's epoch
    ledger) and ``state_dir`` (our committed states) must be retained
    or wiped TOGETHER; resetting one alone restarts/keeps epoch ids
    inconsistently and the fold raises on the fingerprint mismatch
    rather than double-applying ops."""
    ckpt = BatchCheckpointer(state_dir)
    # restart recovery (r1 advisor, high): after a CLEAN shutdown Spark
    # does not re-deliver committed epochs, so starting from empty_state
    # would silently fold new op files into an empty index.  Resume from
    # the latest committed manifest instead (mirrors find_resume_point
    # in the batch path).
    last = ckpt.latest_ok_epoch()
    if last is not None:
        pts0, g0 = ckpt.load(spark, last)
        holder: dict = {"state": IndexState(points=pts0, graph=g0, k=k), "applied": 0}
    else:
        holder = {"state": empty_state(spark, k), "applied": 0}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.orderBy("seq").collect()
        if not rows:
            return
        ins_rows, del_rows = fold_chunk(rows)
        fp = ops_fingerprint(ins_rows, del_rows)
        m = ckpt.read_manifest(epoch_id)
        if m is not None and m.get("status") == "ok":
            if m.get("ops_fingerprint") == fp:
                # epoch replay after restart: state already committed
                pts, g = ckpt.load(spark, epoch_id)
                holder["state"] = IndexState(points=pts, graph=g, k=k)
                return
            # committed epoch id, DIFFERENT ops: the stream checkpoint
            # dir and the state dir are out of sync (one was reset
            # without the other, so epoch ids restarted) — applying
            # would silently double-fold ops onto the resumed state
            # (r2 advisor).  The two directories must be retained or
            # wiped TOGETHER.
            raise RuntimeError(
                f"stream_ops: epoch {epoch_id} is already committed in "
                f"{state_dir!r} with a different ops fingerprint — "
                "stream_checkpoint_dir and state_dir are out of sync; "
                "retain or wipe them together, then restart."
            )
        state = apply_batch(
            holder["state"],
            ins_rows,
            del_rows,
            cfg=cfg,
            n_inserts=len(ins_rows),
            n_deletes=len(del_rows),
            materialize=False,
        )
        pts, g = ckpt.write(
            spark,
            epoch_id,
            state.points,
            state.graph,
            fp,
            extra={"n_inserts": len(ins_rows), "n_deletes": len(del_rows)},
        )
        holder["state"] = IndexState(points=pts, graph=g, k=k)
        holder["applied"] += 1

    reader = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(ops_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(handle)
        .option("checkpointLocation", stream_checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), holder


def streaming_page_window_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed counts per language with late-data handling:
    counts per (window(warc_ts), lang).  Works on any streaming pages
    DataFrame (readStream.schema(...).parquet(dir))."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
