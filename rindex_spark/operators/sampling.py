"""Corpus sampling for training-data pipelines — select the BEST docs
up to a token budget.

The op every corpus build ends with: "give me the highest-quality
documents whose token counts sum to <= B".  Semantically that is a
prefix of the global (order DESC, id ASC) sort under a running token
sum — but a literal global sort + cumulative window funnels the whole
corpus through ONE task (the r2 plan-shape hazard the op-stream slicer
eliminated).  None of this exists in the reference (pure spatial
library); it is the webtext half of the graft.

Scale-safe shape (two-phase threshold selection, the same pattern as
IVF centroid training / hot-host detection):

1. Quantize the order column into ``n_buckets`` fixed-range buckets
   and aggregate (sum_tokens, count) per bucket — ONE map-side
   combinable aggregate whose output is bucket-count-sized (driver
   collect is O(n_buckets), never O(corpus)).
2. Walk the histogram from the top: buckets strictly above the
   boundary are kept ENTIRELY (pure filter, no sort anywhere);
   buckets below are dropped (filter).  Only the single BOUNDARY
   bucket — the one where the budget crosses — is resolved exactly,
   with a cumulative window over just its rows (the exchange carries
   one bucket's docs, not the corpus).
3. Equal order values always land in the same bucket, so
   keep-above / resolve-boundary / drop-below is EXACTLY the global
   (order DESC, id ASC) prefix — bit-identical to a SQL cumulative
   window oracle (token counts are integers, so the running sums are
   exact in both engines).

Pathology note: the boundary bucket's size is corpus_fraction(bucket
width); a corpus where a large fraction of docs share ONE quality
value degrades the boundary resolution toward a corpus-sized window —
raise ``n_buckets`` or pre-jitter the order column if the
distribution is that degenerate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Persisted bucketed-input frame of the CURRENT DRIVER THREAD's most
# recent sample_to_token_budget call, released on the next call's entry
# (the knn/rknn/cc release-on-next-call pattern): the bucketed corpus
# is referenced by the histogram job AND both output branches
# (keep-above filter + boundary window) — without persist the input
# lineage (typically the regex-heavy with_text_stats) recomputes once
# per reference (measured 6.5s -> 2.9s at sf1.0, guide §5 caching
# rule: reused AND expensive to recompute).
from rindex_spark.operators.knn import _ThreadLocalFrameList
from rindex_spark.plans.scan import spread_scan

_last_input = _ThreadLocalFrameList()


def sample_to_token_budget(
    docs: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    order_col: str = "quality_score",
    id_col: str = "doc_id",
    order_range: tuple = (0.0, 1.0),
    n_buckets: int = 65536,
) -> DataFrame:
    """Keep the maximal prefix of docs in (``order_col`` DESC,
    ``id_col`` ASC) order whose cumulative ``tokens_col`` stays
    <= ``budget`` (inclusive: a doc is kept iff the running sum
    THROUGH it is <= budget).

    ``order_range`` is the closed range the order column lives in
    (quality_score is [0, 1] by construction); values outside are
    clamped into the edge buckets, which only affects bucketing
    granularity, never correctness.

    Launches ONE fixed driver job (the bucket histogram) per call —
    inherent to threshold selection; batch callers sampling repeatedly
    from an unchanged corpus should cache the input.

    returns the kept rows of ``docs`` (all original columns).
    """
    lo, hi = float(order_range[0]), float(order_range[1])
    span = hi - lo
    if span <= 0:
        raise ValueError("order_range must be a non-empty (lo, hi) interval")
    if budget < 0:
        return docs.limit(0)

    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(order_col) - F.lit(lo)) / F.lit(span) * n_buckets),
        ),
    ).cast("long")
    # persist: the histogram aggregate below materializes this once;
    # the two output branches then read cached blocks instead of
    # recomputing the (often expensive) input lineage.  MEMORY_AND_DISK
    # — a corpus projection must not silently recompute under memory
    # pressure mid-query; released on the next call (thread-local).
    _last_input.release()
    d = (
        spread_scan(docs)
        .withColumn("__bkt", bucket)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _last_input.append(d)

    hist = (
        d.groupBy("__bkt")
        .agg(
            F.sum(F.col(tokens_col)).alias("toks"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    by_bucket = sorted(
        ((r["__bkt"], r["toks"], r["cnt"]) for r in hist), reverse=True
    )

    consumed = 0
    keep_above = None  # buckets STRICTLY above this are kept whole
    boundary = None
    for b, toks, _cnt in by_bucket:
        if consumed + toks <= budget:
            consumed += toks
            keep_above = b  # b itself fully kept
        else:
            boundary = b
            break

    if boundary is None:
        # whole corpus fits
        return d.drop("__bkt")
    whole = (
        d.filter(F.col("__bkt") > boundary)
        if keep_above is not None
        else d.limit(0)
    )

    # exact resolution of the single boundary bucket: cumulative window
    # over ITS rows only (order within the bucket == global order
    # restricted to it)
    remaining = budget - consumed
    w = (
        Window.orderBy(F.col(order_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    edge = (
        d.filter(F.col("__bkt") == boundary)
        .withColumn("__cum", F.sum(F.col(tokens_col)).over(w))
        .filter(F.col("__cum") <= F.lit(int(remaining)))
        .drop("__cum")
    )
    return whole.unionByName(edge).drop("__bkt")
