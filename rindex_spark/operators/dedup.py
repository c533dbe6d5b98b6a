"""Deduplication for training-data pipelines — exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding near-dup (via operators.ann).

None of this exists in the reference (a pure spatial library); it is
the webtext half of the graft.  Everything follows the same
filter-and-refine shape as the spatial ops: cheap distributed candidate
generation (hash buckets ≙ grid cells), then exact verification on the
surviving pairs only — never all-pairs.

Scale notes:
* exact dedup is one hash aggregate (map-side combinable).
* n-gram Jaccard uses an inverted shingle index self-join; frequency
  capping (drop shingles appearing in > max_df docs) bounds the
  candidate blowup from boilerplate shingles — the textual analogue of
  hot-cell salting.
* MinHash signatures are computed in one vectorized pandas UDF pass,
  banded, and bucketed; only same-bucket pairs are verified.
* SimHash pairs use the pigeonhole band trick: two 64-bit fingerprints
  within Hamming distance d share at least one of d+1 bit-bands.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StringType
from pyspark.storagelevel import StorageLevel

from rindex_spark.plans.scan import spread_scan

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: (text_hash, n_docs, keep_id) — keep the
    smallest id per identical text; map-side combinable aggregate."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.col(id_col)).alias("keep_id"),
        )
    )


# Java regex default (non-UNICODE_CHARACTER_CLASS) \s charset — the
# exact separator class of the previous JVM F.split(..., r"\s+") path.
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def _shingle_list(t, n: int) -> list[str]:
    """Distinct word n-grams of one text, bit-identical to the former
    JVM expression chain: space-only trim (F.trim), Java-\\s split with
    limit -1 (leading/trailing empty tokens preserved exactly as
    Pattern.split does), first-occurrence-order distinct
    (array_distinct)."""
    t = "" if t is None else t
    w = _JAVA_WS.split(t.strip(" "))
    if len(w) < n:
        return []
    return list(
        dict.fromkeys(" ".join(tt) for tt in zip(*[w[i:] for i in range(n)]))
    )


def _with_shingles_jvm(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    """JVM expression variant of ``with_shingles`` (n shifted slices
    zip_with-concatenated; bit-identical to the Arrow path, asserted in
    tests/test_dedup_shingles.py).  Used by consumers that keep the
    arrays IN the JVM (MinHash hashes them with transform(xxhash64),
    the LSH verify intersects them): for those, shipping gram strings
    out through Arrow and back costs more than the interpreted lambda
    chain saves (minhash_dedup 1.5s -> 4.6s when they shared the Arrow
    path).  Exploding consumers use ``with_shingles`` — the explode
    re-evaluates this whole chain per reference, which is where the
    interpreted per-element cost blows up (12s vs 2.3s)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, cnt)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(words, j + 1, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return df.withColumn(
        out,
        F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        ),
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    """Adds an array column of distinct word n-grams.

    r6: a vectorized Arrow UDF (one Python pass over the text column
    only — no other column crosses the boundary), replacing the JVM
    slice+zip_with chain.  The higher-order zip_with/array_distinct
    expressions are interpreted per ELEMENT (never whole-stage
    codegen'd), and the downstream explode re-evaluates the chain:
    measured 12.0s -> 2.3s for the 2.7M-gram sf1.0 corpus explode
    (guide §4.2 — batch-native beats interpreted JVM lambdas).  String
    semantics are BIT-IDENTICAL to the old chain (space-only trim,
    Java-\\s separator class, trailing-empty tokens, first-occurrence
    distinct) — asserted against the old expression on the full sf1.0
    corpus + unicode edge cases (tests/test_dedup_shingles.py).  See
    ``_with_shingles_jvm`` for the non-exploding consumers."""

    @pandas_udf(ArrayType(StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series([_shingle_list(t, n) for t in texts])

    return df.withColumn(out, sh(F.col(text_col)))


def _exploded_grams(
    df: DataFrame, text_col: str, n: int, id_col: str | None = None
) -> DataFrame:
    """(id?, gram) pair rows straight from one mapInPandas pass —
    byte-identical row multiset to
    ``with_shingles(df).select(id, explode(shingles))`` (same
    ``_shingle_list`` per text, empty lists contribute no rows).

    r6 round 3: exploding an ArrowEvalPython-PRODUCED array column is
    ~4x slower than this shape (measured 2.54s vs 0.65s for the 2.6M
    -gram corpus at 32 cores; a JVM-built split() array explodes in
    0.3s, so the cost is the Arrow list column crossing into the
    Generate, not explode itself).  Emitting the flattened pairs
    directly from Python skips that conversion entirely; downstream
    consumers are joins/aggregates, so row order is irrelevant."""
    from rindex_spark.plans.scan import spread_scan

    cols = ([id_col] if id_col else []) + [text_col]
    src = spread_scan(df.select(*cols))

    if id_col:
        import pyarrow as pa
        from pyspark.sql.types import StructField, StructType

        # the id column keeps its own type and its nulls: Arrow take()
        # repeats the values as they are, with no pandas round trip
        # (which turns nullable longs into NaN floats)
        schema = StructType(
            [
                StructField(id_col, df.schema[id_col].dataType),
                StructField("gram", StringType()),
            ]
        )

        def fn(batches):
            for b in batches:
                lists = [_shingle_list(t, n) for t in b.column(text_col).to_pylist()]
                lens = np.array([len(x) for x in lists], dtype=np.int64)
                rows = np.repeat(np.arange(len(lists), dtype=np.int64), lens)
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(id_col).take(pa.array(rows)),
                        pa.array([g for lst in lists for g in lst], pa.string()),
                    ],
                    names=[id_col, "gram"],
                )

        return src.mapInArrow(fn, schema)

    def fn(batches):
        for b in batches:
            flat = [g for t in b[text_col] for g in _shingle_list(t, n)]
            yield pd.DataFrame({"gram": pd.Series(flat, dtype=object)})

    return src.mapInPandas(fn, "gram string")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    broadcast_doc_stats: bool = True,
) -> DataFrame:
    """n-gram Jaccard similarity join: all pairs (a, b), a < b, with
    |shingles(a) ∩ shingles(b)| / |union| >= threshold.

    Inverted-index decomposition: explode distinct shingles, self-join
    on shingle for candidate pairs; Jaccard scores are ALWAYS exact.

    ``max_df`` (the boilerplate skew guard — an EXPLICIT opt-in; the
    default None keeps the documented exact-recall semantics, so no
    caller silently loses pairs) drops shingles appearing in more than
    max_df docs from the candidate index: a single hot shingle
    contributes df² candidate pairs, so at web scale one boilerplate
    sentence is a cartesian bomb — at 100 TB you WANT this on (e.g.
    max_df=10_000).  With the guard on, candidate pairs are verified
    with an exact array_intersect over the FULL shingle sets, so
    reported scores stay exact; the only approximation is RECALL, and
    only for pairs whose EVERY shared shingle exceeds max_df —
    vanishingly rare for real near-duplicates below web-boilerplate
    frequency.  With max_df=None the intersection counts come straight
    off the index join — no second pass over the shingle arrays.

    ``broadcast_doc_stats`` (r6): the per-doc size tables joined onto
    the candidate-pair stream are (doc, 2 ints) — ~24 B/doc, fine to
    broadcast up to ~10^8 docs (guide §3.1) and the default; without
    it the candidate stream (the BIG side — sum of df² over the index)
    is shuffled twice more by sort-merge joins (measured 33s -> 11s on
    the 68M-candidate sf1.0 skew corpus).  Pass False beyond ~10^8
    docs to fall back to shuffled joins.

    r6 plan notes (output-identical): in the max_df path the capped
    index carries xxhash64(shingle) instead of the shingle string —
    candidate generation and the capped counts n_inter_c only ever
    GROW under a hash collision, so the Jaccard UPPER bound j_ub stays
    an upper bound (prunes never lose a true pair) and the exact
    full-array verify unchanged-ly decides membership and scores.  Hot
    -shingle detection still groups the true STRINGS (df semantics
    exact).  The self-join takes a shuffled-hash hint: the per
    -partition build side is index/partitions-sized, and sorting the
    cardinality-heavy pair stream is pure waste (guide §3.1).
    """
    _bcast = F.broadcast if broadcast_doc_stats else (lambda d: d)
    sh = (
        with_shingles(
            spread_scan(df.select(F.col(id_col).alias("doc"), F.col(text_col))),
            text_col, n,
        )
        .select("doc", "shingles")
        .withColumn("sh_size", F.size("shingles"))
        # referenced by the index, the size table, and BOTH verify
        # sides: without persist the shingle transform and everything
        # under it re-executes once per reference (measured 80s vs 8s
        # on the 5k-doc skew bench)
        .persist(StorageLevel.MEMORY_ONLY)
    )
    # inverted index straight from a mapInPandas shingle pass (r6 r3):
    # same (doc, shingle) multiset as exploding sh's arrays, without
    # the slow Arrow-array Generate (see _exploded_grams); re-running
    # the Python pass per consumer costs less than one such explode.
    inv = _exploded_grams(
        df.select(F.col(id_col).alias("doc"), F.col(text_col)),
        text_col, n, id_col="doc",
    ).withColumnRenamed("gram", "shingle")
    if max_df is not None:
        hot = (
            inv.groupBy("shingle")
            .count()
            .filter(F.col("count") > max_df)
            .select("shingle")
        )
        inv = (
            inv.join(F.broadcast(hot), "shingle", "left_anti")
            .select("doc", F.xxhash64("shingle").alias("shingle"))
            .persist(StorageLevel.MEMORY_ONLY)
        )
        # counts straight off the capped index: n_inter_capped is a
        # LOWER bound on the true intersection; a doc's true hot-shingle
        # count h = sh_size - its non-hot count, so
        #   n_inter_true <= n_inter_capped + min(h_a, h_b)
        #   n_union_true >= size_a + size_b - that upper bound
        # giving a provable Jaccard UPPER bound — candidates that can't
        # reach the threshold are pruned BEFORE the expensive
        # full-array verify (word-soup corpora share stray shingles
        # between most doc pairs; verifying them all is quadratic pain).
        nh = inv.groupBy("doc").agg(F.count(F.lit(1)).alias("nh"))
        sizes_h = (
            sh.select("doc", "sh_size")
            .join(nh, "doc", "left")
            .na.fill({"nh": 0})
            .withColumn("h", F.col("sh_size") - F.col("nh"))
            .select("doc", "sh_size", "h")
        )
        a = inv.alias("a")
        b = inv.alias("b")
        # PACKED pair key (r6 round 2, guide §2.3 — shuffle fewer
        # bytes): the candidate-pair aggregate is the one data-sized
        # exchange of this operator (sum-of-df² rows).  When every doc
        # id provably fits in 31 bits, (a << 32) | b is injective, so
        # grouping by the single packed long and unpacking after the
        # aggregate is exactly the two-column groupBy — one 8-byte key
        # instead of two on every shuffled candidate row, and a
        # single-long hash/compare in both partial and final hash
        # aggregates.  The id bound costs one scalar aggregate over the
        # already-persisted shingle table; out-of-range corpora (hashed
        # ids, >2^31 docs) keep the two-column path.
        id_bounds = sh.agg(
            F.min("doc").alias("mn"), F.max("doc").alias("mx")
        ).first()
        pack_ok = (
            id_bounds["mn"] is not None
            and id_bounds["mn"] >= 0
            and id_bounds["mx"] < (1 << 31)
        )
        if pack_ok:
            inter_c = (
                a.join(
                    b.hint("shuffle_hash"),
                    (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc") < F.col("b.doc")),
                )
                .groupBy(
                    (F.shiftleft(F.col("a.doc"), 32) + F.col("b.doc")).alias("pk")
                )
                .agg(F.count(F.lit(1)).alias("n_inter_c"))
                .select(
                    F.shiftright("pk", 32).alias("doc_a"),
                    F.col("pk").bitwiseAND(F.lit(0xFFFFFFFF)).alias("doc_b"),
                    "n_inter_c",
                )
            )
        else:
            inter_c = (
                a.join(
                    b.hint("shuffle_hash"),
                    (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc") < F.col("b.doc")),
                )
                .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
                .agg(F.count(F.lit(1)).alias("n_inter_c"))
            )
        ub_inter = F.col("n_inter_c") + F.least(F.col("h_a"), F.col("h_b"))
        survivors = (
            inter_c.join(
                _bcast(
                    sizes_h.select(
                        F.col("doc").alias("doc_a"),
                        F.col("sh_size").alias("size_a"),
                        F.col("h").alias("h_a"),
                    )
                ),
                "doc_a",
            )
            .join(
                _bcast(
                    sizes_h.select(
                        F.col("doc").alias("doc_b"),
                        F.col("sh_size").alias("size_b"),
                        F.col("h").alias("h_b"),
                    )
                ),
                "doc_b",
            )
            .withColumn(
                "j_ub",
                ub_inter
                / F.greatest(F.col("size_a") + F.col("size_b") - ub_inter, F.lit(1)),
            )
            .filter(F.col("j_ub") >= threshold)
            .select("doc_a", "doc_b")
        )
        arrs = sh.select("doc", "shingles")
        return (
            survivors.join(
                arrs.withColumnRenamed("doc", "doc_a").withColumnRenamed("shingles", "sh_a"),
                "doc_a",
            )
            .join(
                arrs.withColumnRenamed("doc", "doc_b").withColumnRenamed("shingles", "sh_b"),
                "doc_b",
            )
            .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("n_union", F.size(F.array_union("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.when(F.col("n_union") > 0, F.col("n_inter") / F.col("n_union")).otherwise(
                    F.lit(0.0)
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    # max_df=None: the counts ARE the scores, so the join key stays the
    # true shingle STRING (a hash collision would inflate n_inter with
    # no exact verify behind it to catch it).
    sizes = sh.select("doc", "sh_size")
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b.hint("shuffle_hash"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(_bcast(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sh_size", "size_a")), "doc_a")
        .join(_bcast(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sh_size", "size_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def hashed_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, h array<long>) — xxhash64 of each distinct word n-gram,
    computed ENTIRELY JVM-side (with_shingles + transform(xxhash64)):
    no Python touches a shingle string."""
    sh = _with_shingles_jvm(
        spread_scan(df.select(F.col(id_col).alias("doc"), F.col(text_col))), text_col, n
    )
    return sh.select(
        "doc", F.transform(F.col("shingles"), lambda s: F.xxhash64(s)).alias("h")
    )


# 31-bit Mersenne prime: a*h + b with a,h,b < 2^31 stays under 2^62, so
# the uint64 products NEVER wrap and (a*h+b) % p is a true universal
# hash (the r1 advisor flagged the old 2^61-1 variant for wrapping).
_MINHASH_P = np.uint64((1 << 31) - 1)


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """(doc, sig array<long>) — MinHash over word n-grams.

    Shingle hashing runs JVM-side (hashed_shingles); the pandas UDF
    only does batch-level numpy: one (total_shingles x num_hashes)
    modular-hash matrix per chunk, per-doc minima via minimum.reduceat.
    No per-row or per-shingle Python anywhere."""
    rng = np.random.default_rng(seed)
    p = _MINHASH_P
    a = rng.integers(1, int(p), size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, int(p), size=num_hashes, dtype=np.int64).astype(np.uint64)
    sentinel = np.iinfo(np.int64).max
    chunk_shingles = 1 << 18  # ~128 MB of uint64 matrix per chunk at 64 hashes

    @pandas_udf(ArrayType(LongType()))
    def sig(harrs: pd.Series) -> pd.Series:
        nd = len(harrs)
        out = np.full((nd, num_hashes), sentinel, dtype=np.int64)
        lens = np.array(
            [0 if h is None else len(h) for h in harrs], dtype=np.int64
        )
        nz = np.nonzero(lens)[0]
        if len(nz):
            all_h = np.concatenate(
                [np.asarray(harrs.iloc[i], dtype=np.int64) for i in nz]
            ).astype(np.uint64) % p
            starts = np.zeros(len(nz), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            ends = starts + lens[nz]
            # chunk on doc boundaries so reduceat segments never split
            cs = 0
            while cs < len(nz):
                ce = cs
                while ce < len(nz) and ends[ce] - starts[cs] <= chunk_shingles:
                    ce += 1
                ce = max(ce, cs + 1)
                block = all_h[starts[cs] : ends[ce - 1]]
                vals = (a[None, :] * block[:, None] + b[None, :]) % p
                mins = np.minimum.reduceat(vals, starts[cs:ce] - starts[cs], axis=0)
                out[nz[cs:ce]] = mins.astype(np.int64)
                cs = ce
        return pd.Series(list(out))

    hs = hashed_shingles(df, n, text_col, id_col)
    return hs.select("doc", sig(F.col("h")).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified with
    EXACT n-gram Jaccard on the candidates only.

    returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >=
    threshold (exact, so the only approximation is RECALL of the LSH
    stage — tuned by bands/rows)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, n, text_col, id_col, seed)
    banded_raw = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[j] for j in range(i * rows_per_band, (i + 1) * rows_per_band)]
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # materialize once: the bucket self-join would otherwise evaluate
    # the signature UDF twice.  persist (not eager localCheckpoint):
    # the join's own execution materializes it — no separate job.
    banded = banded_raw.persist(StorageLevel.MEMORY_ONLY)

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
        # pair-count-sized; referenced by the pair stream AND (via
        # ids_needed) by BOTH broadcast builds below — without persist
        # the bucket join re-executes once per broadcast lineage
        .persist(StorageLevel.MEMORY_ONLY)
    )

    # exact verify on candidates only (shingles materialized once —
    # joined on both pair sides).  r6: the full shingle-array table is
    # first semi-joined down to the docs that occur in ANY candidate
    # pair and THAT (candidate-doc-sized) table is broadcast onto the
    # pair stream — previously both verify joins sort-merge-shuffled
    # the whole corpus-sized array table to serve a pair list orders of
    # magnitude smaller (2.6s -> 0.3s at sf1.0).  Near-dup candidate
    # doc sets are dup-count-sized; at a scale where they stop fitting
    # a broadcast, swap the two hints below for a shuffled join.
    sh = (
        _with_shingles_jvm(
            spread_scan(df.select(F.col(id_col).alias("doc"), F.col(text_col))),
            text_col, n,
        )
        .select("doc", "shingles")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    ids_needed = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    arrs = sh.join(ids_needed.hint("broadcast"), "doc", "left_semi")
    verified = (
        cand.join(
            arrs.withColumnRenamed("doc", "doc_a")
            .withColumnRenamed("shingles", "sh_a")
            .hint("broadcast"),
            "doc_a",
        )
        .join(
            arrs.withColumnRenamed("doc", "doc_b")
            .withColumnRenamed("shingles", "sh_b")
            .hint("broadcast"),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") > 0, F.col("n_inter") / F.col("n_union")).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, simhash long) — 64-bit SimHash over unigram token hashes
    (every occurrence counts, not distinct tokens).

    Token hashing runs JVM-side (split + filter + transform(xxhash64));
    the pandas UDF computes per-doc majority bits for the whole Arrow
    batch at once: one (total_tokens x 64) bit matrix per chunk,
    per-doc bit counts via add.reduceat."""
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    hashed = spread_scan(
        df.select(
            F.col(id_col).alias("doc"),
            F.transform(toks, lambda w: F.xxhash64(w)).alias("h"),
        )
    )
    shifts = np.arange(64, dtype=np.uint64)
    chunk_tokens = 1 << 19  # ~128 MB of int32 bit matrix per chunk

    @pandas_udf(LongType())
    def sh(harrs: pd.Series) -> pd.Series:
        nd = len(harrs)
        out = np.zeros(nd, dtype=np.int64)
        lens = np.array([0 if h is None else len(h) for h in harrs], dtype=np.int64)
        nz = np.nonzero(lens)[0]
        if len(nz):
            all_h = np.concatenate(
                [np.asarray(harrs.iloc[i], dtype=np.int64) for i in nz]
            ).astype(np.uint64)
            starts = np.zeros(len(nz), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            ends = starts + lens[nz]
            cs = 0
            while cs < len(nz):
                ce = cs
                while ce < len(nz) and ends[ce] - starts[cs] <= chunk_tokens:
                    ce += 1
                ce = max(ce, cs + 1)
                block = all_h[starts[cs] : ends[ce - 1]]
                bits = ((block[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                    np.int32
                )
                sums = np.add.reduceat(bits, starts[cs:ce] - starts[cs], axis=0)
                nloc = lens[nz[cs:ce]]
                v = (2 * sums.astype(np.int64) >= nloc[:, None]).astype(np.uint64)
                out[nz[cs:ce]] = (v << shifts[None, :]).sum(axis=1).astype(np.int64)
                cs = ce
        return pd.Series(out, dtype="int64")

    return hashed.select("doc", sh(F.col("h")).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs within Hamming distance <= max_hamming of their 64-bit
    SimHash.  Pigeonhole: split into max_hamming+1 bands; near pairs
    agree on >= 1 band -> band equi-join, exact popcount refine."""
    nb = max_hamming + 1
    width = 64 // nb

    def band_key(i: int):
        # nb == 1 (max_hamming=0, exact-equality mode): the whole hash
        # IS the key — (1 << 64) - 1 does not fit a JVM long.
        if width >= 64:
            return F.col("simhash")
        return F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    hashes = simhash64(df, text_col, id_col)
    bands = hashes.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), band_key(i).alias("key"))
                    for i in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# Frames (edges + final labels) persisted by the CURRENT DRIVER
# THREAD's most recent connected_components call; released on the next
# call's entry so a long session holds at most one closure's
# checkpoint blocks per thread (the knn/rknn release-on-next-call
# pattern, r4 advisor + verdict item 7).
from rindex_spark.operators.knn import _ThreadLocalFrameList

_last_cc_frames = _ThreadLocalFrameList()
# Propagation-round count of the most recent call (rounds that changed
# at least one label; the final confirming round is excluded) — lets
# tests assert convergence speed without instrumenting the loop.
last_cc_rounds: int = 0


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Decontamination scan (r5): flag training docs sharing at least
    ``min_hits`` distinct word n-grams with an evaluation benchmark —
    the standard pre-training hygiene pass (eval answers leaking into
    the corpus inflate benchmark scores).

    Shape: the benchmark's distinct n-gram set is dimension-sized
    (eval suites are thousands of documents, not billions), so it
    BROADCASTS (``broadcast_benchmark=False`` falls back to a shuffle
    join for pathologically large benchmarks); the corpus side is one
    explode + one map-side-combinable count aggregate — linear, no
    self-join, no all-pairs anywhere.  Shingles are the same JVM-side
    ``with_shingles`` arrays the Jaccard path uses (array_distinct per
    doc, so count(1) after the gram join IS the distinct-hit count).

    returns (``id_col``, n_hits) for every doc with
    n_hits >= min_hits; ``decontaminate`` drops them.
    """
    # r6 round 3: gram pairs emitted straight from the shingle pass
    # (_exploded_grams) — the former explode over the Arrow-produced
    # array column was ~4x the cost of the whole pass (see the helper).
    bg = _exploded_grams(
        benchmark.select(F.col(bench_text_col).alias("__t")), "__t", n
    ).distinct()
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    dg = _exploded_grams(
        docs.select(F.col(id_col), F.col(text_col).alias("__t")), "__t", n,
        id_col=id_col,
    )
    return (
        dg.join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Drop flagged docs: ``docs`` minus ``benchmark_contamination``
    hits (left-anti on the flag table, which is hit-sized — far
    smaller than the corpus)."""
    flagged = benchmark_contamination(
        docs, benchmark, n=n, min_hits=min_hits,
        text_col=text_col, id_col=id_col, bench_text_col=bench_text_col,
    ).select(id_col)
    return docs.join(flagged, id_col, "left_anti")


def _strip_ckpt_stats(df: DataFrame) -> DataFrame:
    """Rebuild a checkpointed frame as a fresh LogicalRDD WITHOUT the
    origin plan's statistics (r6).  Spark's checkpoint/localCheckpoint
    deliberately carries the pre-checkpoint plan's sizeInBytes estimate
    into the LogicalRDD (``originStats``) so broadcast decisions
    survive truncation — but in an ITERATIVE loop whose round plan
    joins the previous round's frame k times, the carried estimate
    compounds as size^k PER ROUND (a BigInt doubling in DIGITS every
    round).  Past ~8 rounds Catalyst's SizeInBytesOnlyStatsPlanVisitor
    spends its whole time multiplying 10^4+-digit BigInts: measured
    round walls of 0.7s -> 8.8s -> 21s -> 60s on a diameter-~40 graph,
    i.e. the O(log d) round shape turns into exponential PLANNING cost
    on exactly the deep graphs that need many rounds.  Rebuilding from
    the already-materialized checkpoint RDD (JVM-side handle pass-
    around — no recompute, no Python boundary, no extra job) resets
    the estimate to the conservative default, which is what every
    round join's strategy hints assume anyway.  Verified: stats stay
    at 19 digits and round walls flat at 40+ rounds."""
    jdf = df._jdf
    out = df.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(out, df.sparkSession)


def _local_contract(batches):
    """Per-PARTITION minimum-label contraction (mapInPandas): yields
    one (node, local_min_root) row per distinct node seen in the
    partition's edges.  The (node -> root) star edges have the same
    transitive closure as the partition's raw edges, so feeding them
    to the iterative rounds is output-identical — but every locally
    -connected subgraph collapses to diameter 1 before the first
    shuffle, and the edge volume drops from |E| to |V_local|.

    r6 round 3: the per-edge Python union-find (dict find/union per
    row) was ~45% of the bench entry's wall (1.8s of 3.8s at 875k
    edges — guide §4.2: no per-row Python).  Replaced by vectorized
    min-label propagation with pointer jumping: per iteration, one
    np.minimum.at scatter per edge direction + two label-of-label
    hops, until fixpoint.  Reach at least doubles per iteration, so
    iterations are O(log local-diameter); each is O(E) numpy.  The
    fixpoint (per node, the minimum node id reachable inside the
    partition's subgraph) is exactly the union-find's min-root —
    labels are indices into the SORTED node array, so index order is
    id order.  The partition's whole edge list is buffered in numpy
    before contracting, so the Python worker holds O(distinct nodes +
    edges) of its partition — unlike a streaming union-find's O(distinct
    nodes); how large that is depends on how the input pairs are
    partitioned (an edge-heavy partition, E >> V, costs O(E))."""
    As, Bs = [], []
    for b in batches:
        As.append(b["a"].to_numpy(dtype=np.int64))
        Bs.append(b["b"].to_numpy(dtype=np.int64))
    a = np.concatenate(As) if As else np.empty(0, dtype=np.int64)
    b_ = np.concatenate(Bs) if Bs else np.empty(0, dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([a, b_]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lbl = np.arange(len(nodes), dtype=np.int64)
    while True:
        new = lbl.copy()
        np.minimum.at(new, ia, lbl[ib])
        np.minimum.at(new, ib, lbl[ia])
        new = new[new]
        new = new[new]
        if np.array_equal(new, lbl):
            break
        lbl = new
    yield pd.DataFrame({"a": nodes, "b": nodes[lbl]})


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    jumps: int = 2,
    local_contraction: bool = True,
) -> DataFrame:
    """Connected components over an undirected pair list — the closure
    step of near-duplicate dedup: MinHash / SimHash / embedding
    near-dup emit PAIRS, but "keep one copy per duplicate GROUP" needs
    the transitive clusters (a~b, b~c => one group {a,b,c}).

    Min-label propagation WITH pointer jumping, FUSED into one
    round-trip (r4 verdict item 3): each round computes
    ``L'(v) = min(L(v), min over neighbors L(u), L(L(v)))`` with both
    the neighbor-min and the shortcut read from the SAME label
    snapshot, so a round is one edge join + one map-side-combinable
    min aggregate + one label self-join + ONE checkpoint (the r4 shape
    sequenced the shortcut after the neighbor step and paid two
    checkpoints + a separate changed-join per round).  Reach doubles
    per round (d -> max(d+1, 2d)), so convergence stays O(log
    diameter).  The changed-flag is BAKED into the checkpointed frame,
    making the fixpoint check a count over cached blocks — no join, no
    shuffle.  Superseded label frames are unpersisted as soon as the
    next round's labels materialize (r4 advisor: 30+-round runs
    accumulated blocks).

    ``local_contraction`` (r6): before the shuffle rounds, a
    per-partition union-find (``_local_contract``) collapses each
    input partition's edges to (node -> local-min-root) star edges —
    a zero-shuffle map pass after which every locally-connected
    subgraph has diameter 1, so the iterative phase stitches only the
    CROSS-partition structure (sf1.0 chain bench: 4 rounds -> 2,
    8.9-10.0s -> 5.2-5.8s interleaved; labels verified identical).
    The round joins also take shuffled-hash hints — the label tables
    are node-sized and sorting them every round is pure waste (guide
    §3.1).

    r6 round-2 additions (both output-identical by construction):
    the FIRST round is fused into one map-side-combinable aggregate
    over the doubled edge list (with L = identity the neighbor-min IS
    the neighbor id and the jumps are no-ops — see the inline proof),
    and every checkpoint strips the carried-over plan statistics
    (``_strip_ckpt_stats``) so deep-diameter runs no longer pay
    exponentially-compounding Catalyst size-estimate arithmetic per
    round (measured 60s PLANNING walls by round ~13 without it).

    ``checkpoint_dir``: when set, rounds use RELIABLE checkpointing
    (``df.checkpoint``) into that directory instead of
    ``localCheckpoint`` — on a real cluster localCheckpoint blocks
    live on executors, so one executor loss kills the
    lineage-truncated job mid-closure; a checkpoint dir on the
    cluster's shared store (HDFS/S3) survives it.  Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to have
    superseded checkpoint files garbage-collected.

    returns (id long, component long): every node that appears in a
    pair, labeled with the smallest node id reachable from it.
    """
    global last_cc_rounds
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return _strip_ckpt_stats(df.checkpoint(eager=True))
    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return _strip_ckpt_stats(df.localCheckpoint(eager=True))

    _last_cc_frames.release()
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    if local_contraction:
        e = e.mapInPandas(_local_contract, "a long, b long")
    # no distinct(): duplicate edges cannot change a MIN aggregate, and
    # dropping it makes the doubled edge list a NARROW union — the
    # checkpoint writes without any shuffle (pair generators emit
    # near-unique pairs; a pathologically duplicated input only
    # inflates the per-round join input, never the result)
    edges = _ckpt(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    _last_cc_frames.append(edges)
    # FUSED FIRST ROUND (r6): with L = identity, round 1's full form
    # L'(v) = min(L(v), min_neigh L(u), L(L(v))) collapses to
    # min(v, min neighbor) — the jumps are provable no-ops and the
    # neighbor labels ARE the neighbor ids.  The doubled edge list
    # already carries every node on its 'a' side, so ONE
    # map-side-combinable aggregate replaces the init distinct+ckpt
    # AND the first full round (edge join + 3 label self-joins +
    # ckpt): identical labels/changed-count, two fewer checkpoints,
    # four fewer node-sized joins before the loop.  The null guard
    # preserves the old path's behavior for null ids exactly (a null
    # 'a' never matched the equi-joins, so its label stayed null).
    labels = _ckpt(
        edges.groupBy("a")
        .agg(F.min("b").alias("_nb"))
        .select(
            F.col("a").alias("id"),
            F.when(F.col("a").isNull(), F.lit(None).cast("long"))
            .otherwise(F.least(F.col("a"), F.col("_nb")))
            .alias("comp"),
            (F.col("_nb") < F.col("a")).alias("chg"),
        )
    )
    changed = labels.filter("chg").count()
    labels = labels.drop("chg")
    last_cc_rounds = 1 if changed else 0
    if changed:
        # r6 round 3 — cheap convergence check after the fused first
        # round: with local contraction most graphs are ALREADY closed
        # here, but the loop still paid one full round (edge join +
        # min agg + 3 label joins + checkpoint) purely to observe
        # changed == 0.  The fixpoint test is equivalent to two
        # conditions on the snapshot: (a) every edge's endpoints carry
        # equal labels (the doubled edge list makes this symmetric;
        # then each node's neighbor-min IS its own label), and (b)
        # L(L(v)) == L(v) for every node (then every pointer jump is a
        # no-op) — exactly "the next round's least(...) changes
        # nothing".  Three node-sized hash joins + an isEmpty scan, no
        # aggregate, no checkpoint; a not-yet-converged graph pays one
        # wasted check (isEmpty short-circuits on the first mismatch)
        # and enters the unchanged loop.  Null labels never register
        # as mismatches, matching the loop's null semantics (null ids
        # never matched the equi-joins, chg stayed null/false).
        la = labels.select(F.col("id").alias("a"), F.col("comp").alias("_ca"))
        lb = labels.select(F.col("id").alias("b"), F.col("comp").alias("_cb"))
        edge_mism = (
            edges.join(la.hint("shuffle_hash"), "a")
            .join(lb.hint("shuffle_hash"), "b")
            .filter(F.col("_ca") != F.col("_cb"))
            .select(F.lit(1).alias("m"))
        )
        jmp = labels.select(
            F.col("id").alias("_jid"), F.col("comp").alias("_jc")
        )
        jump_mism = (
            labels.join(jmp.hint("shuffle_hash"), F.col("comp") == F.col("_jid"), "left")
            .filter(F.coalesce(F.col("_jc"), F.col("comp")) != F.col("comp"))
            .select(F.lit(1).alias("m"))
        )
        if edge_mism.unionByName(jump_mism).isEmpty():
            changed = 0
    for _ in range(max_iters - 1):
        if changed == 0:
            break
        neigh_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("b"), F.col("comp").alias("nc")
                ).hint("shuffle_hash"),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nc").alias("nc"))
            .withColumnRenamed("a", "id")
        )
        # DOUBLE pointer jump from the SAME snapshot: my label's label
        # (jc = L(L(v))) and ITS label (jc2 = L(L(L(v)))) — labels are
        # always node ids, so the self-joins hit (left + coalesce is
        # belt-and-braces).  The second hop triples the per-round reach
        # for one extra node-sized hash join, cutting a full round
        # (3 exchanges + checkpoint) off typical diameters.
        stepped = labels.join(neigh_min.hint("shuffle_hash"), "id", "left")
        mins = [
            F.col("comp"),
            F.coalesce(F.col("nc"), F.col("comp")),
        ]
        prev = "comp"
        for j in range(max(jumps, 0)):
            jmp = labels.select(
                F.col("id").alias(f"_jid{j}"), F.col("comp").alias(f"jc{j}")
            )
            stepped = stepped.join(
                jmp.hint("shuffle_hash"), F.col(prev) == F.col(f"_jid{j}"), "left"
            )
            mins.append(F.coalesce(F.col(f"jc{j}"), F.col("comp")))
            prev = f"jc{j}"
        new_labels = _ckpt(
            stepped.withColumn("_new", F.least(*mins))
            .select(
                "id",
                F.col("_new").alias("comp"),
                # labels only decrease, so < is the full changed test
                (F.col("_new") < F.col("comp")).alias("chg"),
            )
        )
        changed = new_labels.filter("chg").count()
        if labels is not edges:  # superseded round frame: release now
            try:
                labels.unpersist(blocking=False)
            except Exception:
                pass
        labels = new_labels.drop("chg")
        if changed == 0:
            break
        last_cc_rounds += 1
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter exceeds max_iters)"
        )
    _last_cc_frames.append(labels)
    return labels.select("id", F.col("comp").alias("component"))


def dedup_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup dedup end-to-end: keep ONE document per duplicate
    component (the smallest id — deterministic), plus every document
    that appears in no pair.  The corpus-side join is a keyed
    left-anti against the (component-member, keep?) labels — the
    label table is node-sized (only docs that occur in pairs), far
    smaller than the corpus, so at web scale this broadcast/shuffles
    the small side only."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    drop = cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")
