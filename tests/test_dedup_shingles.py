"""r6 optimization guard: the vectorized-Arrow shingle path must be
BIT-IDENTICAL to the former JVM slice+zip_with expression chain
(space-only trim, Java-\\s separator class, limit=-1 empty-token
semantics, first-occurrence-order distinct).  The old chain is kept
here as the reference implementation."""

from __future__ import annotations

from pyspark.sql import functions as F

from rindex_spark.operators.dedup import _shingle_list, with_shingles


def _old_jvm_shingles(df, text_col, n, out="shingles"):
    """The pre-r6 JVM expression chain, verbatim (the reference)."""
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


EDGE_TEXTS = [
    None,
    "",
    " ",
    "   ",
    "\t",
    "\ta b c",
    "a b c\t",
    "a  b\tc",
    "a b",
    "a b c",
    "a b c d e",
    "x\xa0y z w",          # NBSP is NOT Java \s: stays inside a token
    "a\nb\nc\nd",
    "\x0bv w x y",          # vertical tab IS Java \s
    "a b c ",
    " a b c",
    "\r\na b c\r\n",
    "a \x85 b c d",         # NEL is NOT Java \s
    "dup dup dup dup dup",  # distinct collapses repeated grams
    "  a b c d ",
]


def test_shingles_match_old_jvm_chain_edge_cases(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc long, text string"
    )
    for n in (2, 3, 5, 8):
        old = {
            r["doc"]: list(r["shingles"])
            for r in _old_jvm_shingles(df, "text", n).select("doc", "shingles").collect()
        }
        new = {
            r["doc"]: list(r["shingles"])
            for r in with_shingles(df, "text", n).select("doc", "shingles").collect()
        }
        assert old == new, f"n={n}"
        for i, t in enumerate(EDGE_TEXTS):
            assert _shingle_list(t, n) == old[i], f"n={n} text={t!r}"


def test_shingles_match_old_jvm_chain_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        F.col("doc_id").alias("doc"), "text"
    )
    for n in (3, 8):
        old = _old_jvm_shingles(docs, "text", n).select("doc", "shingles")
        new = with_shingles(docs, "text", n).select("doc", "shingles")
        diff = (
            old.alias("a")
            .join(new.alias("b"), "doc")
            .filter(F.col("a.shingles") != F.col("b.shingles"))
            .count()
        )
        assert diff == 0, f"n={n}: {diff} docs differ"


def test_exploded_grams_matches_explode_of_with_shingles(spark):
    """_exploded_grams must emit EXACTLY the row multiset of
    with_shingles + explode (the slow shape it replaces), on the edge
    texts and the real corpus, with and without an id column."""
    from collections import Counter

    from rindex_spark.operators.dedup import _exploded_grams, with_shingles

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc long, text string"
    )
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        F.col("doc_id").alias("doc"), "text"
    )
    for src in (df, docs):
        for n in (3, 8):
            old = Counter(
                (r["doc"], r["g"])
                for r in with_shingles(src, "text", n)
                .select("doc", F.explode("shingles").alias("g"))
                .collect()
            )
            new = Counter(
                (r["doc"], r["gram"])
                for r in _exploded_grams(src, "text", n, id_col="doc").collect()
            )
            assert old == new, f"n={n}"
            old_noid = Counter(
                r["g"]
                for r in with_shingles(src, "text", n)
                .select(F.explode("shingles").alias("g"))
                .collect()
            )
            new_noid = Counter(
                r["gram"] for r in _exploded_grams(src, "text", n).collect()
            )
            assert old_noid == new_noid, f"n={n} (no id)"

    # the id column keeps its own type and its nulls: string ids, and
    # long ids with nulls (which a pandas round trip turns into NaN
    # floats), come out exactly as the explode path gives them
    typed = [
        spark.createDataFrame(
            [(f"doc-{i}", t) for i, t in enumerate(EDGE_TEXTS)], "doc string, text string"
        ),
        spark.createDataFrame(
            [(None if i % 3 == 0 else i + 2**60, t) for i, t in enumerate(EDGE_TEXTS)],
            "doc long, text string",
        ),
    ]
    for src, has_null in zip(typed, (False, True)):
        out = _exploded_grams(src, "text", 3, id_col="doc")
        assert out.schema["doc"].dataType == src.schema["doc"].dataType
        old = Counter(
            (r["doc"], r["g"])
            for r in with_shingles(src, "text", 3)
            .select("doc", F.explode("shingles").alias("g"))
            .collect()
        )
        new = Counter((r["doc"], r["gram"]) for r in out.collect())
        assert old == new
        assert any(d is None for d, _ in new) == has_null
