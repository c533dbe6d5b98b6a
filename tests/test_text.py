"""Webtext layer: the byte-identical extraction invariant
(BASELINE.json input_hint), geotag parsing, language ID, text stats,
and the distributed page generator's determinism."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rindex_spark.datagen import coords_for_ids, generate_pages, page_batch
from rindex_spark.functions.text import (
    extract_text,
    extract_text_series,
    lang_id,
    with_text_stats,
)
from rindex_spark.sources.pages import points_from_pages, verify_text_invariant


def test_extract_text_byte_identical(spark):
    pages = generate_pages(spark, 300, dist="clustered", seed=1).cache()
    assert verify_text_invariant(pages) == 0
    # and via pandas directly (no Spark roundtrip artifacts)
    pdf = page_batch(np.arange(50, dtype=np.int64), dist="uniform", seed=2)
    assert (extract_text_series(pdf["html"]) == pdf["text"]).all()


def test_geotag_roundtrip_exact(spark):
    """Coordinates extracted from html must equal the generator's floats
    bit-for-bit (repr round-trip of IEEE doubles)."""
    n = 200
    pages = generate_pages(spark, n, dist="clustered", seed=3)
    pts = points_from_pages(pages).orderBy("id").collect()
    ids = np.arange(n, dtype=np.uint64)
    x, y = coords_for_ids(ids, dist="clustered", seed=3)
    assert len(pts) == n
    for r in pts:
        assert r["x"] == x[r["id"]]  # exact, not approx
        assert r["y"] == y[r["id"]]


def test_points_from_pages_matches_pandas_extractor(spark):
    """r6: points_from_pages runs a JVM regexp_extract; it must equal
    the extract_geotag pandas UDF bit-for-bit, including dropping pages
    with no geo tag."""
    from rindex_spark.functions.text import extract_geotag

    pages = generate_pages(spark, 150, dist="uniform", seed=9)
    # strip the tag from every 5th page: those rows must be filtered
    pages = pages.withColumn(
        "html",
        F.when(
            (F.col("page_id") % 5) == 0,
            F.encode(
                F.regexp_replace(
                    F.decode("html", "utf-8"), '<meta name="geo[^>]*>', ""
                ),
                "utf-8",
            ),
        ).otherwise(F.col("html")),
    )
    got = {
        r["id"]: (r["x"], r["y"])
        for r in points_from_pages(pages).collect()
    }
    ref_rows = (
        pages.withColumn("_geo", extract_geotag(F.col("html")))
        .select(
            F.col("page_id").alias("id"),
            F.col("_geo.lon").alias("x"),
            F.col("_geo.lat").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .collect()
    )
    ref = {r["id"]: (r["x"], r["y"]) for r in ref_rows}
    assert got == ref
    assert len(got) == 120  # 30 tagless pages dropped


def test_points_from_pages_geo_match_selection_edge_cases(spark):
    """Pins the two-group pattern's exact match selection on
    adversarial html — empty groups, missing ';', multiple geo tags
    where only a later one satisfies the two-group shape.  (Added
    while evaluating a one-regex-pass rewrite, which was REJECTED:
    Catalyst duplicates the shared match subtree per consumer — 30
    regexp_extract occurrences in the plan — and measured 2x slower;
    the test stays as the semantics guard.)"""
    # NOTE: non-numeric matched content (e.g. "a;b;c") raises under
    # ANSI cast in old AND new implementations alike — parity, but not
    # expressible as an output row, so only castable/absent cases here.
    htmls = [
        (0, '<meta name="geo.position" content="1.5;-2.25">', (-2.25, 1.5)),
        (2, '<meta name="geo.position" content="nolatlon">', None),
        (3, '<meta name="geo.position" content=";5.0">', None),
        (4, '<meta name="geo.position" content="5.0;">', None),
        (5, '<title>no tag</title>', None),
        (6, '<meta name="geo.position" content="abc">'
            '<meta name="geo.position" content="1;2">', (2.0, 1.0)),
        (7, '<meta name="geo.position" content=";x">'
            '<meta name="geo.position" content="3;4">', (4.0, 3.0)),
    ]
    df = spark.createDataFrame(
        [(i, f"u{i}", h.encode()) for i, h, _ in htmls],
        "page_id long, url string, html binary",
    )
    got = {r["id"]: (r["x"], r["y"]) for r in points_from_pages(df).collect()}
    want = {i: xy for i, _, xy in htmls if xy is not None}
    assert got == want


def test_generator_partition_invariance(spark):
    """The generator is a pure function of the row id: 1 partition and 7
    partitions must produce identical tables."""
    a = generate_pages(spark, 120, seed=4, partitions=1).orderBy("url").collect()
    b = generate_pages(spark, 120, seed=4, partitions=7).orderBy("url").collect()
    assert a == b


def test_lang_id_on_stopword_text(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of that house was with them for now"),
            (1, "der hund und die katze ist von dem haus mit einem nicht"),
            (2, "le chat et les chiens est dans la maison pour que une"),
            (3, "el perro que la casa de los gatos en una por con para"),
            (4, "zzz qqq xxx"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang"] for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_lang_id_accuracy_on_labeled_noise(spark):
    """Labeled accuracy floor: deterministic synthetic texts mixing
    each language's stopwords with non-stopword noise at 3:5 ratio must
    classify >= 95% correctly (the heuristic's operating regime: real
    prose carries far denser stopword signal than this)."""
    import numpy as np

    from rindex_spark.functions.text import _LANG_STOPWORDS

    rng = np.random.default_rng(31)
    noise = [f"zq{i}" for i in range(40)]
    rows = []
    langs = list(_LANG_STOPWORDS)
    for i in range(400):
        lang = langs[i % 4]
        sw = list(_LANG_STOPWORDS[lang])
        toks = list(rng.choice(sw, size=3)) + list(rng.choice(noise, size=5))
        rng.shuffle(toks)
        rows.append((i, lang, " ".join(toks)))
    df = spark.createDataFrame(rows, "id long, lang string, text string")
    got = df.select("lang", lang_id("text").alias("pred")).collect()
    acc = sum(1 for r in got if r["lang"] == r["pred"]) / len(got)
    assert acc >= 0.95, f"lang_id accuracy {acc:.3f} < 0.95"


def test_text_stats_columns(spark):
    df = spark.createDataFrame(
        [(0, "Hello world, 42 times!"), (1, ""), (2, "   ")],
        "id long, text string",
    )
    rows = {r["id"]: r for r in with_text_stats(df).collect()}
    r0 = rows[0]
    assert r0["n_chars_calc"] == 22
    assert r0["n_tokens"] == 4
    assert 0 < r0["alpha_ratio"] < 1
    assert r0["digit_ratio"] > 0
    assert rows[1]["n_tokens"] == 0 and rows[2]["n_tokens"] == 0


def test_text_stats_char_class_counts_exact(spark):
    """r6 guard: the translate-based class counts must equal a
    character-by-character Python count on adversarial text (unicode
    letters must NOT count as [a-zA-Z], astral chars must cancel out
    of the subtraction, nulls stay null-safe zeros)."""
    texts = [
        "Hello, wörld 123 «ùñï» ..;;!? \t ok",
        "ASCIIonly 0099 .,;:!?",
        "ñöü日本語🙂🙂 no ascii digits",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = {r["id"]: r for r in with_text_stats(df).collect()}
    alpha = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
    for i, t in enumerate(texts):
        r = rows[i]
        if not t:
            assert r["alpha_ratio"] == 0.0 and r["digit_ratio"] == 0.0
            assert r["punct_ratio"] == 0.0
            continue
        n = len(t)
        assert r["alpha_ratio"] == sum(c in alpha for c in t) / n
        assert r["digit_ratio"] == sum(c in "0123456789" for c in t) / n
        assert r["punct_ratio"] == sum(c in ".,;:!?" for c in t) / n


def test_host_skew_is_zipfish(spark):
    """Low host ids must get quadratically more pages (the hot-key
    workload for salting)."""
    pages = generate_pages(spark, 2000, seed=0)
    counts = (
        pages.withColumn("host", F.regexp_extract("url", r"site(\d+)\.example", 1).cast("int"))
        .groupBy("host")
        .count()
        .collect()
    )
    by_host = {r["host"]: r["count"] for r in counts}
    low = sum(by_host.get(h, 0) for h in range(10))
    high = sum(by_host.get(h, 0) for h in range(87, 97))
    assert low > 3 * max(high, 1)


def test_fold_points_parquet_merge_semantics(spark, tmp_path):
    from rindex_spark.sources.pages import fold_points_parquet

    p = str(tmp_path / "pts")
    ins1 = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 2.0, 2.0), (3, 3.0, 3.0)], "id long, x double, y double"
    )
    none_del = spark.createDataFrame([], "id long")
    cur = fold_points_parquet(spark, p, ins1, none_del)
    assert cur.count() == 3
    # upsert id 2 + delete id 3 + insert id 4
    ins2 = spark.createDataFrame(
        [(2, 20.0, 20.0), (4, 4.0, 4.0)], "id long, x double, y double"
    )
    del2 = spark.createDataFrame([(3,)], "id long")
    cur = fold_points_parquet(spark, p, ins2, del2)
    got = {r["id"]: (r["x"], r["y"]) for r in cur.collect()}
    assert got == {1: (1.0, 1.0), 2: (20.0, 20.0), 4: (4.0, 4.0)}


def test_text_stats_spread_opt_out(spark):
    """``spread=False`` makes with_text_stats a pure projection: the
    input keeps its partitioning and row order, and the plan gains no
    exchange; the default still spreads a narrow input."""
    df = spark.createDataFrame(
        [(i, f"word {i} and more text {i % 7}") for i in range(40)], "id long, text string"
    ).coalesce(1)
    cores = spark.sparkContext.defaultParallelism
    kept = with_text_stats(df, spread=False)
    assert kept.rdd.getNumPartitions() == 1
    assert "Exchange" not in kept._jdf.queryExecution().executedPlan().toString()
    assert [r["id"] for r in kept.collect()] == list(range(40))
    spread = with_text_stats(df)
    if cores > 1:
        assert spread.rdd.getNumPartitions() == cores
    by_id = {r["id"]: r for r in spread.collect()}
    assert all(by_id[r["id"]] == r for r in kept.collect())
