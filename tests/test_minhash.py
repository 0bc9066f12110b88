"""MinHash-LSH internals: UDF vs expression cross-validation, shingling,
and collision behavior on near-duplicates vs random docs."""

from __future__ import annotations

from pyspark.sql import functions as F

from datamatcher_spark.functions.minhash import (
    jaccard_tokens_expr,
    lsh_band_keys_expr,
    minhash_signature_expr,
    minhash_signature_udf,
    shingle_hashes_expr,
    tokens_expr,
    word_shingles_expr,
)

DOCS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy dog near the river bank",  # near-dup
    "completely different content about spark dataframes and shuffle behavior",
    "one two",  # shorter than shingle size
    "",
]


def _df(spark):
    return spark.createDataFrame([(i, d) for i, d in enumerate(DOCS)], "id int, text string")


def test_signature_udf_matches_expression(spark):
    df = _df(spark).withColumn(
        "hs", shingle_hashes_expr(word_shingles_expr(F.col("text"), 3))
    )
    k, seed = 8, 1337
    expr_sig = df.select("id", minhash_signature_expr(F.col("hs"), k, seed).alias("s"))
    udf_sig = df.select("id", minhash_signature_udf(k, seed)(F.col("hs")).alias("s"))
    e = {r.id: r.s for r in expr_sig.collect()}
    u = {r.id: r.s for r in udf_sig.collect()}
    # doc 4 is empty: expression yields null mins vs UDF sentinel — both
    # non-colliding; compare only non-empty docs
    for i in (0, 1, 2, 3):
        assert e[i] == u[i], i


def test_shingles_shorter_than_n(spark):
    rows = _df(spark).select(
        "id", word_shingles_expr(F.col("text"), 3).alias("sh")
    ).collect()
    got = {r.id: r.sh for r in rows}
    assert got[3] == ["one two"]
    assert got[0][0] == "the quick brown"
    assert len(got[0]) == len(DOCS[0].split()) - 2


def test_near_dup_band_collision(spark):
    df = _df(spark).withColumn(
        "hs", shingle_hashes_expr(word_shingles_expr(F.col("text"), 3))
    ).withColumn("sig", minhash_signature_udf(64, 1337)(F.col("hs")))
    bands = df.select(
        "id", F.explode(lsh_band_keys_expr(F.col("sig"), 16, 4)).alias("bk")
    )
    a = {r.bk for r in bands.filter("id = 0").collect()}
    b = {r.bk for r in bands.filter("id = 1").collect()}
    c = {r.bk for r in bands.filter("id = 2").collect()}
    assert a & b, "near-duplicates must share at least one band"
    assert not (a & c), "unrelated docs must not collide"


def test_jaccard_tokens(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"]), (["a"], ["a"]), ([], [])],
        "x array<string>, y array<string>",
    )
    got = [r.j for r in df.select(jaccard_tokens_expr(F.col("x"), F.col("y")).alias("j")).collect()]
    assert got == [0.5, 1.0, 1.0]


def test_tokens_expr_drops_empties(spark):
    df = spark.createDataFrame([("  Hello   WORLD  ",)], "t string")
    assert df.select(tokens_expr(F.col("t")).alias("x")).first().x == ["hello", "world"]


def test_lsh_band_keys_short_signature_fails_in_both_ansi_modes(spark):
    """A signature shorter than bands·rows raises the same error whether
    ANSI mode is on or off (the bare element_at reads would throw under
    ANSI and silently read nulls without it)."""
    import pytest
    from pyspark.errors import PySparkException

    df = spark.createDataFrame([(list(range(10)),)], "sig array<bigint>")
    before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            with pytest.raises(PySparkException, match="signature length must be 64"):
                df.select(lsh_band_keys_expr(F.col("sig"), 16, 4)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
