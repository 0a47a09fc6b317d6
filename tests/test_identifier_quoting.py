"""Column names interpolated into parsed-SQL fast paths must resolve
the way ``F.col`` resolves them on the Column-builder path."""

from __future__ import annotations

import pytest


def test_dot_product_niladic_name_under_reserved_keywords(spark):
    """With reserved keywords enforced, a bare ``current_date`` in SQL
    parses as current_date(); the fast path must hand such a name to
    the Column builder so it still reads the array column."""
    from inside_vectordb_spark.functions.vector import dot_product, l2_norm

    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0],)], "current_date array<float>"
    )
    key = "spark.sql.ansi.enforceReservedKeywords"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        row = df.select(
            dot_product("current_date", "current_date").alias("d"),
            l2_norm("current_date").alias("n"),
        ).collect()[0]
    finally:
        spark.conf.set(key, prev)
    assert row["d"] == pytest.approx(9.0)
    assert row["n"] == pytest.approx(3.0)


def test_quality_scores_struct_field_text_col(spark):
    """``meta.text`` names the struct field, so scoring it matches
    scoring the same strings held in a top-level ``text`` column."""
    from inside_vectordb_spark.operators.textstats import quality_scores

    texts = [
        "the cat sat on the mat and looked at a dog",
        "zzz 123 !!!",
        "",
        "Of the people, by the people, for the people is a phrase",
    ]
    flat = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    nested = spark.createDataFrame(
        [(i, (t,)) for i, t in enumerate(texts)],
        "doc_id long, meta struct<text:string>",
    )
    want = quality_scores(flat).orderBy("doc_id").collect()
    got = quality_scores(nested, text_col="meta.text").orderBy("doc_id").collect()
    assert got == want
