"""Salted aggregation equivalence tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_to_firehose_spark.operators.skew import salted_agg
from kinesis_to_firehose_spark.sources.tables import load

SF = "/root/testdata/sf0.001"


def test_salted_agg_matches_plain(spark):
    e = load(spark, "events", SF)
    plain = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in e.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in salted_agg(
            e,
            "event_type",
            {"n": (F.count("*"), "sum"), "mx": (F.max("value"), "max")},
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_bare_column(spark):
    """ADVICE r1: a bare Column (e.g. countDistinct, which Spark 4
    renders as plain count) must raise, not be silently mis-combined
    into a wrong total."""
    import pytest

    df = spark.range(10).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("v")
    )
    with pytest.raises(ValueError, match="combiner"):
        salted_agg(df, "k", {"nd": F.countDistinct("v")})


def test_salted_agg_explicit_combiner(spark):
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    got = {
        r["k"]: (r["total"], r["lo"])
        for r in salted_agg(
            df,
            "k",
            {"total": (F.sum("v"), "sum"), "lo": (F.min("v"), "min")},
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["lo"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.min("v").alias("lo"))
        .collect()
    }
    assert got == want
