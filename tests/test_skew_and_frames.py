"""Salted skew mitigation equals unsalted results."""

from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.skew import salted_join, salted_sum
from aws_dms_cdc_data_pipeline_spark.session import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("skey"), "l_quantity", "l_orderkey", "l_linenumber"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("skey"), "s_name"
    )
    got = salted_join(li, supp, "skey", buckets=4)
    want = li.join(supp, "skey")
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_salted_join_left_and_how_validation(spark):
    import pytest

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "orphan")], "k long, v string")
    small = spark.createDataFrame([(1, "dim1"), (2, "dim2")], "k long, d string")
    left = salted_join(big, small, "k", buckets=4, how="left")
    rows = {(r.k, r.v): r.d for r in left.collect()}
    assert rows[(9, "orphan")] is None and rows[(1, "a")] == "dim1"
    semi = salted_join(big, small, "k", buckets=4, how="semi")
    assert sorted(r.v for r in semi.collect()) == ["a", "b", "c"]
    for bad in ("right", "full", "right_outer", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", how=bad)


def test_salted_sum_matches_direct_sum(spark):
    # one pathologically hot key: 90% of rows
    rows = [(1 if i % 10 else 2, float(i % 97)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, v double")
    got = {r.k: r.total for r in salted_sum(df, "k", "v", buckets=8).collect()}
    want = {
        r.k: r.total
        for r in df.groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("total"))
        .collect()
    }
    assert got == want
    # the hot key really is split across salt buckets before combining
    from aws_dms_cdc_data_pipeline_spark.operators.skew import _row_salt

    n_buckets = (
        df.filter(F.col("k") == 1)
        .select(_row_salt(df, 8).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets > 1


def test_skew_report_to_salted_join_roundtrip(spark):
    """The operational loop: the skew report FINDS the hot key, the
    salted join FIXES it — demonstrated end to end on a planted skew.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.skew import salted_join

    # 80% of fact rows share key 1; dims are tiny
    rows = [(1, i) for i in range(8000)] + [
        (2 + (i % 50), i) for i in range(2000)
    ]
    big = spark.createDataFrame(rows, "k long, v long")
    small = spark.createDataFrame(
        [(k, f"dim-{k}") for k in range(1, 60)], "k long, name string"
    )

    # 1) detection: the report's share arithmetic flags k=1 at ~80%
    counts = big.groupBy("k").agg(F.count(F.lit(1)).alias("n_rows"))
    total = big.agg(F.count(F.lit(1)).alias("total"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .select("k", F.expr("n_rows * 1000000L div total").alias("share_ppm"))
        .orderBy(F.col("share_ppm").desc())
        .first()
    )
    assert top["k"] == 1 and top["share_ppm"] >= 500_000

    # 2) fix: salting balances shuffle-partition input sizes
    buckets = 8
    from aws_dms_cdc_data_pipeline_spark.operators.skew import _row_salt

    def max_partition_rows(df, *cols):
        return (
            df.repartition(16, *cols)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    plain_max = max_partition_rows(big, "k")
    salted_max = max_partition_rows(
        big.withColumn("_salt", _row_salt(big, buckets)), "k", "_salt"
    )
    assert plain_max >= 8000  # the hot key funnels into one task
    assert salted_max <= plain_max // 3  # salt spreads it

    # 3) correctness: salted result == plain join, bit for bit
    got = sorted(
        tuple(r) for r in salted_join(big, small, "k", buckets=buckets).collect()
    )
    want = sorted(tuple(r) for r in big.join(small, "k").collect())
    assert got == want and len(got) == 10000
