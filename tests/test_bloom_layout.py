"""Bloom join prefiltering and Z-order layout (operators/bloom, layout)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bloom_no_false_negatives_and_filters(spark):
    from cyber_etl_spark.operators.bloom import bloom_build, bloom_might_contain

    small = spark.range(0, 200).select((F.col("id") * 13).alias("k"))
    big = spark.range(0, 20000).select(F.col("id").alias("k"))
    words = bloom_build(small, F.col("k"), num_bits=4096, k=4)
    hits = big.where(bloom_might_contain(F.col("k"), words, 4096, 4))
    n_hits = hits.count()
    true_matches = big.join(small, "k", "left_semi").count()
    # no false negatives: every true match passes
    assert hits.join(small, "k", "left_semi").count() == true_matches
    # actually filters: well under the full table, at most modest FPs
    assert true_matches <= n_hits < 20000 * 0.2


def test_bloom_prefilter_join_equals_plain_join(spark, sf_smoke):
    from cyber_etl_spark.operators.bloom import bloom_prefilter_join
    from cyber_etl_spark.sources import read_table

    li = read_table(spark, sf_smoke, "lineitem")
    orders = read_table(spark, sf_smoke, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    got = (
        bloom_prefilter_join(li, orders, "l_orderkey", "o_orderkey")
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    want = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    assert sorted(got) == sorted(want)


def test_bloom_rejects_outer_joins(spark):
    from cyber_etl_spark.operators.bloom import bloom_prefilter_join

    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="keep them"):
        bloom_prefilter_join(df, df, "k", "k", how="left")


def _z_ref(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_bit_interleave_reference(spark):
    from cyber_etl_spark.operators.layout import z_value

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 2, 7, 1024, 65535)],
        "x long, y long",
    )
    rows = df.select("x", "y", z_value("x", "y").alias("z")).collect()
    for r in rows:
        assert r.z == _z_ref(r.x, r.y), (r.x, r.y)


def test_zorder_layout_prunes_both_columns(spark, tmp_path):
    """Z-ordered files are (x, y) rectangles: a narrow filter on EITHER
    column touches a fraction of the files, while a y-sorted layout
    spreads any x filter over every file."""
    from cyber_etl_spark.operators.layout import zorder_write

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    zorder_write(df, zpath, "x", "y", num_files=8)
    (
        df.repartitionByRange(8, "y")
        .sortWithinPartitions("y")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def files_touched(path, cond):
        return (
            spark.read.parquet(path)
            .where(cond)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    # x is NOT the linear layout's sort key: every file has the full x span
    assert files_touched(lpath, "x < 8") == 8
    # the z layout confines a narrow x range to a subset of rectangles
    assert files_touched(zpath, "x < 8") < 8
    # and a narrow y range stays pruned too (both columns benefit)
    assert files_touched(zpath, "y < 8") < 8


def test_bloom_empty_build_side_yields_empty_join(spark):
    from cyber_etl_spark.operators.bloom import bloom_prefilter_join

    big = spark.range(100).select(F.col("id").alias("k"))
    small = big.where("k < 0")  # empty
    out = bloom_prefilter_join(big, small, "k", "k")
    assert out.count() == 0


def test_zorder_write_empty_frame_roundtrips(spark, tmp_path):
    from cyber_etl_spark.operators.layout import zorder_write

    df = spark.range(0).select(F.col("id").alias("x"), F.col("id").alias("y"))
    path = str(tmp_path / "z_empty")
    zorder_write(df, path, "x", "y", num_files=4)
    assert spark.read.parquet(path).count() == 0


def test_bloom_prefilter_bitmap_is_a_local_relation(spark):
    """The broadcast bitmap frame is an Arrow local relation, so the
    probe plan holds no RDD-backed scan and its broadcast pays no
    Python round trip."""
    from cyber_etl_spark.operators.bloom import bloom_build, bloom_prefilter

    small = spark.range(0, 50).select((F.col("id") * 7).alias("k"))
    big = spark.range(0, 1000).select(F.col("id").alias("k"))
    words = bloom_build(small, F.col("k"), num_bits=1024, k=4)
    out = bloom_prefilter(big, "k", words, 1024)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert out.join(small, "k", "left_semi").count() == small.where("k < 1000").count()
