"""Count-min sketch: published one-sided bounds (self-calibrating — the
q88/q173 discipline: tolerances derive from the guarantee, never
hand-tuned), partitioning independence, and the streaming twin's
snapshot == batch-sketch equality."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cyber_etl_spark.operators.countmin import cms_estimate, cms_sketch

WIDTH, DEPTH = 64, 3


def _corpus(spark, n=4000):
    # zipf-ish: item id = id % (id % 37 + 1) mixes hot and cold keys
    return spark.range(n).select(
        F.concat(F.lit("w"), (F.col("id") % (F.col("id") % 37 + 1))).alias(
            "item"
        )
    )


def test_cms_one_sided_bounds_and_partitioning(spark):
    df = _corpus(spark)
    n_total = df.count()
    sk = cms_sketch(df, "item", width=WIDTH, depth=DEPTH)
    exact = df.groupBy("item").agg(F.count(F.lit(1)).alias("t"))
    est = cms_estimate(sk, exact, "item", width=WIDTH, depth=DEPTH)
    rows = exact.join(est, "item").collect()
    assert rows
    # guarantee 1: never an undercount
    assert all(r.cms_est >= r.t for r in rows)
    # guarantee 2 (self-calibrating): P[over > (e/width)*N] <= exp(-depth)
    bound = math.e * n_total / WIDTH
    fail = sum(1 for r in rows if r.cms_est - r.t > bound)
    assert fail / len(rows) <= math.exp(-DEPTH)
    # integer merge => sketch independent of partitioning
    a = sorted(map(tuple, sk.collect()))
    b = sorted(
        map(tuple, cms_sketch(df.repartition(7), "item", WIDTH, DEPTH).collect())
    )
    assert a == b


def test_cms_stream_snapshot_equals_batch_sketch(spark, tmp_path):
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import cms_stream

    pdf = _corpus(spark, 900).toPandas()
    # carry the item in the event_type slot of the enforced events schema
    pdf = pdf.rename(columns={"item": "event_type"})
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = [1_700_000_000_000_000 + i for i in range(len(pdf))]
    pdf["user_id"] = 1
    pdf["value"] = 0.0
    pdf["props"] = ""
    pdf = pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    d = tmp_path / "cms_feed"
    d.mkdir()
    for i in range(3):
        chunk = pdf.iloc[i * 300 : (i + 1) * 300]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros").select(
        F.col("event_type").alias("item")
    )
    run_stream_to_memory(
        cms_stream(stream, width=WIDTH, depth=DEPTH), "cms_mem", mode="update"
    )
    rows = spark.sql("SELECT * FROM cms_mem").collect()
    last_gen = max(r.gen for r in rows)
    got = sorted((r.r, r.b, r.c) for r in rows if r.gen == last_gen)
    want = sorted(
        map(
            tuple,
            cms_sketch(
                spark.createDataFrame(
                    pdf[["event_type"]].rename(columns={"event_type": "item"})
                ),
                "item",
                WIDTH,
                DEPTH,
            ).collect(),
        )
    )
    assert got == want and last_gen == 3
