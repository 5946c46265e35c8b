"""S10 — glob/multi-file union scan (SURVEY §2.1): the reference unions
per-feed CSV globs; here the native parquet directory/glob reader is the
same operator and this pins it explicitly."""

from __future__ import annotations

import os


def test_multifile_directory_union(spark, tmp_path):
    from cyber_etl_spark.sources import read_table

    sf_dir = str(tmp_path)
    tdir = os.path.join(sf_dir, "events")  # nested-dir layout of read_table
    os.makedirs(tdir)
    a = spark.range(0, 7).selectExpr("id", "id * 2 AS v")
    b = spark.range(100, 105).selectExpr("id", "id * 2 AS v")
    a.coalesce(1).write.parquet(os.path.join(tdir, "part_a"))
    b.coalesce(1).write.parquet(os.path.join(tdir, "part_b"))
    # recursive lookup unions every fragment under the table directory
    got = spark.read.option("recursiveFileLookup", "true").parquet(tdir)
    assert got.count() == 12
    # explicit glob form over the same fragments
    globbed = spark.read.parquet(os.path.join(tdir, "part_*"))
    assert globbed.count() == 12
    assert {r.id for r in globbed.select("id").collect()} == set(range(0, 7)) | set(
        range(100, 105)
    )
    # read_table's nested-dir path reads multi-part tables (partitioned
    # layout: fragments directly in the table dir)
    c = spark.range(200, 203).selectExpr("id", "id * 2 AS v")
    tdir2 = os.path.join(sf_dir, "documents")
    a.coalesce(2).write.mode("overwrite").parquet(tdir2)
    c.coalesce(1).write.mode("append").parquet(tdir2)
    assert read_table(spark, sf_dir, "documents").count() == 10


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema-evolved multi-file reads: fragments written before a column
    existed merge with later fragments under mergeSchema — the missing
    column reads as NULL, matching columns keep their values.  The
    ingestion reality of a long-lived 100 TB lake: the reader, not a
    rewrite of petabytes of old files, absorbs additive schema change."""
    import os

    tdir = os.path.join(str(tmp_path), "evolved")
    os.makedirs(tdir)
    old = spark.range(0, 5).selectExpr("id", "id * 2 AS v")
    new = spark.range(5, 8).selectExpr("id", "id * 2 AS v", "'en' AS lang")
    old.coalesce(1).write.parquet(os.path.join(tdir, "part_old"))
    new.coalesce(1).write.parquet(os.path.join(tdir, "part_new"))
    got = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(tdir)
    )
    assert set(got.columns) == {"id", "v", "lang"}
    rows = {r.id: (r.v, r.lang) for r in got.collect()}
    assert len(rows) == 8
    assert rows[0] == (0, None) and rows[7] == (14, "en")
    # column pruning still reaches the scan on the merged schema
    pruned = got.select("id")
    assert "lang" not in pruned.schema.fieldNames()


def test_read_table_caches_schema_per_file_version(spark, tmp_path):
    """``read_table`` resolves a table's schema once and reads with it
    afterwards: both events ``ts`` layouts (TIMESTAMP(NANOS) and naive
    TIMESTAMP(MICROS)) give the same session-tz timestamps on the
    inferring and the cached read, and a rewritten file is re-resolved."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cyber_etl_spark.sources import catalog

    micros = [1_700_000_000_123_456, 1_700_000_123_000_001]
    layouts = {
        "nanos": pa.array([u * 1000 + 789 for u in micros], pa.timestamp("ns")),
        "micros": pa.array(micros, pa.timestamp("us")),
    }
    seen = {}
    for layout, ts in layouts.items():
        sf_dir = str(tmp_path / layout)
        os.makedirs(sf_dir)
        path = os.path.join(sf_dir, "events.parquet")
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path)
        cached = len(catalog._SCHEMAS)
        reads = [catalog.read_table(spark, sf_dir, "events") for _ in range(2)]
        assert len(catalog._SCHEMAS) == cached + 1  # inferred once, then reused
        for df in reads:
            assert dict(df.dtypes)["ts"] == "timestamp"
        rows = [sorted(r.ts for r in df.select("ts").collect()) for df in reads]
        assert rows[0] == rows[1]
        seen[layout] = rows[0]
        # a rewrite with an added column is a new file version
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": ts, "user_id": [5, 6]}), path
        )
        again = catalog.read_table(spark, sf_dir, "events")
        assert again.columns == ["event_id", "ts", "user_id"]
        assert sorted(r.ts for r in again.select("ts").collect()) == seen[layout]
    assert seen["nanos"] == seen["micros"]
