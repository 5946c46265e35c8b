"""Structured Streaming correctness: stream results must equal the batch
twin on the same input — the streaming analogue of the DuckDB oracle.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def events_dir(sf_smoke, tmp_path_factory) -> str:
    """Streaming file sources read directories; stage the events file."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_smoke}/events.parquet", d / "part-0.parquet")
    return str(d)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(sorted(pdf.columns))).reset_index(drop=True)[
        sorted(pdf.columns)
    ]


def test_hourly_rollup_stream_matches_batch(spark, sf_smoke, events_dir):
    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.streaming import (
        hourly_rollup_stream,
        read_event_stream,
        run_stream_to_memory,
    )

    stream = read_event_stream(spark, events_dir)
    run_stream_to_memory(hourly_rollup_stream(stream), "hourly_mem", mode="complete")
    got = _sorted(spark.sql("SELECT * FROM hourly_mem").toPandas())
    want = _sorted(QUERIES["q14_hourly_rollup"].builder(spark, sf_smoke).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_sessionize_stream_matches_batch(spark, sf_smoke, events_dir):
    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.streaming import (
        read_event_stream,
        run_stream_to_memory,
        sessionize_stream,
    )

    stream = read_event_stream(spark, events_dir)
    run_stream_to_memory(sessionize_stream(stream), "sess_mem", mode="complete")
    got = _sorted(spark.sql("SELECT * FROM sess_mem").toPandas())
    want = _sorted(QUERIES["q32_session_stats"].builder(spark, sf_smoke).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_stream_dedupe(spark, sf_smoke, events_dir):
    from cyber_etl_spark.streaming import (
        read_event_stream,
        run_stream_to_memory,
        stream_dedupe,
    )

    stream = read_event_stream(spark, events_dir)
    run_stream_to_memory(stream_dedupe(stream), "dedupe_mem", mode="append")
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedupe_mem").collect()[0]
    assert got.n == got.d > 0


def test_stateful_user_profiles(spark, sf_smoke, events_dir):
    """applyInPandasWithState: final per-user profile equals the batch
    computation (count, sum; EMA checked for a sample user)."""
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import user_profiles_stream
    from pyspark.sql import functions as F

    stream = read_event_stream(spark, events_dir)
    run_stream_to_memory(user_profiles_stream(stream), "profiles_mem", mode="update")
    # update mode emits one row per user per touching micro-batch; the
    # LAST row per user is the final state
    got = (
        spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM profiles_mem) WHERE rn = 1
            """
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    events = read_table(spark, sf_smoke, "events")
    want = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n_events"] == want["n_events"]).all()
    assert (abs(got["total_value"] - want["total_value"]) < 1e-6).all()


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, events_dir):
    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.events import error_followups_stream

    stream = read_event_stream(spark, events_dir)
    run_stream_to_memory(error_followups_stream(stream), "ssj_mem", mode="append")
    got = _sorted(spark.sql("SELECT * FROM ssj_mem").toPandas())
    want = _sorted(QUERIES["q47_interval_join"].builder(spark, sf_smoke).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_foreach_batch_parquet_sink(spark, sf_smoke, events_dir, tmp_path):
    """foreachBatch parquet sink: all rows land exactly once; restarting
    from the same checkpoint with no new input writes nothing."""
    from cyber_etl_spark.streaming import read_event_stream
    from cyber_etl_spark.streaming.events import run_stream_to_parquet, stream_dedupe

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_dedupe(read_event_stream(spark, events_dir))
    run_stream_to_parquet(stream, out, ckpt)
    first = spark.read.parquet(out).count()
    batch_rows = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert first == batch_rows
    # restart with identical checkpoint: no new files, no duplicates
    stream2 = stream_dedupe(read_event_stream(spark, events_dir))
    run_stream_to_parquet(stream2, out, ckpt)
    assert spark.read.parquet(out).count() == first


def test_transform_with_state_type_stats(spark, sf_smoke, events_dir):
    """transformWithStateInPandas: final per-type stats equal the batch
    aggregate (skipped where the protobuf runtime is unavailable)."""
    import pytest

    from cyber_etl_spark.streaming.stateful import (
        has_transform_with_state,
        type_stats_stream,
    )

    if not has_transform_with_state():
        pytest.skip("google.protobuf unavailable: transformWithState needs it")
    from pyspark.sql import functions as F

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory

    stream = read_event_stream(spark, events_dir)
    run_stream_to_memory(type_stats_stream(stream), "type_stats_mem", mode="update")
    got = spark.sql(
        """
        SELECT event_type, n_events, total_value, max_value FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY n_events DESC) rn
          FROM type_stats_mem) WHERE rn = 1
        """
    ).toPandas().set_index("event_type").sort_index()
    events = read_table(spark, sf_smoke, "events")
    want = (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    assert (got["n_events"] == want["n_events"]).all()
    assert (abs(got["total_value"] - want["total_value"]) < 1e-6).all()


def test_incremental_dedup_stream_matches_batch(spark, sf_smoke, tmp_path):
    """Streaming incremental dedup must find exactly the pairs the batch
    q106 operator finds on the same split, accumulated across
    micro-batches (maxFilesPerTrigger=1 forces at least one batch)."""
    import shutil

    from pyspark.sql import functions as F

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import (
        incremental_dedup_stream,
        read_document_stream,
    )

    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    shutil.copy(f"{sf_smoke}/documents.parquet", docs_dir / "part-0.parquet")

    corpus = read_table(spark, sf_smoke, "documents").where(F.col("doc_id") % 10 != 0)
    stream = read_document_stream(spark, str(docs_dir)).where(F.col("doc_id") % 10 == 0)

    got: set[tuple] = set()

    def sink(pairs, batch_id):
        got.update(
            (r.id_new, r.id_corpus, round(r.jaccard, 6)) for r in pairs.collect()
        )

    q = incremental_dedup_stream(stream, corpus, sink)
    q.awaitTermination()

    want = {
        (r.id_new, r.id_corpus, round(r.jaccard, 6))
        for r in QUERIES["q106_incremental_dedup"].builder(spark, sf_smoke).collect()
    }
    assert got == want and got  # identical, and non-trivial


def test_stream_starts_on_empty_dir_both_layouts(spark, tmp_path):
    """An empty input directory is a normal initial state: the stream
    must start (and drain zero rows) under BOTH declared ts layouts
    (ADVICE r03 + r04 review: the fallback must not hardcode one)."""
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory

    for layout in ("nanos", "micros"):
        d = tmp_path / f"empty_{layout}"
        d.mkdir()
        stream = read_event_stream(spark, str(d), empty_dir_ts=layout)
        assert stream.schema["ts"].dataType.simpleString() == "timestamp"
        q = run_stream_to_memory(
            stream.groupBy("event_type").count(), f"empty_{layout}", mode="complete"
        )
        assert spark.sql(f"SELECT * FROM empty_{layout}").count() == 0


def test_partitioned_stream_sink_is_replay_idempotent(spark, sf_smoke, events_dir, tmp_path):
    """The batch-id dynamic-overwrite sink: content equals the batch
    read, and replaying the same batch boundaries (fresh checkpoint over
    the same single-batch input) REPLACES the batch's partitions instead
    of duplicating rows.  (Per the operator docstring, a from-scratch
    rebuild with DIFFERENT batch boundaries needs a fresh directory —
    the guarantee is per batch id within a checkpoint lineage.)"""
    from pyspark.sql import functions as F

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming.events import (
        read_event_stream,
        run_stream_to_partitioned_parquet,
    )

    out = str(tmp_path / "tbl")
    want = read_table(spark, sf_smoke, "events").count()

    run_stream_to_partitioned_parquet(
        read_event_stream(spark, events_dir),
        out,
        str(tmp_path / "ckpt1"),
        partition_by=["event_type"],
    )
    got1 = spark.read.parquet(out)
    assert got1.count() == want
    # user partition column prunes directories
    plan = (
        got1.where(F.col("event_type") == "click")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "click" in plan.split("PartitionFilters")[1].split("]")[0]

    # replay from scratch: fresh checkpoint, same input — partitions are
    # replaced, so the table does NOT double
    run_stream_to_partitioned_parquet(
        read_event_stream(spark, events_dir),
        out,
        str(tmp_path / "ckpt2"),
        partition_by=["event_type"],
    )
    assert spark.read.parquet(out).count() == want


def test_debounce_stream_matches_batch_q134(spark, sf_smoke, tmp_path):
    """Streaming debounce == the q134 lag computation, with state
    genuinely crossing micro-batches: the event feed is split into three
    ts-ordered files consumed one per trigger."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import debounce_stream

    events = read_table(spark, sf_smoke, "events")
    d = tmp_path / "debounce_feed"
    d.mkdir()
    import pyarrow as pa
    from _feed import write_feed

    n = events.count()
    pdf = events.orderBy("ts", "event_id").toPandas()
    for i in range(3):  # flat files: the file-stream source does not recurse
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(
        spark, str(d), empty_dir_ts="micros"
    )
    run_stream_to_memory(debounce_stream(stream), "debounce_mem", mode="update")
    got = {r.event_id for r in spark.sql("SELECT event_id FROM debounce_mem").collect()}

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    want = {
        r.event_id
        for r in events.withColumn("gap", gap)
        .where(F.col("gap").isNull() | (F.col("gap") >= 300_000_000))
        .select("event_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_ewma_stream_matches_batch_q155(spark, sf_smoke, tmp_path):
    """Streaming truncated EWMA == the q155 lag-chain window query, with
    per-user state (the previous 6 values) genuinely crossing
    micro-batches: the feed is split into three ts-ordered files
    consumed one per trigger."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import ewma_stream

    events = read_table(spark, sf_smoke, "events")
    d = tmp_path / "ewma_feed"
    d.mkdir()
    n = events.count()
    pdf = events.orderBy("ts", "event_id").toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros")
    run_stream_to_memory(ewma_stream(stream), "ewma_mem", mode="update")
    got = {
        r.event_id: r.ewma
        for r in spark.sql("SELECT event_id, ewma FROM ewma_mem").collect()
    }
    want = {
        r.event_id: r.ewma
        for r in QUERIES["q155_ewma"].builder(spark, sf_smoke).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_pack_stream_first_fit_matches_reference(spark, sf_smoke, tmp_path):
    """Streaming first-fit packing == a driver-side reference replaying
    the identical arrival order, with shelf state genuinely crossing
    micro-batches (bins opened in chunk 1 receive documents from later
    chunks)."""
    import pyarrow as pa
    from _feed import write_feed
    from pyspark.sql import functions as F

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import _PACK_SHELF, pack_stream

    docs = read_table(spark, sf_smoke, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    meta = (
        docs.select("doc_id", "source", n_tok.alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
        .orderBy("doc_id")
        .toPandas()
    )
    d = tmp_path / "pack_feed"
    d.mkdir()
    n = len(meta)
    for i in range(3):
        chunk = meta.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, source string, n_tokens long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(pack_stream(stream, capacity=512), "pack_mem", mode="update")
    got = {
        r.doc_id: (r.source, r.bin_id, r.fill_after)
        for r in spark.sql("SELECT * FROM pack_mem").collect()
    }

    # driver-side reference: same order (chunks consumed in sequence,
    # doc_id-sorted within), same bounded-shelf first-fit
    want: dict = {}
    next_bin: dict = {}
    shelf: dict = {}
    for i in range(3):
        chunk = meta.iloc[i * n // 3 : (i + 1) * n // 3].sort_values("doc_id")
        for _, row in chunk.iterrows():
            src, did, ntk = row["source"], int(row["doc_id"]), int(row["n_tokens"])
            sh = shelf.setdefault(src, [])
            placed = None
            if ntk < 512:
                for slot in sh:
                    if slot[1] + ntk <= 512:
                        slot[1] += ntk
                        placed = slot
                        break
            if placed is None:
                placed = [next_bin.get(src, 0), ntk]
                next_bin[src] = next_bin.get(src, 0) + 1
                if ntk < 512:
                    sh.append(placed)
                    if len(sh) > _PACK_SHELF:
                        sh.pop(0)
            if placed[1] >= 512 and placed in sh:
                sh.remove(placed)
            want[did] = (src, placed[0], placed[1])
    assert len(got) == len(want) > 0
    assert got == want
    # state crossed batches: some bin received docs from different chunks
    import collections

    chunk_of = {}
    for i in range(3):
        for did in meta.iloc[i * n // 3 : (i + 1) * n // 3]["doc_id"]:
            chunk_of[int(did)] = i
    bins = collections.defaultdict(set)
    for did, (src, b, _) in got.items():
        bins[(src, b)].add(chunk_of[did])
    assert any(len(cs) > 1 for cs in bins.values())


def test_weighted_sample_stream_matches_driver_replay(spark, sf_smoke, tmp_path):
    """Streaming A-ES reservoir == a driver-side replay of the same
    arithmetic over the full feed, with the reservoir genuinely crossing
    micro-batches (3 ts-ordered chunks, one per trigger): top-k-by-key
    is an associative merge, so the final generation's snapshot must
    equal the all-data answer regardless of batch slicing."""
    import hashlib
    import math

    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import WSAMPLE_K, weighted_sample_stream

    events = read_table(spark, sf_smoke, "events")
    d = tmp_path / "ws_feed"
    d.mkdir()
    n = events.count()
    pdf = events.orderBy("ts", "event_id").toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros")
    run_stream_to_memory(weighted_sample_stream(stream), "ws_mem", mode="update")

    rows = spark.sql("SELECT * FROM ws_mem").collect()
    last_gen = {}
    for r in rows:
        last_gen[r.event_type] = max(last_gen.get(r.event_type, 0), r.gen)
    got = {
        (r.event_type, r.rank): (r.event_id, r.value)
        for r in rows
        if r.gen == last_gen[r.event_type]
    }
    assert max(last_gen.values()) == 3  # state really crossed 3 triggers

    # driver replay with the identical (libm) arithmetic
    want = {}
    per_type: dict = {}
    for _, row in pdf.iterrows():
        v = row["value"]
        if v is None or not v > 0:
            continue
        eid = int(row["event_id"])
        u = int(hashlib.md5(str(eid).encode()).hexdigest()[:13], 16) / float(1 << 52)
        kk = math.log(u) / float(v) if u > 0 else float("-inf")
        per_type.setdefault(row["event_type"], []).append((kk, eid, float(v)))
    for et, slots in per_type.items():
        slots.sort(key=lambda t: (-t[0], t[1]))
        for rank, s in enumerate(slots[:WSAMPLE_K], 1):
            want[(et, rank)] = (s[1], s[2])
    assert len(got) == len(want) > 0
    assert got == want


def test_weighted_sample_stream_nondefault_k(spark, sf_smoke, tmp_path):
    """The reservoir size is a real parameter: a non-default k must get
    a matching state schema (review r7: a fixed 10-slot schema crashed
    every other k)."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import weighted_sample_stream

    events = read_table(spark, sf_smoke, "events").limit(400)
    d = tmp_path / "wsk_feed"
    d.mkdir()
    write_feed(
        pa.Table.from_pandas(events.toPandas()), str(d / "chunk_0.parquet")
    )
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros")
    run_stream_to_memory(
        weighted_sample_stream(stream, k=4), "wsk_mem", mode="update"
    )
    rows = spark.sql("SELECT event_type, rank FROM wsk_mem").collect()
    assert rows and max(r.rank for r in rows) <= 4


def test_heavy_hitter_stream_matches_replay_and_mg_bounds(spark, sf_smoke, tmp_path):
    """Streaming sharded Misra-Gries == a driver-side replay of the same
    batch-counted merges over the same 3 chunk slicing, AND the final
    summaries satisfy the PUBLISHED MG guarantees (self-calibrating, the
    q88/q173 discipline): every item with true frequency > n_s/(k+1) is
    present in its shard's summary, and present counts undershoot true
    frequency by at most n_s/(k+1)."""
    import hashlib

    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import (
        MGSTREAM_K,
        MGSTREAM_SHARDS,
        heavy_hitter_stream,
    )

    events = read_table(spark, sf_smoke, "events")
    n = events.count()
    # craft skew: 5 hot items (user_id % 5) over a long tail of unique
    # cold items — hot frequencies far exceed the n_s/(k+1) threshold
    item_expr = (
        "CASE WHEN user_id % 3 = 0 THEN concat('hot_', user_id % 5) "
        "ELSE concat('cold_', event_id) END AS item"
    )
    full = events.orderBy("ts", "event_id").toPandas()
    pdf = (
        events.orderBy("ts", "event_id").selectExpr("event_id", item_expr).toPandas()
    )
    d = tmp_path / "hh_feed"
    d.mkdir()
    for i in range(3):
        chunk = full.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros").selectExpr(
        item_expr
    )
    run_stream_to_memory(heavy_hitter_stream(stream), "hh_mem", mode="update")

    rows = spark.sql("SELECT * FROM hh_mem").collect()
    last_gen = {}
    for r in rows:
        last_gen[r.shard] = max(last_gen.get(r.shard, 0), r.gen)
    assert max(last_gen.values()) == 3  # state really crossed 3 triggers
    got = {
        (r.shard, r.item): (r.cnt, r.n_seen)
        for r in rows
        if r.gen == last_gen[r.shard]
    }

    def shard_of(item: str) -> int:
        return int(hashlib.md5(item.encode()).hexdigest()[:8], 16) % MGSTREAM_SHARDS

    # driver replay: identical batch-counted merge per shard per chunk
    k = MGSTREAM_K
    counters: dict[int, dict] = {}
    n_seen: dict[int, int] = {}
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        by_shard = chunk.groupby(chunk["item"].map(shard_of))
        for s, grp in by_shard:
            c = counters.setdefault(s, {})
            n_seen[s] = n_seen.get(s, 0) + len(grp)
            for item, cnt in grp["item"].value_counts().items():
                c[item] = c.get(item, 0) + int(cnt)
            if len(c) > k:
                cut = sorted(c.values(), reverse=True)[k]
                counters[s] = {i2: v - cut for i2, v in c.items() if v - cut > 0}
    want = {
        (s, item): (cnt, n_seen[s])
        for s, c in counters.items()
        for item, cnt in c.items()
    }
    assert got == want and len(got) > 0

    # self-calibrating MG bounds against true frequencies
    true_freq = pdf["item"].value_counts()
    hot_seen = 0
    for item, f in true_freq.items():
        s = shard_of(item)
        eps = n_seen[s] // (k + 1)
        if f > eps:  # guaranteed survivor
            assert (s, item) in got, f"guaranteed hitter {item} missing"
        if (s, item) in got:
            c = got[(s, item)][0]
            assert c <= f and f - c <= eps, (item, c, f, eps)
            hot_seen += item.startswith("hot_")
    assert hot_seen == 5  # all crafted heavy items survived


def test_cdc_apply_stream_matches_batch_q180(spark, sf_smoke, tmp_path):
    """Streaming latest-op-wins state == the batch q180 collapse over
    the identical synthetic change log, with the log sliced by sequence
    number so later triggers genuinely override earlier state (and
    deletes erase keys that earlier triggers had upserted)."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.plans.relational2 import cdc_change_log
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import cdc_apply_stream

    log = cdc_change_log(spark, sf_smoke).toPandas()
    d = tmp_path / "cdc_feed"
    d.mkdir()
    for s in range(3):  # one file per seq value -> 3 ordered triggers
        chunk = log[log["seq"] == s]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"seq_{s}.parquet"))
    stream = (
        spark.readStream.schema("k long, seq long, op string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(cdc_apply_stream(stream), "cdc_mem", mode="update")

    rows = spark.sql("SELECT * FROM cdc_mem").collect()
    assert max(r.gen for r in rows) == 3  # state crossed 3 triggers
    latest = {}
    for r in rows:
        if r.k not in latest or r.gen > latest[r.k].gen:
            latest[r.k] = r
    got = {(r.k, r.v) for r in latest.values() if r.op != "D"}
    want = {
        (r.o_orderkey, r.price)
        for r in QUERIES["q180_cdc_apply"].builder(spark, sf_smoke).collect()
    }
    assert got == want and len(got) > 0
    # at least one key was upserted then deleted across triggers
    deleted = {r.k for r in latest.values() if r.op == "D"}
    upserted_then_deleted = {
        r.k for r in rows if r.k in deleted and r.gen < latest[r.k].gen and r.op != "D"
    }
    assert upserted_then_deleted


def test_holt_stream_matches_kernel_state(spark, sf_smoke, tmp_path):
    """Streaming Holt (per event type) == the batch kernel's recurrence
    over the same prefix, with (level, trend) state genuinely crossing
    micro-batches: the per-type day grid feeds in three day-ordered
    files, and the final emitted state per type must equal a replay of
    operators/forecast's exact float expression tree."""
    import pyarrow as pa
    from _feed import write_feed

    from pyspark.sql import functions as F

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import holt_stream

    ev = read_table(spark, sf_smoke, "events")
    grid = (
        ev.groupBy("event_type", F.to_date("ts").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("day")
        .toPandas()
    )
    d = tmp_path / "holt_feed"
    d.mkdir()
    days = sorted(grid["day"].unique())
    n = len(days)
    assert n >= 6
    for i in range(3):
        sel = days[i * n // 3 : (i + 1) * n // 3]
        chunk = grid[grid["day"].isin(sel)]
        write_feed(
            pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet")
        )
    stream = (
        spark.readStream.schema("event_type string, day string, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(holt_stream(stream), "holt_mem", mode="update")
    rows = spark.sql("SELECT * FROM holt_mem").collect()
    last = {}
    for r in rows:
        if r.event_type not in last or r.day > last[r.event_type].day:
            last[r.event_type] = r

    # pure-Python replay of the kernel's expression tree per type
    for etype, g in grid.groupby("event_type"):
        xs = [float(x) for _, x in sorted(zip(g["day"], g["x"]))]
        lvl, trd = xs[0], xs[1] - xs[0]
        for t in range(1, len(xs)):
            new_l = 0.5 * xs[t] + 0.5 * (lvl + trd)
            trd = 0.5 * (new_l - lvl) + 0.5 * trd
            lvl = new_l
        got = last[etype]
        assert got.level == lvl and got.trend == trd, etype
        assert got.forecast_next == lvl + trd


def test_decayed_counter_stream_matches_batch_formula(spark, sf_smoke, tmp_path):
    """Streaming decayed counter (per event type) == the q274 batch
    formula over the same prefix, with the 46-day raw-count buffer
    genuinely crossing micro-batches: the day grid feeds in three
    day-ordered files; the final emitted value per type must equal an
    exact big-int replay of sum(cnt * 2^(45-age)) / 2^45 with age
    measured from that type's last fed day."""
    from datetime import date

    import pyarrow as pa
    from _feed import write_feed

    from pyspark.sql import functions as F

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import decayed_counter_stream

    ev = read_table(spark, sf_smoke, "events")
    grid = (
        ev.groupBy("event_type", F.to_date("ts").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("day")
        .toPandas()
    )
    d = tmp_path / "decay_feed"
    d.mkdir()
    days = sorted(grid["day"].unique())
    n = len(days)
    assert n >= 6
    for i in range(3):
        sel = days[i * n // 3 : (i + 1) * n // 3]
        chunk = grid[grid["day"].isin(sel)]
        write_feed(
            pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet")
        )
    stream = (
        spark.readStream.schema("event_type string, day string, cnt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(
        decayed_counter_stream(stream), "decay_mem", mode="update"
    )
    rows = spark.sql("SELECT * FROM decay_mem").collect()
    last = {}
    for r in rows:
        if r.event_type not in last or r.day > last[r.event_type].day:
            last[r.event_type] = r

    for etype, g in grid.groupby("event_type"):
        pairs = sorted(zip(g["day"], g["cnt"]))
        dmax = date.fromisoformat(pairs[-1][0])
        units = sum(
            int(c) << (45 - (dmax - date.fromisoformat(dd)).days)
            for dd, c in pairs
            if (dmax - date.fromisoformat(dd)).days <= 45
        )
        got = last[etype]
        assert got.decayed_count == float(units) / 2.0**45, etype


def test_decayed_counter_stream_out_of_order_days(spark, sf_smoke, tmp_path):
    """Cross-micro-batch OUT-OF-ORDER days (r8 advice fix): the middle
    third of the calendar arrives first, then the FIRST third (every
    day earlier than the frontier — previously folded into the age-0
    bucket, corrupting the total), then the last third.  Late days must
    merge into their true age bucket, so the final emitted value per
    type still equals the exact big-int batch formula over ALL fed
    days."""
    from datetime import date

    import pyarrow as pa
    from _feed import write_feed

    from pyspark.sql import functions as F

    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import decayed_counter_stream

    ev = read_table(spark, sf_smoke, "events")
    grid = (
        ev.groupBy("event_type", F.to_date("ts").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("day")
        .toPandas()
    )
    d = tmp_path / "decay_feed_ooo"
    d.mkdir()
    days = sorted(grid["day"].unique())
    n = len(days)
    assert n >= 6
    thirds = [days[: n // 3], days[n // 3 : 2 * n // 3], days[2 * n // 3 :]]
    # feed order: middle, FIRST (late — all days precede the frontier), last
    for i, sel in enumerate([thirds[1], thirds[0], thirds[2]]):
        chunk = grid[grid["day"].isin(sel)]
        write_feed(
            pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet")
        )
    stream = (
        spark.readStream.schema("event_type string, day string, cnt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(
        decayed_counter_stream(stream), "decay_mem_ooo", mode="update"
    )
    rows = spark.sql("SELECT * FROM decay_mem_ooo").collect()
    last = {}
    for r in rows:
        if r.event_type not in last or r.day > last[r.event_type].day:
            last[r.event_type] = r

    for etype, g in grid.groupby("event_type"):
        pairs = sorted(zip(g["day"], g["cnt"]))
        dmax = date.fromisoformat(pairs[-1][0])
        units = sum(
            int(c) << (45 - (dmax - date.fromisoformat(dd)).days)
            for dd, c in pairs
            if (dmax - date.fromisoformat(dd)).days <= 45
        )
        got = last[etype]
        assert got.decayed_count == float(units) / 2.0**45, etype


def test_hll_register_stream_twin(spark, sf_smoke, tmp_path):
    """Streaming HLL (per event type) == the batch register algebra over
    the same prefix: after feeding the whole events table in three
    user-ordered files, each type's final emitted estimate must equal
    q173's oracled per-type estimate to the 6-dp digit, and the
    register-hit count must equal an exact Python replay of the md5
    register maxima."""
    import hashlib

    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import hll_register_stream

    ev = read_table(spark, sf_smoke, "events")
    pdf = ev.select("event_type", "user_id").toPandas()
    d = tmp_path / "hll_feed"
    d.mkdir()
    order = pdf.sort_values("user_id").reset_index(drop=True)
    n = len(order)
    for i in range(3):
        chunk = order.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"c{i}.parquet"))
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(hll_register_stream(stream), "hll_mem", mode="update")
    rows = spark.sql("SELECT * FROM hll_mem").collect()
    # update-mode memory sink appends every trigger's emission; the final
    # state per type is the row with the most registers hit (monotone),
    # tie-broken by the largest estimate (also monotone in the registers)
    last = {}
    for r in rows:
        k = (r.registers_hit, r.hll_estimate)
        if r.event_type not in last or k >= (
            last[r.event_type].registers_hit,
            last[r.event_type].hll_estimate,
        ):
            last[r.event_type] = r

    # batch pin #1: q173's oracled per-type estimates
    q173 = {
        r.event_type: r.approx_users
        for r in QUERIES["q173_hll_mergeable_union"].builder(spark, sf_smoke).collect()
        if r.event_type != "ALL"
    }
    assert set(last) == set(q173)
    for et, r in last.items():
        assert round(r.hll_estimate, 6) == q173[et], (et, r.hll_estimate)

    # batch pin #2: exact Python replay of the register maxima
    for et, g in pdf.groupby("event_type"):
        regs = [0] * 256
        for uid in set(g["user_id"]):
            hv = int(hashlib.md5(str(int(uid)).encode()).hexdigest()[:8], 16)
            j = (hv >> 24) % 256
            suffix = hv % (1 << 24)
            rho = 25 if suffix == 0 else 24 - suffix.bit_length() + 1
            regs[j] = max(regs[j], rho)
        assert last[et].registers_hit == sum(1 for m in regs if m > 0), et


def test_trailing_anomaly_stream_matches_batch_q319(spark, sf_smoke, tmp_path):
    """Streaming trailing-window anomaly flags == the q319 batch rows
    over the same in-order daily feed (three day-ordered files crossing
    micro-batches): same (type, day) rows emitted, same n_trail/z/flag
    to the last bit."""
    import pyarrow as pa
    from _feed import write_feed

    from pyspark.sql import functions as F

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import trailing_anomaly_stream

    ev = read_table(spark, sf_smoke, "events")
    grid = (
        ev.groupBy("event_type", F.to_date("ts").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("day")
        .toPandas()
    )
    d = tmp_path / "anom_feed"
    d.mkdir()
    days = sorted(grid["day"].unique())
    n = len(days)
    for i in range(3):
        sel = days[i * n // 3 : (i + 1) * n // 3]
        chunk = grid[grid["day"].isin(sel)]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"c{i}.parquet"))
    stream = (
        spark.readStream.schema("event_type string, day string, cnt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(
        trailing_anomaly_stream(stream), "anom_mem", mode="update"
    )
    got = {
        (r.event_type, r.day): (r.n_trail, r.z, r.is_anomaly)
        for r in spark.sql("SELECT * FROM anom_mem").collect()
    }
    want = {
        (r.event_type, r.day): (r.n_trail, r.z, r.is_anomaly)
        for r in QUERIES["q319_trailing_anomaly"].builder(spark, sf_smoke).collect()
    }
    assert got == want


def test_twap_stream_twin(spark, sf_smoke, tmp_path):
    """Streaming TWAP (per user,type) == q332's batch aggregate: feed
    the whole events table in three ts-ordered files, fold the final
    per-key accumulators per event type, and require q332's published
    integers (n_intervals, held_seconds) and half-away twap rational to
    the exact value."""
    import pyarrow as pa
    from _feed import write_feed

    from pyspark.sql import functions as F

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import twap_stream

    ev = read_table(spark, sf_smoke, "events")
    pdf = (
        ev.select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("ts_us"),
            "value",
            "event_id",
        )
        .toPandas()
        .sort_values(["ts_us", "event_id"])
        .drop(columns=["event_id"])
        .reset_index(drop=True)
    )
    d = tmp_path / "twap_feed"
    d.mkdir()
    n = len(pdf)
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"c{i}.parquet"))
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_us long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(twap_stream(stream), "twap_mem", mode="update")
    rows = spark.sql("SELECT * FROM twap_mem").collect()
    last = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        if k not in last or (r.n_intervals, r.den_us) >= (
            last[k].n_intervals,
            last[k].den_us,
        ):
            last[k] = r
    per_type: dict = {}
    for r in last.values():
        num, den, cnt = per_type.get(r.event_type, (0, 0, 0))
        per_type[r.event_type] = (
            num + int(r.num_str),
            den + r.den_us,
            cnt + r.n_intervals,
        )
    batch = {
        r["event_type"]: r
        for r in QUERIES["q332_time_weighted_value"].builder(
            spark, sf_smoke
        ).collect()
    }
    assert set(per_type) == set(batch)
    for etype, (num, den, cnt) in per_type.items():
        b = batch[etype]
        assert cnt == b["n_intervals"], etype
        assert den // 1_000_000 == b["held_seconds"], etype
        d2 = den * 1_000_000
        twap = ((2 * num * 1_000_000 + d2) // (2 * d2)) / 1_000_000
        assert twap == b["twap"], (etype, twap, b["twap"])


def test_sprt_stream_twin(spark, sf_smoke, tmp_path):
    """Streaming SPRT == q346's batch trajectory: feed the daily
    (trials, conv) grid in three day-ordered files with q346's own
    la12/lb12/a12 constants; every emitted pre-crossing row must equal
    the batch row bit-for-bit (integer LLR included), and the stream's
    first non-continue day must match the batch's."""
    import pyarrow as pa
    from _feed import write_feed

    from pyspark.sql import functions as F

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table
    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import sprt_stream

    ev = read_table(spark, sf_smoke, "events")
    d = (
        ev.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("trials"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .withColumn("stream", F.lit("conv"))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    # q346's constants, recomputed with the same integer snaps
    import math

    # the first half is defined by CALENDAR, not day count — recompute
    # exactly as q346 does
    import datetime

    d0 = datetime.date.fromisoformat(d["day"].iloc[0])
    d1 = datetime.date.fromisoformat(d["day"].iloc[-1])
    span = (d1 - d0).days
    first = d[[(datetime.date.fromisoformat(x) - d0).days * 2 < span + 1
               for x in d["day"]]]
    t1, s1 = int(first["trials"].sum()), int(first["conv"].sum())
    la12 = math.floor(math.log(float(6) / 5) * 1e12 + 0.5)
    lb12 = math.floor(
        math.log(float(5 * t1 - 6 * s1) / (5 * (t1 - s1))) * 1e12 - 0.5
    ) + 1
    a12 = math.floor(math.log(float(19)) * 1e12 + 0.5)

    feed = tmp_path / "sprt_feed"
    feed.mkdir()
    n = len(d)
    for i in range(3):
        chunk = d.iloc[i * n // 3 : (i + 1) * n // 3]
        write_feed(
            pa.Table.from_pandas(chunk[["stream", "day", "trials", "conv"]]),
            str(feed / f"c{i}.parquet"),
        )
    stream = (
        spark.readStream.schema(
            "stream string, day string, trials long, conv long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    run_stream_to_memory(sprt_stream(stream, la12, lb12, a12), "sprt_mem",
                         mode="append")
    srows = {
        r.day: r for r in spark.sql("SELECT * FROM sprt_mem").collect()
    }
    brows = {
        r["day"]: r
        for r in QUERIES["q346_sprt_replay"].builder(spark, sf_smoke).collect()
    }
    assert set(srows) == set(brows)
    batch_first_cross = min(
        (d_ for d_, r in brows.items() if r["verdict"] != "continue"),
        default=None,
    )
    for day, b in brows.items():
        s = srows[day]
        assert s.cum_trials == b["cum_trials"], day
        assert s.cum_conv == b["cum_conv"], day
        # pre-crossing rows agree exactly; after the stream freezes, the
        # batch keeps publishing the raw comparison
        if batch_first_cross is None or day <= batch_first_cross:
            assert s.verdict == b["verdict"], day
            assert (
                ((2 * s.llr12 * 1000000 + 10**12) // (2 * 10**12)) / 1e6
                == b["llr"]
                if s.llr12 >= 0
                else -(((2 * -s.llr12 * 1000000 + 10**12) // (2 * 10**12)))
                / 1e6
                == b["llr"]
            ), day


def test_twap_stream_tiebreak_col_orders_equal_timestamps(spark, tmp_path):
    """ADVICE r9: equal-ts events for one key must fold in event_id
    order.  Feed one key with two events at the SAME ts_us written in
    REVERSED event_id order, then a later closing event: with
    tiebreak_col="event_id" the held value after the tie is the
    higher-event_id one (the batch lead() order), so the final interval
    accumulates xu(value of event 2), not event 1's."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.streaming import run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import twap_stream

    d = tmp_path / "twap_tie"
    d.mkdir()
    rows = {
        "user_id": [1, 1, 1],
        "event_type": ["view", "view", "view"],
        "ts_us": [1_000_000, 1_000_000, 3_000_000],
        "value": [10.0, 20.0, 0.0],   # reversed write order at the tie
        "event_id": [2, 1, 3],
    }
    # write with the tie REVERSED in file order: event_id 2 before 1
    write_feed(pa.table(rows), str(d / "c0.parquet"))
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_us long, value double,"
            " event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    run_stream_to_memory(
        twap_stream(stream, tiebreak_col="event_id"), "twap_tie", mode="update"
    )
    got = {
        (r.user_id, r.event_type): r
        for r in spark.sql("SELECT * FROM twap_tie").collect()
    }
    r = got[(1, "view")]
    # intervals: (tie-winner=event_id 2, value 10.0 held 0us after the
    # within-tie step) — the tie itself is a 0-length interval of the
    # FIRST-sorted event (event_id 1, value 20.0), then value 10.0 held
    # 2s into the close: num = 20.0*0 + 10.0*2e6 micro-units
    assert r.n_intervals == 2
    assert r.den_us == 2_000_000
    assert int(r.num_str) == 10_000_000 * 2_000_000
