"""Skew-mitigation query shapes — the patterns that keep hot keys from
melting a 1000-executor job, surfaced as oracle-checked registry queries
so the driver gate verifies the operators themselves (not just their
unit tests).

The reference never needed these (single-process pandas has no
reducers), but its workload has the shapes that do at scale: the alert
feed's MENTIONED edges concentrate on a handful of celebrity actors
(data_integration.ipynb cell 49), and the fact-side enrichment joins of
SURVEY §2.3 J1 all skew with real-world key popularity.  Both operators
are deterministic (hash-derived salts, never rand()) so their results
hash-match a plain-SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import salted_aggregate, salted_join
from ..session import local_frame
from ..sources import read_table
from .registry import query


@query(
    "q102_hot_key_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
)
def q102_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value GROUP BY key — the
    worst-case hot-key shape (every row lands on one of three reducers
    in the naive plan).  Phase 1 groups by (key, salt16) so each hot key
    spreads over 16 reducers; phase 2 re-aggregates the 48-row partial
    table.  Decimal partial sums re-aggregate exactly (addition is
    associative on DECIMAL), so the salted result is bit-identical to
    the single-phase oracle."""
    li = read_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))").alias(
            "rev"
        ),
    )
    out = salted_aggregate(rows, ["l_returnflag"], ["rev"], salt_buckets=16)
    return out.select(
        "l_returnflag",
        F.col("count").alias("n_items"),
        F.col("sum_rev").cast("double").alias("revenue"),
    )


@query(
    "q103_skewed_enrich_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "skew", "J1"),
)
def q103_skewed_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side enrichment through a salt-replicated dimension: the dim
    rows are exploded across 8 salt values and the fact side scatters by
    a deterministic hash, so one celebrity customer key spreads over 8
    reducers instead of stalling one.  (AQE's skew-join split handles
    oversized *partitions*; salting also covers the single-hot-KEY case
    where one key's rows exceed a partition on their own.)"""
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(orders, customer, "c_custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("total_price"),
    )


@query(
    "q122_bloom_prefilter_join",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("join", "bloom", "scale"),
)
def q122_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-dim join through the explicit Bloom prefilter
    (operators/bloom.py): the probe side (lineitem) is filtered by a
    bitmap built over the ~10%-selective order subset BEFORE any join
    shuffle.  False positives are dropped by the exact join behind the
    filter, so the oracle is the plain join — results are identical by
    construction; what the operator changes is probe shuffle volume."""
    from ..operators.bloom import bloom_prefilter_join

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 250000)
    )
    joined = bloom_prefilter_join(li, orders, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


def _z_curve_sql() -> str:
    from ..operators.layout import z_value_sql

    return z_value_sql("o_custkey % 65536", "o_orderkey % 65536", bits=16)


@query(
    "q123_zorder_curve",
    oracle=None,  # installed right after definition (needs the formula)
    tags=("layout", "zorder", "scale"),
)
def q123_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values for the (customer, order) key pair — the sort key
    of the multi-column-pruning layout (operators/layout.py).  The SAME
    engine-portable arithmetic string is the Spark projection and the
    DuckDB oracle, so the gate pins the interleave bit-for-bit; the
    layout writer itself is pinned by the file-pruning test."""
    from ..operators.layout import z_value

    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            z_value("o_custkey % 65536", "o_orderkey % 65536", bits=16).alias("z"),
        )
        .orderBy("z", "o_orderkey")
        .limit(200)
    )


from .registry import QUERIES as _Q  # noqa: E402

_Q["q123_zorder_curve"].oracle = f"""
    SELECT o_orderkey, {_z_curve_sql()} AS z
    FROM orders
    ORDER BY z, o_orderkey
    LIMIT 200
"""


@query("q245_hilbert_layout", tags=("layout", "space-filling", "pruning"))
def q245_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve index for the (customer, order) key pair — the
    space-filling layout with strictly better locality than q123's
    Z-curve (every consecutive curve step is a grid-adjacent cell, so
    file min/max rectangles are tighter; the same reason lakehouse
    OPTIMIZE implementations offer Hilbert next to Z-order).

    The per-level transforms (operators/layout.hilbert_levels) are the
    SAME engine-portable %-arithmetic strings in the Spark selectExpr
    chain and the DuckDB oracle's nested subqueries, so the gate pins
    the 8-level walk bit-for-bit; the curve's defining properties
    (bijectivity, unit-step adjacency) are pinned against a pure-Python
    reference in tests/test_layout_hilbert.py.  Scale: the index is a
    pure projection (one codegen span, no shuffle, no UDF); writing the
    layout costs exactly the one range shuffle any sorted write costs
    (layout.zorder_write's economics)."""
    from ..operators.layout import hilbert_value_cols

    orders = read_table(spark, sf_dir, "orders")
    return (
        hilbert_value_cols(
            orders.select("o_orderkey", "o_custkey"),
            "o_custkey % 256",
            "o_orderkey % 256",
            bits=8,
            out="h",
        )
        .select("o_orderkey", "h")
        .orderBy("h", "o_orderkey")
        .limit(200)
    )


def _hilbert_oracle() -> str:
    from ..operators.layout import hilbert_value_sql

    chain = hilbert_value_sql("o_custkey % 256", "o_orderkey % 256", bits=8)
    chain = chain.replace("__SRC__", "orders")
    return (
        f"SELECT o_orderkey, d AS h FROM {chain}"
        " ORDER BY h, o_orderkey LIMIT 200"
    )


_Q["q245_hilbert_layout"].oracle = _hilbert_oracle()


@query(
    "q400_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "bucketing", "layout", "scale"),
)
def q400_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through pre-bucketed storage: lineitem and orders
    are written once bucketed+sorted by the order key into matching
    bucket counts (sources/bucketing.ensure_bucketed_fact_pair), after
    which the sort-merge join reads bucket files co-located — ZERO
    Exchange under the join in the physical plan (pinned by
    tests/test_scale_ops.py::test_q400_join_side_has_no_exchange; the
    only shuffle left in the whole query is the 5-group priority agg).

    This is the storage-side answer to the same problem q103 solves at
    runtime: at 100 TB the dominant cost of every fact-fact key join is
    shuffling both sides, and bucketing prepays that shuffle ONCE at
    write time for every downstream key-join/key-agg consumer.  The
    `.hint("merge")` pins SortMergeJoin so the co-location is what the
    plan exercises even when one side would fit a broadcast at test
    scale (the q389 decision problem is orthogonal — broadcast beats
    bucketing only when the dim is small; here both sides are facts).

    Laziness exception: the FIRST build per (session, dataset) runs the
    two bucketed writes inside the builder (memoized + lock-serialized,
    the ensure_catalog lifecycle); warm calls construct the plan only.

    Determinism: the bucketed copies hold exactly the source rows
    (projection only), so the join-agg is hash-identical to the plain
    oracle join regardless of bucket layout.  Reference anchor: the
    enrichment joins of SURVEY §2.3 J1 (alerts/cpe_product.ipynb) all
    re-shuffle per notebook run; this is the write-once discipline they
    would need at scale."""
    from ..sources.bucketing import ensure_bucketed_fact_pair

    li_tbl, ord_tbl = ensure_bucketed_fact_pair(spark, sf_dir, n_buckets=8)
    li = spark.table(li_tbl)
    orders = spark.table(ord_tbl)
    joined = li.join(orders.hint("merge"), "ok")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def _q290_oracle() -> str:
    from ..operators.layout import z_value_sql

    zv = z_value_sql("l_partkey", "l_suppkey", bits=16)
    layout = """
      SELECT '{name}' AS layout, l_partkey,
             (ROW_NUMBER() OVER (ORDER BY {order}) - 1) * 64
               // (SELECT COUNT(*) FROM lineitem) AS bin
      FROM lineitem
    """
    nat = layout.format(
        name="natural",
        order="l_orderkey, l_linenumber, l_partkey, l_suppkey",
    )
    zo = layout.format(
        name="zorder",
        order=f"({zv}), l_partkey, l_orderkey, l_suppkey, l_linenumber",
    )
    return f"""
    WITH pred AS (
      SELECT MAX(l_partkey) // 4 AS lo,
             MAX(l_partkey) // 4 + MAX(l_partkey) // 32 AS hi
      FROM lineitem
    ),
    binned AS ({nat} UNION ALL {zo}),
    zones AS (
      SELECT layout, bin, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN l_partkey BETWEEN pred.lo AND pred.hi
                      THEN 1 ELSE 0 END) AS n_match
      FROM binned, pred GROUP BY 1, 2, pred.lo, pred.hi
    ),
    agg AS (
      SELECT z.layout, COUNT(*) AS n_bins,
             SUM(CASE WHEN z.mn <= p.hi AND z.mx >= p.lo
                      THEN 1 ELSE 0 END) AS bins_scanned,
             SUM(CASE WHEN z.mn <= p.hi AND z.mx >= p.lo
                      THEN z.n_rows ELSE 0 END) AS rows_scanned,
             SUM(z.n_match) AS rows_matching
      FROM zones z, pred p GROUP BY 1
    )
    SELECT layout, CAST(n_bins AS BIGINT) AS n_bins,
           CAST(bins_scanned AS BIGINT) AS bins_scanned,
           CAST(rows_scanned AS BIGINT) AS rows_scanned,
           CAST(rows_matching AS BIGINT) AS rows_matching,
           CAST((2*(n_bins - bins_scanned)*1000000 + n_bins)
                // (2*n_bins) AS DOUBLE) / 1000000 AS skip_ratio,
           CASE WHEN rows_matching = 0 THEN NULL
                ELSE CAST((2*rows_scanned*1000000 + rows_matching)
                          // (2*rows_matching) AS DOUBLE) / 1000000 END
             AS scan_amplification
    FROM agg ORDER BY layout
    """


@query(
    "q290_zonemap_skipping",
    oracle=_q290_oracle(),
    tags=("layout", "data-skipping", "kernel"),
)
def q290_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping audit: split lineitem into 64 equal-count
    "files" under two physical layouts — natural (order-key) order and
    Z-order on (partkey, suppkey) — record each file's min/max partkey
    zone map, and measure how many files a 3%-of-keyspace partkey range
    predicate must scan under each layout.  This is the MEASUREMENT
    behind the q123/q245 layout operators: clustering is only worth its
    shuffle if the zone maps it produces actually skip.

    Scale plan: bin assignment uses the distributed rank kernel
    (operators/prefix.global_ranks — never a whole-table single-task
    ROW_NUMBER window) once per layout; zone maps and the audit are
    bounded 64-row aggregates.  Determinism: sort keys end in the full
    unique-ish column chain, and any residual duplicate rows are
    identical in partkey, so bin zone maps are order-independent;
    predicate bounds are exact integer fractions of the key space.
    Exactness: pure integers; ratios half-away 6-dp rationals.

    Grid budget: half-away numerators are bin counts (n_bins <= 64) and matched-row counts x1e6 - 2*rows*1e6 fits int64 to ~4.6e12 rows; partkey div constants only shrink."""
    from ..operators.layout import z_value_sql
    from ..operators.prefix import global_ranks

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    pred = li.agg(
        F.expr("MAX(l_partkey) div 4").alias("lo"),
        F.expr("MAX(l_partkey) div 4 + MAX(l_partkey) div 32").alias("hi"),
    )
    zv = z_value_sql("l_partkey", "l_suppkey", bits=16)

    # BOTH layouts ride ONE rank-kernel call (r12 optimization): each
    # layout's sort key is padded into a uniform (_s1.._s5) tuple whose
    # within-layout order equals the original order_cols chain, and the
    # kernel groups by `layout` — one range shuffle + one checkpoint +
    # one control table instead of two of each.  Per-layout (rn, n) are
    # identical to the former two-call form, so bins are unchanged.
    # Grid budget: (rn - 1) * 64 fits int64 for any realistic row count
    # (rn <= n <= 1.4e17).
    nat_src = li.select(
        F.lit("natural").alias("layout"),
        F.lit(0).cast("long").alias("_s1"),
        F.col("l_orderkey").alias("_s2"),
        F.col("l_linenumber").cast("long").alias("_s3"),
        F.col("l_partkey").alias("_s4"),
        F.col("l_suppkey").alias("_s5"),
        "l_partkey",
    )
    zo_src = li.select(
        F.lit("zorder").alias("layout"),
        F.expr(zv).cast("long").alias("_s1"),
        F.col("l_partkey").alias("_s2"),
        F.col("l_orderkey").alias("_s3"),
        F.col("l_suppkey").cast("long").alias("_s4"),
        F.col("l_linenumber").cast("long").alias("_s5"),
        "l_partkey",
    )
    r = global_ranks(
        nat_src.unionByName(zo_src),
        order_cols=["_s1", "_s2", "_s3", "_s4", "_s5"],
        group_cols=["layout"],
        rn_col="rn",
        total_col="n",
    )
    both = r.select(
        "layout", "l_partkey", F.expr("(rn - 1) * 64 div n").alias("bin")
    )
    zones = (
        both.crossJoin(F.broadcast(pred))
        .groupBy("layout", "bin")
        .agg(
            F.min("l_partkey").alias("mn"),
            F.max("l_partkey").alias("mx"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.col("l_partkey").between(F.col("lo"), F.col("hi")), 1
                ).otherwise(0)
            ).alias("n_match"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    hit = (F.col("mn") <= F.col("hi")) & (F.col("mx") >= F.col("lo"))
    agg = zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(F.when(hit, 1).otherwise(0)).alias("bins_scanned"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).alias("rows_scanned"),
        F.sum("n_match").alias("rows_matching"),
    )
    return agg.select(
        "layout",
        F.col("n_bins").cast("long").alias("n_bins"),
        F.col("bins_scanned").cast("long").alias("bins_scanned"),
        F.col("rows_scanned").cast("long").alias("rows_scanned"),
        F.col("rows_matching").cast("long").alias("rows_matching"),
        (
            F.expr(
                "(2*(n_bins - bins_scanned)*1000000 + n_bins) div (2*n_bins)"
            ).cast("double")
            / 1_000_000
        ).alias("skip_ratio"),
        F.when(F.col("rows_matching") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.expr(
                "(2*rows_scanned*1000000 + rows_matching)"
                " div (2*rows_matching)"
            ).cast("double")
            / 1_000_000
        )
        .alias("scan_amplification"),
    ).orderBy("layout")


# ---- bloom-filter file skipping (q410) -------------------------------------

_BLOOM_M = 65536  # bits per file; k=3 md5-derived hash functions
_BLOOM_BIT_SQL = (
    "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||"
    f" CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_M}"
)
_BLOOM_BIT_SPARK = (
    "CAST(conv(substr(md5(CAST(i AS STRING) || ':' ||"
    f" CAST(k AS STRING)), 1, 8), 16, 10) AS BIGINT) % {_BLOOM_M}"
)


@query(
    "q410_bloom_file_skipping",
    oracle=f"""
    WITH binned AS MATERIALIZED (
      SELECT l_orderkey AS k,
             (ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber,
                                          l_partkey, l_suppkey) - 1) * 64
               // (SELECT COUNT(*) FROM lineitem) AS bin
      FROM lineitem
    ),
    kb AS (SELECT MIN(k) AS kmin, MAX(k) AS kmax FROM binned),
    kmid AS (SELECT MAX(k) AS v FROM binned, kb WHERE k <= kmax // 2),
    probes AS (
      SELECT 'p1_min' AS probe, kmin AS k FROM kb
      UNION ALL SELECT 'p2_mid', v FROM kmid
      UNION ALL SELECT 'p3_max', kmax FROM kb
      UNION ALL SELECT 'p4_absent', kmax + 7777 FROM kb
    ),
    bits AS MATERIALIZED (
      SELECT DISTINCT bin, {_BLOOM_BIT_SQL} AS bit
      FROM (SELECT DISTINCT bin, k FROM binned),
           (VALUES (1), (2), (3)) t(i)
    ),
    pbits AS (
      SELECT probe, k, {_BLOOM_BIT_SQL} AS bit
      FROM probes, (VALUES (1), (2), (3)) t(i)
    ),
    pass AS (
      SELECT p.probe, b.bin
      FROM (SELECT DISTINCT probe, bit FROM pbits) p
      JOIN bits b ON p.bit = b.bit
      GROUP BY p.probe, b.bin
      HAVING COUNT(*) = (SELECT COUNT(DISTINCT bit) FROM pbits pb
                         WHERE pb.probe = p.probe)
    ),
    binrows AS (SELECT bin, COUNT(*) AS nrows FROM binned GROUP BY 1),
    actual AS (
      SELECT pr.probe, COUNT(DISTINCT b.bin) AS files_actual,
             COUNT(*) AS rows_matching
      FROM probes pr LEFT JOIN binned b ON b.k = pr.k
      GROUP BY 1
    )
    SELECT pr.probe, pr.k AS key,
           CAST(CASE WHEN a.rows_matching > 0 OR EXISTS
                          (SELECT 1 FROM binned bb WHERE bb.k = pr.k)
                     THEN a.files_actual ELSE 0 END AS BIGINT) AS files_actual,
           CAST(COALESCE(ps.n_pass, 0) AS BIGINT) AS files_bloom,
           CAST(COALESCE(ps.rows_scanned, 0) AS BIGINT) AS rows_scanned,
           CAST(CASE WHEN EXISTS (SELECT 1 FROM binned bb WHERE bb.k = pr.k)
                     THEN a.rows_matching ELSE 0 END AS BIGINT) AS rows_matching
    FROM probes pr
    JOIN actual a ON pr.probe = a.probe
    LEFT JOIN (
      SELECT pass.probe, COUNT(*) AS n_pass, SUM(br.nrows) AS rows_scanned
      FROM pass JOIN binrows br ON pass.bin = br.bin GROUP BY 1
    ) ps ON pr.probe = ps.probe
    ORDER BY pr.probe
    """,
    tags=("layout", "bloom", "data-skipping"),
)
def q410_bloom_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter FILE skipping audit — the point-predicate complement
    of q290's zone maps: an equality probe on a high-cardinality key
    inside key-sorted files skips well on min/max zones, but under any
    OTHER layout zones span the key space and skip nothing, while a
    per-file Bloom filter (m={m} bits, k=3 md5 hash functions —
    deterministic, so both engines compute identical bit sets) still
    prunes to the few possible files.  Four probes exercise the
    regimes: present keys at the low/mid/high end (files_bloom ≥
    files_actual, the no-false-negative invariant) and an absent key
    (files_actual = 0; any files_bloom > 0 rows are pure false
    positives — the measured fp economics).

    Scale plan: the bin assignment is the q290 distributed-rank kernel
    shape; bit sets are one distinct-project per file (at 100 TB these
    ARE parquet's column-index bloom filters, written once at layout
    time); the audit touches only O(files × k) membership rows.
    Determinism: pure integer md5 bit arithmetic, exact counts.

    Grid budget: (rn − 1)·64 fits int64 to ~1.4e17 rows (the q290 bin
    arithmetic, unchanged); bloom bits are md5 % 65536, always tiny."""
    import hashlib

    from ..operators.prefix import global_ranks

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber", "l_partkey", "l_suppkey"
    )
    r = global_ranks(
        li, order_cols=["k", "l_linenumber", "l_partkey", "l_suppkey"]
    )
    binned = r.select(
        "k", F.expr("(rn - 1) * 64 div n").alias("bin")
    ).localCheckpoint(eager=False)  # feeds bits, bin sizes, probe scans;
    # LAZY — the kmin/kmax collect below is the materializing action (r13)
    # ONE collect for all three probe anchors: kmid's dependence on kmax
    # rides a broadcast 1-row aggregate into the same plan instead of a
    # second sequential collect (r13; kmax div 2 == kmax // 2 for the
    # non-negative key)
    kb = (
        binned.crossJoin(
            F.broadcast(binned.agg(F.max("k").alias("kmax2")))
        )
        .agg(
            F.min("k").alias("kmin"),
            F.max("k").alias("kmax"),
            F.max(F.when(F.expr("k <= kmax2 div 2"), F.col("k"))).alias("kmid"),
        )
        .collect()[0]
    )
    kmin, kmax, kmid = int(kb.kmin), int(kb.kmax), int(kb.kmid)
    probes = [
        ("p1_min", kmin),
        ("p2_mid", kmid),
        ("p3_max", kmax),
        ("p4_absent", kmax + 7777),
    ]
    # no (bin, k) pre-distinct: the final distinct on (bin, bit) dedupes
    # identically (same bit set as the oracle's DISTINCT bin, k feed) and
    # md5 over the raw rows is in-stage arithmetic, while the pre-distinct
    # was a full extra exchange — and distinct's map-side partial
    # aggregation already bounds the (bin, bit) shuffle at scale
    # (r12 A/B: 1.11 s -> 0.65 s for the bits pass at sf0.1)
    bits = (
        binned.select(
            "bin",
            F.explode(F.expr("sequence(1, 3)")).alias("i"),
            "k",
        )
        .select("bin", F.expr(_BLOOM_BIT_SPARK).alias("bit"))
        .distinct()
    )
    pbit_rows = sorted(
        {
            (label, int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:8], 16) % _BLOOM_M)
            for label, key in probes
            for i in (1, 2, 3)
        }
    )
    n_bits = {label: len({b for l2, b in pbit_rows if l2 == label}) for label, _ in probes}
    pb = local_frame(spark, [list(t) for t in pbit_rows], "probe string, bit long")
    nb = local_frame(spark, [list(t) for t in sorted(n_bits.items())], "probe string, need long")
    passed = (
        pb.join(bits, "bit")
        .groupBy("probe", "bin")
        .agg(F.count(F.lit(1)).alias("got"))
        .join(F.broadcast(nb), "probe")
        .where(F.col("got") == F.col("need"))
        .select("probe", "bin")
    )
    binrows = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("nrows"))
    ps = (
        passed.join(binrows, "bin")
        .groupBy("probe")
        .agg(
            F.count(F.lit(1)).alias("files_bloom"),
            F.sum("nrows").alias("rows_scanned"),
        )
    )
    pdf = local_frame(spark, [list(t) for t in probes], "probe string, key long")
    actual = (
        pdf.join(binned, pdf.key == binned.k, "left")
        .groupBy("probe", "key")
        .agg(
            F.count_distinct("bin").alias("files_actual"),
            F.sum(F.when(F.col("bin").isNotNull(), 1).otherwise(0)).alias(
                "rows_matching"
            ),
        )
    )
    return (
        actual.join(ps, "probe", "left")
        .select(
            "probe",
            "key",
            F.col("files_actual").cast("long").alias("files_actual"),
            F.coalesce(F.col("files_bloom"), F.lit(0)).cast("long").alias("files_bloom"),
            F.coalesce(F.col("rows_scanned"), F.lit(0)).cast("long").alias("rows_scanned"),
            F.col("rows_matching").cast("long").alias("rows_matching"),
        )
        .orderBy("probe")
    )
