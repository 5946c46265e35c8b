"""Persisted statistics catalog: mergeable per-column sketches as a
maintained Parquet artifact.

The planner-stats idea behind q375/q376 (CMS join-size estimates, KMV
distinct/set estimates) made first-class: instead of rebuilding sketches
from the data at estimation time, a BUILD job writes one long-format
sketch table per dataset, a MERGE operator folds a new batch's sketches
into the catalog without touching the already-summarized corpus (the
``ivf_index_append`` maintenance pattern applied to statistics), and
estimation queries are served from the O(kB) artifact alone — the data
is never rescanned.  That is exactly how a production stats catalog
works at 100 TB: per-partition/per-day sketch jobs, additive folds, and
a planner that reads a few hundred summary rows instead of the corpus.

Catalog row format (one schema for every sketch kind, so the artifact
is ONE parquet table and new kinds need no migration):

    tbl  string   -- source table name
    col  string   -- column the sketch summarizes
    kind string   -- 'cms' | 'kmv' | 'moment' | 'hist' | 'ew' | 'minh'
    r    long     -- cms: hash-row index; minh: slot (hash-fn) index;
                     otherwise 0
    b    long     -- cms: bucket; moment: stat id (_M_* constants);
                     hist: boundary index 0..HIST_BUCKETS; ew:
                     fixed-grid bucket index; kmv/minh: 0
    v    decimal(38,0)
                  -- cms/ew: exact cell count; kmv/minh: 52-bit md5
                     hash value; moment: exact integer statistic
                     (micro-units for value sums — see grid notes
                     below); hist: micro-snapped boundary value at an
                     exact rank

Mergeability (the property the whole design rests on):

- cms cells, moment rows and ew (fixed-grid equi-width histogram)
  bucket counts merge by per-key integer ADDITION — partitioning/
  slicing independent (operators/countmin discipline).  ew is the
  MERGEABLE distribution summary (r11 verdict item #3): its bucket
  boundaries are fixed by the spec (a cell size over the micro grid),
  not by the data, so counts fold like any other counter.
- kmv rows merge by DISTINCT-then-bottom-k: the union's k smallest
  hashes are contained in the union of the sides' bottom-k sets, so
  merge(build(A), build(B)) == build(A ∪ B) EXACTLY.  (Beyer et al.'s
  KMV algebra; the q376 estimator reads only COUNT and MAX of the k
  values, so rank columns are not stored.)
- minh rows (one-permutation-per-slot MinHash signatures) merge by
  per-slot MIN: min over A ∪ B = min(min over A, min over B) — the
  signature of a union is the slot-wise minimum of the signatures.
- hist rows do NOT merge (DATA-DEPENDENT order statistics aren't
  additive): merge_catalogs raises on them; the re-ANALYZE cadence
  rebuilds equi-DEPTH histograms from data (:func:`equidepth_hist`).
  The ew kind exists precisely because this one can't fold.

Grid budgets: cms counts and kmv hashes (< 2^52) fit int64 trivially;
moment sums ride DECIMAL(38,0) — micro-unit squares are ~1e17 PER ROW
(q215's 2^53 lesson), so the accumulator type is part of the schema,
never a call-site cast.  DECIMAL(38,0) holds sum-of-micro-squares to
~1e20 rows of |value| ≤ 1e3.

Reference ancestry: the reference memoizes expensive intermediate
artifacts and reloads them instead of recomputing
(data_integration.ipynb cell 7's checkpoint-if-exists pickle pattern);
here the artifact is the engine-native summary a planner consumes.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .countmin import cms_sketch

CATALOG_SCHEMA = "tbl string, col string, kind string, r long, b long, v decimal(38,0)"

# moment-row stat ids (b column when kind = 'moment')
_M_NROWS = 0  # all rows, nulls included
_M_NNONNULL = 1  # rows with a non-null value
_M_SUM = 2  # sum of micro-unit values (floor(x*1e6 + 0.5))
_M_SUMSQ = 3  # sum of SQUARED micro-unit values

KMV_K = 32
KMV_NUM = (KMV_K - 1) * (1 << 52)  # (k-1)*2^52, fits int64

CMS_WIDTH = 128
CMS_DEPTH = 3


def key_sketches(
    df: DataFrame, tbl: str, col: str
) -> DataFrame:
    """CMS + KMV catalog rows for one key column (nulls excluded —
    a null key is absent from joins and distinct counts alike)."""
    keyed = df.select(F.col(col).alias("k")).where(F.col("k").isNotNull())
    cms = cms_sketch(keyed, "k", width=CMS_WIDTH, depth=CMS_DEPTH).select(
        F.lit(tbl).alias("tbl"),
        F.lit(col).alias("col"),
        F.lit("cms").alias("kind"),
        "r",
        "b",
        F.col("c").cast("decimal(38,0)").alias("v"),
    )
    # bottom-k distinct hashes via TakeOrderedAndProject (never a global
    # rank window — the single-task-window ban; q376's `mu` form)
    kmv = (
        keyed.select(
            F.expr(
                "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 13), 16, 10)"
                " AS BIGINT)"
            ).alias("u")
        )
        .distinct()
        .orderBy("u")
        .limit(KMV_K)
        .select(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.lit("kmv").alias("kind"),
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("b"),
            F.col("u").cast("decimal(38,0)").alias("v"),
        )
    )
    return cms.unionAll(kmv)


def value_moments(df: DataFrame, tbl: str, col: str) -> DataFrame:
    """Moment catalog rows for a numeric column: n_rows, n_nonnull,
    Σ micro-units, Σ micro-unit² — enough to serve count/mean/variance/
    null-share without the data.  Micro snap is the engine-shared
    floor(x·1e6 + 0.5) idiom (non-negative columns; a signed column
    would need the sign-aware form)."""
    xu = F.expr(f"CAST(floor({col} * 1000000 + 0.5) AS BIGINT)")
    agg = df.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_rows"),
        F.count(col).cast("decimal(38,0)").alias("n_nonnull"),
        F.sum(xu.cast("decimal(38,0)")).alias("s"),
        F.sum(xu.cast("decimal(38,0)") * xu).alias("ss"),
    )
    stats = F.array(
        F.struct(F.lit(_M_NROWS).cast("long").alias("b"), F.col("n_rows").alias("v")),
        F.struct(F.lit(_M_NNONNULL).cast("long").alias("b"), F.col("n_nonnull").alias("v")),
        F.struct(F.lit(_M_SUM).cast("long").alias("b"), F.col("s").alias("v")),
        F.struct(F.lit(_M_SUMSQ).cast("long").alias("b"), F.col("ss").alias("v")),
    )
    return agg.select(F.explode(stats).alias("x")).select(
        F.lit(tbl).alias("tbl"),
        F.lit(col).alias("col"),
        F.lit("moment").alias("kind"),
        F.lit(0).cast("long").alias("r"),
        F.col("x.b").alias("b"),
        F.col("x.v").alias("v"),
    )


HIST_BUCKETS = 10


def equidepth_hist(df: DataFrame, tbl: str, col: str) -> DataFrame:
    """Equi-depth histogram catalog rows (kind='hist', b = 0..10): the
    11 bucket boundaries are the ACTUAL DATA VALUES at exact integer
    ranks k_i = ceil(i·n/10) (k_0 = 1), micro-snapped — the planner
    histogram ANALYZE would persist.

    Rank selection rides the distributed quantile kernel's WEIGHTED
    path (unit weights → no interpolation, always a data value) at
    marks (k_i − 0.5)/n: the kernel picks the first row whose running
    count reaches p·n, and k − 0.5 is exactly representable, so the
    float round-trip fl(fl((k−0.5)/n)·n) stays strictly inside
    (k−1, k) and selects rank k for ANY n — whereas a naive p = i/10
    can land at k ± 1 ulp and silently select the neighboring rank
    (0.7·1000 > 700 in IEEE).  The SQL twin is then the pure integer
    rule MIN(x | row_number ≥ k_i), no float comparison anywhere.

    Unlike cms/kmv/moment rows, hist rows are REBUILD-ONLY (order
    statistics don't merge); merge_catalogs rejects them."""
    from .quantiles import exact_quantiles

    # column-prune BEFORE the kernel: its range repartition shuffles
    # whole rows, and a fat sibling column (events.props) would ride
    # the shuffle for nothing
    vals_only = (
        df.select(col).where(F.col(col).isNotNull()).withColumn("_one", F.lit(1))
    )
    n = vals_only.count()
    if n == 0:
        raise ValueError(f"equidepth_hist: {tbl}.{col} has no non-null rows")
    marks: dict[str, float] = {}
    for i in range(HIST_BUCKETS + 1):
        k = max(1, (i * n + HIST_BUCKETS - 1) // HIST_BUCKETS)
        marks[f"b{i}"] = (k - 0.5) / n
    qs = exact_quantiles(vals_only, col, marks, weight_col="_one")
    row = qs.collect()[0]
    vals = [
        (
            tbl,
            col,
            "hist",
            0,
            i,
            Decimal(int(math.floor(row[f"b{i}"] * 1_000_000 + 0.5))),
        )
        for i in range(HIST_BUCKETS + 1)
    ]
    spark = df.sparkSession
    return local_frame(spark, vals, CATALOG_SCHEMA)


def equiwidth_counts(
    df: DataFrame, tbl: str, col: str, cell_micro: int
) -> DataFrame:
    """Fixed-grid equi-width histogram catalog rows (kind='ew'): bucket
    b = xu div cell_micro over the micro-snapped integer domain,
    v = exact row count.  Boundaries are fixed by the SPEC (cell size),
    never by the data, so counts merge by per-bucket addition — the
    mergeable distribution summary the equi-depth kind can't be
    (r11 verdict item #3).

    Non-negative columns only (the value_moments contract): a negative
    micro value would floor-divide differently in Spark (`div`
    truncates toward zero) and DuckDB (`//` floors), so it raises
    loudly instead of silently diverging."""
    if cell_micro <= 0:
        raise ValueError(f"equiwidth_counts: cell_micro must be > 0, got {cell_micro}")
    xu = (
        f"CAST(floor({col} * 1000000 + 0.5) AS BIGINT)"
    )
    guarded = (
        f"CASE WHEN {xu} < 0 THEN raise_error('equiwidth_counts: negative"
        f" value in {tbl}.{col} — the ew grid is non-negative-only')"
        f" ELSE {xu} div {cell_micro} END"
    )
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(F.expr(guarded).alias("b"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("v"))
        .select(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.lit("ew").alias("kind"),
            F.lit(0).cast("long").alias("r"),
            "b",
            "v",
        )
    )


MINH_SLOTS = 16


def minhash_rows(
    df: DataFrame, tbl: str, col: str, slots: int = MINH_SLOTS
) -> DataFrame:
    """MinHash signature catalog rows (kind='minh'): for each slot r,
    the MINIMUM 52-bit md5 hash of ``r:value`` over the column's
    distinct non-null values — one independent hash family per slot
    (the cms "r:item" text convention at kmv's 13-hex width).  The
    signature of a union is the slot-wise minimum of the signatures,
    so minh rows merge by per-(r) MIN; slot-equality between two
    columns' signatures estimates their set Jaccard (P[min-hash
    collision] = J)."""
    u = (
        "CAST(conv(substr(md5(concat(CAST(r AS STRING), ':',"
        " CAST(k AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    return (
        df.select(F.col(col).alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
        .select(
            F.explode(F.expr(f"sequence(0, {slots - 1})")).alias("r"), "k"
        )
        .groupBy("r")
        .agg(F.min(F.expr(u)).alias("mu"))
        .select(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            F.lit("minh").alias("kind"),
            F.col("r").cast("long").alias("r"),
            F.lit(0).cast("long").alias("b"),
            F.col("mu").cast("decimal(38,0)").alias("v"),
        )
    )


def trigram_rows(df: DataFrame, tbl: str, col: str) -> DataFrame:
    """Trigram document-frequency catalog rows (kind='tri') — the
    planner statistic behind LIKE '%lit%' selectivity: for each 3-char
    substring g of the column, v = number of ROWS whose value contains
    g (per-row distinct, so v is a document frequency), keyed
    b = 52-bit md5 of g; plus one (r=1, b=0) row-count register.  Both
    row shapes are ADDITIVE over disjoint row splits, so the kind rides
    merge_catalogs' additive path unchanged — a real engine's pg_trgm-
    style statistic with the q378 merge contract.

    Scale: one explode + map-side-combinable count per column; the
    artifact is O(|trigram vocabulary|), which column profiling bounds
    (names/categories, not free text — for free text, profile a
    bounded-vocab derived column instead)."""
    s = df.select(F.col(col).cast("string").alias("s")).where(
        F.col(col).isNotNull()
    )
    tri = s.select(
        F.explode(
            F.expr(
                "CASE WHEN length(s) >= 3 THEN array_distinct("
                "transform(sequence(1, length(s) - 2),"
                " i -> substring(s, i, 3))) ELSE array() END"
            )
        ).alias("g")
    )
    dfc = tri.groupBy(
        F.expr("CAST(conv(substr(md5(g), 1, 13), 16, 10) AS BIGINT)").alias(
            "b"
        )
    ).agg(F.count(F.lit(1)).alias("c"))
    body = dfc.select(
        F.lit(tbl).alias("tbl"),
        F.lit(col).alias("col"),
        F.lit("tri").alias("kind"),
        F.lit(0).cast("long").alias("r"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("decimal(38,0)").alias("v"),
    )
    n = s.agg(F.count(F.lit(1)).alias("c")).select(
        F.lit(tbl).alias("tbl"),
        F.lit(col).alias("col"),
        F.lit("tri").alias("kind"),
        F.lit(1).cast("long").alias("r"),
        F.lit(0).cast("long").alias("b"),
        F.col("c").cast("decimal(38,0)").alias("v"),
    )
    return body.unionAll(n)


def merge_catalogs(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Fold two catalogs built on DISJOINT row sets of the same tables:
    cms/moment/ew rows add cell-wise; kmv rows take the bottom-k of the
    distinct hash union; minh rows take the per-slot MIN.
    merge(build(A), build(B)) == build(A ∪ B) exactly (module
    docstring), which is the incremental-maintenance contract:
    yesterday's catalog + today's batch catalog = the catalog a full
    rebuild would produce.  (For minh, "disjoint row sets" relaxes to
    ANY split whose union is the full set — MIN is idempotent.)

    Scale: additive kinds are one groupBy over O(|columns|·depth·width)
    summary rows; the kmv fold is a bounded collect_set (≤ 2k hashes
    per column); the minh fold a groupBy-MIN over ≤ 2·slots rows —
    never a window, never data-sized.

    hist rows are REJECTED loudly: equi-depth boundaries are order
    statistics, which do not merge — folding them additively would
    corrupt the artifact silently.  Rebuild histograms from data
    (:func:`equidepth_hist`) on the re-ANALYZE cadence instead; keep
    the ew kind alongside when a MERGEABLE shape summary is needed."""
    u = a.unionAll(b)
    u = u.withColumn(
        "kind",
        F.when(
            F.col("kind") == "hist",
            F.expr(
                "raise_error('merge_catalogs: hist rows do not merge —"
                " rebuild with equidepth_hist')"
            ),
        ).otherwise(F.col("kind")),
    )
    additive = (
        u.where(~F.col("kind").isin("kmv", "minh"))
        .groupBy("tbl", "col", "kind", "r", "b")
        .agg(F.sum("v").cast("decimal(38,0)").alias("v"))
    )
    minh = (
        u.where(F.col("kind") == "minh")
        .groupBy("tbl", "col", "kind", "r", "b")
        .agg(F.min("v").cast("decimal(38,0)").alias("v"))
    )
    kmv = (
        u.where(F.col("kind") == "kmv")
        .groupBy("tbl", "col", "kind")
        .agg(
            F.slice(F.array_sort(F.collect_set("v")), 1, k).alias("us")
        )
        .select(
            "tbl",
            "col",
            "kind",
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("b"),
            F.explode("us").alias("v"),
        )
    )
    return additive.unionAll(minh).unionAll(kmv.select(*additive.columns))


def catalog_path(
    sf_dir: str, tables: tuple[str, ...], spec: tuple = ()
) -> str:
    """Artifact location for one dataset's catalog, keyed on the
    dataset path, its parquet file sizes AND mtimes (the .plan_cache
    keying rule — size alone would serve a stale catalog if testdata
    were regenerated byte-for-byte-sized; ADVICE r11), the sketch-shape
    constants AND the caller's column spec — a spec or width/depth/k
    change must mint a FRESH directory, or ensure_catalog would
    silently serve old-shape sketches against a new-shape oracle (the
    artifact outlives sessions in tempdir; r11 self-review finding)."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    h.update(
        f"w{CMS_WIDTH}:d{CMS_DEPTH}:k{KMV_K}:h{HIST_BUCKETS}"
        f":m{MINH_SLOTS}:{spec!r}".encode()
    )
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f"{t}:?".encode())
    return os.path.join(
        tempfile.gettempdir(), "cyber_etl_stats_catalog", h.hexdigest()[:16]
    )


def save_catalog(cat: DataFrame, path: str) -> None:
    """Persist hive-partitioned by (tbl, col): a real catalog holds
    thousands of tables, and serving one table's stats should prune to
    its directory (the save_ivf_index layout rule) — a flat file would
    make every estimation query scan every table's sketch rows.
    coalesce(1) per partition: the per-column payload is O(kB)."""
    cat.coalesce(1).write.mode("overwrite").partitionBy("tbl", "col").parquet(path)


def ensure_catalog(path: str, build_fn) -> None:
    """Idempotent, CONCURRENCY-SAFE ensure-build: write to a private
    temp dir, then atomically rename into place.  Two sessions (or two
    threads of a verification sweep — the race that bit q380/q381 live:
    one overwrote the artifact while the other was reading it) can race
    this freely; exactly one rename wins, losers discard their temp
    build, readers always see a complete artifact (rename is atomic —
    old or new, never partial)."""
    import shutil
    import threading
    import uuid

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}-{uuid.uuid4().hex[:8]}"
    save_catalog(build_fn(), tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)  # a racer won — fine
            return
        # stale partial artifact (crashed writer): replace it once
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                raise
            shutil.rmtree(tmp, ignore_errors=True)


def load_catalog(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted catalog, restoring the partition-column types
    the hive layout narrows (both are data-carrying strings here)."""
    return (
        spark.read.parquet(path)
        .withColumn("tbl", F.col("tbl").cast("string"))
        .withColumn("col", F.col("col").cast("string"))
        .select("tbl", "col", "kind", "r", "b", "v")
    )
