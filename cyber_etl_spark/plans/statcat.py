"""Stats-catalog queries: build, incremental merge, catalog-served
estimation (q377–q379).

The r10 q375/q376 planner sketches made a MAINTAINED artifact
(operators/statcat): q377 builds and persists the per-column sketch
table, q378 proves the incremental-maintenance contract
merge(build(A), build(B)) == build(A ∪ B) cross-engine, and q379 serves
planner estimates (row counts, distinct counts, join sizes, value
moments) from the persisted parquet WITHOUT rescanning the data — the
oracle recomputes the same estimates from the base tables, so the gate
checks the full persist → reload → estimate path end-to-end.

Reference ancestry: the reference's checkpoint-if-exists artifact reuse
(data_integration.ipynb cell 7) — recast as an engine-native statistics
catalog, the artifact a query planner actually consumes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.statcat import (
    CMS_DEPTH,
    CMS_WIDTH,
    HIST_BUCKETS,
    KMV_K,
    KMV_NUM,
    MINH_SLOTS,
    catalog_path,
    ensure_catalog,
    equidepth_hist,
    equiwidth_counts,
    key_sketches,
    load_catalog,
    merge_catalogs,
    minhash_rows,
    value_moments,
)
from ..session import artifact, local_frame
from ..sources import read_table
from .analytics2 import _ha6_sql
from .registry import query

# (table, key column) pairs sketched with CMS + KMV; events.value gets
# moment rows.  Fixed spec — the catalog is an artifact, not a query
# parameter.
_KEY_SPEC = (
    ("events", "user_id"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
)
_CAT_TABLES = ("events", "lineitem", "orders", "customer")

def _cms_rows_sql(rel: str, key: str, tbl: str) -> str:
    """DuckDB catalog-row text for one column's CMS sketch (the
    operators/countmin bucket convention — md5 first-8-hex mod width)."""
    return f"""
      SELECT '{tbl}' AS tbl, '{key}' AS col, 'cms' AS kind, r.r,
             CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
                   CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)
               % {CMS_WIDTH} AS b,
             CAST(COUNT(*) AS HUGEINT) AS v
      FROM {rel}, (SELECT unnest(range(0, {CMS_DEPTH})) AS r) r
      WHERE {key} IS NOT NULL
      GROUP BY 1, 2, 3, 4, 5
    """


def _kmv_rows_sql(rel: str, key: str, tbl: str) -> str:
    """DuckDB catalog-row text for one column's KMV bottom-k (q376 hash
    convention — md5 first-13-hex as a 52-bit uniform)."""
    return f"""
      SELECT '{tbl}' AS tbl, '{key}' AS col, 'kmv' AS kind,
             CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS b,
             CAST(u AS HUGEINT) AS v
      FROM (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)),
                              1, 13)) AS BIGINT) AS u
        FROM {rel} WHERE {key} IS NOT NULL
        ORDER BY u LIMIT {KMV_K}
      )
    """


def _moment_rows_sql(rel: str, key: str, tbl: str, label: str | None = None) -> str:
    """DuckDB catalog-row text for a numeric column's moment rows
    (b: 0 n_rows, 1 n_nonnull, 2 Σmicro, 3 Σmicro²).  ``label`` names
    the catalog `col` when ``key`` is a derived expression."""
    return f"""
      SELECT '{tbl}' AS tbl, '{label or key}' AS col, 'moment' AS kind,
             CAST(0 AS BIGINT) AS r, s.b, s.v
      FROM (
        SELECT COUNT(*) AS n_rows, COUNT({key}) AS n_nonnull,
               SUM(CAST(floor({key} * 1000000 + 0.5) AS HUGEINT)) AS s,
               SUM(CAST(floor({key} * 1000000 + 0.5) AS HUGEINT)
                   * CAST(floor({key} * 1000000 + 0.5) AS HUGEINT)) AS ss
        FROM {rel}
      ) m, LATERAL (VALUES
        (CAST(0 AS BIGINT), CAST(m.n_rows AS HUGEINT)),
        (CAST(1 AS BIGINT), CAST(m.n_nonnull AS HUGEINT)),
        (CAST(2 AS BIGINT), m.s),
        (CAST(3 AS BIGINT), m.ss)) AS s(b, v)
    """


_FULL_CATALOG_SQL = " UNION ALL ".join(
    [_cms_rows_sql(t, c, t) for t, c in _KEY_SPEC]
    + [_kmv_rows_sql(t, c, t) for t, c in _KEY_SPEC]
    + [_moment_rows_sql("events", "value", "events")]
)


def build_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized full catalog build for the fixed spec, pinned — shared
    by q377 (publishes the rows) and q379 (persists + serves).  The
    build runs one cms kernel pass + one bottom-k cut per key column
    and one moment aggregate; single-split testdata spreads each kernel
    input across cores first (q230 rule)."""

    def build():
        parts = []
        for tbl, col in _KEY_SPEC:
            df = (
                read_table(spark, sf_dir, tbl)
                .select(col)
                .repartition(32)
            )
            parts.append(key_sketches(df, tbl, col))
        parts.append(
            value_moments(read_table(spark, sf_dir, "events"), "events", "value")
        )
        cat = parts[0]
        for p in parts[1:]:
            cat = cat.unionAll(p)
        return cat.localCheckpoint(eager=True)

    return artifact(spark, sf_dir, "stats_catalog", build)


@query(
    "q377_stats_catalog_build",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({_FULL_CATALOG_SQL})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("sketch", "catalog", "planning"),
)
def q377_stats_catalog_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the per-table statistics catalog — CMS (128×3) + KMV
    (k=32) sketches for the five join-key columns of _KEY_SPEC, moment
    rows for events.value — and publish the catalog rows themselves, so
    the gate hash-pins every cell of the artifact q379/q383 serve from.

    Scale plan: one linear sketch pass per column (operators/countmin's
    per-Arrow-batch [depth×width] accumulation; KMV bottom-k is
    TakeOrderedAndProject over the distinct-hash table — never a global
    rank window); output is O(|columns|·depth·width) summary rows.  At
    100 TB each column's sketch job is an independent map-side-combined
    pass, and the catalog stays kilobytes.

    Exactness: cms cells are md5-deterministic exact counts (q224's
    hash-gate argument); kmv hashes are the shared 52-bit md5 text;
    moment sums are exact integers on the micro grid.  v publishes as
    STRING (the q309 convention — Σmicro² is ~1e17/row and DuckDB's
    HUGEINT→DOUBLE cast is not correctly rounded past 2^53)."""
    cat = build_catalog(spark, sf_dir)
    return cat.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


# engine-shared md5-slice split predicates over event_id: ONE generator
# pair for every deterministic row split in this module (r11 self-review
# finding 5 — q384's disjointness note relies on all slices agreeing on
# digit ranges, so the text must have a single source)
def _md5_slice_sql(
    start: int, mod: int, eq: int, key: str = "CAST(event_id AS VARCHAR)"
) -> str:
    # COALESCE(..., FALSE): a NULL key must land in the CORPUS side
    # (delta = false), not vanish from BOTH sides of a split — a bare
    # predicate is NULL on NULL keys and df.where(p) / df.where(~p)
    # would each drop the row, silently breaking every merge-identity
    # oracle (r12 review finding; no null keys in this data, guarded
    # anyway)
    return (
        f"COALESCE(CAST(('0x' || substr(md5({key}), {start}, 8))"
        f" AS BIGINT) % {mod} = {eq}, FALSE)"
    )


def _md5_slice_spark(
    start: int, mod: int, eq: int, key: str = "CAST(event_id AS STRING)"
) -> str:
    return (
        f"COALESCE(CAST(conv(substr(md5({key}), {start}, 8), 16, 10)"
        f" AS BIGINT) % {mod} = {eq}, false)"
    )


# q378 delta batch: hex 1-8, mod 10, slice 0
_DELTA_SQL = _md5_slice_sql(1, 10, 0)
_DELTA_SPARK = _md5_slice_spark(1, 10, 0)


@query(
    "q378_stats_catalog_merge",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({_cms_rows_sql("events", "user_id", "events")}
          UNION ALL {_kmv_rows_sql("events", "user_id", "events")}
          UNION ALL {_moment_rows_sql("events", "value", "events")})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("sketch", "catalog", "incremental"),
)
def q378_stats_catalog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental catalog maintenance, gated by its defining identity:
    split events into corpus (~90%) and delta batch (~10%) by a
    deterministic md5 fraction, build each side's catalog
    independently, MERGE the two summaries — and the oracle computes
    the FULL single-pass build directly, so the hash gate proves
    merge(build(A), build(B)) == build(A ∪ B) exactly (cms/moment
    cells add; kmv is bottom-k of the distinct hash union — the Beyer
    et al. algebra operators/statcat documents).

    Scale plan: this is the daily-batch maintenance path — yesterday's
    corpus is never rescanned in production, so the CORPUS side is
    memoized+pinned (one build per session/dataset, the role the
    persisted artifact plays in production) while the DELTA side
    rebuilds on every call, exactly like a daily batch; the steady-state
    cost a bench pass measures is therefore delta-sketch + fold.  The
    merge itself touches two O(depth·width + k) summaries: one tiny
    groupBy plus a bounded collect_set (≤ 2k hashes per column), never
    the data.

    Exactness: identical md5 split text both engines; all merge
    arithmetic is exact integers; v publishes as STRING (q377)."""
    ev = read_table(spark, sf_dir, "events")
    delta_rows = ev.where(F.expr(_DELTA_SPARK))
    merged = merge_catalogs(
        _corpus_side_catalog(spark, sf_dir), _events_side(delta_rows), k=KMV_K
    )
    return merged.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


def _events_side(rows: DataFrame) -> DataFrame:
    """events catalog rows (user_id sketches + value moments) for one
    row subset — the per-side build q378's fold and q386's drift
    monitor share."""
    keys = rows.select("user_id").repartition(16)
    return key_sketches(keys, "events", "user_id").unionAll(
        value_moments(rows, "events", "value")
    )


def _corpus_side_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized+pinned corpus-side (NOT-delta) events catalog — the
    role the persisted artifact plays in production (yesterday's corpus
    is never rescanned); shared by q378 (fold input) and q386 (the
    stale side of the drift monitor)."""
    return artifact(
        spark, sf_dir, "q378_corpus_side",
        lambda: _events_side(
            read_table(spark, sf_dir, "events").where(~F.expr(_DELTA_SPARK))
        ).localCheckpoint(eager=True),
    )


# the catalog is bounded BY CONSTRUCTION: |spec| * (depth*width + k)
# cells + 4 moment rows — independent of data size.  Anything larger is
# a broken artifact, not a bigger dataset.
_CAT_MAX_ROWS = len(_KEY_SPEC) * (CMS_DEPTH * CMS_WIDTH + KMV_K) + 4


def _ha6_py(num: int, den: int) -> float:
    """Python twin of analytics2._ha6 (num >= 0, den > 0): exact integer
    half-away round(num/den, 6).  Same 9e12 quotient guard — a planner
    statistic past the 6-dp int grid means the caller picked the wrong
    grid, never a silent wrap."""
    if den == 0:
        raise ValueError("stats-catalog estimate: zero denominator")
    if abs(num / den) > 9.0e12:
        raise ValueError(
            f"_ha6_py grid overflow (q238/q363 class): num={num} den={den}"
        )
    return ((2 * num * 1_000_000 + den) // (2 * den)) / 1_000_000


def _estimates_from_catalog(spark: SparkSession, cat: DataFrame) -> DataFrame:
    """Planner estimates computed from catalog rows ONLY (no base-table
    access): per key column n_rows / distinct_kmv / selfjoin_pairs_cms,
    the lineitem⋈orders cross estimate, and events.value null-share /
    mean / variance from the moment rows.

    Served DRIVER-SIDE from a contract-capped collect: statistics
    catalogs are driver-resident in every real planner (Spark's own CBO
    holds table stats on the driver), the artifact is O(kB) at ANY data
    scale, and a distributed 7-branch union over ~1k rows costs ~19
    AQE stage-jobs (~2.3 s of pure scheduling floor, measured) to
    compute what integer Python does for free.  The boundary-table
    rule (q296/q310): bounded summaries reshape driver-side."""
    rows = cat.limit(_CAT_MAX_ROWS + 1).collect()
    if len(rows) > _CAT_MAX_ROWS:
        raise ValueError(
            f"stats catalog exceeds its construction bound "
            f"({len(rows)} > {_CAT_MAX_ROWS} rows) — artifact is corrupt"
        )
    cms: dict[tuple, dict[tuple, int]] = {}
    kmv: dict[tuple, list[int]] = {}
    mom: dict[tuple, dict[int, int]] = {}
    for row in rows:
        key = (row.tbl, row.col)
        v = int(row.v)
        if row.kind == "cms":
            cms.setdefault(key, {})[(row.r, row.b)] = v
        elif row.kind == "kmv":
            kmv.setdefault(key, []).append(v)
        else:
            mom.setdefault(key, {})[row.b] = v

    out: list[tuple[str, str, str, float]] = []
    for key, cells in sorted(cms.items()):
        tot = {r: 0 for r in range(CMS_DEPTH)}
        ip = {r: 0 for r in range(CMS_DEPTH)}
        for (r, _b), c in cells.items():
            tot[r] += c
            ip[r] += c * c
        n_rows = max(tot.values())  # every hash row sums to N
        out.append((*key, "n_rows", float(n_rows)))
        out.append((*key, "selfjoin_pairs_cms", float(min(ip.values()))))
        us = kmv[key]
        est = (
            float(len(us))
            if len(us) < KMV_K
            else _ha6_py(KMV_NUM, max(us))
        )
        out.append((*key, "distinct_kmv", est))
    li = cms[("lineitem", "l_orderkey")]
    od = cms[("orders", "o_orderkey")]
    cross_ip = {r: 0 for r in range(CMS_DEPTH)}
    for (r, b), c in li.items():
        cross_ip[r] += c * od.get((r, b), 0)
    out.append(
        (
            "lineitem,orders",
            "l_orderkey=o_orderkey",
            "join_pairs_cms",
            float(min(cross_ip.values())),
        )
    )
    for key, m in sorted(mom.items()):
        n, nn, s, ss = m[0], m[1], m[2], m[3]
        out.append((*key, "null_share", _ha6_py(n - nn, n)))
        out.append((*key, "mean", _ha6_py(s, nn * 1_000_000)))
        out.append(
            (
                *key,
                "variance",
                _ha6_py(nn * ss - s * s, nn * (nn - 1) * 10**12),
            )
        )
    out.sort(key=lambda t: (t[0], t[1], t[2]))
    return local_frame(
        spark, out, "tbl string, col string, stat string, value double"
    )


def _estimates_sql() -> str:
    """DuckDB twin of :func:`_estimates_from_catalog` over catalog rows
    recomputed straight from the base tables — the oracle never sees
    the persisted parquet, which is exactly the point: persist → reload
    → estimate must reproduce what a from-scratch engine computes."""
    kmv_num = f"CAST({KMV_NUM} AS HUGEINT)"
    # cat feeds cms/kmv/mom and cms feeds per_r + the cross estimate:
    # multiply-referenced CTEs MUST be AS MATERIALIZED or DuckDB's
    # inlining recomputes the full 11-branch catalog per reference
    # (the q141/q255 blowup class; ADVICE r11).
    return f"""
    WITH cat AS MATERIALIZED ({_FULL_CATALOG_SQL}),
    cms AS MATERIALIZED (SELECT * FROM cat WHERE kind = 'cms'),
    per_r AS (
      SELECT tbl, col, r, SUM(v) AS tot, SUM(v * v) AS ip
      FROM cms GROUP BY 1, 2, 3
    ),
    key_stats AS (
      SELECT tbl, col, MAX(tot) AS n_rows, MIN(ip) AS selfjoin
      FROM per_r GROUP BY 1, 2
    ),
    kmv AS (
      SELECT tbl, col, COUNT(*) AS nk, MAX(v) AS uk
      FROM cat WHERE kind = 'kmv' GROUP BY 1, 2
    ),
    keyed AS (
      SELECT k.tbl, k.col, n_rows, selfjoin, nk, uk
      FROM key_stats k JOIN kmv USING (tbl, col)
    ),
    cross_est AS (
      -- enumerate ALL depth rows from a spine: a hash row with zero
      -- overlapping buckets contributes ip = 0 to the MIN (matching
      -- the Python side's zero-initialized per-row accumulator) — a
      -- bare JOIN+GROUP BY would silently DROP that row from the MIN
      -- (ADVICE r11; unreachable on FK-overlapping keys, divergent on
      -- disjoint key sets)
      SELECT MIN(COALESCE(x.ip, 0)) AS est
      FROM (SELECT unnest(range(0, {CMS_DEPTH})) AS r) d
      LEFT JOIN (
        SELECT l.r, SUM(l.v * o.v) AS ip
        FROM (SELECT * FROM cms
              WHERE tbl = 'lineitem' AND col = 'l_orderkey') l
        JOIN (SELECT * FROM cms
              WHERE tbl = 'orders' AND col = 'o_orderkey') o
          ON l.r = o.r AND l.b = o.b
        GROUP BY 1
      ) x ON d.r = x.r
    ),
    mom AS (
      SELECT tbl, col,
             MAX(CASE WHEN b = 0 THEN v END) AS n_rows,
             MAX(CASE WHEN b = 1 THEN v END) AS n_nonnull,
             MAX(CASE WHEN b = 2 THEN v END) AS s,
             MAX(CASE WHEN b = 3 THEN v END) AS ss
      FROM cat WHERE kind = 'moment' GROUP BY 1, 2
    )
    SELECT tbl, col, stat, value FROM (
      SELECT tbl, col, 'n_rows' AS stat, CAST(n_rows AS DOUBLE) AS value
      FROM keyed
      UNION ALL
      SELECT tbl, col, 'distinct_kmv',
             CASE WHEN nk < {KMV_K} THEN CAST(nk AS DOUBLE)
                  ELSE {_ha6_sql(kmv_num, "uk")} END
      FROM keyed
      UNION ALL
      SELECT tbl, col, 'selfjoin_pairs_cms', CAST(selfjoin AS DOUBLE)
      FROM keyed
      UNION ALL
      SELECT 'lineitem,orders', 'l_orderkey=o_orderkey', 'join_pairs_cms',
             CAST(est AS DOUBLE)
      FROM cross_est
      UNION ALL
      SELECT tbl, col, 'null_share', {_ha6_sql("n_rows - n_nonnull", "n_rows")}
      FROM mom
      UNION ALL
      SELECT tbl, col, 'mean', {_ha6_sql("s", "n_nonnull * 1000000")}
      FROM mom
      UNION ALL
      SELECT tbl, col, 'variance',
             {_ha6_sql("n_nonnull * ss - s * s",
                       "n_nonnull * (n_nonnull - 1) * CAST(1000000000000 AS HUGEINT)")}
      FROM mom
    )
    ORDER BY tbl, col, stat
    """


@query(
    "q379_catalog_served_estimates",
    oracle=_estimates_sql(),
    tags=("sketch", "catalog", "planning"),
)
def q379_catalog_served_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner estimates SERVED FROM THE PERSISTED CATALOG: ensure the
    parquet artifact exists (build + save on first touch — the
    checkpoint-if-exists lifecycle), reload it, and compute row counts,
    KMV distinct estimates, CMS self-join/cross-join sizes and value
    moments from the summary rows alone.  The base tables are read only
    if the artifact is missing; the serving plan scans O(kB) of catalog
    parquet (hive-partitioned by (tbl, col), so a one-column lookup
    prunes to one directory) and reshapes it DRIVER-SIDE under the
    construction-bound contract (_estimates_from_catalog) — planner
    stats are driver-resident in any real engine, and the distributed
    7-branch alternative measured 19 AQE stage-jobs (~2.3 s of pure
    scheduling floor) for 13 output rows.

    The oracle recomputes the identical estimates from the base tables,
    gating the whole persist → reload → estimate path: a type lost in
    the parquet round-trip, a partition-column narrowing, or a merge
    drift would all flip the hash.

    Exactness/grid: estimates are exact integers published as doubles
    (all < 2^53 here — n²-scale CMS products at petabyte row counts
    would publish as STRINGS instead, the q309 rule) or _ha6 6-dp
    rationals; the variance numerator n·Σx² − (Σx)² rides
    DECIMAL(38,0)/HUGEINT (q317's widening) and its quotient is
    variance in units² ≪ the 9e12 guard."""
    path = catalog_path(sf_dir, _CAT_TABLES, spec=_KEY_SPEC)
    ensure_catalog(path, lambda: build_catalog(spark, sf_dir))
    return _estimates_from_catalog(spark, load_catalog(spark, path))


# ---- equi-depth histogram kind (q380/q381) -------------------------------

_HIST_SPEC = (
    ("events", "value"),
    ("lineitem", "l_extendedprice"),
)
# selectivity predicates as (label, lo%, hi%) of the [min, max] span —
# span-relative so the same query text is meaningful at every sf
_PRED_SPEC = (("p10_35", 10, 35), ("p25_75", 25, 75), ("p60_90", 60, 90))

def _hist_rows_sql(rel: str, key: str, tbl: str) -> str:
    """DuckDB twin of operators/statcat.equidepth_hist: the boundary at
    bucket b is the data value at exact integer rank
    k = max(1, ceil(b·n/10)) — MIN(xu) over rows with row_number ≥ k
    (the micro snap is monotone, so selecting then snapping equals
    snapping then selecting)."""
    return f"""
      SELECT '{tbl}' AS tbl, '{key}' AS col, 'hist' AS kind,
             CAST(0 AS BIGINT) AS r, i.b,
             CAST(MIN(xu) AS HUGEINT) AS v
      FROM (SELECT CAST(floor({key} * 1000000 + 0.5) AS BIGINT) AS xu,
                   ROW_NUMBER() OVER (ORDER BY {key}) AS rn,
                   COUNT(*) OVER () AS n
            FROM {rel} WHERE {key} IS NOT NULL) t,
           (SELECT unnest(range(0, {HIST_BUCKETS + 1})) AS b) i
      WHERE rn >= GREATEST(1, (i.b * n + {HIST_BUCKETS - 1}) // {HIST_BUCKETS})
      GROUP BY 1, 2, 3, 4, 5
    """


def build_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized histogram rows for the fixed _HIST_SPEC (local-rows
    frames out of the quantile kernel — no pin needed)."""

    def build():
        parts = [
            equidepth_hist(read_table(spark, sf_dir, tbl), tbl, col)
            for tbl, col in _HIST_SPEC
        ]
        cat = parts[0]
        for p in parts[1:]:
            cat = cat.unionAll(p)
        return cat

    return artifact(spark, sf_dir, "stats_hist", build)


def _hist_path(sf_dir: str) -> str:
    return catalog_path(
        sf_dir, tuple(t for t, _ in _HIST_SPEC), spec=_HIST_SPEC
    ) + "-hist"


@query(
    "q380_equidepth_histogram",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({" UNION ALL ".join(_hist_rows_sql(t, c, t) for t, c in _HIST_SPEC)})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("sketch", "catalog", "histogram"),
)
def q380_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram ANALYZE: 11 exact-rank boundaries per
    profiled column (kind='hist' catalog rows), persisted like the
    sketch catalog and published for the hash gate.

    Scale plan: boundary selection is the distributed range-partition
    quantile kernel (operators/quantiles — per-partition memory at any
    column size, ~4 bounded jobs per column); the kernel's WEIGHTED
    path at (k−0.5)/n marks pins the selection to exact integer ranks,
    so the oracle is the pure integer rule MIN(x | rn ≥ k) with no
    float threshold anywhere (equidepth_hist docstring has the ulp
    argument).  hist rows are REBUILD-ONLY: merge_catalogs raises on
    them (order statistics don't merge) — the re-ANALYZE cadence, not
    the fold, maintains this kind.

    Exactness: boundaries are actual data values selected by integer
    rank, micro-snapped with the shared floor(x·1e6+0.5) idiom
    (monotone, so snap-then-select == select-then-snap); published as
    STRING like every catalog row."""
    path = _hist_path(sf_dir)
    hist = build_hist(spark, sf_dir)
    ensure_catalog(path, lambda: hist)
    return hist.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


def _overlap6(plo: int, phi: int, lv: int, rv: int) -> int:
    """Half-away micro fraction of bucket [lv, rv] covered by predicate
    [plo, phi] under the uniform-within-bucket assumption; point
    buckets (rv == lv) count fully iff the point is inside."""
    if rv == lv:
        return 1_000_000 if plo <= lv <= phi else 0
    inter = max(0, min(phi, rv) - max(plo, lv))
    den = rv - lv
    return (2 * inter * 1_000_000 + den) // (2 * den)


def _pred_bounds(b0: int, b10: int) -> list[tuple[str, int, int]]:
    span = b10 - b0
    return [
        (label, b0 + span * a // 100, b0 + span * bb // 100)
        for label, a, bb in _PRED_SPEC
    ]


def _selectivity_sql() -> str:
    """DuckDB twin of q381: boundaries recomputed from the base tables
    (the oracle never reads the artifact), then the identical integer
    overlap/estimate arithmetic.  Each column's boundary table — a full
    window scan — is computed ONCE behind AS MATERIALIZED (it feeds the
    bucket pairs AND the predicate bounds; the round-8 q255 rule, bit
    again by the r11 self-review: the inlined form ran 4 window scans
    per column)."""
    ctes = []
    per_col = []
    values = ", ".join(f"('{l}', {a}, {bb})" for l, a, bb in _PRED_SPEC)
    for tbl, col in _HIST_SPEC:
        ctes.append(
            f"h_{tbl} AS MATERIALIZED ({_hist_rows_sql(tbl, col, tbl)}),\n"
            f"    p_{tbl} AS MATERIALIZED (\n"
            f"      SELECT p.pred,\n"
            f"             sp.lo0 + (sp.hi10 - sp.lo0) * p.a // 100 AS plo,\n"
            f"             sp.lo0 + (sp.hi10 - sp.lo0) * p.bb // 100 AS phi\n"
            f"      FROM (SELECT MAX(CASE WHEN b = 0 THEN v END) AS lo0,\n"
            f"                   MAX(CASE WHEN b = {HIST_BUCKETS} THEN v END)\n"
            f"                     AS hi10\n"
            f"            FROM h_{tbl}) sp,\n"
            f"           (VALUES {values}) AS p(pred, a, bb)\n"
            f"    )"
        )
        per_col.append(f"""
    SELECT e.tbl, e.col, e.pred,
           CAST((2 * e.s * 1000000 + 10000000) // 20000000 AS DOUBLE)
             / 1000000 AS est_sel,
           CAST((2 * x.cnt * 1000000 + x.n) // (2 * x.n) AS DOUBLE)
             / 1000000 AS exact_sel,
           CAST(ABS((2 * e.s * 1000000 + 10000000) // 20000000
                    - (2 * x.cnt * 1000000 + x.n) // (2 * x.n)) AS DOUBLE)
             / 1000000 AS abs_err
    FROM (
      SELECT '{tbl}' AS tbl, '{col}' AS col, p.pred, SUM(
        CASE WHEN bk.rv = bk.lv
             THEN CASE WHEN p.plo <= bk.lv AND bk.lv <= p.phi
                       THEN 1000000 ELSE 0 END
             ELSE (2 * GREATEST(0, LEAST(p.phi, bk.rv)
                                   - GREATEST(p.plo, bk.lv)) * 1000000
                   + (bk.rv - bk.lv)) // (2 * (bk.rv - bk.lv))
        END) AS s
      FROM (
        SELECT l.b + 1 AS i, l.v AS lv, r.v AS rv
        FROM h_{tbl} l JOIN h_{tbl} r ON r.b = l.b + 1
      ) bk, p_{tbl} p
      GROUP BY 1, 2, 3
    ) e JOIN (
      SELECT p.pred,
             SUM(CASE WHEN t.xu BETWEEN p.plo AND p.phi THEN 1 ELSE 0 END)
               AS cnt,
             COUNT(*) AS n
      FROM (SELECT CAST(floor({col} * 1000000 + 0.5) AS BIGINT) AS xu
            FROM {tbl} WHERE {col} IS NOT NULL) t, p_{tbl} p
      GROUP BY 1
    ) x ON e.pred = x.pred""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(per_col)
        + ") ORDER BY tbl, col, pred"
    )


@query(
    "q381_histogram_selectivity",
    oracle=_selectivity_sql(),
    tags=("sketch", "catalog", "planning"),
)
def q381_histogram_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate selectivity SERVED FROM THE PERSISTED HISTOGRAM
    (the CBO estimate every filter pushdown costs with), next to the
    exact selectivity and the absolute error — the q375 estimate-vs-
    truth shape for the histogram kind.  Three span-relative predicates
    per profiled column; the estimator is the classic equi-depth rule
    (each bucket holds 1/10 of rows, uniform within bucket, point
    buckets all-in-or-out).

    Scale plan: the estimate touches only the 11-row boundary table
    (driver-side integer arithmetic under the q379 bounded-artifact
    contract); the exact side is ONE conditional-count aggregate per
    profiled table.  Ensure-build reuses q380's memoized kernel rows /
    persisted artifact.

    Exactness: per-bucket coverage is an exact integer half-away micro
    fraction (_overlap6 — clamped intersection BEFORE the division, so
    no negative floor-division semantics are exercised in either
    engine); estimate = half-away(Σov6 / 10·1e6); predicate bounds and
    abs_err are pure integer micro arithmetic, mirrored verbatim in the
    oracle text."""
    path = _hist_path(sf_dir)
    ensure_catalog(path, lambda: build_hist(spark, sf_dir))
    hist = load_catalog(spark, path).collect()
    bounds: dict[tuple, dict[int, int]] = {}
    for row in hist:
        bounds.setdefault((row.tbl, row.col), {})[row.b] = int(row.v)

    out: list[tuple[str, str, str, float, float, float]] = []
    for tbl, col in _HIST_SPEC:
        bs = bounds[(tbl, col)]
        preds = _pred_bounds(bs[0], bs[HIST_BUCKETS])
        # exact side: one conditional-count pass over the base column
        xu = F.expr(f"CAST(floor({col} * 1000000 + 0.5) AS BIGINT)")
        aggs = [F.count(F.lit(1)).alias("n")] + [
            F.sum(
                F.when((xu >= F.lit(plo)) & (xu <= F.lit(phi)), 1).otherwise(0)
            ).alias(label)
            for label, plo, phi in preds
        ]
        exact = (
            read_table(spark, sf_dir, tbl)
            .where(F.col(col).isNotNull())
            .agg(*aggs)
            .collect()[0]
        )
        n = int(exact["n"])
        for label, plo, phi in preds:
            s = sum(
                _overlap6(plo, phi, bs[i - 1], bs[i])
                for i in range(1, HIST_BUCKETS + 1)
            )
            eu = (2 * s * 1_000_000 + 10_000_000) // 20_000_000
            cnt = int(exact[label])
            xu6 = (2 * cnt * 1_000_000 + n) // (2 * n)
            out.append(
                (tbl, col, label, eu / 1e6, xu6 / 1e6, abs(eu - xu6) / 1e6)
            )
    out.sort(key=lambda t: (t[0], t[1], t[2]))
    return local_frame(
        spark, out,
        "tbl string, col string, pred string, est_sel double,"
        " exact_sel double, abs_err double",
    )


# ---- incremental view maintenance (q382) ---------------------------------

# insert batch: md5 hex digits 1-8 of the event id, mod 10 (the q378
# split); delete set: digits 9-16, mod 7, RESTRICTED to the corpus side
# (an insert can't also be a retroactive delete)
_INS_SQL = _DELTA_SQL
_INS_SPARK = _DELTA_SPARK
_DEL_SQL = _md5_slice_sql(9, 7, 1)
_DEL_SPARK = _md5_slice_spark(9, 7, 1)


@query(
    "q382_ivm_agg_view",
    oracle=f"""
    SELECT event_type,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COALESCE(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)),
                         0) AS BIGINT) AS sum_micro
    FROM events
    WHERE ({_INS_SQL}) OR NOT ({_DEL_SQL})
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("incremental", "view", "maintenance"),
)
def q382_ivm_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a self-maintainable aggregate
    view (per (event_type, day) count + Σ micro value), with INSERTS
    and DELETES: the maintained view is computed as
    V(corpus) ⊎ +Δ(inserts) ⊎ −Δ(deletes) — three independent
    aggregates folded by group-wise integer addition, groups whose
    count reaches zero dropped — and the ORACLE computes the full
    rebuild over the effective row set directly, so the hash gate
    proves maintain(V, +Δ, −Δ) == rebuild exactly (the q378 identity
    for aggregate views).  COUNT/SUM are self-maintainable under
    deletes; MIN/MAX are deliberately absent — a deleted row can hold
    the group minimum, forcing a rescan (the textbook IVM boundary,
    which is why the histogram kind is rebuild-only too).

    Scale plan: in production the corpus view V is the stored artifact
    and only the deltas are scanned; here both sides build from the
    split to exercise the fold.  Each Δ is one map-side-combinable
    aggregate; the fold is a groupBy-sum over |groups| rows, never the
    data.  Grid: micro sums fit int64 to ~9e12 value-rows per group
    per batch; counts are exact longs.

    Determinism: engine-shared md5 split predicates (insert: hex 1–8
    mod 10; delete: hex 9–16 mod 7, corpus-side only); day published
    as STRING (the q154/q288 calendar convention); a group whose
    surviving rows are all value-NULL publishes sum_micro = 0 in BOTH
    engines (Spark's fold coalesces, the oracle COALESCEs its SUM —
    r11 self-review finding 2)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("xu"),
    )
    ins = F.expr(_INS_SPARK)
    dele = F.expr(_DEL_SPARK)
    corpus = ev.where(~ins)

    def agg_view(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            (F.count(F.lit(1)) * sign).alias("cnt"),
            (F.coalesce(F.sum("xu"), F.lit(0)) * sign).alias("sum_micro"),
        )

    maintained = (
        agg_view(corpus, 1)
        .unionAll(agg_view(ev.where(ins), 1))
        .unionAll(agg_view(corpus.where(dele), -1))
        .groupBy("event_type", "day")
        .agg(
            F.sum("cnt").alias("cnt"), F.sum("sum_micro").alias("sum_micro")
        )
        .where(F.col("cnt") > 0)
    )
    return maintained.select(
        "event_type",
        "day",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_micro").cast("long").alias("sum_micro"),
    ).orderBy("event_type", "day")


# ---- catalog-driven join ordering (q383) ---------------------------------

# candidate left-deep orders for customer ⋈ orders ⋈ lineitem: the cost
# proxy is the estimated INTERMEDIATE result size (the only quantity a
# planner has before running anything)
_JOIN_PLANS = (
    ("co_first", ("customer", "c_custkey"), ("orders", "o_custkey")),
    ("ol_first", ("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
)


def _cms_cross_sql(a_tbl: str, a_col: str, b_tbl: str, b_col: str) -> str:
    """min-over-rows CMS inner product of two catalog sketches (the
    q375 estimator) as a DuckDB scalar subquery over the `cms` CTE.
    The depth spine + COALESCE keeps a zero-overlap hash row in the MIN
    as ip = 0, matching the Python accumulator (ADVICE r11)."""
    return f"""(
      SELECT MIN(COALESCE(x.ip, 0))
      FROM (SELECT unnest(range(0, {CMS_DEPTH})) AS r) d
      LEFT JOIN (
        SELECT a.r, SUM(a.v * b.v) AS ip
        FROM (SELECT * FROM cms
              WHERE tbl = '{a_tbl}' AND col = '{a_col}') a
        JOIN (SELECT * FROM cms
              WHERE tbl = '{b_tbl}' AND col = '{b_col}') b
          ON a.r = b.r AND a.b = b.b
        GROUP BY 1
      ) x ON d.r = x.r
    )"""


def _exact_pairs_sql(a_tbl: str, a_col: str, b_tbl: str, b_col: str) -> str:
    """Exact degree-product join size (the q375 truth column)."""
    return f"""(
      SELECT SUM(CAST(a.c AS HUGEINT) * b.c)
      FROM (SELECT {a_col} AS k, COUNT(*) AS c FROM {a_tbl}
            WHERE {a_col} IS NOT NULL GROUP BY 1) a
      JOIN (SELECT {b_col} AS k, COUNT(*) AS c FROM {b_tbl}
            WHERE {b_col} IS NOT NULL GROUP BY 1) b ON a.k = b.k
    )"""


def _join_order_sql() -> str:
    plan_rows = " UNION ALL ".join(
        f"""SELECT '{name}' AS plan,
              {_cms_cross_sql(a[0], a[1], b[0], b[1])} AS est_intermediate,
              {_exact_pairs_sql(a[0], a[1], b[0], b[1])} AS exact_intermediate"""
        for name, a, b in _JOIN_PLANS
    )
    return f"""
    WITH cat AS MATERIALIZED ({_FULL_CATALOG_SQL}),
    cms AS MATERIALIZED (SELECT * FROM cat WHERE kind = 'cms'),
    plans AS ({plan_rows}),
    ranked AS (
      SELECT plan, est_intermediate, exact_intermediate,
             ROW_NUMBER() OVER (ORDER BY est_intermediate, plan) AS rn
      FROM plans
    )
    SELECT plan,
           CAST(est_intermediate AS BIGINT) AS est_intermediate,
           CAST(exact_intermediate AS BIGINT) AS exact_intermediate,
           rn = 1 AS chosen
    FROM ranked ORDER BY plan
    """


@query(
    "q383_join_order_choice",
    oracle=_join_order_sql(),
    tags=("catalog", "planning", "join"),
)
def q383_join_order_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planner decision the catalog exists FOR: choose the left-deep
    join order of customer ⋈ orders ⋈ lineitem by estimated
    intermediate size — |customer⋈orders| (on custkey) vs
    |orders⋈lineitem| (on orderkey) from the persisted CMS sketches
    (q375's min-over-rows inner product), with the exact degree-product
    truth alongside and `chosen` marking the estimate-optimal plan
    (ties break on plan name).  On TPC-H-shaped data the custkey-first
    order wins by ~4× — exactly the call Spark's own CBO makes from its
    driver-resident statistics.

    Scale plan: the DECISION touches only catalog rows (driver-side
    under the q379 bounded contract — a real optimizer costs plans on
    the driver); the truth columns are one degree-product aggregate per
    candidate.  Estimates are exact integers ≤ Σ cA·cB, published as
    BIGINT.

    Grid budget: CMS products ride Python arbitrary-precision ints
    driver-side and DECIMAL(38,0)/HUGEINT in the truth aggregates."""
    cms_rows = _collect_cms_cells(spark, sf_dir)
    rows = [
        (
            name,
            cms_inner_product(cms_rows, a, b),
            exact_degree_product(spark, sf_dir, a, b),
        )
        for name, a, b in _JOIN_PLANS
    ]
    best = min((e, name) for name, e, _ in rows)[1]
    out = [
        (name, e, x, name == best) for name, e, x in rows
    ]
    out.sort(key=lambda t: t[0])
    return local_frame(
        spark, out,
        "plan string, est_intermediate long, exact_intermediate long,"
        " chosen boolean",
    )


# ---- sampled ANALYZE (q384) ----------------------------------------------

# deterministic 10% "block sample": md5 hex 1-8 of the event id, mod 10,
# slice 3 (disjoint from the q378/q382 insert slice 0 by construction)
_SAMPLE_SQL = _md5_slice_sql(1, 10, 3)
_SAMPLE_SPARK = _md5_slice_spark(1, 10, 3)


@query(
    "q384_sampled_analyze",
    oracle=f"""
    WITH s AS (
      SELECT user_id, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS xu
      FROM events WHERE {_SAMPLE_SQL}
    ),
    deg AS (SELECT user_id, COUNT(*) AS c FROM s GROUP BY 1),
    samp AS (
      SELECT (SELECT COUNT(*) FROM s) AS n_s,
             (SELECT SUM(xu) FROM s) AS sx,
             (SELECT COUNT(*) FROM deg) AS d_s,
             (SELECT COUNT(*) FROM deg WHERE c = 1) AS f1,
             (SELECT COUNT(*) FROM deg WHERE c = 2) AS f2
    ),
    ex AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS sx,
             COUNT(DISTINCT user_id) AS d
      FROM events
    )
    SELECT stat, estimate, exact FROM (
      SELECT 'n_rows' AS stat,
             CAST(n_s * 10 AS DOUBLE) AS estimate,
             CAST(n AS DOUBLE) AS exact
      FROM samp, ex
      UNION ALL
      SELECT 'mean_value',
             {_ha6_sql("samp.sx", "n_s * 1000000")},
             {_ha6_sql("ex.sx", "n * 1000000")}
      FROM samp, ex
      UNION ALL
      SELECT 'distinct_users_chao1',
             {_ha6_sql("2 * (f2 + 1) * d_s + f1 * (f1 - 1)",
                       "2 * (f2 + 1)")},
             CAST(d AS DOUBLE)
      FROM samp, ex
    ) ORDER BY stat
    """,
    tags=("sampling", "planning", "statistics"),
)
def q384_sampled_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE ... TABLESAMPLE, made deterministic and gated: row
    count, mean value and distinct-user estimates from a 10% md5 block
    sample, next to the full-scan truth.  Distinct count uses the
    bias-corrected Chao1 estimator d̂ = d_s + f1·(f1−1)/(2·(f2+1)) —
    hapax/dis legomena of the sample's degree table — the standard
    species-richness correction for what sampling misses (a plain
    scale-up over-counts when the key space is small, as here: 10% of
    events still sees almost every user).

    Scale plan: ONE pass over the 10% sample (a real TABLESAMPLE prunes
    at the scan; the md5 predicate here is the deterministic stand-in)
    plus the truth aggregates; at 100 TB only the sample side runs on
    the maintenance cadence.  Exactness: the estimator is one exact
    integer rational — d̂ = (2(f2+1)d_s + f1(f1−1)) / (2(f2+1)) — and
    means ride the shared micro/_ha6 path.

    Grid budget: 2·num·1e6 with num ≤ 2(f2+1)d_s + f1² ~ 3n² widens
    inside _ha6/_ha6_sql DECIMAL(38,0)/HUGEINT; mean numerators are
    micro sums ≤ 9e12-row-safe."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("xu"),
    )
    s = ev.where(F.expr(_SAMPLE_SPARK))
    deg = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    samp = s.agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("xu").alias("sx")
    ).crossJoin(
        F.broadcast(
            deg.agg(
                F.count(F.lit(1)).alias("d_s"),
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
                F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
            )
        )
    )
    ex = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xu").alias("exs"),
        F.countDistinct("user_id").alias("d"),
    )
    # ONE bounded collect (a 1-row, 8-int artifact) + driver-side exact
    # integer math + local-relation publish — the q385 bounded-artifact form.
    # The former 3-branch union referenced the aggregate join three
    # times, paying repeated broadcast/stage jobs for three rows (r13:
    # 16 jobs → ~6).  _ha6_py is the text twin of the _ha6 expressions
    # this replaced (identical integer half-away arithmetic).
    r = samp.crossJoin(F.broadcast(ex)).collect()[0]
    n_s, sx, d_s, f1, f2 = int(r.n_s), int(r.sx), int(r.d_s), int(r.f1), int(r.f2)
    n, exs, d = int(r.n), int(r.exs), int(r.d)
    out = [
        (
            "distinct_users_chao1",
            _ha6_py(2 * (f2 + 1) * d_s + f1 * (f1 - 1), 2 * (f2 + 1)),
            float(d),
        ),
        ("mean_value", _ha6_py(sx, n_s * 1_000_000), _ha6_py(exs, n * 1_000_000)),
        ("n_rows", float(n_s * 10), float(n)),
    ]
    return local_frame(spark, out, "stat string, estimate double, exact double")


# ---- catalog-served skew detection (q385) --------------------------------

# est-side salting threshold: recommend salting when the CMS upper
# bound on the heaviest key's share exceeds 1% of the table (a single
# reducer would see >1% of the join input)
_SKEW_SHARE_PPM = 10_000  # 1% in micro units


@query(
    "q385_join_skew_audit",
    oracle=f"""
    WITH cat AS MATERIALIZED ({_FULL_CATALOG_SQL}),
    cms AS MATERIALIZED (SELECT * FROM cat WHERE kind = 'cms'),
    upper_est AS (
      SELECT tbl, col, MIN(mx) AS upper_freq, MAX(tot) AS n_rows
      FROM (
        SELECT tbl, col, r, MAX(v) AS mx, SUM(v) AS tot
        FROM cms GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    exact_mx AS (
      SELECT 'events' AS tbl, 'user_id' AS col,
             MAX(c) AS exact_freq
      FROM (SELECT COUNT(*) AS c FROM events
            WHERE user_id IS NOT NULL GROUP BY user_id)
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', MAX(c)
      FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)
      UNION ALL
      SELECT 'orders', 'o_orderkey', MAX(c)
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'orders', 'o_custkey', MAX(c)
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey)
      UNION ALL
      SELECT 'customer', 'c_custkey', MAX(c)
      FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey)
    )
    SELECT u.tbl, u.col,
           CAST(u.n_rows AS BIGINT) AS n_rows,
           CAST(u.upper_freq AS BIGINT) AS max_freq_upper,
           CAST(x.exact_freq AS BIGINT) AS max_freq_exact,
           {_ha6_sql("u.upper_freq", "u.n_rows")} AS upper_share,
           {_ha6_sql("x.exact_freq", "u.n_rows")} AS exact_share,
           (2 * u.upper_freq * 1000000 + u.n_rows) // (2 * u.n_rows)
             > {_SKEW_SHARE_PPM} AS salt_recommended
    FROM upper_est u JOIN exact_mx x ON u.tbl = x.tbl AND u.col = x.col
    ORDER BY u.tbl, u.col
    """,
    tags=("catalog", "skew", "planning"),
)
def q385_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting decision, served from the catalog: for every
    sketched join key, the CMS upper bound on the heaviest key's
    frequency — min over hash rows of the row's MAX bucket count (the
    heavy key sits in ONE bucket per row, so every row's max is ≥ its
    true count) — its share of the table, the exact heaviest-key truth,
    and `salt_recommended` fired from the ESTIMATE side at a 1% share
    threshold (one reducer seeing >1% of a shuffle input is where AQE
    skew splitting / salting starts paying).  This is why a stats
    catalog stores sketches rather than just scalars: the skew question
    arrives AFTER the scan is gone.

    Scale plan: the estimate reads O(depth·width) persisted rows
    driver-side (q379 contract); the truth is one groupBy-max per
    column.  The upper bound is conservative by construction (never
    under the truth — collisions only inflate it), so a salt decision
    made from it fails safe: it can over-salt, never under-salt.
    Calibration: on a uniform key the bound floors at ~1/width share
    (heaviest-bucket load, ≈0.78% at width 128), so the 1% threshold
    deliberately sits just above the collision floor — measured here,
    only the genuinely skewed events.user_id fires; a catalog
    profiling heavier skew regimes sizes width to push the floor down.

    Grid budget: 2·upper·1e6 ≤ 2n·1e6 widens inside _ha6/HUGEINT; the
    boolean threshold compare reuses the same integer quotient text in
    both engines."""
    cms_rows = _collect_cms_cells(spark, sf_dir)

    # ONE action for all five exact heaviest-key truths: the per-table
    # groupBy-max aggregates are independent subtrees of a single tagged
    # union, so Spark runs their scans/aggregations concurrently instead
    # of five sequential collect round-trips (guide §2.6; r13 — was the
    # dominant wall cost of this audit).
    parts = []
    for tbl, col in _KEY_SPEC:
        parts.append(
            read_table(spark, sf_dir, tbl)
            .where(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("mx"))
            .select(F.lit(tbl).alias("tbl"), F.lit(col).alias("col"), "mx")
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    exacts = {(r.tbl, r.col): int(r.mx) for r in u.collect()}

    out = []
    for key in sorted(cms_rows):
        cells = cms_rows[key]
        mx = {r: 0 for r in range(CMS_DEPTH)}
        tot = {r: 0 for r in range(CMS_DEPTH)}
        for (r, _b), v in cells.items():
            mx[r] = max(mx[r], v)
            tot[r] += v
        upper = min(mx.values())
        n = max(tot.values())
        xfreq = exacts[key]
        up_u = (2 * upper * 1_000_000 + n) // (2 * n)
        ex_u = (2 * xfreq * 1_000_000 + n) // (2 * n)
        out.append(
            (
                *key,
                n,
                upper,
                xfreq,
                up_u / 1e6,
                ex_u / 1e6,
                up_u > _SKEW_SHARE_PPM,
            )
        )
    return local_frame(
        spark, out,
        "tbl string, col string, n_rows long, max_freq_upper long,"
        " max_freq_exact long, upper_share double, exact_share double,"
        " salt_recommended boolean",
    )


# ---- catalog staleness / re-ANALYZE trigger (q386) ------------------------

# re-ANALYZE when any monitored statistic drifts more than 5%
_REANALYZE_PPM = 50_000


def _drift_sides_sql() -> str:
    """Stale (corpus-only) vs fresh (full events) statistic micro-values
    from moment + kmv rows, shared integer arithmetic."""
    corpus_rel = f"(SELECT * FROM events WHERE NOT ({_DELTA_SQL})) ec"
    sides = []
    for name, rel in (("stale", corpus_rel), ("fresh", "events")):
        sides.append(f"""
    {name} AS MATERIALIZED (
      SELECT m.n_rows, m.nn, m.s, k.nk, k.uk,
             (2 * m.s + m.nn) // (2 * m.nn) AS mean_u,
             CASE WHEN k.nk < {KMV_K} THEN k.nk * 1000000
                  ELSE (2 * CAST({KMV_NUM} AS HUGEINT) * 1000000 + k.uk)
                       // (2 * k.uk) END AS dist_u
      FROM (
        SELECT MAX(CASE WHEN b = 0 THEN v END) AS n_rows,
               MAX(CASE WHEN b = 1 THEN v END) AS nn,
               MAX(CASE WHEN b = 2 THEN v END) AS s
        FROM ({_moment_rows_sql(rel, "value", "events")})
      ) m, (
        SELECT COUNT(*) AS nk, MAX(v) AS uk
        FROM ({_kmv_rows_sql(rel, "user_id", "events")})
      ) k
    )""")
    return ",".join(sides)


@query(
    "q386_catalog_staleness",
    oracle=f"""
    WITH {_drift_sides_sql()}
    SELECT stat,
           CAST(stale_u AS DOUBLE) / 1000000 AS stale,
           CAST(fresh_u AS DOUBLE) / 1000000 AS fresh,
           CAST((2 * ABS(fresh_u - stale_u) * 1000000 + fresh_u)
                // (2 * fresh_u) AS DOUBLE) / 1000000 AS drift_share,
           (2 * ABS(fresh_u - stale_u) * 1000000 + fresh_u)
             // (2 * fresh_u) > {_REANALYZE_PPM} AS needs_reanalyze
    FROM (
      SELECT 'n_rows' AS stat,
             s.n_rows * 1000000 AS stale_u, f.n_rows * 1000000 AS fresh_u
      FROM stale s, fresh f
      UNION ALL
      SELECT 'mean_value', s.mean_u, f.mean_u FROM stale s, fresh f
      UNION ALL
      SELECT 'distinct_users_kmv', s.dist_u, f.dist_u FROM stale s, fresh f
    ) ORDER BY stat
    """,
    tags=("catalog", "drift", "maintenance"),
)
def q386_catalog_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-ANALYZE trigger that closes the catalog lifecycle: compare
    the STALE catalog (built before the delta batch arrived — the
    memoized corpus side, standing in for yesterday's persisted
    artifact) against a FRESH build over the grown table, and publish
    per-statistic drift shares with `needs_reanalyze` fired at 5% — the
    policy input that schedules q377 rebuilds/q378 folds, exactly like
    ivf_cell_stats schedules IVF retrains.

    Monitored: row count and mean value (moment rows), distinct users
    (KMV) — each compared as exact integer micro-values, so the drift
    share is one half-away rational per stat and the 5% threshold is an
    integer compare (no float boundary).  On this data the 10% insert
    batch fires n_rows (drift ≈ 10%) while mean/distinct stay put —
    the catalog says "re-count, the content distribution is stable",
    which is the correct maintenance call.

    Scale plan: the stale side is the pinned q378 corpus catalog (zero
    new scans in steady state); the fresh side is one linear sketch
    pass; comparison is driver-side over two bounded summaries (q379
    contract).

    Grid budget: mean_u = (2s + nn) div 2nn with s ≤ 9e12·1e6 rides the
    DECIMAL(38,0)/HUGEINT moment types; the distinct branch reuses
    q376's HUGEINT-widened constant; drift numerators are ≤ 2·n·1e6 —
    DECIMAL/HUGEINT-safe at any corpus size."""
    stale_rows = _corpus_side_catalog(spark, sf_dir).collect()
    fresh_rows = (
        build_catalog(spark, sf_dir)
        .where((F.col("tbl") == "events"))
        .collect()
    )

    def stats(rows) -> dict[str, int]:
        mom: dict[int, int] = {}
        us: list[int] = []
        for r in rows:
            if r.kind == "moment" and r.col == "value":
                mom[r.b] = int(r.v)
            elif r.kind == "kmv" and r.col == "user_id":
                us.append(int(r.v))
        n, nn, s = mom[0], mom[1], mom[2]
        mean_u = (2 * s + nn) // (2 * nn)
        dist_u = (
            len(us) * 1_000_000
            if len(us) < KMV_K
            else (2 * KMV_NUM * 1_000_000 + max(us)) // (2 * max(us))
        )
        return {"n_rows": n * 1_000_000, "mean_value": mean_u,
                "distinct_users_kmv": dist_u}

    st, fr = stats(stale_rows), stats(fresh_rows)
    out = []
    for stat in sorted(st):
        su, fu = st[stat], fr[stat]
        du = (2 * abs(fu - su) * 1_000_000 + fu) // (2 * fu)
        out.append(
            (stat, su / 1e6, fu / 1e6, du / 1e6, du > _REANALYZE_PPM)
        )
    return local_frame(
        spark, out,
        "stat string, stale double, fresh double, drift_share double,"
        " needs_reanalyze boolean",
    )


# ---- mergeable equi-width histogram kind (q387/q388) ----------------------

# (table, column, cell size in micro units, delta-split predicates):
# boundaries are FIXED BY THIS SPEC — never by the data — which is what
# makes the counts fold by addition (r11 verdict item #3).  Cells size
# the grid to ~25 buckets over each column's natural range.
_LI_SPLIT_KEY_SPARK = (
    "concat(CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING))"
)
_LI_SPLIT_KEY_SQL = (
    "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
)
_EW_SPEC = (
    ("events", "value", 20_000_000, _DELTA_SPARK, _DELTA_SQL),
    (
        "lineitem",
        "l_extendedprice",
        5_000_000_000,
        _md5_slice_spark(1, 10, 0, key=_LI_SPLIT_KEY_SPARK),
        _md5_slice_sql(1, 10, 0, key=_LI_SPLIT_KEY_SQL),
    ),
)


def _ew_rows_sql(
    rel: str, key: str, tbl: str, cell_micro: int, label: str | None = None
) -> str:
    """DuckDB twin of operators/statcat.equiwidth_counts: fixed-grid
    bucket = micro-snapped value floor-divided by the spec cell size
    (both operands non-negative, so DuckDB ``//`` and Spark ``div``
    agree — the operator raises on negatives).  ``label`` names the
    catalog `col` when ``key`` is a derived expression."""
    return f"""
      SELECT '{tbl}' AS tbl, '{label or key}' AS col, 'ew' AS kind,
             CAST(0 AS BIGINT) AS r,
             CAST(floor({key} * 1000000 + 0.5) AS BIGINT)
               // {cell_micro} AS b,
             CAST(COUNT(*) AS HUGEINT) AS v
      FROM {rel} WHERE {key} IS NOT NULL
      GROUP BY 1, 2, 3, 4, 5
    """


def _ew_path(sf_dir: str) -> str:
    return catalog_path(
        sf_dir,
        tuple(t for t, _c, _w, _sp, _sq in _EW_SPEC),
        spec=tuple((t, c, w) for t, c, w, _sp, _sq in _EW_SPEC),
    ) + "-ew"


def _ew_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized merged ew rows: per-table corpus/delta builds folded by
    merge_catalogs' additive branch — the maintained form of the
    mergeable histogram (corpus side never rescanned in production)."""

    def build():
        corpus_parts, delta_parts = [], []
        for tbl, col, cell, split_spark, _split_sql in _EW_SPEC:
            df = read_table(spark, sf_dir, tbl)
            split = F.expr(split_spark)
            corpus_parts.append(
                equiwidth_counts(df.where(~split), tbl, col, cell)
            )
            delta_parts.append(
                equiwidth_counts(df.where(split), tbl, col, cell)
            )
        corpus = corpus_parts[0]
        for p in corpus_parts[1:]:
            corpus = corpus.unionAll(p)
        delta = delta_parts[0]
        for p in delta_parts[1:]:
            delta = delta.unionAll(p)
        return merge_catalogs(corpus, delta).localCheckpoint(eager=True)

    return artifact(spark, sf_dir, "ew_merged", build)


@query(
    "q387_equiwidth_hist_merge",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({" UNION ALL ".join(
        _ew_rows_sql(t, c, t, w) for t, c, w, _sp, _sq in _EW_SPEC)})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("sketch", "catalog", "histogram", "incremental"),
)
def q387_equiwidth_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE distribution summary the equi-depth kind can't be
    (r11 verdict item #3): fixed-grid equi-width bucket counts
    (kind='ew') whose boundaries come from the SPEC (a cell size over
    the micro-snapped integer domain), so per-bucket counts fold by
    addition.  Gated by the defining identity: each profiled table is
    split corpus/delta by a deterministic md5 fraction, each side's
    histogram built independently, MERGED — and the oracle computes the
    single-pass full build directly, proving
    merge(build(A), build(B)) == build(A ∪ B) exactly (the q378
    contract extended to a distribution-shape summary).  The merged
    rows persist next to the sketch catalog (ensure_catalog lifecycle)
    and q388's drift monitor consumes them.

    Scale plan: one map-side-combinable groupBy per (table, column) per
    side; the fold is a groupBy-sum over O(|buckets|) summary rows.  At
    100 TB this is the daily-batch histogram maintenance path — the
    corpus side is never rescanned (memoized+pinned here, persisted in
    production).

    Exactness: bucket index = exact integer floor-division of the
    micro-snapped value by the spec cell (both operands non-negative by
    the operator's loud guard, so Spark `div` and DuckDB `//` agree);
    counts are exact integers, published as STRING (catalog-row
    convention)."""
    merged = _ew_merged(spark, sf_dir)
    ensure_catalog(_ew_path(sf_dir), lambda: merged)
    return merged.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


# q388: re-ANALYZE trigger on SHAPE — total-variation distance between
# the stale (corpus-only) and fresh (full) ew histograms.
_EW_MAX_ROWS = 4096  # loud contract cap for the driver-side collect


def _ew_drift_sql() -> str:
    ctes, rows = [], []
    for tbl, col, cell, _split_spark, split_sql in _EW_SPEC:
        corpus_rel = f"(SELECT * FROM {tbl} WHERE NOT ({split_sql})) c{tbl}"
        ctes.append(
            f"s_{tbl} AS MATERIALIZED ({_ew_rows_sql(corpus_rel, col, tbl, cell)}),\n"
            f"    f_{tbl} AS MATERIALIZED ({_ew_rows_sql(tbl, col, tbl, cell)}),\n"
            f"    t_{tbl} AS (\n"
            f"      SELECT (SELECT SUM(v) FROM s_{tbl}) AS n_s,\n"
            f"             (SELECT SUM(v) FROM f_{tbl}) AS n_f\n"
            f"    ),\n"
            f"    d_{tbl} AS (\n"
            f"      SELECT MIN(t.n_s) AS n_s, MIN(t.n_f) AS n_f,\n"
            f"             SUM(ABS(COALESCE(s.v, 0) * t.n_f\n"
            f"                     - COALESCE(f.v, 0) * t.n_s)) AS num\n"
            f"      FROM s_{tbl} s FULL OUTER JOIN f_{tbl} f ON s.b = f.b,\n"
            f"           t_{tbl} t\n"
            f"    )"
        )
        rows.append(
            f"""
      SELECT '{tbl}' AS tbl, '{col}' AS col,
             CAST(n_s AS BIGINT) AS n_stale,
             CAST(n_f AS BIGINT) AS n_fresh,
             CAST((2 * num * 1000000 + 2 * n_s * n_f)
                  // (4 * n_s * n_f) AS DOUBLE) / 1000000 AS tv_share,
             (2 * num * 1000000 + 2 * n_s * n_f) // (4 * n_s * n_f)
               > {_REANALYZE_PPM} AS needs_reanalyze
      FROM d_{tbl}"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY tbl, col"
    )


@query(
    "q388_ew_shape_drift",
    oracle=_ew_drift_sql(),
    tags=("catalog", "drift", "histogram", "maintenance"),
)
def q388_ew_shape_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-SHAPE staleness, the monitor q386 couldn't express
    with scalars alone: total-variation distance between the stale
    (corpus-only) and fresh (full, served from q387's persisted
    artifact) equi-width histograms, with `needs_reanalyze` fired at
    the shared 5% threshold.  On this data the delta batch is a
    uniform md5 fraction, so the SHAPE stays put (TV ≈ 0, no trigger)
    while q386's row-count monitor fires — together they make the
    correct maintenance call: re-count, don't re-profile.

    Scale plan: the fresh side reads O(|buckets|) persisted rows; the
    stale side is one map-side-combinable groupBy per table (memoized
    here, the persisted yesterday-artifact in production); the TV
    comparison is driver-side integer arithmetic over two bounded
    summaries under a loud row cap (q379 contract).

    Exactness: TV = Σ_b |c_s·n_f − c_f·n_s| / (2·n_s·n_f) evaluated as
    ONE half-away integer division (numerator and denominator widened
    to Python int / HUGEINT — c·n is n²-scale, past int64 at ~3e9
    rows); the 5% trigger is an integer compare on the same quotient
    text in both engines."""
    path = _ew_path(sf_dir)
    ensure_catalog(path, lambda: _ew_merged(spark, sf_dir))
    fresh_rows = load_catalog(spark, path).limit(_EW_MAX_ROWS + 1).collect()
    if len(fresh_rows) > _EW_MAX_ROWS:
        raise ValueError(
            f"ew artifact exceeds its cap ({len(fresh_rows)} > {_EW_MAX_ROWS})"
            " — grid mis-sized or artifact corrupt"
        )
    fresh: dict[tuple, dict[int, int]] = {}
    for r in fresh_rows:
        if r.kind == "ew":
            fresh.setdefault((r.tbl, r.col), {})[int(r.b)] = int(r.v)

    out = []
    for tbl, col, cell, split_spark, _split_sql in _EW_SPEC:
        df = read_table(spark, sf_dir, tbl)
        stale_df = equiwidth_counts(
            df.where(~F.expr(split_spark)), tbl, col, cell
        )
        stale = {
            int(r.b): int(r.v)
            for r in stale_df.limit(_EW_MAX_ROWS + 1).collect()
        }
        if len(stale) > _EW_MAX_ROWS:
            raise ValueError("stale ew side exceeds its cap")
        fr = fresh[(tbl, col)]
        n_s, n_f = sum(stale.values()), sum(fr.values())
        num = sum(
            abs(stale.get(b, 0) * n_f - fr.get(b, 0) * n_s)
            for b in set(stale) | set(fr)
        )
        tv_u = (2 * num * 1_000_000 + 2 * n_s * n_f) // (4 * n_s * n_f)
        out.append(
            (tbl, col, n_s, n_f, tv_u / 1e6, tv_u > _REANALYZE_PPM)
        )
    out.sort(key=lambda t: (t[0], t[1]))
    return local_frame(
        spark, out,
        "tbl string, col string, n_stale long, n_fresh long,"
        " tv_share double, needs_reanalyze boolean",
    )


# ---- catalog-driven broadcast-vs-shuffle decision (q389) ------------------

# broadcast a join side when its catalog-estimated row count clears this
# (the row-count stand-in for autoBroadcastJoinThreshold's byte budget;
# a real planner multiplies by the avg row width it also catalogs)
_BCAST_ROWS = 20_000


def catalog_row_estimates(
    spark: SparkSession, sf_dir: str
) -> dict[tuple[str, str], int]:
    """Catalog-served row-count estimates for every sketched key column:
    each CMS hash row's bucket counts sum to EXACTLY the non-null row
    count, so n̂ = max over rows of Σ_b v (driver-side under the q379
    bounded-artifact contract)."""
    out: dict[tuple[str, str], int] = {}
    for key, cmap in _collect_cms_cells(spark, sf_dir).items():
        per_r = dict.fromkeys(range(CMS_DEPTH), 0)
        for (r, _b), v in cmap.items():
            per_r[r] += v
        out[key] = max(per_r.values())
    return out


def decided_join(
    spark: SparkSession, sf_dir: str, threshold: int = _BCAST_ROWS
) -> tuple[DataFrame, bool]:
    """customer ⋈ orders with the physical strategy chosen FROM THE
    CATALOG (the decision q389 audits, applied): broadcast the customer
    side iff its estimated row count clears ``threshold``, else pin a
    shuffle (merge) join.  Returns (joined plan, broadcast_decision) so
    the plan test can assert the chosen strategy actually appears in
    the physical plan."""
    est = catalog_row_estimates(spark, sf_dir)[("customer", "c_custkey")]
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    bcast = est <= threshold
    right = F.broadcast(cust) if bcast else cust.hint("merge")
    joined = orders.join(
        right, orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "c_mktsegment")
    return joined, bcast


def _broadcast_decision_sql() -> str:
    ex_rows = " UNION ALL ".join(
        f"SELECT '{tbl}' AS tbl, '{col}' AS col, COUNT({col}) AS n"
        f" FROM {tbl}"
        for tbl, col in _KEY_SPEC
    )
    return f"""
    WITH cat AS MATERIALIZED ({_FULL_CATALOG_SQL}),
    cms AS MATERIALIZED (SELECT * FROM cat WHERE kind = 'cms'),
    est AS (
      SELECT tbl, col, MAX(tot) AS n_est FROM (
        SELECT tbl, col, r, SUM(v) AS tot FROM cms GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    ex AS ({ex_rows})
    SELECT e.tbl, e.col,
           CAST(e.n_est AS BIGINT) AS est_rows,
           CAST(x.n AS BIGINT) AS exact_rows,
           e.n_est <= {_BCAST_ROWS} AS broadcast_est,
           x.n <= {_BCAST_ROWS} AS broadcast_exact,
           (e.n_est <= {_BCAST_ROWS}) = (x.n <= {_BCAST_ROWS}) AS agree
    FROM est e JOIN ex x ON e.tbl = x.tbl AND e.col = x.col
    ORDER BY e.tbl, e.col
    """


@query(
    "q389_broadcast_decision",
    oracle=_broadcast_decision_sql(),
    tags=("catalog", "planning", "join", "broadcast"),
)
def q389_broadcast_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-vs-shuffle call, served from the catalog (r11
    verdict item #6 — the q383 join-ORDER decision's physical-strategy
    twin): for every sketched join key, the catalog row-count estimate
    (each CMS hash row sums to exactly the non-null count), the exact
    truth, and the broadcast decision each side would make at a fixed
    row threshold, with `agree` auditing whether estimate-driven
    planning picks the same strategy truth would.  CMS row sums are
    EXACT row counts (collisions move counts between buckets, never
    across rows), so est == exact here by construction — the audit
    exists for the catalog-staleness case, where the persisted estimate
    and the live table diverge (q386's trigger feeds this).

    The decision is also APPLIED, not just reported:
    :func:`decided_join` builds customer ⋈ orders broadcasting the
    customer side iff the catalog clears it, and the plan test pins
    BroadcastHashJoin (or the shuffle fallback) in the physical plan.

    Scale plan: decision side reads O(depth·width) persisted rows
    driver-side (q379 contract); the truth side is one COUNT aggregate
    per column — and at 100 TB the whole point is that the decision
    side NEVER touches the table.

    Exactness: all-integer compares; thresholds are spec constants
    shared verbatim by both engines."""
    est = catalog_row_estimates(spark, sf_dir)
    by_tbl: dict[str, list[str]] = {}
    for tbl, col in _KEY_SPEC:
        by_tbl.setdefault(tbl, []).append(col)
    # ONE action for all truth counts: per-table COUNT aggregates are
    # independent subtrees of a single tagged union — concurrent scans
    # instead of one sequential collect per table (the q385 r13 form)
    parts = []
    for tbl, cols in by_tbl.items():
        agg = read_table(spark, sf_dir, tbl).agg(
            *[F.count(c).alias(f"c{i}") for i, c in enumerate(cols)]
        )
        for i, c in enumerate(cols):
            parts.append(
                agg.select(
                    F.lit(tbl).alias("tbl"),
                    F.lit(c).alias("col"),
                    F.col(f"c{i}").alias("x"),
                )
            )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    exact = {(r.tbl, r.col): int(r.x) for r in u.collect()}

    out = []
    for key in sorted(est):
        e, x = est[key], exact[key]
        be, bx = e <= _BCAST_ROWS, x <= _BCAST_ROWS
        out.append((*key, e, x, be, bx, be == bx))
    return local_frame(
        spark, out,
        "tbl string, col string, est_rows long, exact_rows long,"
        " broadcast_est boolean, broadcast_exact boolean, agree boolean",
    )


# ---- minhash signature kind: merge identity + set similarity (q390/q391) --


def _minh_rows_sql(rel: str, key: str, tbl: str) -> str:
    """DuckDB twin of operators/statcat.minhash_rows: per-slot MIN of
    the 52-bit md5 hash of ``r:value`` over distinct non-null values
    (the cms "r:item" text convention at kmv's 13-hex width)."""
    return f"""
      SELECT '{tbl}' AS tbl, '{key}' AS col, 'minh' AS kind, r.r,
             CAST(0 AS BIGINT) AS b,
             CAST(MIN(CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
                  || CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)) AS HUGEINT)
               AS v
      FROM (SELECT DISTINCT {key} AS k FROM {rel}
            WHERE {key} IS NOT NULL) t,
           (SELECT unnest(range(0, {MINH_SLOTS})) AS r) r
      GROUP BY 1, 2, 3, 4, 5
    """


@query(
    "q390_minhash_signature_merge",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({_minh_rows_sql("events", "user_id", "events")})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("sketch", "catalog", "minhash", "incremental"),
)
def q390_minhash_signature_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures as a MAINTAINED catalog kind, gated by the
    defining identity: split events corpus/delta by the shared md5
    fraction, build each side's per-slot signature independently, merge
    by slot-wise MIN — and the oracle computes the single-pass full
    signature directly, proving merge(build(A), build(B)) ==
    build(A ∪ B) exactly (min over a union is the min of mins; unlike
    the additive kinds this identity holds for OVERLAPPING splits too).
    A catalog that keeps signatures next to its KMV/CMS rows can answer
    set-similarity questions between any two profiled columns without
    touching data (q391 does exactly that).

    Scale plan: one distinct + slot fan-out + groupBy-MIN per side
    (map-side combinable; the fan-out is slots× over DISTINCT values,
    never rows); the fold touches 2·slots summary rows.

    Exactness: hashes are the deterministic 52-bit md5 text shared
    verbatim with the oracle; published as STRING (catalog convention).
    """
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    delta = F.expr(_DELTA_SPARK)
    # corpus-side signature memoized+pinned like q378's corpus catalog
    # (yesterday's corpus is never rescanned in production — the daily
    # batch only hashes the delta); steady-state bench cost is therefore
    # delta-signature + fold (r13)
    corpus = artifact(
        spark, sf_dir, "q390_corpus_minh",
        lambda: minhash_rows(
            ev.where(~delta), "events", "user_id"
        ).localCheckpoint(eager=True),
    )
    merged = merge_catalogs(
        corpus, minhash_rows(ev.where(delta), "events", "user_id")
    )
    return merged.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


def _set_similarity_sql() -> str:
    kmv_num = f"CAST({KMV_NUM} AS HUGEINT)"
    return f"""
    WITH ka AS MATERIALIZED (
      SELECT u FROM (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                             1, 13)) AS BIGINT) AS u
        FROM orders WHERE o_custkey IS NOT NULL
      ) ORDER BY u LIMIT {KMV_K}
    ),
    kb AS MATERIALIZED (
      SELECT u FROM (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                             1, 13)) AS BIGINT) AS u
        FROM customer WHERE c_custkey IS NOT NULL
      ) ORDER BY u LIMIT {KMV_K}
    ),
    uu AS MATERIALIZED (
      SELECT u FROM (
        SELECT DISTINCT u FROM (SELECT u FROM ka UNION ALL SELECT u FROM kb)
      ) ORDER BY u LIMIT {KMV_K}
    ),
    nu AS (
      SELECT COUNT(DISTINCT u) AS nu
      FROM (SELECT u FROM ka UNION ALL SELECT u FROM kb)
    ),
    km AS (
      SELECT COUNT(*) AS n_u,
             SUM(CASE WHEN u IN (SELECT u FROM ka)
                       AND u IN (SELECT u FROM kb)
                 THEN 1 ELSE 0 END) AS kmatch,
             MAX(u) AS uk
      FROM uu
    ),
    sa AS MATERIALIZED ({_minh_rows_sql("orders", "o_custkey", "orders")}),
    sb AS MATERIALIZED ({_minh_rows_sql("customer", "c_custkey", "customer")}),
    mh AS (
      SELECT SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS matches
      FROM sa JOIN sb ON sa.r = sb.r
    ),
    ex AS (
      SELECT a.na, b.nb, i.inter FROM
        (SELECT COUNT(DISTINCT o_custkey) AS na FROM orders) a,
        (SELECT COUNT(DISTINCT c_custkey) AS nb FROM customer) b,
        (SELECT COUNT(*) AS inter FROM
           (SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_custkey IS NOT NULL) x
           JOIN (SELECT DISTINCT c_custkey AS k FROM customer
                 WHERE c_custkey IS NOT NULL) y ON x.k = y.k) i
    )
    SELECT stat, value FROM (
      SELECT 'n_a_exact' AS stat, CAST(na AS DOUBLE) AS value FROM ex
      UNION ALL SELECT 'n_b_exact', CAST(nb AS DOUBLE) FROM ex
      UNION ALL SELECT 'intersection_exact', CAST(inter AS DOUBLE) FROM ex
      UNION ALL SELECT 'jaccard_exact',
        {_ha6_sql("inter", "na + nb - inter")} FROM ex
      UNION ALL SELECT 'jaccard_minhash',
        {_ha6_sql("matches", str(MINH_SLOTS))} FROM mh
      UNION ALL SELECT 'jaccard_kmv', {_ha6_sql("kmatch", "n_u")} FROM km
      UNION ALL SELECT 'union_kmv_est',
        CASE WHEN nu.nu < {KMV_K} THEN CAST(nu.nu AS DOUBLE)
             ELSE {_ha6_sql(kmv_num, "uk")} END
        FROM km, nu
    ) ORDER BY stat
    """


@query(
    "q391_sketch_set_similarity",
    oracle=_set_similarity_sql(),
    tags=("sketch", "catalog", "similarity", "planning"),
)
def q391_sketch_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set similarity between two profiled key columns
    (orders.o_custkey vs customer.c_custkey — "which customers actually
    order", the FK-coverage question) answered three ways FROM SKETCH
    STATE ONLY, next to the exact truth: the MinHash slot-match Jaccard
    (P[collision] = J), the KMV-union Jaccard (share of the union's
    bottom-k present in both sketches — Beyer et al.'s estimator) and
    the KMV union-size estimate.  A planner uses exactly this to cost
    semi-join reductions and FK-join selectivities without scanning
    either table.

    Scale plan: each sketch is one distinct + bounded cut (kmv) or
    slot-fan-out groupBy-MIN (minh); estimation is driver-side integer
    arithmetic over ≤ 2k hashes + 2·slots rows.  Exact truth columns
    are one distinct-count each and one distinct-key join.

    Exactness: estimators are single-step half-away rationals on exact
    integer inputs, text-shared with the oracle (kmatch/n_u, matches/
    slots, (k−1)·2⁵²/u_k with the q376 HUGEINT widening); the identical
    md5 hashes make tie/membership decisions bit-equal cross-engine."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")

    # r12: both columns are _KEY_SPEC members, so the KMV sketches are
    # SERVED from the memoized/persisted catalog (the q375 routing —
    # same bottom-k of the same 52-bit md5 hashes, oracle-pinned
    # identical) instead of re-running two distinct+sort cuts.
    path = catalog_path(sf_dir, _CAT_TABLES, spec=_KEY_SPEC)
    ensure_catalog(path, lambda: build_catalog(spark, sf_dir))
    kmv_rows = (
        load_catalog(spark, path).where(F.col("kind") == "kmv").collect()
    )
    ka = sorted(int(r.v) for r in kmv_rows if (r.tbl, r.col) == ("orders", "o_custkey"))
    kb = sorted(int(r.v) for r in kmv_rows if (r.tbl, r.col) == ("customer", "c_custkey"))
    # one action for both signatures (rows carry tbl — the union is free)
    sa, sb = {}, {}
    for r in (
        minhash_rows(orders, "orders", "o_custkey")
        .unionAll(minhash_rows(customer, "customer", "c_custkey"))
        .collect()
    ):
        (sa if r.tbl == "orders" else sb)[int(r.r)] = int(r.v)
    matches = sum(1 for r in sa if sa[r] == sb[r])

    set_a, set_b = set(ka), set(kb)
    union_sorted = sorted(set_a | set_b)
    nu = len(union_sorted)
    bottom_u = union_sorted[:KMV_K]
    kmatch = sum(1 for u in bottom_u if u in set_a and u in set_b)

    # one pass for na/nb/inter: distinct key sets union with membership
    # flags, one flag-sum aggregate (was three separate actions — two
    # countDistincts + a distinct-join count over the same key sets)
    ak = (
        orders.select(F.col("o_custkey").alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
        .select("k", F.lit(1).alias("ina"), F.lit(0).alias("inb"))
    )
    bk = (
        customer.select(F.col("c_custkey").alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
        .select("k", F.lit(0).alias("ina"), F.lit(1).alias("inb"))
    )
    row = (
        ak.unionAll(bk)
        .groupBy("k")
        .agg(F.max("ina").alias("a"), F.max("inb").alias("b"))
        .agg(
            F.sum("a").alias("na"),
            F.sum("b").alias("nb"),
            F.sum(F.col("a") * F.col("b")).alias("inter"),
        )
        .collect()[0]
    )
    na, nb, inter = int(row.na), int(row.nb), int(row.inter)

    union_est = (
        float(nu) if nu < KMV_K else _ha6_py(KMV_NUM, bottom_u[-1])
    )
    out = [
        ("intersection_exact", float(inter)),
        ("jaccard_exact", _ha6_py(inter, na + nb - inter)),
        ("jaccard_kmv", _ha6_py(kmatch, len(bottom_u))),
        ("jaccard_minhash", _ha6_py(matches, MINH_SLOTS)),
        ("n_a_exact", float(na)),
        ("n_b_exact", float(nb)),
        ("union_kmv_est", union_est),
    ]
    out.sort(key=lambda t: t[0])
    return local_frame(spark, out, "stat string, value double")


# ---- degree-bound join-size audit (q392) -----------------------------------

_BOUND_JOINS = (
    ("events_self_user", ("events", "user_id"), ("events", "user_id")),
    (
        "lineitem_orders_key",
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
    ),
)


def _collect_cms_cells(
    spark: SparkSession, sf_dir: str
) -> dict[tuple, dict[tuple, int]]:
    """Driver-side CMS cells for every sketched column (q379 bounded-
    artifact contract; the q383/q385 serving pattern)."""
    path = catalog_path(sf_dir, _CAT_TABLES, spec=_KEY_SPEC)
    ensure_catalog(path, lambda: build_catalog(spark, sf_dir))
    cells: dict[tuple, dict[tuple, int]] = {}
    for row in (
        load_catalog(spark, path).where(F.col("kind") == "cms").collect()
    ):
        cells.setdefault((row.tbl, row.col), {})[(row.r, row.b)] = int(row.v)
    return cells


def cms_inner_product(
    cells: dict[tuple, dict[tuple, int]], a: tuple, b: tuple
) -> int:
    """min over depth rows of the bucket-count inner product — the
    AGMS/CMS join-size estimator.  Rows are ZERO-initialized so a hash
    row with no overlapping buckets stays in the MIN as 0 (the r11
    ADVICE depth-spine convention, mirrored by _cms_cross_sql).  ONE
    implementation for q375/q383/q392/q396 — an estimator tweak must
    not have five divergent copies (r12 self-review finding)."""
    acc = dict.fromkeys(range(CMS_DEPTH), 0)
    cb = cells[b]
    for (r, bkt), v in cells[a].items():
        acc[r] += v * cb.get((r, bkt), 0)
    return min(acc.values())


def kmv_bottom(df: DataFrame, col_spark: str) -> list[int]:
    """Bottom-k distinct 52-bit md5 hashes of one column/expression —
    the key_sketches kmv cut, collected driver-side (O(k) rows).  ONE
    implementation for q391/q393/q399 (r12 review finding: estimator
    text must not fork)."""
    return [
        int(r.u)
        for r in df.select(F.expr(col_spark).alias("k"))
        .where(F.col("k").isNotNull())
        .select(
            F.expr(
                "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 13),"
                " 16, 10) AS BIGINT)"
            ).alias("u")
        )
        .distinct()
        .orderBy("u")
        .limit(KMV_K)
        .collect()
    ]


def ndv_micro(df: DataFrame, col_spark: str) -> int:
    """KMV NDV estimate in micro units: exact nk·1e6 below k,
    half-away((k−1)·2⁵²·1e6 / u_k) above (the q376 estimator)."""
    us = kmv_bottom(df, col_spark)
    if len(us) < KMV_K:
        return len(us) * 1_000_000
    uk = max(us)
    return (2 * KMV_NUM * 1_000_000 + uk) // (2 * uk)


def exact_degree_product(
    spark: SparkSession, sf_dir: str, a: tuple, b: tuple
) -> int:
    """Exact join size Σ c_A(k)·c_B(k) over non-null keys (the truth
    column next to every CMS estimate); DECIMAL(38,0)-widened — degree
    products are n²-scale.  Memoized per (session, dataset, pair):
    q375/q392/q396 audit the SAME joins, and the truth aggregate is the
    expensive side now that estimates come from the persisted catalog
    (r12 review finding)."""
    return artifact(
        spark, sf_dir, "degprod", lambda: _degree_product(spark, sf_dir, a, b), a, b
    )


def _degree_product(spark: SparkSession, sf_dir: str, a: tuple, b: tuple) -> int:
    da = (
        read_table(spark, sf_dir, a[0])
        .where(F.col(a[1]).isNotNull())
        .groupBy(F.col(a[1]).alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    if a == b:
        out = int(
            da.agg(
                F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * ca"))
            ).collect()[0][0]
        )
    else:
        db = (
            read_table(spark, sf_dir, b[0])
            .where(F.col(b[1]).isNotNull())
            .groupBy(F.col(b[1]).alias("k"))
            .agg(F.count(F.lit(1)).alias("cb"))
        )
        out = int(
            da.join(db, "k")
            .agg(F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * cb")))
            .collect()[0][0]
        )
    return out


def _join_bounds_sql() -> str:
    exm_rows = " UNION ALL ".join(
        f"SELECT '{tbl}' AS tbl, '{col}' AS col, MAX(c) AS mx, SUM(c) AS n"
        f" FROM (SELECT COUNT(*) AS c FROM {tbl}"
        f" WHERE {col} IS NOT NULL GROUP BY {col})"
        for tbl, col in (
            ("events", "user_id"),
            ("lineitem", "l_orderkey"),
            ("orders", "o_orderkey"),
        )
    )

    def ks_pick(stat: str, tbl: str, col: str) -> str:
        return (
            f"(SELECT {stat} FROM ks WHERE tbl = '{tbl}' AND col = '{col}')"
        )

    def exm_pick(stat: str, tbl: str, col: str) -> str:
        return (
            f"(SELECT CAST({stat} AS HUGEINT) FROM exm"
            f" WHERE tbl = '{tbl}' AND col = '{col}')"
        )

    plan_rows = " UNION ALL ".join(
        f"""SELECT '{name}' AS join_name,
          {_exact_pairs_sql(a[0], a[1], b[0], b[1])} AS exact_pairs,
          {_cms_cross_sql(a[0], a[1], b[0], b[1])} AS cms_est,
          LEAST({ks_pick("maxdeg_up", *a)} * {ks_pick("n_est", *b)},
                {ks_pick("maxdeg_up", *b)} * {ks_pick("n_est", *a)})
            AS degree_bound_est,
          LEAST({exm_pick("mx", *a)} * {exm_pick("n", *b)},
                {exm_pick("mx", *b)} * {exm_pick("n", *a)})
            AS degree_bound_exact"""
        for name, a, b in _BOUND_JOINS
    )
    return f"""
    WITH cat AS MATERIALIZED ({_FULL_CATALOG_SQL}),
    cms AS MATERIALIZED (SELECT * FROM cat WHERE kind = 'cms'),
    ks AS MATERIALIZED (
      SELECT tbl, col, MAX(tot) AS n_est,
             MIN(mx) AS maxdeg_up
      FROM (
        SELECT tbl, col, r, SUM(v) AS tot, MAX(v) AS mx
        FROM cms GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    exm AS MATERIALIZED ({exm_rows}),
    plans AS ({plan_rows})
    SELECT join_name,
           CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(degree_bound_est AS BIGINT) AS degree_bound_est,
           CAST(degree_bound_exact AS BIGINT) AS degree_bound_exact,
           {_ha6_sql("cms_est", "exact_pairs")} AS cms_ratio,
           {_ha6_sql("degree_bound_est", "exact_pairs")} AS bound_ratio
    FROM plans ORDER BY join_name
    """


@query(
    "q392_join_upper_bounds",
    oracle=_join_bounds_sql(),
    tags=("catalog", "planning", "join", "bounds"),
)
def q392_join_upper_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-case join-size certificates from the catalog, next to the
    CMS point estimate: |A ⋈ B| ≤ min(maxdeg_A·|B|, maxdeg_B·|A|) (the
    degree-product bound an AGM-style optimizer budgets memory with),
    where maxdeg comes from the q385 CMS upper bound (min over rows of
    the row's max bucket — NEVER under the truth) and |·| from the
    exact CMS row sums.  Both the estimate-side and exact-side bounds
    publish, with tightness ratios against the true join size: the CMS
    point estimate is near-exact but can under-provision nothing, while
    the degree bound is a hard guarantee — the two numbers a planner
    wants BEFORE scheduling a shuffle it can't afford.

    Scale plan: everything on the estimate side reads O(depth·width)
    persisted rows driver-side (q379 contract); truth columns are one
    degree aggregate per column + the degree-product joins.  Safety:
    the est-side bound uses an UPPER max-degree and EXACT row counts,
    so bound_est ≥ bound_exact ≥ truth — it fails safe by construction.

    Grid budget: degree-bound products are n²-scale → Python ints /
    HUGEINT casts at every product site; ratios ride the shared
    half-away text (quotients ≤ ~10² here, far under the 9e12 guard).
    """
    cells = _collect_cms_cells(spark, sf_dir)

    def n_est(key: tuple) -> int:
        tot = dict.fromkeys(range(CMS_DEPTH), 0)
        for (r, _b), v in cells[key].items():
            tot[r] += v
        return max(tot.values())

    def maxdeg_up(key: tuple) -> int:
        mx = dict.fromkeys(range(CMS_DEPTH), 0)
        for (r, _b), v in cells[key].items():
            mx[r] = max(mx[r], v)
        return min(mx.values())

    exact: dict[tuple, tuple[int, int]] = {}  # (maxdeg, n_nonnull)
    for tbl, col in {side for _n, a, b in _BOUND_JOINS for side in (a, b)}:
        row = (
            read_table(spark, sf_dir, tbl)
            .where(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("mx"), F.sum("c").alias("n"))
            .collect()[0]
        )
        exact[(tbl, col)] = (int(row.mx), int(row.n))

    out = []
    for name, a, b in _BOUND_JOINS:
        xp = exact_degree_product(spark, sf_dir, a, b)
        ce = cms_inner_product(cells, a, b)
        dbe = min(
            maxdeg_up(a) * n_est(b), maxdeg_up(b) * n_est(a)
        )
        dbx = min(
            exact[a][0] * exact[b][1], exact[b][0] * exact[a][1]
        )
        out.append(
            (name, xp, ce, dbe, dbx, _ha6_py(ce, xp), _ha6_py(dbe, xp))
        )
    out.sort(key=lambda t: t[0])
    return local_frame(
        spark, out,
        "join_name string, exact_pairs long, cms_est long,"
        " degree_bound_est long, degree_bound_exact long,"
        " cms_ratio double, bound_ratio double",
    )


# ---- independence-assumption GROUP BY cardinality estimate (q393) ---------

# (pair label, x column expr SPARK, x expr SQL, y column expr — columns
# are events expressions; `day` is the calendar-day STRING, the shared
# q154 convention)
_GB_DAY_SPARK = "CAST(CAST(ts AS DATE) AS STRING)"
_GB_DAY_SQL = "CAST(CAST(ts AS DATE) AS VARCHAR)"
_GB_PAIRS = (
    ("type_day", "event_type", "event_type", _GB_DAY_SPARK, _GB_DAY_SQL),
    ("user_type", "user_id", "user_id", "event_type", "event_type"),
)


def _ndv_u_sql(col_sql: str) -> str:
    """Scalar CTE body: KMV (nk, uk) for one events expression; the
    caller turns them into the micro NDV estimate with the shared
    CASE/half-away text."""
    return f"""
      SELECT COUNT(*) AS nk, MAX(u) AS uk FROM (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST({col_sql} AS VARCHAR)),
                             1, 13)) AS BIGINT) AS u
        FROM events WHERE {col_sql} IS NOT NULL
        ORDER BY u LIMIT {KMV_K}
      )
    """


_NDV_U_CASE = (
    f"CASE WHEN nk < {KMV_K} THEN CAST(nk AS HUGEINT) * 1000000"
    f" ELSE (2 * CAST({KMV_NUM} AS HUGEINT) * 1000000 + uk) // (2 * uk) END"
)


def _gb_cardinality_sql() -> str:
    ctes, rows = [], []
    for name, _xs, x_sql, _ys, y_sql in _GB_PAIRS:
        ctes.append(
            f"x_{name} AS ({_ndv_u_sql(x_sql)}),\n"
            f"    y_{name} AS ({_ndv_u_sql(y_sql)}),\n"
            f"    e_{name} AS (\n"
            f"      SELECT (SELECT COUNT(*) FROM (\n"
            f"         SELECT DISTINCT {x_sql}, {y_sql} FROM events\n"
            f"         WHERE {x_sql} IS NOT NULL AND {y_sql} IS NOT NULL))\n"
            f"           AS exact_pairs,\n"
            f"             (SELECT COUNT(*) FROM events\n"
            f"              WHERE {x_sql} IS NOT NULL AND {y_sql} IS NOT NULL)\n"
            f"           AS n_rows\n"
            f"    )"
        )
        rows.append(
            f"""
      SELECT '{name}' AS group_keys,
             CAST(xu AS DOUBLE) / 1000000 AS ndv_x,
             CAST(yu AS DOUBLE) / 1000000 AS ndv_y,
             CAST(LEAST(xu * yu // 1000000,
                        CAST(n_rows AS HUGEINT) * 1000000) AS DOUBLE)
               / 1000000 AS est_groups,
             CAST(exact_pairs AS BIGINT) AS exact_groups,
             CAST((2 * LEAST(xu * yu // 1000000,
                             CAST(n_rows AS HUGEINT) * 1000000) * 1000000
                   + CAST(exact_pairs AS HUGEINT) * 1000000)
                  // (2 * CAST(exact_pairs AS HUGEINT) * 1000000) AS DOUBLE)
               / 1000000 AS est_ratio
      FROM (SELECT {_NDV_U_CASE} AS xu FROM x_{name}) x,
           (SELECT {_NDV_U_CASE} AS yu FROM y_{name}) y,
           e_{name}"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY group_keys"
    )


@query(
    "q393_groupby_cardinality",
    oracle=_gb_cardinality_sql(),
    tags=("catalog", "planning", "cardinality"),
)
def q393_groupby_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY output-cardinality estimation, the aggregation twin of
    q375's join estimate: |distinct (x, y)| ≈ min(ndv(x)·ndv(y), n) —
    the independence assumption every CBO costs hash aggregates with —
    where per-column NDVs come from KMV sketches (exact below k,
    (k−1)·2⁵²/u_k above) and the truth is the exact distinct-pair
    count.  Two regimes on purpose: (event_type × day) multiplies two
    exact sub-k counts and OVERSHOOTS because the keys are dependent
    (every type occurs every day ⟹ est ≈ exact only when keys are
    independent), while (user_id × event_type) exercises the real KMV
    estimator path on the >k side.  The published est_ratio is the
    audit a planner runs to learn which key pairs violate independence
    badly enough to warrant a joint sketch.

    Scale plan: NDV side is one distinct + bounded bottom-k cut per
    column (catalog-shaped state, O(k) rows served driver-side); truth
    is one distinct-pair aggregate.  Exactness: NDV estimates are the
    q376 micro integers; the product folds at the micro grid via ONE
    floor division (both operands positive → Spark/Python/DuckDB
    agree), the cap and ratio are integer compares/half-away divisions
    on HUGEINT-widened text shared verbatim."""
    ev = read_table(spark, sf_dir, "events")

    # KMV NDVs memoized per column expression (event_type appears in
    # both pairs — was hashed twice), and BOTH pairs' truth statistics
    # fused into one tagged-union action: count(DISTINCT x, y) skips
    # rows where any key is NULL, exactly the former filtered
    # distinct().count(), so one collect replaces four sequential
    # count actions (r13).
    ndv_cache: dict[str, int] = {}

    def _ndv(cs: str) -> int:
        if cs not in ndv_cache:
            ndv_cache[cs] = ndv_micro(ev, cs)
        return ndv_cache[cs]

    parts = []
    for i, (name, x_spark, _xs, y_spark, _ys) in enumerate(_GB_PAIRS):
        parts.append(
            ev.agg(
                F.count(
                    F.when(
                        F.expr(
                            f"{x_spark} IS NOT NULL AND {y_spark} IS NOT NULL"
                        ),
                        1,
                    )
                ).alias("n"),
                F.count_distinct(F.expr(x_spark), F.expr(y_spark)).alias("d"),
            ).select(F.lit(i).alias("i"), "n", "d")
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    truth = {int(r.i): (int(r.n), int(r.d)) for r in u.collect()}

    out = []
    for i, (name, x_spark, _xs, y_spark, _ys) in enumerate(_GB_PAIRS):
        xu, yu = _ndv(x_spark), _ndv(y_spark)
        n_rows, exact = truth[i]
        est_u = min(xu * yu // 1_000_000, n_rows * 1_000_000)
        den = exact * 1_000_000
        ratio_u = (2 * est_u * 1_000_000 + den) // (2 * den)
        out.append(
            (name, xu / 1e6, yu / 1e6, est_u / 1e6, exact, ratio_u / 1e6)
        )
    out.sort(key=lambda t: t[0])
    return local_frame(
        spark, out,
        "group_keys string, ndv_x double, ndv_y double, est_groups double,"
        " exact_groups long, est_ratio double",
    )


# ---- training-data corpus catalog (q394/q395) ------------------------------

# The stats catalog extended to the LLM tables: per-document token
# counts and per-vector max |component| as derived profile columns,
# each carrying moment rows + the mergeable ew histogram.  Token
# definition is the corpus-wide whitespace-split convention (q16/q366).
_CORPUS_SPEC = (
    (
        "documents",
        "tok_count",
        "CAST(size(filter(split(text, ' '), x -> x <> '')) AS DOUBLE)",
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))"
        " AS DOUBLE)",
        10_000_000,  # 10-token cells
        _md5_slice_spark(1, 10, 0, key="CAST(doc_id AS STRING)"),
        _md5_slice_sql(1, 10, 0, key="CAST(doc_id AS VARCHAR)"),
    ),
    (
        "embeddings",
        "max_component",
        # max |component| — abs BEFORE the max so an all-negative vector
        # can't hand equiwidth_counts a negative value (its non-negative
        # guard would raise); abs/max are exact selections on floats,
        # no arithmetic, so the float→double cast stays bit-exact
        "CAST(array_max(transform(embedding, v -> abs(v))) AS DOUBLE)",
        "CAST(list_max(list_transform(embedding, v -> abs(v))) AS DOUBLE)",
        50_000,  # 0.05 cells
        _md5_slice_spark(1, 10, 0, key="CAST(vec_id AS STRING)"),
        _md5_slice_sql(1, 10, 0, key="CAST(vec_id AS VARCHAR)"),
    ),
)


def _corpus_path(sf_dir: str) -> str:
    # the FULL spec tuples ride the key — a derived-expression change
    # (not just a cell/label change) must mint a fresh artifact, or
    # ensure_catalog would serve stale-expression sketches against a
    # new-expression oracle (the catalog_path docstring contract;
    # r12 self-review finding)
    return catalog_path(
        sf_dir,
        tuple(s[0] for s in _CORPUS_SPEC),
        spec=_CORPUS_SPEC,
    ) + "-corpus"


def _corpus_side(spark: SparkSession, sf_dir: str, delta: bool) -> DataFrame:
    parts = []
    for tbl, label, spark_expr, _sql, cell, split_spark, _ssql in _CORPUS_SPEC:
        df = read_table(spark, sf_dir, tbl)
        pred = F.expr(split_spark)
        # `side` feeds two consumers (ew + moments) UNPINNED by measured
        # choice (r10 pin-per-case rule): interleaved min-of-3 at sf0.1,
        # recompute 1.53 s vs localCheckpoint-per-side 1.61 s — four
        # blocking pin jobs cost more than re-tokenizing 5k docs.  At a
        # scale where the derived projection dominates, pin here.
        side = df.where(pred if delta else ~pred).select(
            F.expr(spark_expr).alias(label)
        )
        parts.append(equiwidth_counts(side, tbl, label, cell))
        parts.append(value_moments(side, tbl, label))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _corpus_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized merged corpus-profile catalog (corpus ⊎ delta — the
    maintained form; one derived-column scan per table per side)."""
    return artifact(
        spark, sf_dir, "corpus_catalog",
        lambda: merge_catalogs(
            _corpus_side(spark, sf_dir, delta=False),
            _corpus_side(spark, sf_dir, delta=True),
        ).localCheckpoint(eager=True),
    )


_CORPUS_CAT_SQL = " UNION ALL ".join(
    _ew_rows_sql(tbl, sql_expr, tbl, cell, label=label)
    + " UNION ALL "
    + _moment_rows_sql(tbl, sql_expr, tbl, label=label)
    for tbl, label, _sp, sql_expr, cell, _ss, _sq in _CORPUS_SPEC
)


@query(
    "q394_corpus_stats_catalog",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({_CORPUS_CAT_SQL})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("catalog", "training-data", "histogram", "incremental"),
)
def q394_corpus_stats_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats catalog extended to the TRAINING-DATA tables — the
    profile a data-curation pipeline consults before planning a run:
    per-document token counts (whitespace convention, q16/q366) and
    per-vector max |component| as derived columns, each with moment
    rows (count/mean/variance service) and the MERGEABLE ew histogram
    (shape service), built corpus ⊎ delta and MERGED, oracle = the
    single-pass full build (the q387 identity on derived columns).
    Persisted via ensure_catalog; q395 serves curriculum/filter
    planning estimates from the artifact alone.

    Scale plan: one derived-column scan per table per side (token
    split and array_max are native columnar exprs — no Python in the
    hot path), map-side-combinable groupBys, O(|buckets|+4) rows per
    column.  At 100 TB the corpus side is yesterday's persisted
    artifact; only the delta batch is scanned.

    Exactness: token counts are integers (micro snap exact);
    max_component is a float→double EXACT cast (array_max picks, never
    computes — the q202 element-cast rule applies to arithmetic, not
    selection); counts/sums are exact integers published as STRING."""
    merged = _corpus_merged(spark, sf_dir)
    ensure_catalog(_corpus_path(sf_dir), lambda: merged)
    return merged.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


# q395: curriculum/filter planning estimates served from the q394
# artifact.  Thresholds live on the micro grid; one per column is
# grid-ALIGNED (estimate provably exact), one deliberately unaligned
# (uniform-within-bucket estimate, error published).
_TOK_CELL = _CORPUS_SPEC[0][4]
_MAXC_CELL = _CORPUS_SPEC[1][4]
_Q395_PREDS = (
    # (stat, tbl, col label, threshold micro, cell micro)
    ("docs_share_tok_ge_50", "documents", "tok_count", 50_000_000, _TOK_CELL),
    ("docs_share_tok_ge_55", "documents", "tok_count", 55_000_000, _TOK_CELL),
    ("emb_share_maxc_ge_030", "embeddings", "max_component", 300_000, _MAXC_CELL),
    ("emb_share_maxc_ge_033", "embeddings", "max_component", 330_000, _MAXC_CELL),
)


def _cov6(lo_bucket_micro: int, cell: int, thr: int) -> int:
    """Half-away micro fraction of ew bucket [lo, lo+cell) covered by
    the predicate x ≥ thr, uniform-within-bucket."""
    hi = lo_bucket_micro + cell
    if thr <= lo_bucket_micro:
        return 1_000_000
    if thr >= hi:
        return 0
    return (2 * (hi - thr) * 1_000_000 + cell) // (2 * cell)


def _q395_sql() -> str:
    ctes = []
    for tbl, label, _sp, sql_expr, cell, _ss, _sq in _CORPUS_SPEC:
        ctes.append(
            f"h_{tbl} AS MATERIALIZED"
            f" ({_ew_rows_sql(tbl, sql_expr, tbl, cell, label=label)}),\n"
            f"    m_{tbl} AS MATERIALIZED (\n"
            f"      SELECT MAX(CASE WHEN b = 1 THEN v END) AS nn,\n"
            f"             MAX(CASE WHEN b = 2 THEN v END) AS s\n"
            f"      FROM ({_moment_rows_sql(tbl, sql_expr, tbl, label=label)})\n"
            f"    ),\n"
            f"    x_{tbl} AS MATERIALIZED (\n"
            f"      SELECT COUNT(*) AS n, SUM(xu) AS sxu,\n"
            + ",\n".join(
                f"             SUM(CASE WHEN xu >= {thr} THEN 1 ELSE 0 END)"
                f" AS c_{thr}"
                for st, t2, _c, thr, _w in _Q395_PREDS
                if t2 == tbl
            )
            + f"\n      FROM (SELECT CAST(floor(({sql_expr}) * 1000000 + 0.5)"
            f" AS BIGINT) AS xu FROM {tbl}\n"
            f"            WHERE ({sql_expr}) IS NOT NULL)\n"
            f"    )"
        )
    share_rows = " UNION ALL ".join(
        f"""
      SELECT '{stat}' AS stat,
             (SELECT (2 * SUM(v * CASE
                 WHEN {thr} <= b * {cell} THEN 1000000
                 WHEN {thr} >= (b + 1) * {cell} THEN 0
                 ELSE (2 * ((b + 1) * {cell} - {thr}) * 1000000 + {cell})
                      // (2 * {cell}) END) * 1000000
               + (SELECT n FROM x_{tbl}) * 1000000)
               // (2 * (SELECT n FROM x_{tbl}) * 1000000)
              FROM h_{tbl}) AS est_u,
             (SELECT (2 * CAST(c_{thr} AS HUGEINT) * 1000000 + n) // (2 * n)
              FROM x_{tbl}) AS exact_u"""
        for stat, tbl, _c, thr, cell in _Q395_PREDS
    )
    return f"""
    WITH {",".join(ctes)},
    stats AS (
      SELECT 'docs_total_tokens' AS stat,
             (SELECT s FROM m_documents) AS est_u,
             (SELECT sxu FROM x_documents) AS exact_u
      UNION ALL
      SELECT 'docs_mean_tokens',
             (SELECT (2 * s + nn) // (2 * nn) FROM m_documents),
             (SELECT (2 * sxu + n) // (2 * n) FROM x_documents)
      UNION ALL
      SELECT 'emb_mean_maxcomp',
             (SELECT (2 * s + nn) // (2 * nn) FROM m_embeddings),
             (SELECT (2 * sxu + n) // (2 * n) FROM x_embeddings)
      UNION ALL {share_rows}
    )
    SELECT stat,
           CAST(est_u AS DOUBLE) / 1000000 AS est,
           CAST(exact_u AS DOUBLE) / 1000000 AS exact,
           CAST(ABS(est_u - exact_u) AS DOUBLE) / 1000000 AS abs_err
    FROM stats ORDER BY stat
    """


@query(
    "q395_corpus_planning_estimates",
    oracle=_q395_sql(),
    tags=("catalog", "training-data", "planning"),
)
def q395_corpus_planning_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum/filter planning SERVED FROM THE CORPUS CATALOG: total
    and mean token counts (moment rows), and "share of docs/vectors
    past a length/quality threshold" (the water-filling and filter-
    budget inputs, q160/q333) from the ew histogram — each next to the
    exact full-scan truth with the absolute error.  One threshold per
    column is grid-ALIGNED, where the equi-width estimate is provably
    EXACT (the bucket boundary IS the predicate boundary — the reason
    data pipelines snap their filter thresholds to the profile grid);
    one is deliberately unaligned, exercising the uniform-within-bucket
    interpolation and publishing its honest error.

    Scale plan: the estimate side reads O(|buckets|+4) persisted rows
    driver-side (q379 contract) — at 100 TB the plan for "how many
    docs survive the length filter" costs zero data scans; the truth
    side is one conditional aggregate per table, run here only because
    the query audits the estimator.

    Exactness/grid: ALL arithmetic in exact micro integers (HUGEINT /
    Python int): per-bucket coverage is the q381 half-away fraction,
    shares one half-away division, means (2s+n)//(2n); est/exact/
    abs_err publish as micro/1e6 doubles (micro totals here ≤ ~1e12 ≪
    2⁵³; a petabyte corpus would publish totals as STRINGS, q309)."""
    path = _corpus_path(sf_dir)
    ensure_catalog(path, lambda: _corpus_merged(spark, sf_dir))
    rows = load_catalog(spark, path).limit(_EW_MAX_ROWS + 1).collect()
    if len(rows) > _EW_MAX_ROWS:
        raise ValueError("corpus catalog exceeds its cap — artifact corrupt")
    ew: dict[tuple, dict[int, int]] = {}
    mom: dict[tuple, dict[int, int]] = {}
    for r in rows:
        if r.kind == "ew":
            ew.setdefault((r.tbl, r.col), {})[int(r.b)] = int(r.v)
        elif r.kind == "moment":
            mom.setdefault((r.tbl, r.col), {})[int(r.b)] = int(r.v)

    exact: dict[str, dict] = {}
    for tbl, label, spark_expr, _sql, cell, _ss, _sq in _CORPUS_SPEC:
        xu = F.expr(
            f"CAST(floor(({spark_expr}) * 1000000 + 0.5) AS BIGINT)"
        )
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(xu.cast("decimal(38,0)")).alias("sxu"),
        ] + [
            F.sum(F.when(xu >= F.lit(thr), 1).otherwise(0)).alias(f"c_{thr}")
            for st, t2, _c, thr, _w in _Q395_PREDS
            if t2 == tbl
        ]
        row = (
            read_table(spark, sf_dir, tbl)
            .where(F.expr(spark_expr).isNotNull())
            .agg(*aggs)
            .collect()[0]
        )
        exact[tbl] = row.asDict()

    out: list[tuple[str, int, int]] = []
    for tbl, label in (("documents", "tok_count"), ("embeddings", "max_component")):
        m = mom[(tbl, label)]
        nn, s = m[1], m[2]
        n, sxu = int(exact[tbl]["n"]), int(exact[tbl]["sxu"])
        if tbl == "documents":
            out.append(("docs_total_tokens", s, sxu))
            out.append(
                ("docs_mean_tokens", (2 * s + nn) // (2 * nn),
                 (2 * sxu + n) // (2 * n))
            )
        else:
            out.append(
                ("emb_mean_maxcomp", (2 * s + nn) // (2 * nn),
                 (2 * sxu + n) // (2 * n))
            )
    for stat, tbl, label, thr, cell in _Q395_PREDS:
        buckets = ew[(tbl, label)]
        S = sum(v * _cov6(b * cell, cell, thr) for b, v in buckets.items())
        n = int(exact[tbl]["n"])
        est_u = (2 * S * 1_000_000 + n * 1_000_000) // (2 * n * 1_000_000)
        cnt = int(exact[tbl][f"c_{thr}"])
        exact_u = (2 * cnt * 1_000_000 + n) // (2 * n)
        out.append((stat, est_u, exact_u))

    out.sort(key=lambda t: t[0])
    return local_frame(
        spark, [
            (stat, eu / 1e6, xu / 1e6, abs(eu - xu) / 1e6)
            for stat, eu, xu in out
        ],
        "stat string, est double, exact double, abs_err double",
    )


# ---- estimate-driven shuffle sizing (q396) ---------------------------------

# rows-per-reduce-partition budget and the clamp bounds a scheduler
# enforces (spec constants, shared verbatim with the oracle)
_TARGET_ROWS_PER_PART = 100_000
_MAX_PARTS = 4_096


def _shuffle_advisor_sql() -> str:
    def rec(expr: str) -> str:
        return (
            f"LEAST(GREATEST(({expr} + {_TARGET_ROWS_PER_PART - 1})"
            f" // {_TARGET_ROWS_PER_PART}, 1), {_MAX_PARTS})"
        )

    plan_rows = " UNION ALL ".join(
        f"""SELECT '{name}' AS join_name,
          {_cms_cross_sql(a[0], a[1], b[0], b[1])} AS est_pairs,
          {_exact_pairs_sql(a[0], a[1], b[0], b[1])} AS exact_pairs"""
        for name, a, b in _BOUND_JOINS
    )
    return f"""
    WITH cat AS MATERIALIZED ({_FULL_CATALOG_SQL}),
    cms AS MATERIALIZED (SELECT * FROM cat WHERE kind = 'cms'),
    plans AS ({plan_rows})
    SELECT join_name,
           CAST(est_pairs AS BIGINT) AS est_pairs,
           CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST({rec("est_pairs")} AS BIGINT) AS rec_parts_est,
           CAST({rec("exact_pairs")} AS BIGINT) AS rec_parts_exact,
           {rec("est_pairs")} = {rec("exact_pairs")} AS agree
    FROM plans ORDER BY join_name
    """


@query(
    "q396_shuffle_partition_advisor",
    oracle=_shuffle_advisor_sql(),
    tags=("catalog", "planning", "shuffle"),
)
def q396_shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the planner DOES with a join-size estimate: the shuffle
    partition count for the join's reduce side, sized from the catalog
    CMS estimate at a rows-per-partition budget with scheduler clamps
    (ceil division, [1, max] — the spark.sql.shuffle.partitions /
    AQE-advisory decision made BEFORE any scan), next to the count the
    exact size would pick and an `agree` audit.  CMS one-sidedness
    (est ≥ truth) means the advisor can only over-partition — at most
    wasted tiny tasks, never a spilling reducer: the fail-safe
    direction, same argument as q385's salting call.

    Scale plan: the estimate side reads O(depth·width) persisted rows
    driver-side (q379 contract); truth columns run one degree-product
    aggregate per join, present only because the query audits the
    decision.

    Exactness: ceil division as (n + t − 1) // t on positive integers
    (Spark div / Python // / DuckDB // agree on non-negatives), clamps
    as integer LEAST/GREATEST, all text-shared with the oracle."""
    cells = _collect_cms_cells(spark, sf_dir)

    def rec(n: int) -> int:
        return min(
            max((n + _TARGET_ROWS_PER_PART - 1) // _TARGET_ROWS_PER_PART, 1),
            _MAX_PARTS,
        )

    out = []
    for name, a, b in _BOUND_JOINS:
        e = cms_inner_product(cells, a, b)
        x = exact_degree_product(spark, sf_dir, a, b)
        out.append((name, e, x, rec(e), rec(x), rec(e) == rec(x)))
    out.sort(key=lambda t: t[0])
    return local_frame(
        spark, out,
        "join_name string, est_pairs long, exact_pairs long,"
        " rec_parts_est long, rec_parts_exact long, agree boolean",
    )


# ---- histogram-served quantile estimates (q397) ----------------------------

_HQ_PCTS = (50, 90)


def _hist_quantile_sql() -> str:
    ctes, rows = [], []
    for tbl, col, cell, _ss, _sq in _EW_SPEC:
        ctes.append(
            f"h_{tbl} AS MATERIALIZED ({_ew_rows_sql(tbl, col, tbl, cell)}),\n"
            f"    hh_{tbl} AS MATERIALIZED (\n"
            f"      SELECT b, v, SUM(v) OVER (ORDER BY b) AS cum,\n"
            f"             SUM(v) OVER () AS n\n"
            f"      FROM h_{tbl}\n"
            f"    ),\n"
            f"    x_{tbl} AS MATERIALIZED (\n"
            f"      SELECT CAST(floor({col} * 1000000 + 0.5) AS BIGINT) AS xu,\n"
            f"             ROW_NUMBER() OVER (ORDER BY {col}) AS rn,\n"
            f"             COUNT(*) OVER () AS n\n"
            f"      FROM {tbl} WHERE {col} IS NOT NULL\n"
            f"    )"
        )
        for p in _HQ_PCTS:
            rows.append(
                f"""
      SELECT '{tbl}' AS tbl, '{col}' AS col, {p} AS pct,
             (SELECT b * {cell}
                     + (2 * {cell} * ({p} * n - 100 * (cum - v))
                        + 100 * v) // (200 * v)
              FROM hh_{tbl}
              WHERE 100 * cum >= {p} * n
              ORDER BY b LIMIT 1) AS est_u,
             (SELECT MIN(xu) FROM x_{tbl}
              WHERE 100 * rn >= {p} * n) AS exact_u"""
            )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT tbl, col, pct,
           CAST(est_u AS DOUBLE) / 1000000 AS est,
           CAST(exact_u AS DOUBLE) / 1000000 AS exact,
           CAST(ABS(est_u - exact_u) AS DOUBLE) / 1000000 AS abs_err
    FROM ("""
        + " UNION ALL ".join(rows)
        + ") ORDER BY tbl, col, pct"
    )


@query(
    "q397_hist_quantile_estimate",
    oracle=_hist_quantile_sql(),
    tags=("catalog", "histogram", "planning", "quantiles"),
)
def q397_hist_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles SERVED FROM THE MERGEABLE HISTOGRAM — the estimate a
    planner (or a monitoring dashboard) uses when the data is gone and
    only the ew artifact remains: p50/p90 by uniform-within-bucket
    interpolation over the persisted q387 bucket counts, audited
    against the exact rank-k order statistic (rank k = ceil(p·n/100),
    selected through the distributed quantile kernel at the (k−0.5)/n
    mark — the q380 exact-rank technique).  The error bound is one
    cell width by construction; the published abs_err shows where the
    grid is too coarse for the tail (the signal to shrink the cell or
    re-ANALYZE the equi-depth kind).

    Scale plan: the estimate touches O(|buckets|) persisted rows
    driver-side (q379 contract); the exact side is the range-partition
    selection kernel (per-partition memory at any size), run only
    because the query audits the estimator.

    Exactness: interpolation is ONE half-away integer division
    (2·cell·(p·n − 100·cum_before) + 100·v) // (200·v) on exact integer
    bucket state; the crossing bucket is the first b with
    100·cum ≥ p·n (integer compare, no ceil/float anywhere); exact
    ranks via 100·rn ≥ p·n ⟺ rn ≥ ceil(p·n/100)."""
    from ..operators.quantiles import exact_quantiles

    path = _ew_path(sf_dir)
    ensure_catalog(path, lambda: _ew_merged(spark, sf_dir))
    rows = load_catalog(spark, path).limit(_EW_MAX_ROWS + 1).collect()
    if len(rows) > _EW_MAX_ROWS:
        # loud contract error like q388/q395: a silently-truncated
        # artifact would undercount n and corrupt every rank below
        raise ValueError(
            f"ew artifact exceeds its cap ({len(rows)} > {_EW_MAX_ROWS})"
            " — grid mis-sized or artifact corrupt"
        )
    ew: dict[tuple, dict[int, int]] = {}
    for r in rows:
        if r.kind == "ew":
            ew.setdefault((r.tbl, r.col), {})[int(r.b)] = int(r.v)

    # the exact side runs as ONE kernel pass over all _EW_SPEC tables
    # (the r12 round-2 fusion item, landed r13): each table's values
    # stack under a group tag and its own exact-rank marks (k−0.5)/n
    # ride the kernel's per-group `group_probs` — one range shuffle, one
    # checkpoint, one control table and one selection pass where the
    # thread-pooled per-table chains each paid their own (18–20 jobs →
    # one chain).  Marks and selected values are identical per table by
    # the kernel's per-group offset construction.
    gmarks: dict[tuple, dict[str, float]] = {}
    stacked = None
    for tbl, col, _cell, _ss, _sq in _EW_SPEC:
        n = sum(v for _b, v in sorted(ew[(tbl, col)].items()))
        gmarks[(f"{tbl}.{col}",)] = {
            f"p{p}": (((p * n + 99) // 100) - 0.5) / n for p in _HQ_PCTS
        }
        part = (
            read_table(spark, sf_dir, tbl)
            .select(
                F.lit(f"{tbl}.{col}").alias("_g"),
                F.col(col).cast("double").alias("_val"),
            )
            .where(F.col("_val").isNotNull())
            .withColumn("_one", F.lit(1))
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    probs0 = {f"p{p}": 0.0 for p in _HQ_PCTS}  # alias order only
    qtab = {
        r["_g"]: r
        for r in exact_quantiles(
            stacked, "_val", probs0, group_cols=["_g"],
            weight_col="_one", group_probs=gmarks,
        ).collect()
    }

    out = []
    for tbl, col, cell, _ss, _sq in _EW_SPEC:
        qrow = qtab[f"{tbl}.{col}"]
        buckets = sorted(ew[(tbl, col)].items())
        n = sum(v for _b, v in buckets)
        for p in _HQ_PCTS:
            cum = 0
            for b, v in buckets:
                cum += v
                if 100 * cum >= p * n:
                    cum_before = cum - v
                    est_u = b * cell + (
                        2 * cell * (p * n - 100 * cum_before) + 100 * v
                    ) // (200 * v)
                    break
            exact_u = int(math.floor(qrow[f"p{p}"] * 1_000_000 + 0.5))
            out.append(
                (tbl, col, p, est_u / 1e6, exact_u / 1e6,
                 abs(est_u - exact_u) / 1e6)
            )
    out.sort(key=lambda t: (t[0], t[1], t[2]))
    return local_frame(
        spark, out,
        "tbl string, col string, pct int, est double, exact double,"
        " abs_err double",
    )


# ---- delete-maintainable histogram (q398) ----------------------------------

# the events grid cell comes from _EW_SPEC so a re-grid (the q397
# abs_err signal's action) keeps q398 maintaining the SAME histogram
# q387 persists (r12 self-review finding)
_EV_CELL = _EW_SPEC[0][2]


@query(
    "q398_ew_ivm",
    oracle=f"""
    SELECT tbl, col, kind, r, b, CAST(v AS VARCHAR) AS v
    FROM ({_ew_rows_sql(
        f"(SELECT * FROM events WHERE ({_INS_SQL}) OR NOT ({_DEL_SQL})) eff",
        "value", "events", _EW_SPEC[0][2])})
    ORDER BY tbl, col, kind, r, b, v
    """,
    tags=("catalog", "histogram", "incremental", "maintenance"),
)
def q398_ew_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ew histogram maintained under INSERTS AND DELETES — the
    completion of the q382 IVM story for distribution summaries:
    maintained = hist(corpus) ⊕ hist(+Δ) ⊖ hist(−Δ) (per-bucket signed
    integer addition, empty buckets dropped), and the oracle rebuilds
    the histogram over the effective row set directly, proving the
    identity.  Counters are the ONLY delete-maintainable sketch kind in
    the catalog: kmv/minh minima can't un-see a deleted value (a
    deleted hash may BE the minimum — the same rescan-forcing argument
    as MIN/MAX in q382), so retention-driven pipelines (GDPR deletes,
    TTL expiry) keep their shape summaries as ew counters or rebuild.

    Scale plan: each Δ is one map-side-combinable groupBy over the
    batch; the fold touches O(|buckets|) rows per side.  Deletes
    restricted to the corpus side (an insert can't be retroactively
    deleted — the q382 split discipline).

    Exactness: signed integer bucket counts; the shared md5 split
    predicates; published as STRING (catalog convention)."""
    ev = read_table(spark, sf_dir, "events")
    ins, dele = F.expr(_INS_SPARK), F.expr(_DEL_SPARK)
    corpus = ev.where(~ins)

    def hist(df: DataFrame, sign: int) -> DataFrame:
        h = equiwidth_counts(df, "events", "value", _EV_CELL)
        return h.withColumn("v", (F.col("v") * sign).cast("decimal(38,0)"))

    maintained = (
        hist(corpus, 1)
        .unionAll(hist(ev.where(ins), 1))
        .unionAll(hist(corpus.where(dele), -1))
        .groupBy("tbl", "col", "kind", "r", "b")
        .agg(F.sum("v").cast("decimal(38,0)").alias("v"))
        .where(F.col("v") != 0)
    )
    return maintained.select(
        "tbl", "col", "kind", "r", "b", F.col("v").cast("string").alias("v")
    ).orderBy("tbl", "col", "kind", "r", "b", "v")


# ---- estimate-driven materialized-view selection (q399) --------------------

# Workload: aggregate templates over events, each a group-key set with
# a frequency weight.  Candidate views = the key sets themselves; view
# v answers query q iff q's keys ⊆ v's keys (static containment, baked
# into the shared VALUES table).  Greedy picks _VIEW_BUDGET views, each
# step taking the candidate with the lowest resulting workload cost
# (rows scanned, estimated), ties on view name.
_VS_QUERIES = (
    # (query, weight, frozenset of keys)
    ("by_type", 10, ("event_type",)),
    ("by_type_day", 5, ("event_type", "day")),
    ("by_day", 3, ("day",)),
    ("by_user", 2, ("user_id",)),
    ("by_user_type", 1, ("user_id", "event_type")),
)
_VS_VIEWS = tuple(name for name, _w, _k in _VS_QUERIES)
_VIEW_BUDGET = 2
# (answerable) pairs: query ⊆ view, both named by their template row
_VS_ANS = tuple(
    (q, v)
    for q, _w, qk in _VS_QUERIES
    for v, _w2, vk in _VS_QUERIES
    if set(qk) <= set(vk)
)
_VS_COL_SQL = {"event_type": "event_type", "day": _GB_DAY_SQL, "user_id": "user_id"}
_VS_COL_SPARK = {
    "event_type": "event_type",
    "day": _GB_DAY_SPARK,
    "user_id": "user_id",
}


def _view_selection_sql() -> str:
    ndv_ctes = ",\n    ".join(
        f"nd_{c} AS (SELECT {_NDV_U_CASE} AS u FROM ({_ndv_u_sql(sql)}))"
        for c, sql in _VS_COL_SQL.items()
    )
    size_rows = " UNION ALL ".join(
        (
            f"SELECT '{name}' AS view, (SELECT u FROM nd_{ks[0]}) AS est_u"
            if len(ks) == 1
            else f"SELECT '{name}', LEAST((SELECT u FROM nd_{ks[0]})"
            f" * (SELECT u FROM nd_{ks[1]}) // 1000000,"
            f" (SELECT base_u FROM nb))"
        )
        for name, _w, ks in _VS_QUERIES
    )
    wl = ", ".join(f"('{q}', {w})" for q, w, _k in _VS_QUERIES)
    ans = ", ".join(f"('{q}', '{v}')" for q, v in _VS_ANS)
    return f"""
    WITH {ndv_ctes},
    nb AS (SELECT CAST(COUNT(*) AS HUGEINT) * 1000000 AS base_u
           FROM events),
    sizes AS MATERIALIZED ({size_rows}),
    wl(q, w) AS (VALUES {wl}),
    ans(q, v) AS (VALUES {ans}),
    c1 AS (
      SELECT s.view AS cand, w.q, w.w,
             LEAST((SELECT base_u FROM nb),
                   CASE WHEN a.q IS NOT NULL THEN s.est_u
                        ELSE (SELECT base_u FROM nb) END) AS cost_u
      FROM sizes s CROSS JOIN wl w
      LEFT JOIN ans a ON a.q = w.q AND a.v = s.view
    ),
    t1 AS (SELECT cand, SUM(w * cost_u) AS tot FROM c1 GROUP BY 1),
    p1 AS (SELECT FIRST(cand ORDER BY tot, cand) AS pick FROM t1),
    c2 AS (
      SELECT s.view AS cand, w.q, w.w,
             LEAST((SELECT base_u FROM nb),
                   CASE WHEN a1.q IS NOT NULL
                        THEN (SELECT est_u FROM sizes
                              WHERE view = (SELECT pick FROM p1))
                        ELSE (SELECT base_u FROM nb) END,
                   CASE WHEN a.q IS NOT NULL THEN s.est_u
                        ELSE (SELECT base_u FROM nb) END) AS cost_u
      FROM sizes s CROSS JOIN wl w
      LEFT JOIN ans a ON a.q = w.q AND a.v = s.view
      LEFT JOIN ans a1 ON a1.q = w.q AND a1.v = (SELECT pick FROM p1)
      WHERE s.view <> (SELECT pick FROM p1)
    ),
    t2 AS (SELECT cand, SUM(w * cost_u) AS tot FROM c2 GROUP BY 1),
    p2 AS (SELECT FIRST(cand ORDER BY tot, cand) AS pick FROM t2)
    SELECT s.view,
           CAST(s.est_u AS DOUBLE) / 1000000 AS est_rows,
           s.view IN ((SELECT pick FROM p1), (SELECT pick FROM p2))
             AS picked,
           CASE WHEN s.view = (SELECT pick FROM p1) THEN 1
                WHEN s.view = (SELECT pick FROM p2) THEN 2
                ELSE 0 END AS pick_order
    FROM sizes s ORDER BY s.view
    """


@query(
    "q399_view_selection",
    oracle=_view_selection_sql(),
    tags=("catalog", "planning", "materialized-view"),
)
def q399_view_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view selection — the classic planner problem every
    statistic in this catalog exists to feed: given a weighted workload
    of aggregate templates over events and their group-key sets as
    candidate views, greedily pick the _VIEW_BUDGET views minimizing
    total estimated rows scanned (a view answers a query iff the
    query's keys ⊆ the view's keys; unanswered queries scan the base
    table).  View sizes come from the q393 GROUP BY cardinality
    estimator (KMV NDVs, independence product, n cap) — the decision
    runs on sketch state alone, before anything is materialized.  The
    greedy's submodular interaction is visible in the output: after
    (event_type, day) is picked, the singleton (event_type) view's
    marginal benefit collapses, and the second pick jumps to the
    user_id family.

    Scale plan: NDV sketches are bounded bottom-k cuts; the greedy
    itself is driver-side integer arithmetic over |views|·|workload|
    literals (a real optimizer's view advisor is driver-resident for
    the same reason planner stats are).

    Exactness: all costs are exact micro integers (sizes are q393
    est_u values, base cost n·1e6, weights spec ints); argmin steps
    are FIRST(cand ORDER BY tot, cand) in DuckDB (the q320 ORDER BY
    discipline) mirrored by Python min() on (tot, cand) tuples."""
    ev = read_table(spark, sf_dir, "events")
    n = ev.count()
    base_u = n * 1_000_000

    nd = {c: ndv_micro(ev, sp) for c, sp in _VS_COL_SPARK.items()}
    sizes: dict[str, int] = {}
    for name, _w, ks in _VS_QUERIES:
        if len(ks) == 1:
            sizes[name] = nd[ks[0]]
        else:
            sizes[name] = min(nd[ks[0]] * nd[ks[1]] // 1_000_000, base_u)

    ans = set(_VS_ANS)

    def workload_cost(picked: tuple[str, ...]) -> int:
        tot = 0
        for q, w, _ks in _VS_QUERIES:
            cost = base_u
            for v in picked:
                if (q, v) in ans:
                    cost = min(cost, sizes[v])
            tot += w * cost
        return tot

    picks: list[str] = []
    for _ in range(_VIEW_BUDGET):
        best = min(
            (workload_cost((*picks, cand)), cand)
            for cand in _VS_VIEWS
            if cand not in picks
        )
        picks.append(best[1])

    out = [
        (
            name,
            sizes[name] / 1e6,
            name in picks,
            picks.index(name) + 1 if name in picks else 0,
        )
        for name in sorted(_VS_VIEWS)
    ]
    return local_frame(
        spark, out, "view string, est_rows double, picked boolean, pick_order int"
    )


# ---- join-view IVM (q401): the bilinear delta rule -------------------------

# orders insert batch: hex 1-8 of the order key, mod 10, slice 2 (~10%);
# customer insert batch: mod 20, slice 5 (~5%); order delete set: hex
# 9-16 mod 7 slice 2, restricted to the order CORPUS side (an insert
# can't be a retroactive delete — the q382 rule, per side)
_JV_OK = "CAST(o_orderkey AS {s})"
_JV_CK = "CAST(c_custkey AS {s})"
_JV_INS_O_SQL = _md5_slice_sql(1, 10, 2, key=_JV_OK.format(s="VARCHAR"))
_JV_INS_O_SPARK = _md5_slice_spark(1, 10, 2, key=_JV_OK.format(s="STRING"))
_JV_INS_C_SQL = _md5_slice_sql(1, 20, 5, key=_JV_CK.format(s="VARCHAR"))
_JV_INS_C_SPARK = _md5_slice_spark(1, 20, 5, key=_JV_CK.format(s="STRING"))
_JV_DEL_O_SQL = _md5_slice_sql(9, 7, 2, key=_JV_OK.format(s="VARCHAR"))
_JV_DEL_O_SPARK = _md5_slice_spark(9, 7, 2, key=_JV_OK.format(s="STRING"))


@query(
    "q401_ivm_join_view",
    oracle=f"""
    SELECT c_mktsegment, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COALESCE(SUM(CAST(floor(o_totalprice * 1000000 + 0.5)
                                  AS BIGINT)), 0) AS BIGINT) AS sum_micro
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE ({_JV_INS_O_SQL}) OR NOT ({_JV_DEL_O_SQL})
    GROUP BY c_mktsegment, o_orderpriority
    ORDER BY c_mktsegment, o_orderpriority
    """,
    tags=("ivm", "join", "statcat"),
)
def q401_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregate view OVER A JOIN — the
    bilinear delta rule q382 (single-table IVM) deliberately left out:
    with inserts ΔO, ΔC arriving on BOTH sides of O ⋈ C, the join's
    delta is ΔO⋈C₀ ∪ O₀⋈ΔC ∪ ΔO⋈ΔC (the cross term is the classic
    missed-delta bug this oracle would catch), and a subsequent delete
    batch D ⊆ O₀ retracts D ⋈ C (against the POST-insert customer
    side) by signed addition.  The maintained view —
    V(O₀⋈C₀) ⊎ the three insert deltas ⊎ −Δ(D⋈C) — is compared
    against the oracle's full rebuild over the effective row set, so
    the gate proves maintain == rebuild exactly, cross-engine.

    Scale plan: in production V(O₀⋈C₀) is the stored artifact and only
    the delta joins run per batch — each is |Δ|-sized on its delta side
    (Catalyst broadcasts the small side automatically; at 100 TB the
    delta joins shuffle |Δ| rows, never the corpus), and the fold is a
    groupBy-sum over |groups| partial rows, never the data.  COUNT/SUM
    are self-maintainable under deletes; MIN/MAX deliberately absent
    (the q382/q398 rescan boundary).

    Determinism: engine-shared md5 split predicates on the ORDER/
    CUSTOMER keys (null-safe COALESCE form); micro-integer sums.  Grid
    budget: Σ floor(o_totalprice·1e6+0.5) per group fits int64 to
    ~1.5e7 order rows/group at the ~6e5 max price (sf ≲ 10 locally; the
    stored-view column would be DECIMAL(38,0) at warehouse scale)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.expr("CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)").alias("xu"),
        F.expr(_JV_INS_O_SPARK).alias("ins_o"),
        F.expr(_JV_DEL_O_SPARK).alias("del_o"),
    )
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr(_JV_INS_C_SPARK).alias("ins_c"),
    )
    o_base, o_ins = orders.where(~F.col("ins_o")), orders.where(F.col("ins_o"))
    c_base, c_ins = customer.where(~F.col("ins_c")), customer.where(F.col("ins_c"))
    deletes = o_base.where(F.col("del_o"))

    def delta(o_side: DataFrame, c_side: DataFrame, sign: int) -> DataFrame:
        j = o_side.join(
            c_side, o_side.o_custkey == c_side.c_custkey, "inner"
        )
        return j.groupBy("c_mktsegment", "o_orderpriority").agg(
            (F.count(F.lit(1)) * sign).alias("cnt"),
            (F.coalesce(F.sum("xu"), F.lit(0)) * sign).alias("sum_micro"),
        )

    maintained = (
        delta(o_base, c_base, 1)       # the stored view V(O₀ ⋈ C₀)
        .unionAll(delta(o_ins, c_base, 1))   # ΔO ⋈ C₀
        .unionAll(delta(o_base, c_ins, 1))   # O₀ ⋈ ΔC
        .unionAll(delta(o_ins, c_ins, 1))    # ΔO ⋈ ΔC (the cross term)
        .unionAll(delta(deletes, customer, -1))  # −(D ⋈ C), post-insert C
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_micro").alias("sum_micro"))
        .where(F.col("cnt") > 0)
    )
    return maintained.select(
        "c_mktsegment",
        "o_orderpriority",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_micro").cast("long").alias("sum_micro"),
    ).orderBy("c_mktsegment", "o_orderpriority")


# ---- trigram statistics: LIKE-selectivity kind (q407/q408) -----------------

_TRI_INS_SQL = _md5_slice_sql(1, 10, 4, key="CAST(p_partkey AS VARCHAR)")
_TRI_INS_SPARK = _md5_slice_spark(1, 10, 4, key="CAST(p_partkey AS STRING)")

# single-pass trigram build over part.p_name, shared by both oracles
_TRI_BUILD_CTE = """
    s AS (SELECT CAST(p_name AS VARCHAR) AS s FROM part
          WHERE p_name IS NOT NULL),
    tri AS (
      SELECT unnest(list_distinct(
               CASE WHEN len(s) >= 3
                    THEN list_transform(range(1, len(s) - 1),
                                        i -> substr(s, i, 3))
                    ELSE CAST([] AS VARCHAR[]) END)) AS g
      FROM s
    ),
    dfc AS (
      SELECT CAST(('0x' || substr(md5(g), 1, 13)) AS BIGINT) AS b,
             COUNT(*) AS c
      FROM tri GROUP BY 1
    )
"""


@query(
    "q407_trigram_catalog_merge",
    oracle=f"""
    WITH {_TRI_BUILD_CTE}
    SELECT 'part' AS tbl, 'p_name' AS col, 'tri' AS kind,
           CAST(0 AS BIGINT) AS r, b, CAST(c AS VARCHAR) AS v
    FROM dfc
    UNION ALL
    SELECT 'part', 'p_name', 'tri', 1, 0,
           CAST((SELECT COUNT(*) FROM s) AS VARCHAR)
    ORDER BY r, b
    """,
    tags=("statcat", "trigram", "merge"),
)
def q407_trigram_catalog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A trigram document-frequency KIND for the stats catalog — the
    pg_trgm-style statistic behind LIKE '%literal%' selectivity, which
    none of the existing kinds can answer (cms/kmv see whole values,
    ew/hist see numeric shape).  Per 3-char substring of part.p_name:
    v = rows containing it (per-row distinct ⟹ a document frequency),
    keyed by its 52-bit md5; plus a row-count register (r=1).  Both
    shapes are ADDITIVE over disjoint row splits, so the kind rides
    merge_catalogs' additive path untouched — and this query gates the
    defining identity: part is split by a deterministic md5 tenth of
    the part key, each side's trigram rows built independently and
    MERGED, while the oracle builds single-pass from the full table:
    merge(build(A), build(B)) == build(A ∪ B), the q378/q387 contract
    extended to text statistics.

    Scale plan: one explode + map-side-combinable count per side; the
    merge folds O(|trigram vocab|) summary rows.  The artifact is
    vocabulary-bounded (names/categories — free text would profile a
    bounded derived column).  Determinism: pure integer counts,
    engine-shared md5 keys."""
    from ..operators.statcat import merge_catalogs, trigram_rows

    part = read_table(spark, sf_dir, "part")
    ins = F.expr(_TRI_INS_SPARK)
    merged = merge_catalogs(
        trigram_rows(part.where(~ins), "part", "p_name"),
        trigram_rows(part.where(ins), "part", "p_name"),
    )
    return merged.select(
        "tbl",
        "col",
        "kind",
        "r",
        "b",
        F.col("v").cast("decimal(38,0)").cast("string").alias("v"),
    ).orderBy("r", "b")


_Q408_PROBES = ("widget", "bolt", "d w", "zzz", "qz")


@query(
    "q408_like_selectivity_bound",
    oracle=f"""
    WITH {_TRI_BUILD_CTE},
    n AS (SELECT COUNT(*) AS n FROM s),
    probes AS (SELECT p FROM (VALUES {", ".join(f"('{p}')" for p in _Q408_PROBES)}) t(p)),
    ptris AS (
      SELECT p, unnest(list_transform(range(1, len(p) - 1),
                                      i -> substr(p, i, 3))) AS g
      FROM probes WHERE len(p) >= 3
    ),
    est AS (
      SELECT t.p, CAST(MIN(COALESCE(d.c, 0)) AS BIGINT) AS est_ub,
             COUNT(*) AS n_tri
      FROM ptris t
      LEFT JOIN dfc d
        ON CAST(('0x' || substr(md5(t.g), 1, 13)) AS BIGINT) = d.b
      GROUP BY t.p
    ),
    exact AS (
      SELECT pr.p,
             CAST(SUM(CASE WHEN s.s LIKE '%' || pr.p || '%'
                           THEN 1 ELSE 0 END) AS BIGINT) AS exact
      FROM probes pr CROSS JOIN s GROUP BY pr.p
    )
    SELECT pr.p AS probe,
           CAST(COALESCE(e.n_tri, 0) AS BIGINT) AS n_trigrams,
           CAST(COALESCE(e.est_ub, n.n) AS BIGINT) AS est_ub,
           x.exact,
           CAST(COALESCE(e.est_ub, n.n) - x.exact AS BIGINT) AS slack
    FROM probes pr
    CROSS JOIN n
    LEFT JOIN est e ON pr.p = e.p
    JOIN exact x ON pr.p = x.p
    ORDER BY probe
    """,
    tags=("statcat", "trigram", "selectivity"),
)
def q408_like_selectivity_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-served LIKE '%literal%' selectivity UPPER BOUNDS from the
    q407 trigram kind: a row matching %p% contains every trigram of p,
    so rows(p) ≤ min over p's trigrams of their document frequency —
    one-sided, so the planner over-allocates, never starves (the
    q392/q396 fail-safe discipline).  The sweep exercises all three
    regimes: informative probes ('widget', 'bolt', 'd w' — the
    cross-word trigram), an absent trigram ('zzz' → bound 0, and the
    LIKE count MUST be 0, the bound's correctness edge), and a
    too-short probe ('qz' → no trigram, honest n fallback).  The
    oracle recomputes bounds AND exact LIKE counts from the base
    table; slack = est − exact publishes the bound's looseness.

    Scale plan: the estimate reads O(|probe trigrams|) catalog rows
    (hash-joined against the df table — in production, served from the
    persisted artifact with partition pruning); the exact audit is one
    conditional-aggregate scan.  Pure integers throughout."""
    import hashlib

    from ..operators.statcat import trigram_rows

    part = read_table(spark, sf_dir, "part")
    dfc = (
        trigram_rows(part, "part", "p_name")
        .where(F.col("r") == 0)
        .select("b", F.col("v").cast("long").alias("c"))
    )
    probe_tris = []
    for p in _Q408_PROBES:
        if len(p) >= 3:
            for i in range(len(p) - 2):
                g = p[i : i + 3]
                b = int(hashlib.md5(g.encode()).hexdigest()[:13], 16)
                probe_tris.append((p, b))
    pt = local_frame(spark, probe_tris, "p string, b long")
    est = (
        pt.join(F.broadcast(dfc), "b", "left")
        .groupBy("p")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_ub"),
            F.count(F.lit(1)).alias("n_tri"),
        )
    )
    s = part.where(F.col("p_name").isNotNull()).select(
        F.col("p_name").cast("string").alias("s")
    )
    exact_aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(
            F.when(F.col("s").like(f"%{p}%"), 1).otherwise(0)
        ).alias(f"_x{i}")
        for i, p in enumerate(_Q408_PROBES)
    ]
    row = s.agg(*exact_aggs).collect()[0]
    n = int(row["_n"])
    exacts = {p: int(row[f"_x{i}"]) for i, p in enumerate(_Q408_PROBES)}
    est_map = {
        r.p: (int(r.est_ub), int(r.n_tri)) for r in est.collect()
    }  # ≤ |probes| rows — bounded by construction
    out = []
    for p in sorted(_Q408_PROBES):
        eu, nt = est_map.get(p, (n, 0))
        out.append((p, nt, eu, exacts[p], eu - exacts[p]))
    return local_frame(
        spark, out, "probe string, n_trigrams long, est_ub long, exact long, slack long"
    ).orderBy("probe")
