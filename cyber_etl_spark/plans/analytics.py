"""Round-7 analytics additions (q181-q200): sketch-assisted exact
heavy hitters, robust statistics (winsorize, seasonal z-score, OLS
trend), forecast backtesting, SymSpell edit-distance self-join,
link prediction, product quantization, OHLC bars, grouping sets,
decile lift, point-in-time features, market-basket rules, DBSCAN,
referential-integrity audits, top-N+OTHER reports, BM25-from-index,
incremental rollup maintenance, and rolling DAU/WAU.

Each is the scale-first physical strategy for an operation the
reference's workload implies but expresses imperatively (value_counts
profiling, notebook outlier trimming, pandas shift() comparisons,
manual fuzzy matching, GDS link prediction) — declared Spark-first and
hash-gated against a plain-SQL DuckDB oracle.  Broadcast hints are
used ONLY for tables whose size is bounded by construction (1-row
aggregates, k-row bound tables); anything that grows with the scale
factor is left to AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import artifact
from ..sources import read_table
from .registry import query
from .textops import _SHINGLES_CTE, cached_ivf_index, cached_shingles


def cached_eps_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """Embedding eps-graph (id_a < id_b, cosine ≥ t), built ONCE per
    (session, dataset, threshold) through the candidate-first cell-pruned
    kernel (operators/ann.eps_neighbor_pairs) and pinned — the shared
    neighbor-graph input of the density family (DBSCAN q194, label
    spreading q235).  Same persisted-projection policy as the co-supply
    edges: the eps-graph is a graph BUILD, not part of any one
    consumer's marginal cost."""
    from ..operators.ann import eps_neighbor_pairs

    def build():
        emb = read_table(spark, sf_dir, "embeddings")
        return eps_neighbor_pairs(emb, threshold=threshold).localCheckpoint(eager=True)

    return artifact(spark, sf_dir, "eps_pairs", build, threshold)


def cached_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (ok, pk) order-item pairs of lineitem, built and pinned
    ONCE per (session, dataset) — the shared base relation of the
    basket-mining family (q192 pair rules, q314 itemCF, q342 triples,
    q322's train/holdout derivation).  Same persisted-projection policy
    as the co-supply edges / the Lloyd training (r12 opt #24): the
    600 k-row distinct is the basket-table BUILD every family member
    re-ran identically, not part of any one consumer's marginal cost."""
    return artifact(
        spark, sf_dir, "order_items",
        lambda: (
            read_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
            .distinct()
            .localCheckpoint(eager=True)
        ),
    )


def cached_order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order SORTED part baskets (ok, ps = array_sort(collect_list))
    over :func:`cached_order_items`, pinned once per (session, dataset).
    The sorted array is what the basket-local posexplode+slice pair/
    triple enumeration (r12 opt #17/#19/#30) walks; q192/q314/q342 each
    paid the identical groupBy(ok) exchange before sharing it here."""
    return artifact(
        spark, sf_dir, "order_baskets",
        lambda: (
            cached_order_items(spark, sf_dir)
            .groupBy("ok")
            .agg(F.array_sort(F.collect_list("pk")).alias("ps"))
            .localCheckpoint(eager=True)
        ),
    )


@query(
    "q181_heavy_hitters",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    counts AS (SELECT shingle, COUNT(*) AS cnt FROM sh GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM sh)
    SELECT shingle, cnt FROM counts, tot WHERE cnt * 5000 > n
    """,
    tags=("agg", "heavy-hitters", "sketch", "curation"),
)
def q181_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE SHINGLES: every 3-word shingle whose document
    frequency exceeds phi*N (phi = 1/5000) — the φ-heavy-hitters cut a
    curation pipeline uses to spot template boilerplate before dedup.

    Physical plan is the two-pass Misra–Gries kernel
    (operators/heavyhitters.py): bounded per-partition candidate
    summaries (k = 5000 counters), then an exact count of the candidate
    set only — no full-vocabulary shuffle, which is what the oracle's
    plain GROUP BY would cost at 100 TB.  The exact verification pass
    makes the output independent of partitioning, so the sketch-assisted
    plan hash-matches the exhaustive SQL twin."""
    from ..operators.heavyhitters import frequent_items

    sh = cached_shingles(spark, sf_dir).select(F.col("shingle"))
    return frequent_items(sh, "shingle", phi_denom=5000)


@query(
    "q182_winsorized_mean",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             round(CAST(percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice)
                        AS DOUBLE), 6) AS lo,
             round(CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
                        AS DOUBLE), 6) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag, b.lo, b.hi,
           CAST(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi)
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS wmean,
           COUNT(CASE WHEN l.l_extendedprice < b.lo THEN 1 END) AS n_lo,
           COUNT(CASE WHEN l.l_extendedprice > b.hi THEN 1 END) AS n_hi
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY 1, 2, 3
    """,
    tags=("agg", "robust", "percentile"),
)
def q182_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED MEAN per return flag: clamp l_extendedprice into its
    per-group [p05, p95] band, then average — the robust-statistics twin
    of q130's MAD outlier cut (clamp instead of drop).  The bounds come
    from the distributed exact-quantile kernel (never the banned
    in-memory percentile aggregate) and are rounded to 6 dp BEFORE
    clamping in both engines, so a last-ulp interpolation difference
    cannot move a row across the clamp boundary; the clamped sum uses
    the dsum DECIMAL(18,6) discipline (bounds are 6-dp exact, raw prices
    2-dp exact, so the cast is exact on every input)."""
    from ..operators.quantiles import exact_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    bounds = exact_quantiles(
        li, "l_extendedprice", {"lo": 0.05, "hi": 0.95}, ["l_returnflag"]
    ).select(
        "l_returnflag", F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi")
    )
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "lo", "hi")
        .agg(
            (
                F.sum(clamped.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
            ).alias("wmean"),
            F.count(F.when(F.col("l_extendedprice") < F.col("lo"), 1)).alias("n_lo"),
            F.count(F.when(F.col("l_extendedprice") > F.col("hi"), 1)).alias("n_hi"),
        )
    )


@query(
    "q183_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           COUNT(*) AS n_days,
           CAST(SUM(ABS(a.cnt - f.cnt)) AS DOUBLE) / COUNT(*) AS mae,
           CAST(SUM(ABS(a.cnt - f.cnt)) AS DOUBLE) / SUM(a.cnt) AS wape
    FROM daily a
    JOIN daily f ON f.event_type = a.event_type AND f.d = a.d - INTERVAL 7 DAY
    GROUP BY 1
    """,
    tags=("timeseries", "forecast", "backtest"),
)
def q183_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE FORECAST BACKTEST: predict each day's event count
    per type with the count 7 days earlier, score with MAE and WAPE
    (sum |actual-forecast| / sum actual).  The lag is an equi-join on
    (type, day-7) — NOT a lag() window over the 5-value event_type key,
    which would be the q63/q160 single-reducer class — so the plan
    shuffles on the composite key and scales with days x types.  Both
    metrics are ratios of exact integer sums: one IEEE division per
    group, bit-identical across engines (no intermediate float
    accumulation to drift)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a, f = daily.alias("a"), daily.alias("f")
    adiff = F.abs(F.col("a.cnt") - F.col("f.cnt"))
    return (
        a.join(
            f,
            (F.col("f.event_type") == F.col("a.event_type"))
            & (F.col("f.d") == F.col("a.d") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            (F.sum(adiff).cast("double") / F.count(F.lit(1))).alias("mae"),
            (F.sum(adiff).cast("double") / F.sum(F.col("a.cnt"))).alias("wape"),
        )
    )


@query(
    "q184_symspell_pairs",
    oracle="""
    WITH v AS (SELECT DISTINCT c_name FROM customer WHERE c_name IS NOT NULL)
    SELECT a.c_name AS name_a, b.c_name AS name_b
    FROM v a JOIN v b
      ON a.c_name < b.c_name
     AND abs(length(a.c_name) - length(b.c_name)) <= 1
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    tags=("string", "fuzzy", "dedup", "symspell"),
)
def q184_symspell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-PAIRS edit-distance <= 1 self-join over customer names via
    SYMSPELL deletion-neighborhood blocking with the position-qualified
    exact match test (operators/similarity.symspell_lev1_pairs): each
    name emits itself (pos 0) plus its |s| one-character-deletion
    variants (pos i) as join keys, and a shared key at the SAME
    position — or against an identity key — is PROVABLY within edit
    distance 1, so the join needs no per-pair DP at all (the bounded
    levenshtein verify alone measured 3.1s on 977k candidates at
    sf0.1).  The oracle's brute-force quadratic scan is the exactness
    gate.  Complements q87's probe-vs-table shape with the self-join
    fuzzy-dedup shape: O(n * len) index rows instead of O(n^2)
    comparisons."""
    from ..operators.similarity import symspell_lev1_pairs

    cust = read_table(spark, sf_dir, "customer")
    return symspell_lev1_pairs(cust, "c_name")


def _pq_oracle(
    m: int = 4,
    n_cells: int = 16,
    iters: int = 1,
    k: int = 10,
    dim: int = 64,
    n_queries_below: int = 20,
) -> str:
    """Chained-CTE replay of operators.ann.pq_adc_knn: micro-grid
    quantization, per-subspace Lloyd (exact integer squared-L2 assign,
    integer-mean update, empty-cell carry-over), code table, per-query
    lookup table, integer ADC sum.  Nothing is rounded anywhere, so the
    hash gate checks the whole pipeline bit-for-bit."""
    subdim = dim // m
    dsq = (
        f"list_sum(list_transform(range(1, {subdim + 1}),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )
    assign_tpl = f"""{{name}} AS (
  SELECT id, sub, cell FROM (
    SELECT v.id, v.sub, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id, v.sub
             ORDER BY {dsq.format(a='v.svm', b='c.cm')} ASC, c.cell ASC) AS rn
    FROM subs v JOIN {{cents}} c ON c.sub = v.sub
  ) WHERE rn = 1
)"""
    steps = [
        "base AS (SELECT vec_id AS id, list_transform(embedding::DOUBLE[],"
        " x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm FROM embeddings)",
        f"subs AS (SELECT id, u.sub, vm[u.sub * {subdim} + 1 : u.sub * {subdim} + {subdim}]"
        f" AS svm FROM base CROSS JOIN (SELECT unnest(range(0, {m})) AS sub) u)",
        f"seeds AS (SELECT id FROM base ORDER BY id LIMIT {n_cells})",
        "cents0 AS (SELECT s.sub, s.id AS cell, s.svm AS cm"
        " FROM subs s JOIN seeds USING (id))",
    ]
    for i in range(iters):
        steps.append(assign_tpl.format(name=f"assign{i}", cents=f"cents{i}"))
        steps.append(
            f"""sums{i + 1} AS (
  SELECT a.sub, a.cell, u.pos,
         CAST(floor(SUM(v.svm[u.pos + 1]) / COUNT(*) + 0.5) AS BIGINT) AS cmicro
  FROM assign{i} a JOIN subs v ON v.id = a.id AND v.sub = a.sub
  CROSS JOIN (SELECT unnest(range(0, {subdim})) AS pos) u
  GROUP BY 1, 2, 3
)"""
        )
        steps.append(
            f"newc{i + 1} AS (SELECT sub, cell, list(cmicro ORDER BY pos) AS cm"
            f" FROM sums{i + 1} GROUP BY 1, 2)"
        )
        steps.append(
            f"""cents{i + 1} AS (
  SELECT c.sub, c.cell, COALESCE(n.cm, c.cm) AS cm
  FROM cents{i} c LEFT JOIN newc{i + 1} n USING (sub, cell)
)"""
        )
    steps.append(assign_tpl.format(name="codes", cents=f"cents{iters}"))
    steps.append(
        f"q AS (SELECT id AS query_id, sub, svm AS qvm FROM subs"
        f" WHERE id < {n_queries_below})"
    )
    steps.append(
        f"""lut AS (
  SELECT q.query_id, q.sub, c.cell,
         {dsq.format(a='q.qvm', b='c.cm')} AS d
  FROM q JOIN cents{iters} c ON c.sub = q.sub
)"""
    )
    steps.append(
        """adc AS (
  SELECT l.query_id, co.id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc
  FROM codes co JOIN lut l ON l.sub = co.sub AND l.cell = co.cell
  WHERE co.id <> l.query_id
  GROUP BY 1, 2
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT query_id, neighbor_id, adc FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc ASC, neighbor_id ASC) AS rn
  FROM adc
) WHERE rn <= {k}"""
    )


@query(
    "q186_pq_adc_knn",
    oracle=_pq_oracle(),
    tags=("ann", "quantization", "pq", "embedding"),
)
def q186_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION kNN with asymmetric distance (Jégou et al.):
    4 sub-codebooks x 16 cells compress each 64-dim vector to 4 bytes;
    queries stay full precision; distance = sum of 4 table lookups.
    Completes the ANN quantization family (q133 is SCALAR int8 + ADC —
    8x; PQ is 64x with a trained codebook).  The whole pipeline runs on
    the exact 1e-6 integer grid — squared-L2 assignment, integer-mean
    Lloyd update, integer ADC sums — so the oracle's per-subspace Lloyd
    unroll hash-matches with no rounding convention at all.  At scale
    the ADC scan reads the 4-byte code table, never raw vectors."""
    from ..operators.ann import pq_adc_knn

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_adc_knn(emb)


@query(
    "q185_ra_link_prediction",
    oracle="""
    WITH li2 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ew AS (SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
           FROM li2 a JOIN li2 b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
    qq AS (SELECT quantile_cont(w, 0.95) AS q99 FROM ew),
    se AS (SELECT src, dst FROM ew, qq WHERE w >= q99),
    sym AS (SELECT src, dst FROM se UNION SELECT dst, src FROM se),
    degs AS (SELECT src AS id, COUNT(*) AS n FROM sym GROUP BY 1),
    cand AS (
      SELECT x.src AS id_a, y.src AS id_b,
             COUNT(*) AS n_common,
             SUM(1000000000000 // dz.n) AS ra_micro
      FROM sym x
      JOIN sym y ON x.dst = y.dst AND x.src < y.src
      JOIN degs dz ON dz.id = x.dst
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.n_common,
           CAST(c.ra_micro AS DOUBLE) / 1000000000000 AS ra_score
    FROM cand c
    LEFT JOIN se e ON e.src = c.id_a AND e.dst = c.id_b
    WHERE e.src IS NULL AND c.n_common >= 2
    """,
    tags=("graph", "link-prediction", "gds"),
)
def q185_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction (Zhou et al. 2009, the
    Adamic–Adar family) on the P95 co-supply backbone: for NON-adjacent
    supplier pairs sharing >= 2 neighbors, score = sum over common
    neighbors z of 1/deg(z) — hub neighbors count less.  Candidates come
    from the shared-neighbor equi-join (q90's inverted-index economics),
    adjacency is removed with an anti-join on the oriented edge list,
    and the per-neighbor weight is the exact integer 1e12 div deg(z)
    summed exactly — no ln() (Adamic–Adar's weight), whose last-ulp
    libm differences across engines cannot be hash-gated.

    Grid budget: sum of 1e12 div deg weights <= 1e12*|common neighbors| - fits int64 below ~9e6 common neighbors per pair; ANSI raises loudly beyond."""
    from .graphops import _sparse_sym_edges, _sparse_upper_edges

    se = _sparse_upper_edges(spark, sf_dir)
    sym = _sparse_sym_edges(spark, sf_dir)
    degs = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("n"))
    x, y = sym.alias("x"), sym.alias("y")
    dz = degs.alias("dz")
    # integer division: Spark `/` on longs is double division — use div.
    # No broadcast hint on the degree table: it has one row per backbone
    # node, which grows with SF — AQE broadcasts while it fits
    cand = (
        x.join(y, (F.col("x.dst") == F.col("y.dst")) & (F.col("x.src") < F.col("y.src")))
        .join(dz, F.col("dz.id") == F.col("x.dst"))
        .groupBy(F.col("x.src").alias("id_a"), F.col("y.src").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("1000000000000 div n")).alias("_ra_micro"),
        )
    )
    return (
        cand.join(
            se,
            (F.col("src") == F.col("id_a")) & (F.col("dst") == F.col("id_b")),
            "left_anti",
        )
        .where(F.col("n_common") >= 2)
        .select(
            "id_a",
            "id_b",
            "n_common",
            (F.col("_ra_micro").cast("double") / F.lit(1_000_000_000_000)).alias(
                "ra_score"
            ),
        )
    )


@query(
    "q187_ohlc_bars",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           COUNT(*) AS n_events,
           first(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           last(value ORDER BY ts, event_id) AS close,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM events GROUP BY 1, 2
    """,
    tags=("timeseries", "agg", "ohlc"),
)
def q187_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) candlestick bars per (type, hour) —
    the classic time-series downsampling aggregate, and the registry's
    min_by/max_by surface: open/close are the values at the extreme
    (ts, event_id) keys, picked by ONE-PASS ordered-argmin aggregates
    (Spark min_by/max_by over a struct key; DuckDB ordered first/last)
    instead of a per-group sort or a rank window — constant memory per
    group, map-side partials, no shuffle beyond the groupBy.  The
    composite key makes ties impossible (event_id is unique), so both
    engines pick the same row."""
    ev = read_table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("volume"),
    )


@query(
    "q188_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg", "grouping-sets", "olap"),
)
def q188_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind q42's ROLLUP and
    q64's CUBE: one pass computes the (flag, status) cells, the flag
    margins, and the grand total, each row tagged with per-column
    GROUPING() indicators so a NULL group value is distinguishable from
    a margin row.  Indicators are emitted per column (not a combined
    grouping_id) because the bit order of the combined id is an
    engine convention; the per-column flag is not."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "q189_group_ols_trend",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2020-01-01', date_trunc('day', ts))
                  AS BIGINT) AS x,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(y) AS sy, SUM(y * CAST(x AS DECIMAL(12,0))) AS sxy
      FROM pts GROUP BY 1
    )
    SELECT event_type, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept
    FROM s
    """,
    tags=("agg", "regression", "trend"),
)
def q189_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS TREND (closed-form simple linear regression of
    value against day index): slope and intercept from the five
    sufficient statistics (n, Σx, Σx², Σy, Σxy), each accumulated
    EXACTLY — x is an integer day offset, y sums as DECIMAL(18,6), the
    cross term as DECIMAL·INT, and Σx² as DECIMAL(38,0) (a plain long
    sum wraps at ~2.3e12 rows per group while DuckDB's HUGEINT stays
    exact — the CLAUDE.md integer-accumulation rule) — so the only
    floats are the final two divisions of identical exact inputs.  One groupBy pass, map-side
    partials, no per-group state beyond five numbers: the distributed
    regression shape (MLlib's summarizer economics) with a plain-SQL
    twin.  Complements q137 (correlation) and q144 (Welch t-test) in
    the grouped-statistics family."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pts = ev.select(
        "event_type",
        F.datediff(F.date_trunc("day", "ts"), F.lit("2020-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("x").cast("decimal(12,0)")).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, sxy = F.col("sy").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@query(
    "q190_decile_lift",
    oracle="""
    WITH b AS (
      SELECT {bexprs}
      FROM events
    ),
    bucketed AS (
      SELECT 1 + {bump} AS decile,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      FROM events, b
    ),
    overall AS (SELECT COUNT(*) AS n_all, SUM(is_p) AS p_all FROM bucketed)
    SELECT decile, COUNT(*) AS n, CAST(SUM(is_p) AS BIGINT) AS n_purchase,
           round(CAST(SUM(is_p) AS DOUBLE) / COUNT(*), 6) AS rate,
           round((CAST(SUM(is_p) AS DOUBLE) / COUNT(*))
                 / (CAST(p_all AS DOUBLE) / n_all), 6) AS lift
    FROM bucketed, overall
    GROUP BY decile, p_all, n_all
    """.format(
        bexprs=", ".join(
            "round(CAST(percentile_cont({p}) WITHIN GROUP (ORDER BY value)"
            " AS DOUBLE), 6) AS b{i}".format(p=i / 10.0, i=i)
            for i in range(1, 10)
        ),
        bump=" + ".join(
            f"(CASE WHEN value > b{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
        ),
    ),
    tags=("agg", "percentile", "ml-eval"),
)
def q190_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT TABLE — the standard model-calibration report: bucket
    rows by the global deciles of ``value`` (score), then per decile the
    purchase rate and its lift over the base rate.  Deciles come from
    the exact-quantile kernel and are rounded to 6 dp before the
    bucket comparison in both engines (the q182 clamp discipline);
    bucket assignment is value > bound counting, so rows tied at a
    boundary land identically in both engines (unlike ntile's
    equal-count split, which is tie-order-dependent).  Rates and lift
    are ratios of exact integers."""
    from ..operators.quantiles import exact_quantiles

    ev = read_table(spark, sf_dir, "events")
    names = {f"b{i}": i / 10.0 for i in range(1, 10)}
    bounds = exact_quantiles(ev, "value", names).select(
        *[F.round(f"b{i}", 6).alias(f"b{i}") for i in range(1, 10)]
    )
    bump = None
    for i in range(1, 10):
        term = F.when(F.col("value") > F.col(f"b{i}"), 1).otherwise(0)
        bump = term if bump is None else bump + term
    bucketed = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            (F.lit(1) + bump).alias("decile"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
        )
    )
    overall = bucketed.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("is_p").alias("p_all")
    )
    return (
        bucketed.groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("is_p").alias("n_purchase"))
        .crossJoin(F.broadcast(overall))
        .select(
            "decile",
            "n",
            "n_purchase",
            F.round(F.col("n_purchase") / F.col("n"), 6).alias("rate"),
            F.round(
                (F.col("n_purchase") / F.col("n")) / (F.col("p_all") / F.col("n_all")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q191_pit_features",
    oracle="""
    SELECT o.o_orderkey,
           COUNT(h.o_orderkey) AS prior_orders_90d,
           CAST(SUM(CAST(h.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS prior_spend_90d
    FROM orders o
    LEFT JOIN orders h
      ON h.o_custkey = o.o_custkey
     AND h.o_orderdate < o.o_orderdate
     AND h.o_orderdate >= o.o_orderdate - INTERVAL 90 DAY
    GROUP BY 1
    """,
    tags=("join", "feature-store", "point-in-time"),
)
def q191_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature backfill — the leakage-safe feature-store
    pattern: for every order, the customer's order count and spend in
    the STRICTLY-PRIOR 90-day window (never at-or-after the label
    timestamp, so a model trained on these features sees nothing from
    the future).  The history join is a banded self-join on the
    customer key with a range predicate — shuffles on o_custkey, per
    customer cost bounded by history window width; the as-of join (q59)
    is the single-nearest-event special case of this shape.  NULL spend
    for zero-history orders stays NULL (both engines sum an empty set
    to NULL)."""
    o = read_table(spark, sf_dir, "orders")
    h = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderdate").alias("h_orderdate"),
        F.col("o_totalprice").alias("h_totalprice"),
        F.col("o_orderkey").alias("h_orderkey"),
    )
    return (
        o.join(
            h,
            (F.col("h_custkey") == F.col("o_custkey"))
            & (F.col("h_orderdate") < F.col("o_orderdate"))
            & (
                F.col("h_orderdate")
                >= F.col("o_orderdate") - F.expr("INTERVAL 90 DAYS")
            ),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(
            F.count("h_orderkey").alias("prior_orders_90d"),
            F.sum(F.col("h_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("prior_spend_90d"),
        )
    )


@query(
    "q192_market_basket",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT a.p AS p_a, b.p AS p_b, COUNT(*) AS support
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    icnt AS (SELECT p, COUNT(*) AS cnt FROM items GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items)
    SELECT p_a, p_b, support,
           round(CAST(support AS DOUBLE) / ca.cnt, 6) AS conf_a_to_b,
           round(CAST(support AS DOUBLE) / cb.cnt, 6) AS conf_b_to_a,
           round(CAST(support AS DOUBLE) * n_orders / (ca.cnt * cb.cnt), 6) AS lift
    FROM pairs
    JOIN icnt ca ON ca.p = p_a
    JOIN icnt cb ON cb.p = p_b
    CROSS JOIN tot
    ORDER BY support DESC, lift DESC, p_a, p_b
    LIMIT 50
    """,
    tags=("agg", "association-rules", "basket"),
)
def q192_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET 2-itemset mining (the A-priori pair stage): top-50
    co-ordered part pairs by support, with both rule confidences and
    lift.  Pair enumeration is WITHIN-basket only (self-join on the
    order key, a.p < b.p) — cost is sum of per-basket squares, bounded
    by basket width, never a corpus cross product; support/confidence/
    lift are ratios of exact integers rounded at 6 dp.  The q22/q49 set
    lesson applies: the OUTPUT is capped (top-50 with a total
    tie-break), because pair universes grow quadratically with
    vocabulary even when each basket is small."""
    # shared pinned base + sorted baskets (cached_order_items /
    # cached_order_baskets — the q314/q342 family builds the identical
    # tables; rename is a free projection on the pinned frames)
    items = cached_order_items(spark, sf_dir).select(
        F.col("ok").alias("o"), F.col("pk").alias("p")
    )
    # basket-local pair generation (the q322/q342 r12 form): sort each
    # basket once, then posexplode + slice walks exactly the p_a < p_b
    # pairs in-stage — ONE exchange (groupBy o) instead of the
    # self-join's shared exchange + two sorts; (o, p) is unique after
    # the distinct, so counts are identical
    baskets = cached_order_baskets(spark, sf_dir).select(
        F.col("ok").alias("o"), "ps"
    )
    pairs = (
        baskets.select(F.posexplode("ps").alias("ia", "p_a"), "ps")
        .select(
            "p_a",
            F.explode(F.expr("slice(ps, ia + 2, size(ps))")).alias("p_b"),
        )
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    icnt = items.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    tot = items.agg(F.countDistinct("o").alias("n_orders"))
    # no broadcast hint on icnt: the per-item count table grows with the
    # item universe (every part at 100 TB) — AQE broadcasts it while it
    # fits and falls back to a shuffle join when it doesn't
    return (
        pairs.join(icnt.select(F.col("p").alias("p_a"), F.col("cnt").alias("ca")), "p_a")
        .join(icnt.select(F.col("p").alias("p_b"), F.col("cnt").alias("cb")), "p_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "p_a",
            "p_b",
            "support",
            F.round(F.col("support") / F.col("ca"), 6).alias("conf_a_to_b"),
            F.round(F.col("support") / F.col("cb"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("support") * F.col("n_orders") / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
        .orderBy(
            F.col("support").desc(), F.col("lift").desc(), F.col("p_a"), F.col("p_b")
        )
        .limit(50)
    )


@query(
    "q193_seasonal_anomaly",
    oracle="""
    WITH keyed AS (
      SELECT event_id, event_type, value,
             CAST(date_part('dow', ts) + 1 AS BIGINT) AS dow,
             CAST(date_part('hour', ts) AS BIGINT) AS hod
      FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT event_type, dow, hod, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS sx,
             SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sxx
      FROM keyed GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT k.event_id, k.event_type, k.value, s.n,
             round((k.value - CAST(s.sx AS DOUBLE) / s.n)
                   / sqrt((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE)
                           * CAST(s.sx AS DOUBLE) / s.n) / (s.n - 1)), 6) AS z
      FROM keyed k
      JOIN stats s ON s.event_type = k.event_type AND s.dow = k.dow
                  AND s.hod = k.hod
      WHERE s.n >= 5
        AND (CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n)
            > 0
    )
    SELECT event_id, event_type, value, n, z
    FROM scored
    ORDER BY abs(z) DESC, event_id
    LIMIT 100
    """,
    tags=("timeseries", "anomaly", "agg"),
)
def q193_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY-AWARE anomaly detection: z-score each event against
    the mean/std of its OWN (type, day-of-week, hour-of-day) cell, then
    surface the top-100 |z| — the monitoring twin of q130's global MAD
    cut (a value normal at Friday 18:00 may be anomalous at Sunday
    04:00).  Moments accumulate exactly (DECIMAL sums of value and
    value²), so mean/var/z are identical IEEE expressions of identical
    exact inputs in both engines; cells need n >= 5 and positive
    variance.  Day-of-week conventions differ per engine (Spark
    dayofweek is 1=Sunday; DuckDB dow is 0=Sunday) — the oracle shifts
    by +1 so the cell keys agree."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    keyed = ev.select(
        "event_id",
        "event_type",
        "value",
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    )
    dec = F.col("value").cast("decimal(18,6)")
    stats = keyed.groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("sx"),
        F.sum(dec * dec).alias("sxx"),
    )
    sx, sxx, n = F.col("sx").cast("double"), F.col("sxx").cast("double"), F.col("n")
    var_num = sxx - sx * sx / n
    z = (F.col("value") - sx / n) / F.sqrt(var_num / (n - F.lit(1)))
    return (
        keyed.join(F.broadcast(stats), ["event_type", "dow", "hod"])
        .where((n >= 5) & (var_num > 0))
        .select("event_id", "event_type", "value", "n", F.round(z, 6).alias("z"))
        .orderBy(F.abs(F.col("z")).desc(), "event_id")
        .limit(100)
    )


@query(
    "q194_dbscan_clusters",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 6) >= 0.3
    ),
    sym AS (SELECT ia AS u, ib AS v FROM p UNION ALL SELECT ib, ia FROM p),
    deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY 1),
    core AS (SELECT id FROM deg WHERE d >= 3),
    ce AS (
      SELECT s.u, s.v FROM sym s
      JOIN core cu ON cu.id = s.u JOIN core cv ON cv.id = s.v
    ),
    reach(u, v) AS (
      SELECT u, v FROM ce
      UNION
      SELECT r.u, e.v FROM reach r JOIN ce e ON r.v = e.u
    ),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u),
    corec AS (
      SELECT c.id, COALESCE(k.component, c.id) AS cluster FROM core c
      LEFT JOIN comp k ON k.id = c.id
    ),
    border AS (
      SELECT s.u AS id, MIN(cc.cluster) AS cluster
      FROM sym s JOIN corec cc ON cc.id = s.v
      WHERE s.u NOT IN (SELECT id FROM core)
      GROUP BY 1
    )
    SELECT e.vec_id, 
           CASE WHEN c.id IS NOT NULL THEN 'core'
                WHEN b.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(c.cluster, b.cluster) AS cluster
    FROM embeddings e
    LEFT JOIN corec c ON c.id = e.vec_id
    LEFT JOIN border b ON b.id = e.vec_id
    """,
    tags=("ann", "clustering", "dbscan", "embedding"),
)
def q194_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSITY-BASED clustering (DBSCAN, eps = cosine >= 0.3,
    minPts = 3 neighbors): core points have >= 3 eps-neighbors, clusters
    are connected components of the core-core eps-graph, border points
    attach to the SMALLEST cluster id among their core neighbors (plain
    DBSCAN leaves that assignment arbitrary — pinning it to min makes
    the operator deterministic), the rest is noise.  Complements the
    centroid family (k-means/SemDeDup q125, IVF q40, PQ q186) with the
    non-parametric shape: no k, clusters of arbitrary form, explicit
    noise.  The eps-graph comes from the candidate-first cell-pruned
    kernel (operators/ann.eps_neighbor_pairs: triangle-inequality cell
    pairs, provably recall-1.0, degrading to blocked all-pairs only on
    non-clusterable data — r8 verdict fix), components from the Pregel
    min-label loop; the oracle replays density + a RECURSIVE reach (the
    q27 convention).  Isolated
    core points (no core neighbor) are their own singleton cluster in
    both engines."""
    from ..graph.algorithms import connected_components

    emb = read_table(spark, sf_dir, "embeddings")
    # cached+pinned eps-graph feeds degree, core join, CC (and q235)
    pairs = cached_eps_pairs(spark, sf_dir, threshold=0.3).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    sym = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    core = deg.where(F.col("d") >= 3).select("id")
    ce = (
        sym.join(core.withColumnRenamed("id", "u"), "u")
        .join(core.withColumnRenamed("id", "v"), "v")
        .select("u", "v")
    )
    comp = connected_components(ce.select(F.col("u").alias("src"), F.col("v").alias("dst")))
    corec = core.join(comp, "id", "left").select(
        "id", F.coalesce("component", "id").alias("cluster")
    )
    border = (
        sym.join(corec.select(F.col("id").alias("v"), "cluster"), "v")
        .join(core.withColumnRenamed("id", "u"), "u", "left_anti")
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    emb_ids = emb.select(F.col("vec_id"))
    c = corec.select(F.col("id").alias("vec_id"), F.col("cluster").alias("c_cluster"))
    b = border.select(F.col("id").alias("vec_id"), F.col("cluster").alias("b_cluster"))
    # c and b are O(corpus)-row assignment tables — no broadcast hint
    # (AQE decides); the joins co-shuffle on vec_id
    return (
        emb_ids.join(c, "vec_id", "left")
        .join(b, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("c_cluster").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("c_cluster", "b_cluster").alias("cluster"),
        )
    )


@query(
    "q195_fk_orphan_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk, COUNT(*) AS n_rows,
           COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part', COUNT(*),
           COUNT(CASE WHEN p.p_partkey IS NULL THEN 1 END)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
           COUNT(CASE WHEN s.s_suppkey IS NULL THEN 1 END)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer', COUNT(*),
           COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation', COUNT(*),
           COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    """,
    tags=("dq", "audit", "join"),
)
def q195_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY audit across the star schema: for each
    foreign key, total rows and orphan rows (no parent) — the
    cross-table data-quality report next to q85's single-table audit.
    Each check is a left join of the fact scan against the parent KEY
    projection (one column, deduplicated): small parents (nation)
    broadcast, SF-scaled parents (orders, customer) become co-shuffled
    joins under AQE — the hint is deliberately omitted because at
    100 TB the orders key projection is itself billions of rows.  No
    orphan list is materialized, just counts (the list is one filter
    away when a check fails)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    def check(name, child, key, parent, pkey):
        # no unconditional broadcast hint: nation's key projection is 25
        # rows, but orders'/customer's grow with SF — AQE broadcasts each
        # parent while it fits and shuffles when it doesn't
        pk = parent.select(F.col(pkey).alias("_pk")).distinct()
        return (
            child.join(pk, F.col(key) == F.col("_pk"), "left")
            .agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("_pk").isNull(), 1)).alias("n_orphans"),
            )
        )

    return (
        check("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(check("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"))
        .unionByName(
            check("lineitem.l_suppkey->supplier", li, "l_suppkey", supplier, "s_suppkey")
        )
        .unionByName(
            check("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey")
        )
        .unionByName(
            check("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey")
        )
    )


@query(
    "q197_topn_plus_other",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, p.p_brand AS brand,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS rev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nation, brand, rev,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY rev DESC, brand ASC) AS rn
      FROM rev
    )
    SELECT nation,
           CASE WHEN rn <= 3 THEN brand ELSE 'OTHER' END AS brand,
           CAST(SUM(rev) AS DOUBLE) AS revenue,
           COUNT(*) AS n_brands
    FROM ranked
    GROUP BY 1, 2
    """,
    tags=("agg", "window", "bi"),
)
def q197_topn_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-N + OTHER rollup — the standard BI report shape: per nation,
    the top-3 part brands by revenue stay named and the long tail
    collapses into one 'OTHER' row (so the report is fixed-width no
    matter the brand cardinality).  The rank is a per-nation top-k
    window over the ALREADY-AGGREGATED (nation, brand) table — 25
    nations x 25 brand values, both bounded BY CONSTRUCTION (brand is a
    fixed vocabulary, not an SF-scaled id space), so the per-task group
    is bounded at any corpus size: the AGG_INPUT_OK exemption class of
    the registry window audit, same as q97's per-(year, month) table.
    (No WindowGroupLimit applies here — rn feeds a CASE, not a rank
    filter.)  Revenue stays exact DECIMAL until the final cast.  Dimension joins
    are broadcast (supplier/nation/part vs the lineitem fact scan)."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    p = read_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("rev")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("nation").orderBy(F.col("rev").desc(), F.col("brand").asc())
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .select(
            "nation",
            F.when(F.col("rn") <= 3, F.col("brand")).otherwise("OTHER").alias("brand"),
            "rev",
        )
        .groupBy("nation", "brand")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_brands"),
        )
    )


@query(
    "q198_bm25_from_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    postings AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM toks
      WHERE token IN ('scan', 'merge', 'batch') GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    st AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    idf AS (
      SELECT token, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT token, COUNT(*) AS df FROM postings GROUP BY token), st
    ),
    scored AS (
      SELECT p.doc_id,
             round(SUM(idf.idf * p.tf * 2.2 /
                       (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6)
               AS bm25
      FROM postings p JOIN idf USING (token) JOIN dl USING (doc_id), st
      GROUP BY p.doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT 10
    """,
    tags=("text", "search", "bm25", "index"),
)
def q198_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 answered FROM THE INVERTED INDEX
    (operators/textindex.py) rather than a corpus scan: postings are
    filtered to the query terms before any scoring, document frequency
    comes from the pruned postings, and only matching documents are
    scored — q67 computes the same formula by scanning the corpus; this
    query's hash gate proves the index path returns the identical
    ranking.  On the persisted form of the index (lifecycle test), the
    term filter reaches the parquet scan of a token-sorted posting
    table, so a keyword query reads posting-list runs, not the corpus —
    the retrieval economics an engine owes at 100 TB."""
    from ..operators.textindex import bm25_topk, build_text_index

    docs = read_table(spark, sf_dir, "documents")
    postings, doclens, stats = build_text_index(docs)
    return bm25_topk(postings, doclens, stats, ["scan", "merge", "batch"], k=10)


@query(
    "q199_incremental_rollup",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1, 2
    """,
    tags=("agg", "incremental", "etl"),
)
def q199_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE: the monthly revenue rollup is
    computed as partial aggregates over a BASE period (orders before
    1996-07) merged with partials over the DELTA (the rest) — sums of
    sums and counts of counts — while the oracle recomputes from
    scratch.  The hash gate is therefore the mergeability property
    itself: maintaining a materialized rollup by folding in a late
    batch equals full recomputation, because COUNT/DECIMAL-SUM are
    associative-commutative monoids (the same algebra map-side partial
    aggregation relies on).  At 100 TB this is the difference between
    touching one day's partition and re-scanning years."""
    orders = read_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-07-01").cast("timestamp")

    def partial(df):
        return df.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
            "o_orderpriority",
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_rev"),
        )

    base = partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = partial(orders.where(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month", "o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("_rev").cast("double").alias("revenue"),
        )
    )


@query(
    "q200_rolling_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT CASE WHEN du.d = days.d THEN du.user_id END) AS dau,
           COUNT(DISTINCT du.user_id) AS wau
    FROM days
    JOIN du ON du.d <= days.d AND du.d >= days.d - INTERVAL 6 DAY
    GROUP BY 1
    """,
    tags=("timeseries", "distinct", "engagement"),
)
def q200_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING ENGAGEMENT: daily active users and trailing-7-day active
    users per day — the DAU/WAU report.  Distinct (day, user) pairs are
    reduced FIRST (the cheap exact shuffle), then a banded range join
    fans each pair to at most 7 report days and a distinct count per
    day finishes — never a sliding window over raw events, and the
    fan-out is bounded by the window width.  The same shape with HLL
    sketches instead of exact distincts (q173's mergeable union) is the
    approximate path when user cardinality explodes."""
    ev = read_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().select(F.col("d").alias("rd"))
    return (
        du.join(
            days,
            (F.col("d") <= F.col("rd"))
            & (F.col("d") >= F.col("rd") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy(F.date_format("rd", "yyyy-MM-dd").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("d") == F.col("rd"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
    )


@query(
    "q201_cep_absence_pattern",
    oracle="""
    WITH s AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'),
    p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
             s.ts AS s_ts, p.ts AS p_ts
      FROM s JOIN p ON p.user_id = s.user_id
       AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 72 HOUR
    )
    SELECT c.user_id, c.signup_id, c.purchase_id,
           (epoch_us(c.p_ts) - epoch_us(c.s_ts)) // 60000000 AS mins_to_convert
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM events e
      WHERE e.event_type = 'error' AND e.user_id = c.user_id
        AND e.ts > c.s_ts AND e.ts < c.p_ts
    )
    """,
    tags=("cep", "join", "funnel"),
)
def q201_cep_absence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLEX-EVENT-PROCESSING pattern with a NEGATION clause: signup
    followed by purchase within 72 h with NO error event in between for
    that user — the "A then B within T, absent C" shape that ordered
    funnels (q156) cannot express (funnels only require presence).
    Candidates come from a banded interval self-join on the user key;
    the absence condition is a LEFT ANTI join of candidates against the
    error stream with a range predicate — both shuffle on user_id, so
    per-user cost is bounded by that user's event counts, and nothing
    resembling a global sequence scan exists in the plan.  Minute
    deltas are exact integers.

    Grid budget: microsecond spans div 6e7 - any calendar span fits int64."""
    ev = read_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts"), F.col("event_id").alias("signup_id")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cand = s.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 72 HOURS")),
    ).select("user_id", "signup_id", "purchase_id", "s_ts", "p_ts")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    return (
        cand.join(
            err,
            (F.col("e_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("s_ts"))
            & (F.col("e_ts") < F.col("p_ts")),
            "left_anti",
        )
        .select(
            "user_id",
            "signup_id",
            "purchase_id",
            # exact integer division (div): `/` on longs is a double
            # division whose truncation can disagree with the oracle at
            # exact-multiple boundaries
            F.expr(
                "(unix_micros(p_ts) - unix_micros(s_ts)) div 60000000"
            ).alias("mins_to_convert"),
        )
    )


@query(
    "q202_feature_standardization",
    oracle="""
    WITH vals AS (
      -- cast to DOUBLE BEFORE the multiply (the _quantized_vecs
      -- convention): a FLOAT-precision product flips floor() on values
      -- whose fraction sits near the .5 snap boundary
      SELECT u.pos,
             CAST(floor(CAST(embedding[u.pos + 1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS vm
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) u
    ),
    stats AS (
      SELECT pos, COUNT(*) AS n, SUM(vm) AS sx, SUM(vm * vm) AS sxx
      FROM vals GROUP BY pos
    )
    SELECT pos, n,
           CAST(CASE WHEN sx >= 0 THEN (2 * sx + n) // (2 * n)
                     ELSE -((2 * (-sx) + n) // (2 * n)) END AS DOUBLE)
             / 1000000 AS mean,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      / (n - 1)) / 1000000, 6) AS std,
           (SELECT COUNT(*) FROM vals v WHERE v.pos = stats.pos
              AND ABS(CAST(v.vm AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                  > 3 * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                             / (n - 1))) AS n_outliers
    FROM stats
    """,
    tags=("embedding", "stats", "feature-prep"),
)
def q202_feature_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION feature statistics over the embedding column —
    the standardization profile (mean, std, |z| > 3 outlier count per
    dimension) computed before scaling/quantizing vectors for training:
    the per-FEATURE complement of q74's per-vector stats and the input
    profile PQ/int8 quantization (q133/q186) assumes.  Values snap to
    the 1e-6 integer micro-grid first (the _quantized_vecs convention),
    so moments are exact integer sums; posexplode shuffles (pos)-keyed
    rows with map-side partials — 64 output rows at any corpus size.
    The outlier pass re-joins the broadcast 64-row stats table against
    the exploded values (one extra scan, no second shuffle)."""
    emb = read_table(spark, sf_dir, "embeddings")
    from ..operators.ann import micro_array

    vals = emb.select(
        F.posexplode(micro_array(F.col("embedding"))).alias("pos", "vm")
    ).localCheckpoint(eager=True)  # feeds the stats agg AND the outlier scan
    stats = vals.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("sx"),
        F.sum((F.col("vm") * F.col("vm")).cast("decimal(38,0)")).alias("sxx"),
    )
    n, sx = F.col("n"), F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    mean = sx / n
    std = F.sqrt((sxx - sx * sx / n) / (n - F.lit(1)))
    enriched = stats.select(
        "pos",
        "n",
        mean.alias("_mean"),
        std.alias("_std"),
        # exact half-away-from-zero at the 6th dp via integer division:
        # sx/n can be an EXACT k.5 micro-unit tie (n = 500), where the
        # engines' float round() implementations disagree — pure-integer
        # rounding cannot
        F.expr(
            "CAST(CASE WHEN sx >= 0 THEN (2 * sx + n) div (2 * n) "
            "ELSE -((2 * (-sx) + n) div (2 * n)) END AS DOUBLE) / 1000000"
        ).alias("mean"),
        F.round(std / 1_000_000, 6).alias("std"),
    )
    outliers = (
        vals.join(F.broadcast(enriched.select("pos", "_mean", "_std")), "pos")
        .where(F.abs(F.col("vm").cast("double") - F.col("_mean")) > 3 * F.col("_std"))
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        enriched.join(outliers, "pos", "left")
        .select(
            "pos",
            "n",
            "mean",
            "std",
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


@query(
    "q203_markov_backtest",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    labeled AS (
      SELECT *, CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                % 5 = 0 AS is_test
      FROM seq WHERE next_type IS NOT NULL
    ),
    trans AS (
      SELECT event_type, next_type, COUNT(*) AS cnt
      FROM labeled WHERE NOT is_test GROUP BY 1, 2
    ),
    pred AS (
      SELECT event_type, next_type AS predicted FROM (
        SELECT event_type, next_type, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY cnt DESC, next_type ASC) AS rn
        FROM trans) WHERE rn = 1
    )
    SELECT COUNT(*) AS n_test,
           CAST(SUM(CASE WHEN l.next_type = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(SUM(CASE WHEN l.next_type = p.predicted THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS accuracy
    FROM labeled l JOIN pred p USING (event_type)
    WHERE l.is_test
    """,
    tags=("ml-eval", "markov", "backtest"),
)
def q203_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXT-EVENT PREDICTION BACKTEST: train the first-order transition
    argmax (q176's matrix) on an md5-derived 80% split of transitions
    and score top-1 accuracy on the held-out 20% — the evaluation loop
    of the sequence-model family, exact end to end (md5 split, integer
    counts, deterministic argmax tie-break, one final ratio).  The lead
    window partitions by high-cardinality user_id (the q62 class);
    train counts and predictions are tiny broadcastable tables."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    labeled = seq.withColumn(
        "is_test",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
        == 0,
    ).localCheckpoint(eager=True)  # feeds the train aggregate AND the
    # held-out scoring join — unpinned, the corpus-wide lead window
    # would execute twice (the multi-consumer rule)
    trans = (
        labeled.where(~F.col("is_test"))
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pw = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("next_type").asc()
    )
    pred = (
        trans.withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("next_type").alias("predicted"))
    )
    hit = F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0)
    return (
        labeled.where(F.col("is_test"))
        .join(F.broadcast(pred), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(hit).alias("n_correct"),
            F.round(F.sum(hit) / F.count(F.lit(1)), 6).alias("accuracy"),
        )
    )


@query(
    "q204_gopher_rules",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '^[A-Za-z]+$')))
                  AS BIGINT) AS n_alpha,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
               AS n_chars,
             CAST(len(list_filter(list_distinct(ws), w -> w IN ('the', 'a')))
                  AS BIGINT) AS n_stop
      FROM m WHERE len(ws) > 0
    )
    SELECT doc_id, n_words,
           round(CAST(n_chars AS DOUBLE) / n_words, 6) AS mean_word_len,
           round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_ratio,
           n_stop,
           (n_words BETWEEN 30 AND 400)
             AND (n_chars * 10 >= n_words * 25 AND n_chars * 10 <= n_words * 70)
             AND (n_alpha * 10 >= n_words * 9)
             AND (n_stop >= 2) AS keep
    FROM f
    """,
    tags=("text", "quality", "curation", "gopher"),
)
def q204_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE quality rules (Rae et al. 2021, adapted thresholds):
    word-count band, mean word length band, alphabetic-word ratio, and
    minimum distinct-stopword presence — the composite rule filter every
    web-scale curation pipeline runs before dedup, as ONE projection of
    native expressions over the token array (no joins, no shuffle; the
    filter is embarrassingly parallel by design).  Band predicates are
    EXACT integer cross-multiplications (n_chars*10 >= n_words*25 is
    mean_word_len >= 2.5 with no float), so the keep decision can never
    drift an ulp between engines; the reported ratios are display-only
    rounded doubles."""
    docs = read_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    m = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") > 0)
    f = m.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.filter("ws", lambda w: w.rlike("^[A-Za-z]+$")))
        .cast("long")
        .alias("n_alpha"),
        # Σ word lengths == length of the empty-separator concat —
        # codegen-native, never an interpreted per-element fold
        F.length(F.array_join("ws", "")).cast("long").alias("n_chars"),
        F.size(
            F.filter(F.array_distinct("ws"), lambda w: w.isin("the", "a"))
        )
        .cast("long")
        .alias("n_stop"),
    )
    keep = (
        F.col("n_words").between(30, 400)
        & (F.col("n_chars") * 10 >= F.col("n_words") * 25)
        & (F.col("n_chars") * 10 <= F.col("n_words") * 70)
        & (F.col("n_alpha") * 10 >= F.col("n_words") * 9)
        & (F.col("n_stop") >= 2)
    )
    return f.select(
        "doc_id",
        "n_words",
        F.round(F.col("n_chars") / F.col("n_words"), 6).alias("mean_word_len"),
        F.round(F.col("n_alpha") / F.col("n_words"), 6).alias("alpha_ratio"),
        "n_stop",
        keep.alias("keep"),
    )


@query(
    "q205_triplet_mining",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS anchor_id, a.label AS al, b.vec_id AS cand_id,
             b.label AS cl,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    neg AS (
      SELECT anchor_id,
             first(cand_id ORDER BY cos DESC, cand_id ASC) AS neg_id,
             first(cos ORDER BY cos DESC, cand_id ASC) AS neg_cos
      FROM pairs WHERE al <> cl GROUP BY anchor_id
    ),
    pos AS (
      SELECT anchor_id,
             first(cand_id ORDER BY cos ASC, cand_id ASC) AS pos_id,
             first(cos ORDER BY cos ASC, cand_id ASC) AS pos_cos
      FROM pairs WHERE al = cl GROUP BY anchor_id
    )
    SELECT e.vec_id AS anchor_id, CAST(e.label AS BIGINT) AS label,
           pos_id, pos_cos, neg_id, neg_cos
    FROM embeddings e
    LEFT JOIN neg ON neg.anchor_id = e.vec_id
    LEFT JOIN pos ON pos.anchor_id = e.vec_id
    """,
    tags=("embedding", "ann", "training-prep", "triplet"),
)
def q205_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-TRIPLET MINING for embedding training
    (operators/ann.triplet_mining): per anchor, the hardest negative
    (highest-cosine different-label vector) and hardest positive
    (lowest-cosine same-label vector) — the batch-construction step of
    metric learning.  The kernel reduces inside each GEMM block pair
    (block-local extremes only, never the O(n²) score matrix) and a
    per-anchor ordered-argmax merge finishes; the oracle brute-forces
    all pairs, so the hash gate proves the blocked reduction is
    lossless.  Ties break to the smallest candidate id on the rounded
    score in both engines."""
    from ..operators.ann import triplet_mining

    emb = read_table(spark, sf_dir, "embeddings")
    return triplet_mining(emb)


@query(
    "q206_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
      FROM customer GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_rows,
           MIN(sz) AS min_class_size,
           COUNT(CASE WHEN sz < 5 THEN 1 END) AS n_violating_classes,
           CAST(COALESCE(SUM(CASE WHEN sz < 5 THEN sz END), 0) AS BIGINT)
             AS n_violating_rows
    FROM classes
    """,
    tags=("dq", "privacy", "governance"),
)
def q206_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit over the (nation, market segment) quasi-
    identifier pair: equivalence-class census plus the k=5 violation
    counts — the privacy-governance check a dataset owes before export
    (a class smaller than k re-identifies its members).  One groupBy
    plus a 5-number global aggregate; at 100 TB the quasi-identifier
    census is the same hash-agg shape as any rollup, and the violating
    ROWS (not just counts) are one semi-join away when remediation
    needs them."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    viol = F.when(F.col("sz") < 5, F.col("sz"))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("sz").alias("n_rows"),
        F.min("sz").alias("min_class_size"),
        F.count(viol).alias("n_violating_classes"),
        F.coalesce(F.sum(viol), F.lit(0)).alias("n_violating_rows"),
    )


_Q207_SQL = """
    WITH RECURSIVE e0 AS (
      SELECT 's:' || CAST(s_suppkey AS STRING) AS src,
             'n:' || CAST(s_nationkey AS STRING) AS dst FROM supplier
      UNION ALL
      SELECT 'c:' || CAST(c_custkey AS STRING),
             'n:' || CAST(c_nationkey AS STRING) FROM customer
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    reach(id, dist) AS (
      SELECT DISTINCT 's:' || CAST(s_suppkey AS STRING), 0
      FROM supplier WHERE s_suppkey < 3
      UNION ALL
      SELECT e.dst, r.dist + 1
      FROM reach r JOIN e ON e.src = r.id WHERE r.dist < 3
    )
    SELECT id, CAST(MIN(dist) AS INT) AS dist FROM reach GROUP BY id
"""


@query("q207_recursive_cte_sql", oracle=_Q207_SQL, tags=("sql", "graph", "recursive"))
def q207_recursive_cte_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on the raw SQL surface (Spark 4 recursive CTEs):
    3-hop BFS reachability over the supplier–nation–customer bipartite
    graph expressed as ONE recursive query — the IDENTICAL SQL text
    runs on both engines (the q57 discipline), proving the engine's SQL
    dialect carries the recursion feature users would otherwise need
    the iterative DataFrame loop for (q70 is this query's Pregel twin;
    q147 the chain-join member).  Bounded depth (dist < 3) keeps the
    path enumeration finite; min-dist per node is the final rollup."""
    from ..sources import load_all

    load_all(spark, sf_dir)
    return spark.sql(_Q207_SQL)


_Q208_SQL = """
    SELECT n.n_name AS nation, t.s_name, t.s_acctbal
    FROM nation n,
    LATERAL (
      SELECT s_name, s_acctbal FROM supplier s
      WHERE s.s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
    ) t
"""


@query("q208_lateral_topk", oracle=_Q208_SQL, tags=("sql", "lateral", "topk"))
def q208_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED LATERAL subquery on the SQL surface: per nation, the
    top-2 suppliers by account balance via `, LATERAL (... ORDER BY ...
    LIMIT 2)` — identical text on both engines.  Same logical result as
    a rank-window top-k (q09's shape), but exercising the lateral-join
    operator users port from Postgres/DuckDB; deterministic via the
    (s_acctbal DESC, s_name ASC) total order."""
    from ..sources import load_all

    load_all(spark, sf_dir)
    return spark.sql(_Q208_SQL)


@query(
    "q209_udtf_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, i AS chunk_id,
           len(toks[(i * 64 + 1):((i + 1) * 64)]) AS chunk_tokens
    FROM t, unnest(range(0, CAST(ceil(len(toks) / 64.0) AS INT))) AS u(i)
    WHERE len(toks) > 0
    """,
    tags=("text", "chunking", "udtf", "api-surface"),
)
def q209_udtf_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON UDTF (Spark 4 user-defined TABLE function) splitting each
    document into 64-token chunk rows — the extension-point API for
    one-row-to-many transforms that don't fit a scalar UDF.  The native
    array-expression form (q56) is the FAST path for this exact logic;
    this query exists to keep the UDTF surface exercised and gated:
    same hash oracle discipline as everything else.  The UDTF is
    deterministic and its lateral-join plan partitions like any
    projection — Python cost is the documented trade, which is why only
    the chunk COUNTS cross the boundary here (text stays in the JVM
    q56 path)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    @udtf(
        returnType=StructType(
            [
                StructField("chunk_id", IntegerType()),
                StructField("chunk_tokens", IntegerType()),
            ]
        ),
        useArrow=True,  # Arrow-optimized UDTF: batched transfer, never
        # row-at-a-time pickling (the registry codegen audit's line)
    )
    class ChunkCounter:
        def eval(self, n_tokens: int):
            if n_tokens is None or n_tokens <= 0:
                return
            full, rem = divmod(n_tokens, 64)
            for i in range(full):
                yield i, 64
            if rem:
                yield full, rem

    spark.udtf.register("chunk_counter", ChunkCounter)
    docs = read_table(spark, sf_dir, "documents")
    docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_tokens"),
    ).createOrReplaceTempView("_q209_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, CAST(c.chunk_tokens AS BIGINT) AS chunk_tokens
        FROM _q209_docs d, LATERAL chunk_counter(d.n_tokens) c
        WHERE d.n_tokens > 0
        """
    )


@query(
    "q210_kaplan_meier",
    oracle="""
    WITH su AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS s_day
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    pu AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS p_day
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    horizon AS (SELECT MAX(date_trunc('day', ts)) AS h FROM events),
    subj AS (
      SELECT su.user_id,
             CASE WHEN pu.p_day IS NOT NULL AND pu.p_day >= su.s_day
                  THEN date_diff('day', su.s_day, pu.p_day) END AS t_event,
             date_diff('day', su.s_day, h.h) AS t_censor
      FROM su LEFT JOIN pu USING (user_id) CROSS JOIN horizon h
    ),
    obs AS (
      SELECT COALESCE(t_event, t_censor) AS t,
             CASE WHEN t_event IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM subj
    ),
    grid AS (
      SELECT t, CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS removed
      FROM obs GROUP BY t
    ),
    km AS (
      SELECT t, d, removed,
             CAST((SELECT COUNT(*) FROM obs) AS BIGINT)
               - CAST(COALESCE(SUM(removed) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT t AS day, n_risk, d AS n_converted,
           CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(SUM(CASE WHEN d > 0 AND d < n_risk
                                        THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                                        ELSE 0 END)
                               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)), 6) END AS survival
    FROM km WHERE d > 0
    """,
    tags=("timeseries", "survival", "ml-eval"),
)
def q210_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival curve for time-to-first-purchase after
    first signup, right-censored at the observation horizon — the
    survival-analysis member of the eval family (retention q99 is its
    fixed-grid cousin).  The per-user reduction (first signup, first
    purchase, censor time) is the only corpus-scale work; the KM table
    itself is ONE ROW PER DISTINCT EVENT DAY — bounded by the calendar,
    not the corpus — so its cumulative windows are the bounded-
    aggregate-input class (q97/q197), not the banned per-row kind.
    The survivor product is computed as exp(Σ ln(1 - d/n)): d/n are
    exact integer ratios, identical doubles in both engines, and the
    final 6-dp round absorbs libm last-ulp noise (the q67 ln
    convention)."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day).alias("s_day"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(day).alias("p_day"))
    )
    horizon = ev.agg(F.max(day).alias("h"))
    subj = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("p_day").isNotNull() & (F.col("p_day") >= F.col("s_day")),
                F.datediff("p_day", "s_day"),
            ).alias("t_event"),
            F.datediff("h", "s_day").alias("t_censor"),
        )
    )
    obs = subj.select(
        F.coalesce("t_event", "t_censor").alias("t"),
        F.when(F.col("t_event").isNotNull(), 1).otherwise(0).alias("died"),
    ).localCheckpoint(eager=True)  # feeds the grid agg AND the total count
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    grid = obs.groupBy("t").agg(
        F.sum("died").alias("d"), F.count(F.lit(1)).alias("removed")
    )
    from pyspark.sql.window import Window

    # windows over the per-DAY table: input bounded by the calendar
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        grid.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("removed").over(wprev), F.lit(0)),
        )
        .withColumn(
            # d == n_risk is an absorbing zero: ln(0) is NULL in Spark
            # (silently dropped by SUM) but an ERROR in DuckDB — both
            # sides special-case it explicitly instead of relying on
            # either behavior
            "survival",
            F.when(
                F.max(
                    F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
                ).over(wcum)
                == 1,
                F.lit(0.0),
            ).otherwise(
                F.round(
                    F.exp(
                        F.sum(
                            F.when(
                                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                                F.log(
                                    1 - F.col("d").cast("double") / F.col("n_risk")
                                ),
                            ).otherwise(F.lit(0.0))
                        ).over(wcum)
                    ),
                    6,
                )
            ),
        )
    )
    return km.where(F.col("d") > 0).select(
        F.col("t").alias("day"),
        "n_risk",
        F.col("d").alias("n_converted"),
        "survival",
    )


@query(
    "q211_filtered_knn",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 20
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE label < 5
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
    tags=("ann", "filtered-search", "embedding"),
)
def q211_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED VECTOR SEARCH: top-10 neighbors restricted to vectors
    with label < 5 — the metadata-constrained ANN query every vector
    store fields.  Strategy matters: this is PRE-filtering (restrict
    the corpus, then search), which always returns exactly k qualifying
    neighbors; POST-filtering (search, then drop non-matching) silently
    underfills k at low selectivity — the classic filtered-ANN trap,
    which is why the filter composes with the SCAN side of the blocked
    GEMM here (predicate pushed to parquet, blocks built from the
    filtered corpus only).  With an IVF index the same pre-filter
    applies to the assignment table (hive-partitioned by cell) before
    probing."""
    from ..operators.ann import brute_force_knn

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("label") < 5)
    queries = emb.where(F.col("vec_id") < 20)
    return brute_force_knn(corpus, queries, k=10)


def _ivf_recall_oracle(
    n_cells: int = 16, iters: int = 2, nprobe: int = 4, k: int = 10, dim: int = 64
) -> str:
    """Exact-vs-IVF recall: the q40 Lloyd-unrolled IVF top-k joined
    against the q24 exact top-k, per query."""
    from .textops import _KM_ASSIGN_TPL, _lloyd_ctes

    steps = _lloyd_ctes(n_cells, iters, dim)
    steps.append(_KM_ASSIGN_TPL.format(name="afinal", cents=f"cents{iters}"))
    steps.append(
        "raw AS (SELECT vec_id AS id, embedding::DOUBLE[] AS rv FROM embeddings)"
    )
    steps.append("q AS (SELECT id AS query_id, rv AS qv FROM raw WHERE id < 20)")
    steps.append(
        f"""probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                      c.cell ASC) AS rn
    FROM q CROSS JOIN cents{iters} c
  ) WHERE rn <= {nprobe}
)"""
    )
    steps.append(
        """ivf_scored AS (
  SELECT p.query_id, a.id AS neighbor_id,
         round(list_cosine_similarity(q.qv, r.rv), 6) AS cosine
  FROM probes p
  JOIN afinal a ON a.cell = p.cell
  JOIN q ON q.query_id = p.query_id
  JOIN raw r ON r.id = a.id
  WHERE a.id <> p.query_id
)"""
    )
    steps.append(
        f"""ivfk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM ivf_scored) WHERE rn <= {k}
)"""
    )
    steps.append(
        """ex_scored AS (
  SELECT q.query_id, r.id AS neighbor_id,
         round(list_cosine_similarity(q.qv, r.rv), 6) AS cosine
  FROM q JOIN raw r ON r.id <> q.query_id
)"""
    )
    steps.append(
        f"""exk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM ex_scored) WHERE rn <= {k}
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT e.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_common,
       round(COUNT(i.neighbor_id) / {k}.0, 6) AS recall
FROM exk e
LEFT JOIN ivfk i ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
GROUP BY e.query_id"""
    )


@query(
    "q212_ivf_recall_audit",
    oracle=_ivf_recall_oracle(),
    tags=("ann", "ivf", "recall", "ml-eval"),
)
def q212_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF RECALL@10 audit: the engine measures its own approximate
    index — per query, how many of the exact top-10 the 4-probe IVF
    search returned.  Both paths are deterministic (Lloyd-trained cells,
    rounded-score tie-breaks), so recall itself is deterministic and the
    oracle replays BOTH searches and the join.  Operationally this is
    the quality dial next to the cell-balance dial (q166): probe count
    trades recall for candidate volume, and this query is how the trade
    is measured per corpus instead of guessed."""
    from ..operators.ann import brute_force_knn, ivf_knn

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = brute_force_knn(emb, queries, k=10).select("query_id", "neighbor_id")
    approx = ivf_knn(
        emb,
        queries,
        k=10,
        nprobe=4,
        index=cached_ivf_index(spark, sf_dir, n_cells=16, iters=2),
    ).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_nid").alias("n_common"),
            F.round(F.count("a_nid") / F.lit(10.0), 6).alias("recall"),
        )
    )


@query(
    "q213_seasonal_decomposition",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(date_part('dow', ts) + 1 AS BIGINT) AS dow,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    ma AS (
      SELECT d, dow, cnt,
             SUM(cnt)  OVER w7 AS s7,
             COUNT(*) OVER w7 AS n7
      FROM daily
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT d, dow, cnt, s7, 7 * cnt - s7 AS dnum
      FROM ma WHERE n7 = 7
    ),
    seas AS (
      SELECT dow, CAST(SUM(dnum) AS BIGINT) AS snum,
             CAST(COUNT(*) AS BIGINT) AS sn
      FROM detr GROUP BY dow
    )
    SELECT strftime(t.d, '%Y-%m-%d') AS day, t.cnt,
           round(CAST(t.s7 AS DOUBLE) / 7, 6) AS trend,
           round(CAST(s.snum AS DOUBLE) / (7 * s.sn), 6) AS seasonal,
           round(CAST(t.dnum AS DOUBLE) / 7
                 - CAST(s.snum AS DOUBLE) / (7 * s.sn), 6) AS remainder
    FROM detr t JOIN seas s USING (dow)
    """,
    tags=("timeseries", "decomposition", "stl"),
)
def q213_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION of the daily event series:
    trend = centered 7-day moving average (full windows only),
    weekly seasonal = per-weekday mean of the detrended series,
    remainder = the rest — the additive decompose behind STL, closing
    the time-series family (naive backtest q183, EWMA q155, anomalies
    q193, survival q210).  Cross-engine exactness: every intermediate
    stays an INTEGER NUMERATOR (detrended value = 7·cnt − Σ7; seasonal
    = Σnumerators/(7·n)) so the only doubles are final divisions of
    identical exact integers — a running float mean would drift with
    summation order.  The windows run over the aggregated DAY grid
    (calendar-bounded input, the audited q210 class)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"),
        F.dayofweek("ts").cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window

    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "dow",
        "cnt",
        F.sum("cnt").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    detr = (
        ma.where(F.col("n7") == 7)
        .withColumn("dnum", 7 * F.col("cnt") - F.col("s7"))
        .localCheckpoint(eager=True)  # feeds the seasonal agg AND the
        # final join; pins the corpus-scale daily groupBy to one run
    )
    seas = detr.groupBy("dow").agg(
        F.sum("dnum").alias("snum"), F.count(F.lit(1)).alias("sn")
    )
    seasonal = F.col("snum").cast("double") / (7 * F.col("sn"))
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "cnt",
            F.round(F.col("s7").cast("double") / 7, 6).alias("trend"),
            F.round(seasonal, 6).alias("seasonal"),
            F.round(F.col("dnum").cast("double") / 7 - seasonal, 6).alias(
                "remainder"
            ),
        )
    )


@query(
    "q214_cluster_aware_split",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)-1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks
      )
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.id = c.id_a JOIN sizes sb ON sb.id = c.id_b
      WHERE round(CAST(c.n_common AS DOUBLE)
                  / (sa.n + sb.n - c.n_common), 6) >= 0.5
    ),
    gedges AS (SELECT id_a AS u, id_b AS v FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM gedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN gedges e ON r.v = e.u
    ),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u),
    assigned AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS cluster,
             len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    split_of AS (
      SELECT doc_id, cluster, n_tokens,
             CASE WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10 < 8 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10 = 8 THEN 'dev'
                  ELSE 'test' END AS split
      FROM assigned
    ),
    leaks AS (
      SELECT sa.split, COUNT(*) AS n
      FROM pairs p
      JOIN split_of sa ON sa.doc_id = p.id_a
      JOIN split_of sb ON sb.doc_id = p.id_b
      WHERE sa.split <> sb.split
      GROUP BY 1
    )
    SELECT s.split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT s.cluster) AS n_clusters,
           CAST(SUM(s.n_tokens) AS BIGINT) AS n_tokens,
           CAST(COALESCE(MAX(l.n), 0) AS BIGINT) AS cross_split_pairs
    FROM split_of s LEFT JOIN leaks l ON l.split = s.split
    GROUP BY s.split
    """,
    tags=("text", "split", "dedup", "curation"),
)
def q214_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/dev/test SPLITTING: near-duplicate documents
    must land in the SAME split (a test doc whose near-copy sits in
    train is contamination q148 can only detect after the fact) — so
    the split key is the doc's near-dup CLUSTER id (connected components
    over the Jaccard >= 0.5 pair graph, q27's operator; singletons are
    their own cluster), hashed with the md5 idiom of q68.  The
    cross_split_pairs audit column is 0 BY CONSTRUCTION — and the
    oracle recomputes it independently, so the hash gate proves the
    guarantee rather than assuming it.  Cluster and pair tables are the
    memoized corpus artifacts; only the split arithmetic is new work."""
    from ..graph.algorithms import connected_components
    from .textops import cached_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = cached_jaccard_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(pairs)
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    assigned = (
        docs.select("doc_id", ntok.alias("n_tokens"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .withColumn("cluster", F.coalesce("component", F.col("doc_id")))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "dev").otherwise("test")
    )
    split_of = assigned.select(
        "doc_id", "cluster", "n_tokens", split.alias("split")
    ).localCheckpoint(eager=True)  # feeds the rollup AND both leak joins
    sa = split_of.select(F.col("doc_id").alias("id_a"), F.col("split").alias("s_a"))
    sb = split_of.select(F.col("doc_id").alias("id_b"), F.col("split").alias("s_b"))
    leaks = (
        cached_jaccard_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("s_a") != F.col("s_b"))
        .groupBy(F.col("s_a").alias("split"))
        .agg(F.count(F.lit(1)).alias("n_leak"))
    )
    return (
        split_of.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .join(leaks, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "n_tokens",
            F.coalesce("n_leak", F.lit(0)).alias("cross_split_pairs"),
        )
    )
