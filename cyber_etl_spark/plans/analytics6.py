"""Round-9 session-2 analytics family: time-weighted aggregation,
exact proportional allocation, cross-source distribution normalization
and experiment-design balance auditing — the operators a measurement /
experimentation platform runs next to the q266+ business suite and the
q292/q294 A/B family.

Cross-engine exactness follows the module rules established in
analytics2-5: integer sufficient statistics widened to
DECIMAL(38,0)/HUGEINT, half-away integer-division rounding (`_ha6`)
for exact rationals, micro-unit grids sized so every pre-sqrt double is
an exact integer below 2^53, and md5-digit determinism for every
pseudo-random draw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.statcat import CMS_DEPTH, CMS_WIDTH
from ..session import local_frame
from ..sources import read_table
from .analytics2 import _ha6_sql
from .analytics5 import _md5_mod, _md5_mod_sql
from .registry import query


@query(
    "q332_time_weighted_value",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS xu
      FROM events WHERE value IS NOT NULL
    ),
    w AS (
      SELECT event_type, xu, ts, event_id,
             lead(ts) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS nts
      FROM x
    ),
    iv AS (
      SELECT event_type, xu, epoch_us(nts) - epoch_us(ts) AS dt
      FROM w WHERE nts IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             COUNT(*) AS n_intervals,
             SUM(CAST(dt AS HUGEINT)) AS den,
             SUM(CAST(xu AS HUGEINT) * dt) AS num,
             SUM(CAST(xu AS HUGEINT)) AS sxu
      FROM iv GROUP BY 1
    )
    SELECT event_type,
           CAST(n_intervals AS BIGINT) AS n_intervals,
           CAST(den // 1000000 AS BIGINT) AS held_seconds,
           {_ha6_sql("num", "den * 1000000")} AS twap,
           {_ha6_sql("sxu", "n_intervals * CAST(1000000 AS HUGEINT)")}
             AS start_mean
    FROM s ORDER BY event_type
    """,
    tags=("timeseries", "window", "twap"),
)
def q332_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event type: each event's
    `value` is held until the user's NEXT event of the same type, so an
    event that stood for a week weighs 7×86400 times one that was
    replaced a second later — the correct average for state-like
    metrics (plan price, position size, device setting), where the
    row-weighted mean (published alongside as `start_mean`) over-counts
    churny users.

    Scale plan: the hold interval is one lead() over the HIGH-cardinality
    (user_id, event_type) key (never a per-type global order); the rest
    is a single map-side-combinable moment aggregate per type.
    Exactness: values snap to 1e-6-unit integers, durations are exact
    integer microseconds, so num = Σ value·dt and den = Σ dt are exact
    DECIMAL(38,0) sums and both published means are half-away integer
    rationals (`_ha6` idiom).  The DECIMAL(38,0) width bounds num at
    ~1e32 for this corpus; at 100 TB the duration grid should coarsen
    to seconds (num scales linearly with it)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("xu"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    iv = (
        x.withColumn("nts", F.lead("ts").over(w))
        .where(F.col("nts").isNotNull())
        .select(
            "event_type",
            "xu",
            F.expr("unix_micros(nts) - unix_micros(ts)").alias("dt"),
        )
    )
    s = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("dt").cast("decimal(38,0)")).alias("den"),
        F.sum(F.expr("CAST(xu AS DECIMAL(38,0)) * dt")).alias("num"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("sxu"),
    )
    return s.select(
        "event_type",
        F.col("n_intervals").cast("long").alias("n_intervals"),
        F.expr("CAST(den div 1000000 AS BIGINT)").alias("held_seconds"),
        F.expr(
            "CAST((2*num*1000000 + den*1000000) div (2*den*1000000)"
            " AS DOUBLE) / 1000000"
        ).alias("twap"),
        F.expr(
            "CAST((2*sxu*1000000 + n_intervals*CAST(1000000 AS DECIMAL(38,0)))"
            " div (2*n_intervals*CAST(1000000 AS DECIMAL(38,0))) AS DOUBLE)"
            " / 1000000"
        ).alias("start_mean"),
    ).orderBy("event_type")


@query(
    "q333_budget_allocation",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_nationkey AS nk, n.n_name AS nation,
             SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS HUGEINT)) AS rc
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    t AS (SELECT SUM(rc) AS total FROM rev),
    a AS (
      SELECT nk, nation, rc, total,
             (10000 * rc) // total AS base,
             10000 * rc - ((10000 * rc) // total) * total AS rem
      FROM rev, t
    ),
    lv AS (SELECT 10000 - SUM(base) AS leftover FROM a),
    rk AS (
      SELECT x.nk, x.nation, x.rc, x.total, x.base,
             (SELECT COUNT(*) FROM a y
              WHERE y.rem > x.rem OR (y.rem = x.rem AND y.nk < x.nk))
               AS ahead
      FROM a x
    )
    SELECT nation,
           {_ha6_sql("rc", "100")} AS revenue,
           {_ha6_sql("rc", "total")} AS share,
           CAST(base AS BIGINT) AS base_units,
           CAST(base + CASE WHEN ahead < leftover THEN 1 ELSE 0 END
                AS BIGINT) AS units
    FROM rk, lv ORDER BY nation
    """,
    tags=("allocation", "largest-remainder", "join"),
)
def q333_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) proportional allocation: split a
    10,000-unit budget across nations by revenue share — floor quotas
    first, then one extra unit to the largest fractional remainders
    until the budget is exact.  The integer-exact companion q317's
    Neyman allocator deliberately omitted: Σ units == 10000 ALWAYS
    (a floor-only allocation under-spends by up to |nations|−1 units).

    Scale plan: one fact-scan aggregate to nation cardinality (the
    customer and nation dims broadcast); everything downstream —
    remainder ranking included — runs on the BOUNDED 25-row nation
    table, where the rank is a broadcast self-join count (no window,
    no single-task sort).  Exactness: revenue accumulates as exact
    integer cents; quota/remainder are pure integer div/mod (remainder
    ties are exact-integer events broken by nation key, never float
    luck); published revenue and share are `_ha6` rationals."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).alias("rc")
        )
    )
    t = rev.agg(F.sum("rc").alias("total"))
    a = rev.crossJoin(F.broadcast(t)).select(
        "nk",
        "nation",
        "rc",
        "total",
        F.expr("(10000 * rc) div total").alias("base"),
        F.expr("10000 * rc - ((10000 * rc) div total) * total").alias("rem"),
    )
    # the allocation table is bounded by the nation vocabulary: pin it so
    # the leftover aggregate, the rank self-join (both sides) and the
    # final projection share one build
    a = a.localCheckpoint(eager=True)
    lv = a.agg((F.lit(10000) - F.sum("base")).alias("leftover"))
    y = a.select(
        F.col("nk").alias("y_nk"), F.col("rem").alias("y_rem")
    )
    rk = (
        a.join(
            F.broadcast(y),
            (F.col("y_rem") > F.col("rem"))
            | ((F.col("y_rem") == F.col("rem")) & (F.col("y_nk") < F.col("nk"))),
            "left",
        )
        .groupBy("nk", "nation", "rc", "total", "base")
        .agg(F.count("y_nk").alias("ahead"))
    )
    return (
        rk.crossJoin(F.broadcast(lv))
        .select(
            "nation",
            F.expr(
                "CAST((2*rc*1000000 + 100) div (2*100) AS DOUBLE) / 1000000"
            ).alias("revenue"),
            F.expr(
                "CAST((2*rc*1000000 + total) div (2*total) AS DOUBLE)"
                " / 1000000"
            ).alias("share"),
            F.col("base").cast("long").alias("base_units"),
            (
                F.col("base")
                + F.when(F.col("ahead") < F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("units"),
        )
        .orderBy("nation")
    )


@query(
    "q334_quantile_normalization",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
             ) AS r,
             COUNT(*) OVER (PARTITION BY source) AS ng
      FROM d
    ),
    g AS (
      SELECT n_chars AS gval,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gr
      FROM d
    ),
    t AS (SELECT COUNT(*) AS n FROM d),
    k AS (
      SELECT source, n_chars,
             ((2*CAST(r AS HUGEINT) - 1) * n + 2*ng - 1) // (2*ng) AS k
      FROM r, t
    ),
    j AS (
      SELECT source, n_chars, gval FROM k JOIN g ON g.gr = k.k
    )
    SELECT source,
           COUNT(*) AS n_docs,
           {_ha6_sql("SUM(n_chars)", "COUNT(*)")} AS mean_raw,
           {_ha6_sql("SUM(gval)", "COUNT(*)")} AS mean_norm,
           MIN(gval) AS min_norm, MAX(gval) AS max_norm
    FROM j GROUP BY 1 ORDER BY source
    """,
    tags=("normalization", "quantile", "kernel"),
)
def q334_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (the microarray / feature-
    preprocessing staple): replace each document's `n_chars` with the
    GLOBAL empirical quantile at its within-source fractional rank
    p = (2r−1)/(2n_g), so every source's normalized distribution is the
    same global one and per-source summary stats become comparable.
    The per-source mean_raw vs mean_norm gap quantifies how much of a
    source's apparent length difference is distributional.

    Scale plan: BOTH rank passes run on the distributed prefix kernel
    (`operators/prefix.global_ranks`) — within-source ranks grouped by
    the low-card source key and the global order in one ungrouped pass
    (never a single-task window, q63 discipline); the quantile lookup
    maps p to the integer global position k = ceil(p·N) and equi-joins
    it against the globally-ranked frame — an O(N) shuffle join, no
    range predicate, no per-group buffer.  Exactness: k is pure integer
    arithmetic (widened to DECIMAL(38,0): (2r−1)·N is n²-scale), the
    normalized value is an INTEGER pulled from the data, and both
    published means are `_ha6` rationals.  Laziness: kernel builders
    execute bounded checkpoint jobs at plan-build time.
    """
    from ..operators.prefix import global_ranks

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    d = d.localCheckpoint(eager=True)  # feeds both rank kernels + N agg
    r = global_ranks(
        d, order_cols=("n_chars", "doc_id"), group_cols=("source",),
        rn_col="r", total_col="ng",
    )
    g = global_ranks(
        d.select(F.col("n_chars").alias("gval"), "doc_id"),
        order_cols=("gval", "doc_id"),
        rn_col="gr", total_col="n_all",
    ).select("gval", "gr")
    t = d.agg(F.count(F.lit(1)).alias("n"))
    k = r.crossJoin(F.broadcast(t)).select(
        "source",
        "n_chars",
        F.expr(
            "((2*CAST(r AS DECIMAL(38,0)) - 1) * n + 2*ng - 1) div (2*ng)"
        ).alias("k"),
    )
    j = k.join(g, k.k == g.gr)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "CAST((2*SUM(n_chars)*1000000 + COUNT(*)) div (2*COUNT(*))"
                " AS DOUBLE) / 1000000"
            ).alias("mean_raw"),
            F.expr(
                "CAST((2*SUM(gval)*1000000 + COUNT(*)) div (2*COUNT(*))"
                " AS DOUBLE) / 1000000"
            ).alias("mean_norm"),
            F.min("gval").alias("min_norm"),
            F.max("gval").alias("max_norm"),
        )
        .orderBy("source")
    )


@query(
    "q335_covariate_balance",
    oracle=f"""
    WITH feat AS (
      SELECT c.c_custkey AS ck,
             {_md5_mod_sql("c.c_custkey", 2)} AS arm,
             COALESCE(o.n_orders, 0) * 1000000 AS f_orders,
             COALESCE(o.rev_kd, 0) AS f_rev,
             COALESCE(o.maxp_kd, 0) AS f_maxp
      FROM customer c LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) * 10
                 AS rev_kd,
               MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) * 10
                 AS maxp_kd
        FROM orders GROUP BY 1
      ) o ON c.c_custkey = o.o_custkey
    ),
    st AS (
      SELECT covariate, arm, COUNT(*) AS n,
             SUM(CAST(xu AS HUGEINT)) AS sx,
             SUM(CAST(xu AS HUGEINT) * xu) AS sxx
      FROM (
        SELECT arm, 'n_orders' AS covariate, f_orders AS xu FROM feat
        UNION ALL
        SELECT arm, 'revenue_k' AS covariate, f_rev AS xu FROM feat
        UNION ALL
        SELECT arm, 'max_price_k' AS covariate, f_maxp AS xu FROM feat
      ) GROUP BY 1, 2
    ),
    m AS (
      SELECT covariate, arm, n,
             (2*sx + n) // (2*n) AS mu,
             (2*(n*sxx - sx*sx) + (n*(n-1)*CAST(1000000 AS HUGEINT)))
               // (2*(n*(n-1)*CAST(1000000 AS HUGEINT))) AS vu6
      FROM st
    )
    SELECT t.covariate AS covariate,
           CAST(t.n AS BIGINT) AS n_treat, CAST(c.n AS BIGINT) AS n_ctrl,
           CAST(t.mu AS DOUBLE) / 1000000 AS mean_treat,
           CAST(c.mu AS DOUBLE) / 1000000 AS mean_ctrl,
           round((CAST(t.mu AS DOUBLE) - CAST(c.mu AS DOUBLE)) / 1000000
                 / sqrt(CAST(t.vu6 + c.vu6 AS DOUBLE) / 2000000), 6) AS smd
    FROM m t JOIN m c ON t.covariate = c.covariate
    WHERE t.arm = 1 AND c.arm = 0
    ORDER BY covariate
    """,
    tags=("experiment", "balance", "causal"),
)
def q335_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance audit for a randomized assignment (the table
    every experiment readout should lead with): customers get a
    deterministic md5 coin, and each pre-treatment covariate (order
    count, total revenue, max order price) is compared across arms by
    standardized mean difference SMD = (μ_t − μ_c)/√((σ²_t + σ²_c)/2) —
    |SMD| ≲ 0.1 is the conventional balance bar.  Complements q292
    (CUPED uses these covariates) and q294 (the readout itself).

    Scale plan: ONE orders aggregate to customer cardinality, a
    broadcast-joinable customer frame, then one map-side-combinable
    moment agg per (covariate, arm) — the 3-way covariate fan-out rides
    a union of projections of the SAME frame, and everything after the
    agg is a bounded 6-row table.  Exactness: covariates live on
    integer micro-unit grids sized so vu6 < 2^53 (revenue in THOUSANDS
    of dollars — a dollar grid would push n²-scale variance units past
    double exactness, the q238/q316 grid-budget rule); means are
    half-away integer micro-units; SMD is one divide by an IEEE sqrt of
    exact doubles, tie-impossible under round(,6) (irrational
    denominator, q317 discipline)."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            * 10
        ).alias("rev_kd"),
        (
            F.max(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            * 10
        ).alias("maxp_kd"),
    )
    feat = (
        cust.join(per, cust.c_custkey == per.o_custkey, "left")
        .select(
            _md5_mod(F.col("c_custkey"), 2).alias("arm"),
            (F.coalesce("n_orders", F.lit(0)) * 1000000).alias("f_orders"),
            F.coalesce("rev_kd", F.lit(0)).alias("f_rev"),
            F.coalesce("maxp_kd", F.lit(0)).alias("f_maxp"),
        )
    )
    stacked = feat.select(
        "arm",
        F.expr(
            "stack(3, 'n_orders', f_orders, 'revenue_k', f_rev,"
            " 'max_price_k', f_maxp) AS (covariate, xu)"
        ),
    )
    st = stacked.groupBy("covariate", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.expr("CAST(xu AS DECIMAL(38,0)) * xu")).alias("sxx"),
    )
    m = st.select(
        "covariate",
        "arm",
        "n",
        F.expr("(2*sx + n) div (2*n)").alias("mu"),
        F.expr(
            "(2*(n*sxx - sx*sx) + (n*(n-1)*CAST(1000000 AS DECIMAL(38,0))))"
            " div (2*(n*(n-1)*CAST(1000000 AS DECIMAL(38,0))))"
        ).alias("vu6"),
    )
    tarm = m.where(F.col("arm") == 1).select(
        "covariate",
        F.col("n").alias("nt"),
        F.col("mu").alias("mut"),
        F.col("vu6").alias("vt"),
    )
    carm = m.where(F.col("arm") == 0).select(
        "covariate",
        F.col("n").alias("nc"),
        F.col("mu").alias("muc"),
        F.col("vu6").alias("vc"),
    )
    return (
        tarm.join(carm, "covariate")
        .select(
            "covariate",
            F.col("nt").cast("long").alias("n_treat"),
            F.col("nc").cast("long").alias("n_ctrl"),
            (F.col("mut").cast("double") / 1000000).alias("mean_treat"),
            (F.col("muc").cast("double") / 1000000).alias("mean_ctrl"),
            F.round(
                (F.col("mut").cast("double") - F.col("muc").cast("double"))
                / 1000000
                / F.sqrt((F.col("vt") + F.col("vc")).cast("double") / 2000000),
                6,
            ).alias("smd"),
        )
        .orderBy("covariate")
    )


def _sha6_sql(num: str, den: str) -> str:
    """Sign-aware half-away round(num/den, 6) for an exact integer
    rational with den > 0 (the q241/q225 CASE form), DuckDB text."""
    return (
        f"CAST(CASE WHEN ({num}) >= 0"
        f" THEN (2*({num})*1000000 + ({den})) // (2*({den}))"
        f" ELSE -((2*(-({num}))*1000000 + ({den})) // (2*({den}))) END"
        f" AS DOUBLE) / 1000000"
    )


def _sha6(num: str, den: str) -> F.Column:
    """Spark twin of :func:`_sha6_sql` (div for //), sign-aware.

    Grid budget — executable, the analytics2._ha6 guard: operands are
    widened to DECIMAL(38,0) (the 2·num·1e6 product can't wrap an int64
    input) and a quotient beyond the 6-dp int64 grid (9e12) RAISES —
    Spark's `div` on DECIMAL operands wraps silently even under ANSI
    mode, so the guard must live in the expression.  den = 0 publishes
    NULL via an EXPLICIT CASE branch (r10 ADVICE: without it, ANSI
    `div` raises DIVIDE_BY_ZERO — the den <> 0 overflow condition
    routes den=0 straight into the ELSE div)."""
    wn = f"CAST(({num}) AS DECIMAL(38,0))"
    wd = f"CAST(({den}) AS DECIMAL(38,0))"
    return (
        F.expr(
            f"CASE WHEN ({den}) = 0 THEN NULL"
            f" WHEN abs(CAST(({num}) AS DOUBLE)"
            f" / CAST(({den}) AS DOUBLE)) > 9.0e12"
            f" THEN raise_error(concat('_sha6 grid overflow"
            f" (q238/q363 class — use a coarser grid): num=',"
            f" CAST(({num}) AS STRING), ' den=', CAST(({den}) AS STRING)))"
            f" WHEN ({num}) >= 0"
            f" THEN (2*{wn}*1000000 + ({den})) div (2*{wd})"
            f" ELSE -((2*(-{wn})*1000000 + ({den})) div (2*{wd})) END"
        ).cast("double")
        / 1_000_000
    )


@query(
    "q336_qini_uplift",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_md5_mod_sql("user_id", 2)} AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS score
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT user_id, arm, y, score,
             row_number() OVER w AS rn,
             SUM(arm) OVER w AS cum_t,
             SUM(arm * y) OVER w AS cum_ty,
             SUM(1 - arm) OVER w AS cum_c,
             SUM((1 - arm) * y) OVER w AS cum_cy
      FROM u
      WINDOW w AS (ORDER BY score DESC, user_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    t AS (
      SELECT COUNT(*) AS n, SUM(arm) AS tt, SUM(arm * y) AS tty,
             SUM(1 - arm) AS tc, SUM((1 - arm) * y) AS tcy
      FROM u
    ),
    b AS (
      SELECT i, (i * n + 9) // 10 AS k, n, tt, tty, tc, tcy
      FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) AS v(i), t
    )
    SELECT b.i AS decile, r.rn AS k,
           CAST(r.cum_t AS BIGINT) AS n_treat,
           CAST(r.cum_c AS BIGINT) AS n_ctrl,
           CASE WHEN r.cum_c > 0 THEN
             {_sha6_sql(
                 "CAST(r.cum_ty AS HUGEINT)*r.cum_c"
                 " - CAST(r.cum_cy AS HUGEINT)*r.cum_t",
                 "CAST(r.cum_c AS HUGEINT)",
             )}
           END AS qini,
           {_sha6_sql(
               "(CAST(b.tty AS HUGEINT)*b.tc"
               " - CAST(b.tcy AS HUGEINT)*b.tt) * b.i",
               "CAST(b.tc AS HUGEINT) * 10",
           )} AS random_line
    FROM r JOIN b ON r.rn = b.k
    ORDER BY decile
    """,
    tags=("uplift", "experiment", "kernel"),
)
def q336_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve at deciles for an uplift policy: users ranked by a
    targeting score (click count, best-first), with the cumulative
    incremental responders q(k) = T_y(k) − C_y(k)·T(k)/C(k) evaluated
    at each population decile against the random-targeting diagonal —
    the offline evaluation for 'whom should the campaign treat',
    complementing the bandit replay (q299) and the A/B readout (q294).
    Arms come from the deterministic md5 coin (q335's).

    Scale plan: one events aggregate to user cardinality, then ALL four
    cumulative series ride ONE prefix-kernel pass
    (`operators/prefix.running_totals`: one range shuffle, one control
    table, aligned on the same (score desc, user) total order — the
    q221 shape); decile rows are an equi-join against a broadcast
    10-row boundary table.  No global window, no per-decile rescan.
    Exactness: every cumulative is an exact integer; qini and the
    diagonal are sign-aware half-away rationals widened to
    DECIMAL(38,0) (cross-products are n²-scale); boundary ranks
    k=ceil(i·N/10) are distinct whenever N ≥ 10 (one row per decile).
    Laziness: kernel builders execute bounded checkpoint jobs."""
    from ..operators.prefix import running_totals

    ev = read_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("score"),
    ).select(
        "user_id",
        "y",
        "score",
        _md5_mod(F.col("user_id"), 2).alias("arm"),
    )
    u = u.localCheckpoint(eager=True)  # feeds the kernel AND the totals
    s = u.select(
        "user_id",
        (-F.col("score")).alias("negscore"),
        F.col("arm").alias("t"),
        (F.col("arm") * F.col("y")).alias("ty"),
        (1 - F.col("arm")).alias("c"),
        ((1 - F.col("arm")) * F.col("y")).alias("cy"),
        F.lit(1).alias("one"),
    )
    r = running_totals(
        s,
        [
            ("one", "rn"),
            ("t", "cum_t"),
            ("ty", "cum_ty"),
            ("c", "cum_c"),
            ("cy", "cum_cy"),
        ],
        order_cols=["negscore", "user_id"],
    )
    t = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("arm").alias("tt"),
        F.sum(F.col("arm") * F.col("y")).alias("tty"),
        F.sum(1 - F.col("arm")).alias("tc"),
        F.sum((1 - F.col("arm")) * F.col("y")).alias("tcy"),
    )
    b = t.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i"),
        "n",
        "tt",
        "tty",
        "tc",
        "tcy",
    ).select(
        "i",
        F.expr("(i * n + 9) div 10").alias("k"),
        "tt",
        "tty",
        "tc",
        "tcy",
    )
    return (
        r.join(F.broadcast(b), r.rn == b.k)
        .select(
            F.col("i").alias("decile"),
            F.col("rn").alias("k"),
            F.col("cum_t").cast("long").alias("n_treat"),
            F.col("cum_c").cast("long").alias("n_ctrl"),
            F.when(
                F.col("cum_c") > 0,
                _sha6(
                    "CAST(cum_ty AS DECIMAL(38,0))*cum_c"
                    " - CAST(cum_cy AS DECIMAL(38,0))*cum_t",
                    "CAST(cum_c AS DECIMAL(38,0))",
                ),
            ).alias("qini"),
            _sha6(
                "(CAST(tty AS DECIMAL(38,0))*tc"
                " - CAST(tcy AS DECIMAL(38,0))*tt) * i",
                "CAST(tc AS DECIMAL(38,0)) * 10",
            ).alias("random_line"),
        )
        .orderBy("decile")
    )


def _ipf_oracle() -> str:
    """Generated DuckDB twin of the q337 driver-side IPF replay: the
    corpus work (cells + margins) in SQL, then 4 unrolled iterations of
    row-scale / column-scale half-steps whose float expression
    `floor(CAST(w AS DOUBLE) * target / margin + 0.5)` is operation-by-
    operation identical to the Python walk.  Every chained weight CTE is
    multi-referenced (margin agg + scale join) → AS MATERIALIZED
    (the q141/q255 inlining-blowup rule)."""
    sql = [
        """
    WITH cells AS MATERIALIZED (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             COUNT(*) AS n,
             SUM(CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT)) AS rc
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS nt, SUM(rc) AS rt FROM cells),
    rmarg AS MATERIALIZED (
      SELECT pri, (CAST(nt AS HUGEINT) * 1000000 * SUM(rc)) // rt AS ru
      FROM cells, tot GROUP BY pri, nt, rt
    ),
    cmarg AS MATERIALIZED (
      SELECT st, (CAST(nt AS HUGEINT) * 1000000 * SUM(rc)) // rt AS cu
      FROM cells, tot GROUP BY st, nt, rt
    ),
    w0 AS MATERIALIZED (
      SELECT pri, st, n, CAST(n AS HUGEINT) * 1000000 AS w FROM cells
    )"""
    ]
    prev = "w0"
    for k in range(1, 5):
        sql.append(
            f""",
    m{k}r AS (SELECT pri, SUM(w) AS rs FROM {prev} GROUP BY 1),
    w{k}r AS MATERIALIZED (
      SELECT c.pri, c.st, c.n,
             CAST(floor(CAST(c.w AS DOUBLE) * r.ru / m.rs + 0.5)
                  AS HUGEINT) AS w
      FROM {prev} c JOIN m{k}r m USING (pri) JOIN rmarg r USING (pri)
    ),
    m{k}c AS (SELECT st, SUM(w) AS cs FROM w{k}r GROUP BY 1),
    w{k} AS MATERIALIZED (
      SELECT c.pri, c.st, c.n,
             CAST(floor(CAST(c.w AS DOUBLE) * g.cu / m.cs + 0.5)
                  AS HUGEINT) AS w
      FROM w{k}r c JOIN m{k}c m USING (st) JOIN cmarg g USING (st)
    )"""
        )
        prev = f"w{k}"
    sql.append(
        f"""
    SELECT pri AS priority, st AS status, CAST(n AS BIGINT) AS n_seed,
           CAST(w AS DOUBLE) / 1000000 AS raked
    FROM {prev} ORDER BY priority, status"""
    )
    return "".join(sql)


@query(
    "q337_ipf_raking",
    oracle=_ipf_oracle(),
    tags=("survey", "raking", "kernel"),
)
def q337_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking (iterative proportional fitting): rescale the
    (order-priority × order-status) count table so its row and column
    sums match REVENUE-share target margins — 4 fixed IPF iterations of
    alternating row/column scaling, the estimator survey statistics
    uses to weight a sample to known population margins (and a training
    pipeline uses to reweight a corpus to target source × language
    mixes, complementing the one-margin mixture sampler q151).

    Scale plan: corpus work is ONE fact-table aggregate to the bounded
    15-cell contingency table; the iteration is constant-size state, so
    it runs DRIVER-SIDE on the guarded bounded collect (≤64 cells, the
    q223/q296 rule — 8 distributed supersteps on 15 rows would be pure
    scheduling overhead) and ships back as a local relation (pure JVM,
    no pythonized partitions).  Exactness: seed weights and target
    margins are exact integer micro-units; each half-step is ONE float
    expression — floor(float(w)·float(target)/float(margin) + 0.5) —
    replayed operation-for-operation by the generated 8-level
    MATERIALIZED CTE chain in DuckDB, so the published integers are
    bit-identical; the final raked weight is CAST(w AS DOUBLE)/1e6 of
    the same integer in both engines."""
    import math

    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).alias("rc"),
    )
    rows = cells.limit(65).collect()
    if len(rows) > 64:
        raise ValueError(
            "q337_ipf_raking: contingency-cell collect exceeded 64 rows — "
            "the margin keys are no longer bounded vocabularies; the "
            "driver-side IPF replay must never collect an unbounded frame"
        )
    nt = sum(r["n"] for r in rows)
    rt = sum(int(r["rc"]) for r in rows)
    rev_pri: dict = {}
    rev_st: dict = {}
    for r in rows:
        rev_pri[r["pri"]] = rev_pri.get(r["pri"], 0) + int(r["rc"])
        rev_st[r["st"]] = rev_st.get(r["st"], 0) + int(r["rc"])
    ru = {p: (nt * 1_000_000 * v) // rt for p, v in rev_pri.items()}
    cu = {s: (nt * 1_000_000 * v) // rt for s, v in rev_st.items()}
    w = {(r["pri"], r["st"]): r["n"] * 1_000_000 for r in rows}
    seed = {(r["pri"], r["st"]): r["n"] for r in rows}
    for _ in range(4):
        rs: dict = {}
        for (p, s), v in w.items():
            rs[p] = rs.get(p, 0) + v
        w = {
            (p, s): math.floor(float(v) * float(ru[p]) / float(rs[p]) + 0.5)
            for (p, s), v in w.items()
        }
        cs: dict = {}
        for (p, s), v in w.items():
            cs[s] = cs.get(s, 0) + v
        w = {
            (p, s): math.floor(float(v) * float(cu[s]) / float(cs[s]) + 0.5)
            for (p, s), v in w.items()
        }
    return local_frame(
        spark, [[p, s, seed[(p, s)], float(w[(p, s)]) / 1000000] for p, s in sorted(w)],
        "priority string, status string, n_seed bigint, raked double",
    ).orderBy("priority", "status")


@query(
    "q338_info_gain_stump",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok, o_totalprice AS price,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    r AS (
      SELECT price, row_number() OVER (ORDER BY price, ok) AS rn FROM o
    ),
    t AS (SELECT COUNT(*) AS n, SUM(y) AS pos FROM o),
    b AS (
      SELECT i, price AS thr
      FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS v(i), t
      JOIN r ON r.rn = (i * n + 9) // 10
    ),
    cnt AS (
      SELECT b.i, b.thr,
             SUM(CASE WHEN o.price <= b.thr THEN 1 ELSE 0 END) AS nl,
             SUM(CASE WHEN o.price <= b.thr THEN o.y ELSE 0 END) AS a
      FROM o, b GROUP BY 1, 2
    ),
    cells AS (
      SELECT i, thr, nl, a,
             nl - a AS bb, pos - a AS cc, n - nl - pos + a AS d,
             nl AS n1, pos AS n2, n
      FROM cnt, t
    ),
    g AS (
      SELECT i, thr, nl, a, n,
             CASE WHEN a > 0 THEN
               CAST(round(2 * a * ln(CAST(a AS DOUBLE) * n
                   / (CAST(n1 AS DOUBLE) * n2)), 12) AS DECIMAL(20,12))
               ELSE 0 END
             + CASE WHEN bb > 0 THEN
               CAST(round(2 * bb * ln(CAST(bb AS DOUBLE) * n
                   / (CAST(n1 AS DOUBLE) * (n - n2))), 12)
                    AS DECIMAL(20,12)) ELSE 0 END
             + CASE WHEN cc > 0 THEN
               CAST(round(2 * cc * ln(CAST(cc AS DOUBLE) * n
                   / (CAST(n - n1 AS DOUBLE) * n2)), 12)
                    AS DECIMAL(20,12)) ELSE 0 END
             + CASE WHEN d > 0 THEN
               CAST(round(2 * d * ln(CAST(d AS DOUBLE) * n
                   / (CAST(n - n1 AS DOUBLE) * (n - n2))), 12)
                    AS DECIMAL(20,12)) ELSE 0 END AS g2
      FROM cells
    )
    SELECT CAST(i AS INT) AS decile, thr AS threshold,
           CAST(nl AS BIGINT) AS n_left, CAST(a AS BIGINT) AS pos_left,
           round(CAST(g2 AS DOUBLE) / (2 * n), 6) AS info_gain
    FROM g ORDER BY decile
    """,
    tags=("ml", "feature", "entropy"),
)
def q338_info_gain_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump threshold screening by information gain: candidate
    splits at the 9 order-price deciles, each scored by the mutual
    information between side(price ≤ thr) and the binary label
    (order fulfilled), computed as Dunning G²/(2n) over the side×class
    2×2 table — the first split a tree learner would consider, and the
    continuous-feature companion of the categorical Gini ranking
    (q233) and the chi-square independence test (q220).

    Scale plan: decile thresholds come from the distributed prefix
    kernel's global order (rank equi-join at k=ceil(i·n/10) — the q334
    lookup, no single-task sort, no in-memory percentile); the 9
    candidate evaluations ride ONE broadcast nested-loop pass over the
    fact table (9-row bounded probe list, q122's crossJoin class) into
    one map-side-combinable agg.  Exactness: all cells integer; each G²
    term is k·ln(exact integer ratio) snapped 12 dp into DECIMAL(20,12)
    before the exact sum (q327 idiom); the published gain divides the
    exact decimal by 2n in identical IEEE doubles.  Laziness: the rank
    kernel executes bounded checkpoint jobs at plan-build time.

    Grid budget: (i*n + 9) div 10 with i <= 9 and n = corpus rows - fits int64 to ~1e18 rows."""
    from ..operators.prefix import global_ranks

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_totalprice").alias("price"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    o = o.localCheckpoint(eager=True)  # feeds ranks, totals AND the scan
    r = global_ranks(
        o.select("price", "ok"), order_cols=("price", "ok"), rn_col="rn",
        total_col="n_all",
    )
    t = o.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    b = (
        t.select(
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("i"), "n", "pos"
        )
        .withColumn("k", F.expr("(i * n + 9) div 10"))
        .join(r.select("rn", F.col("price").alias("thr")), F.col("k") == F.col("rn"))
        .select("i", "thr", "n", "pos")
    )
    cnt = (
        o.crossJoin(F.broadcast(b))
        .groupBy("i", "thr", "n", "pos")
        .agg(
            F.sum(F.when(F.col("price") <= F.col("thr"), 1).otherwise(0)).alias(
                "nl"
            ),
            F.sum(
                F.when(F.col("price") <= F.col("thr"), F.col("y")).otherwise(0)
            ).alias("a"),
        )
    )
    cells = cnt.select(
        "i",
        "thr",
        "nl",
        "a",
        "n",
        (F.col("nl") - F.col("a")).alias("bb"),
        (F.col("pos") - F.col("a")).alias("cc"),
        (F.col("n") - F.col("nl") - F.col("pos") + F.col("a")).alias("d"),
        F.col("nl").alias("n1"),
        F.col("pos").alias("n2"),
    )
    g = cells.withColumn(
        "g2",
        F.expr(
            """
            CASE WHEN a > 0 THEN
              CAST(round(2 * a * ln(CAST(a AS DOUBLE) * n
                  / (CAST(n1 AS DOUBLE) * n2)), 12) AS DECIMAL(20,12))
              ELSE 0 END
            + CASE WHEN bb > 0 THEN
              CAST(round(2 * bb * ln(CAST(bb AS DOUBLE) * n
                  / (CAST(n1 AS DOUBLE) * (n - n2))), 12)
                   AS DECIMAL(20,12)) ELSE 0 END
            + CASE WHEN cc > 0 THEN
              CAST(round(2 * cc * ln(CAST(cc AS DOUBLE) * n
                  / (CAST(n - n1 AS DOUBLE) * n2)), 12)
                   AS DECIMAL(20,12)) ELSE 0 END
            + CASE WHEN d > 0 THEN
              CAST(round(2 * d * ln(CAST(d AS DOUBLE) * n
                  / (CAST(n - n1 AS DOUBLE) * (n - n2))), 12)
                   AS DECIMAL(20,12)) ELSE 0 END
            """
        ),
    )
    return g.select(
        F.col("i").cast("int").alias("decile"),
        F.col("thr").alias("threshold"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("a").cast("long").alias("pos_left"),
        F.round(F.col("g2").cast("double") / (2 * F.col("n")), 6).alias(
            "info_gain"
        ),
    ).orderBy("decile")


# Durbin-Levinson recursion levels shared VERBATIM by the Spark builder
# and the DuckDB oracle (identical text -> identical IEEE evaluation
# order -> bit-identical doubles; inputs r1..r5 are 12-dp-snapped exact
# rationals, so both engines start from the same bits).
_DL_LEVELS: list[list[str]] = [
    ["r1 AS p11"],
    ["1 - p11*r1 AS den2", "r2 - p11*r1 AS num2"],
    ["num2/den2 AS p22"],
    ["p11 - p22*p11 AS p21"],
    ["1 - (p21*r1 + p22*r2) AS den3", "r3 - (p21*r2 + p22*r1) AS num3"],
    ["num3/den3 AS p33"],
    ["p21 - p33*p22 AS p31", "p22 - p33*p21 AS p32"],
    [
        "1 - (p31*r1 + p32*r2 + p33*r3) AS den4",
        "r4 - (p31*r3 + p32*r2 + p33*r1) AS num4",
    ],
    ["num4/den4 AS p44"],
    [
        "p31 - p44*p33 AS p41",
        "p32 - p44*p32 AS p42",
        "p33 - p44*p31 AS p43",
    ],
    [
        "1 - (p41*r1 + p42*r2 + p43*r3 + p44*r4) AS den5",
        "r5 - (p41*r4 + p42*r3 + p43*r2 + p44*r1) AS num5",
    ],
    ["num5/den5 AS p55"],
]


def _snap12_sql(num: str, den: str) -> str:
    """Sign-aware half-away round(num/den, 12) as an exact double —
    DuckDB text (the q244 12-dp snap, integer-division form)."""
    return (
        f"CAST(CASE WHEN ({num}) >= 0"
        f" THEN (2*({num})*1000000000000 + ({den})) // (2*({den}))"
        f" ELSE -((2*(-({num}))*1000000000000 + ({den})) // (2*({den})))"
        f" END AS DOUBLE) / 1000000000000"
    )


def _pacf_oracle() -> str:
    chain = []
    prev = "base"
    for j, level in enumerate(_DL_LEVELS):
        name = f"l{j}"
        chain.append(
            f", {name} AS (SELECT *, {', '.join(level)} FROM {prev})"
        )
        prev = name
    snaps = ", ".join(
        _snap12_sql(f"n{k}", "n0") + f" AS r{k}" for k in range(1, 6)
    )
    return f"""
    WITH g AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
    ),
    t AS (SELECT COUNT(*) AS nd, SUM(x) AS s FROM g),
    p AS (
      SELECT b.day - a.day AS k,
             SUM((CAST(nd AS HUGEINT)*a.x - s)
                 * (CAST(nd AS HUGEINT)*b.x - s)) AS num
      FROM g a JOIN t ON TRUE
      JOIN g b ON b.day >= a.day AND b.day <= a.day + 5
      GROUP BY 1
    ),
    piv AS (
      SELECT SUM(CASE WHEN k = 0 THEN num END) AS n0,
             SUM(CASE WHEN k = 1 THEN num END) AS n1,
             SUM(CASE WHEN k = 2 THEN num END) AS n2,
             SUM(CASE WHEN k = 3 THEN num END) AS n3,
             SUM(CASE WHEN k = 4 THEN num END) AS n4,
             SUM(CASE WHEN k = 5 THEN num END) AS n5
      FROM p
    ),
    base AS (SELECT {snaps} FROM piv)
    {''.join(chain)}
    SELECT u.lag AS lag_days,
           CASE u.lag WHEN 1 THEN r1 WHEN 2 THEN r2 WHEN 3 THEN r3
                      WHEN 4 THEN r4 ELSE r5 END AS acf,
           round(CASE u.lag WHEN 1 THEN p11 WHEN 2 THEN p22
                            WHEN 3 THEN p33 WHEN 4 THEN p44
                            ELSE p55 END, 6) AS pacf
    FROM {prev}, (VALUES (1),(2),(3),(4),(5)) AS u(lag)
    ORDER BY lag_days
    """


@query(
    "q339_pacf",
    oracle=_pacf_oracle(),
    tags=("timeseries", "pacf", "agg-grid"),
)
def q339_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1..5 via the Durbin-Levinson recursion — the AR-order picker that
    complements the raw ACF screen (q241): PACF(k) is the lag-k
    correlation with lags 1..k-1 regressed out, so an AR(p) series cuts
    off sharply after lag p where the ACF only decays.

    Scale plan: identical corpus economics to q241 (per-DAY grid, lag
    pairing as an equi-join on exploded offsets, exact centered-integer
    products); the recursion runs on a ONE-ROW bounded frame as chained
    projections — constant-size state never iterates distributed
    (q223's rule), and here it doesn't even need a kernel task.
    Exactness: ρ_1..ρ_5 are sign-aware HALF-AWAY 12-dp snaps of exact
    integer rationals (2·|num|·1e12 widened in DECIMAL(38,0) — bounds
    the centered-product sum at ~1e25, fine for daily grids), so both
    engines enter the recursion with bit-identical doubles; every
    Durbin-Levinson level is shared VERBATIM between the Spark
    selectExpr chain and the generated DuckDB CTE chain (`_DL_LEVELS`),
    making each φ bit-identical before the final 6-dp round."""
    ev = read_table(spark, sf_dir, "events")
    g = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    t = g.agg(F.count(F.lit(1)).alias("nd"), F.sum("x").alias("s"))
    a = (
        g.crossJoin(F.broadcast(t))
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(5))))
        .select(
            F.date_add(F.col("day"), F.col("k")).alias("bday"),
            F.col("k"),
            F.expr("CAST(nd AS DECIMAL(38,0))*x - s").alias("ca"),
        )
    )
    b = g.crossJoin(F.broadcast(t)).select(
        F.col("day").alias("bday"),
        F.expr("CAST(nd AS DECIMAL(38,0))*x - s").alias("cb"),
    )
    p = (
        a.join(b, "bday")
        .groupBy("k")
        .agg(F.sum(F.expr("ca * cb")).alias("num"))
    )
    piv = p.agg(
        *[
            F.sum(F.when(F.col("k") == k, F.col("num"))).alias(f"n{k}")
            for k in range(0, 6)
        ]
    )
    base = piv.selectExpr(
        *[
            "CAST(CASE WHEN (n{k}) >= 0"
            " THEN (2*(n{k})*1000000000000 + (n0)) div (2*(n0))"
            " ELSE -((2*(-(n{k}))*1000000000000 + (n0)) div (2*(n0)))"
            " END AS DOUBLE) / 1000000000000 AS r{k}".format(k=k)
            for k in range(1, 6)
        ]
    )
    cur = base
    for level in _DL_LEVELS:
        cur = cur.selectExpr("*", *level)
    return (
        cur.select(
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("lag_days"),
            *[F.col(c) for c in ["r1", "r2", "r3", "r4", "r5"]],
            *[F.col(c) for c in ["p11", "p22", "p33", "p44", "p55"]],
        )
        .select(
            "lag_days",
            F.expr(
                "CASE lag_days WHEN 1 THEN r1 WHEN 2 THEN r2 WHEN 3 THEN r3"
                " WHEN 4 THEN r4 ELSE r5 END"
            ).alias("acf"),
            F.round(
                F.expr(
                    "CASE lag_days WHEN 1 THEN p11 WHEN 2 THEN p22"
                    " WHEN 3 THEN p33 WHEN 4 THEN p44 ELSE p55 END"
                ),
                6,
            ).alias("pacf"),
        )
        .orderBy("lag_days")
    )


@query(
    "q340_wl_refinement",
    oracle="""
    WITH li2 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ew AS (SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
           FROM li2 a JOIN li2 b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
    qq AS (SELECT quantile_cont(w, 0.95) AS q99 FROM ew),
    se AS (SELECT src, dst FROM ew, qq WHERE w >= q99),
    sym AS MATERIALIZED (SELECT src, dst FROM se UNION SELECT dst, src FROM se),
    c0 AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS VARCHAR) AS c FROM sym GROUP BY 1
    ),
    c1 AS MATERIALIZED (
      SELECT s.src AS id,
             md5(x.c || ':' || string_agg(n.c, ',' ORDER BY n.c)) AS c
      FROM sym s JOIN c0 x ON x.id = s.src JOIN c0 n ON n.id = s.dst
      GROUP BY s.src, x.c
    ),
    c2 AS MATERIALIZED (
      SELECT s.src AS id,
             md5(x.c || ':' || string_agg(n.c, ',' ORDER BY n.c)) AS c
      FROM sym s JOIN c1 x ON x.id = s.src JOIN c1 n ON n.id = s.dst
      GROUP BY s.src, x.c
    ),
    cen AS (SELECT c, COUNT(*) AS n_nodes FROM c2 GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_colors FROM cen)
    SELECT c AS color, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_colors AS BIGINT) AS n_colors
    FROM cen, tot ORDER BY n_nodes DESC, color LIMIT 20
    """,
    tags=("graph", "wl", "isomorphism"),
)
def q340_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement (2 rounds) on the P95
    co-supply backbone: each node's color is iteratively rehashed from
    (own color, sorted multiset of neighbor colors) — the canonical
    structural-role fingerprint (graph-kernel / GNN-expressiveness
    primitive).  Published as the round-2 color census: nodes with the
    same color are locally indistinguishable at radius 2, a structural
    complement to the label-propagation communities (q30).

    Scale plan: runs on the memoized sparse backbone (the q89/q161
    rule — NEVER the raw near-clique projection); each round is one
    neighbor join + one groupBy whose aggregate is a SORTED array of
    bounded-degree neighbor colors; color frames feeding two join sides
    are pinned (the ≥2-consumer rule).  Exactness: colors are md5 hex
    of a canonical string (sorted ASCII join — Spark array_sort and
    DuckDB string_agg ORDER BY agree on ASCII order), so the census is
    engine-independent; ties in the top-20 cut break on the color hex."""
    from .graphops import _sparse_upper_edges

    se = _sparse_upper_edges(spark, sf_dir)
    sym = se.union(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    colors = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("string").alias("c")
    )
    for _ in range(2):
        colors = colors.localCheckpoint(eager=True)  # feeds BOTH join sides
        own = colors.select(F.col("id").alias("src"), F.col("c").alias("oc"))
        nbr = colors.select(F.col("id").alias("dst"), F.col("c").alias("nc"))
        colors = (
            sym.join(own, "src")
            .join(nbr, "dst")
            .groupBy(F.col("src").alias("id"), F.col("oc"))
            .agg(
                F.md5(
                    F.concat(
                        F.col("oc"),
                        F.lit(":"),
                        F.array_join(
                            F.array_sort(F.collect_list("nc")), ","
                        ),
                    )
                ).alias("c")
            )
            .drop("oc")
        )
    cen = colors.groupBy("c").agg(F.count(F.lit(1)).alias("n_nodes"))
    tot = cen.agg(F.count(F.lit(1)).alias("n_colors"))
    return (
        cen.crossJoin(F.broadcast(tot))
        .select(
            F.col("c").alias("color"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_colors").cast("long").alias("n_colors"),
        )
        .orderBy(F.col("n_nodes").desc(), "color")
        .limit(20)
    )


@query(
    "q341_inventory_walk",
    oracle="""
    WITH RECURSIVE g AS (
      SELECT MIN(CAST(l_shipdate AS DATE)) AS d0,
             (MAX(CAST(l_shipdate AS DATE)) - MIN(CAST(l_shipdate AS DATE)))
               // 28 + 1 AS w
      FROM lineitem
    ),
    d AS MATERIALIZED (
      SELECT l_partkey AS pk, (CAST(l_shipdate AS DATE) - d0) // 28 AS t,
             SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS dem
      FROM lineitem, g GROUP BY 1, 2
    ),
    p AS MATERIALIZED (
      SELECT pk, (SUM(dem) + w - 1) // w AS r,
             4 * ((SUM(dem) + w - 1) // w) AS cap, w
      FROM d, g GROUP BY pk, w
    ),
    walk AS (
      SELECT p.pk, 0 AS t,
             LEAST(p.cap, GREATEST(0, p.cap + p.r - COALESCE(d.dem, 0)))
               AS stock,
             CASE WHEN p.cap + p.r - COALESCE(d.dem, 0) < 0
                  THEN 1 ELSE 0 END AS shortages,
             p.r, p.cap, p.w
      FROM p LEFT JOIN d ON d.pk = p.pk AND d.t = 0
      UNION ALL
      SELECT wk.pk, wk.t + 1,
             LEAST(wk.cap, GREATEST(0, wk.stock + wk.r - COALESCE(d.dem, 0))),
             wk.shortages + CASE WHEN wk.stock + wk.r - COALESCE(d.dem, 0) < 0
                                 THEN 1 ELSE 0 END,
             wk.r, wk.cap, wk.w
      FROM walk wk LEFT JOIN d ON d.pk = wk.pk AND d.t = wk.t + 1
      WHERE wk.t + 1 < wk.w
    )
    SELECT pk AS partkey, CAST(shortages AS BIGINT) AS shortage_steps,
           CAST(stock AS BIGINT) AS end_stock
    FROM walk WHERE t = w - 1
    ORDER BY shortage_steps DESC, partkey LIMIT 20
    """,
    tags=("inventory", "recurrence", "kernel"),
)
def q341_inventory_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped inventory simulation per part: stock starts at cap,
    gains a constant replenishment r = ceil(total demand / periods)
    each 28-day period and loses that period's shipped quantity,
    clamped to [0, cap = 4r]; published are the top-20 parts by
    shortage periods (demand arrived when stock+r couldn't cover it) —
    the stockout-risk screen a supply planner runs, and the
    MANY-small-recurrences complement of the single-series forecast
    kernels (q248/q277).

    Scale plan: demand aggregates to the (part, period) grid first;
    the walk runs in `operators/walk.clamped_inventory_walk` — a
    group-keyed applyInPandas where parts shard across executors and
    per-part state is calendar-bounded (NEVER a driver loop or a
    WITH RECURSIVE join round per period, Spark's recursion schedules
    one join per step — the q248 lesson; the recursive CTE stays
    ORACLE-side where DuckDB executes it fine).  Exactness: demands,
    replenishment and clamps are pure integers, so the SQL twin
    replays every trajectory bit-identically; ties break on partkey."""
    from ..operators.walk import clamped_inventory_walk

    li = read_table(spark, sf_dir, "lineitem")
    g = li.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        (
            F.expr(
                "datediff(MAX(to_date(l_shipdate)), MIN(to_date(l_shipdate)))"
                " div 28"
            )
            + 1
        ).alias("w"),
    )
    d = (
        li.crossJoin(F.broadcast(g))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.expr("datediff(to_date(l_shipdate), d0) div 28").alias("t"),
            F.col("w"),
        )
        .agg(
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")
            ).alias("dem")
        )
    )
    # r = ceil(total part demand / w) and cap = 4r are derivable from
    # the SAME per-part grouping the walk kernel already pays for: pass
    # them as aggregate expressions so the former separate params
    # aggregate + join back (two extra exchanges over the demand grid)
    # disappears — and d no longer needs a pin (single consumer).
    # div grid: unchanged semantics from the former params aggregate
    # (integer ceil-division of int64 demand sums by the period count).
    r_expr = F.expr("(SUM(dem) + FIRST(w) - 1) div FIRST(w)")
    cap_expr = F.expr("4 * ((SUM(dem) + FIRST(w) - 1) div FIRST(w))")
    walk_in = d.withColumnRenamed("pk", "partkey")
    out = clamped_inventory_walk(
        walk_in, "partkey", "t", "dem", r_expr, cap_expr, "w"
    )
    return out.orderBy(
        F.col("shortage_steps").desc(), "partkey"
    ).limit(20)


@query(
    "q342_apriori_triples",
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT pk, COUNT(*) AS cnt FROM items GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
    tri AS (
      SELECT a.pk AS part_a, b.pk AS part_b, c.pk AS part_c,
             COUNT(*) AS support
      FROM items a
      JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      JOIN items c ON b.ok = c.ok AND b.pk < c.pk
      GROUP BY 1, 2, 3
    )
    SELECT part_a, part_b, part_c, CAST(support AS BIGINT) AS support,
           {_ha6_sql(
               "CAST(support AS HUGEINT) * n_orders * n_orders",
               "CAST(na.cnt AS HUGEINT) * nb.cnt * nc.cnt",
           )} AS lift3
    FROM tri
    JOIN n na ON na.pk = part_a
    JOIN n nb ON nb.pk = part_b
    JOIN n nc ON nc.pk = part_c, tot
    ORDER BY support DESC, lift3 DESC, part_a, part_b, part_c LIMIT 20
    """,
    tags=("recommender", "itemsets", "join"),
)
def q342_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (the level-3 apriori pass
    extending q192/q314's pairs): part triples bought together, ranked
    by support then the 3-way lift support·N²/(n_a·n_b·n_c) against
    item independence; top-20 by (support, lift3, keys).  No min-
    support cut: at the 20k-part sparsity of the larger scale factors
    no triple repeats, and the lift ordering keeps the head
    interpretable (most-surprising co-purchases) instead of empty.

    Scale plan: the triple enumeration is TWO equi-joins on the ORDER
    key with strict part ordering, so per-order fan-out is bounded by
    basket size CHOOSE 3 (~4 items here → output LINEAR in orders);
    at larger basket sizes the apriori prune (extend only frequent
    pairs) plus a min-support HAVING must bound candidates before the
    degree joins.  Exactness: lift3 is an exact integer rational
    through sign-free `_ha6`, cross-products widened to DECIMAL(38,0)
    (N² is corpus-squared scale)."""
    from .analytics import cached_order_baskets, cached_order_items

    # shared pinned base (the q192/q314 family builds the identical
    # distinct + sorted-basket tables — r12 shared-build memo)
    items = cached_order_items(spark, sf_dir)
    n = items.groupBy("pk").agg(F.count(F.lit(1)).alias("cnt"))
    tot = items.agg(F.count_distinct("ok").alias("n_orders"))
    # basket-local triple enumeration: sort each basket once, then
    # posexplode + slice walks the strictly-increasing (a < b < c)
    # combinations in-stage — ONE exchange (groupBy ok) instead of the
    # former a⋈b⋈c self-join's shared exchange + two SortMergeJoin
    # sorts; (ok, pk) is unique after the distinct so collect_list is
    # exactly the basket.
    baskets = cached_order_baskets(spark, sf_dir).withColumnRenamed(
        "ps", "pks"
    )
    tri = (
        baskets.select(F.posexplode("pks").alias("ia", "part_a"), "pks")
        .select("part_a", F.expr("slice(pks, ia + 2, size(pks))").alias("rest"))
        .select("part_a", F.posexplode("rest").alias("ib", "part_b"), "rest")
        .select(
            "part_a",
            "part_b",
            F.explode(F.expr("slice(rest, ib + 2, size(rest))")).alias("part_c"),
        )
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    na = n.select(F.col("pk").alias("part_a"), F.col("cnt").alias("na"))
    nb = n.select(F.col("pk").alias("part_b"), F.col("cnt").alias("nb"))
    nc = n.select(F.col("pk").alias("part_c"), F.col("cnt").alias("nc"))
    return (
        tri.join(na, "part_a")
        .join(nb, "part_b")
        .join(nc, "part_c")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "part_c",
            F.col("support").cast("long").alias("support"),
            F.expr(
                "CAST((2*(CAST(support AS DECIMAL(38,0)) * n_orders"
                " * n_orders)*1000000 + (CAST(na AS DECIMAL(38,0)) * nb * nc))"
                " div (2*(CAST(na AS DECIMAL(38,0)) * nb * nc)) AS DOUBLE)"
                " / 1000000"
            ).alias("lift3"),
        )
        .orderBy(
            F.col("support").desc(),
            F.col("lift3").desc(),
            "part_a",
            "part_b",
            "part_c",
        )
        .limit(20)
    )


def _haar_oracle() -> str:
    levels = []
    energies = []
    prev = "x0"
    for lev in range(1, 7):
        levels.append(
            f""",
    l{lev} AS MATERIALIZED (
      SELECT i // 2 AS i, SUM(x) AS x,
             SUM(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS d
      FROM {prev} GROUP BY 1
    )"""
        )
        energies.append(
            f"SELECT {lev} AS level, COUNT(*) AS n_coeffs,"
            f" SUM(CAST(d AS HUGEINT) * d) AS num, {2 ** lev} AS sc"
            f" FROM l{lev}"
        )
        prev = f"l{lev}"
    energies.append(
        "SELECT 7 AS level, 1 AS n_coeffs,"
        " SUM(CAST(x AS HUGEINT) * x) AS num, 64 AS sc FROM l6"
    )
    union = " UNION ALL ".join(energies)
    return f"""
    WITH g AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    cnt AS (
      SELECT CAST(ts AS DATE) - d0 AS i, COUNT(*) AS x
      FROM events, g GROUP BY 1
    ),
    x0 AS MATERIALIZED (
      SELECT t.i, COALESCE(c.x, 0) AS x
      FROM range(64) AS t(i) LEFT JOIN cnt c ON c.i = t.i
    ){"".join(levels)},
    e AS ({union}),
    tot AS (SELECT SUM(CAST(x AS HUGEINT) * x) AS te FROM x0)
    SELECT CAST(level AS INT) AS level, CAST(n_coeffs AS BIGINT) AS n_coeffs,
           CAST(num AS DOUBLE) / sc AS energy,
           {_ha6_sql("num", "sc * te")} AS energy_share
    FROM e, tot ORDER BY level
    """


@query(
    "q343_haar_energy",
    oracle=_haar_oracle(),
    tags=("timeseries", "wavelet", "agg-grid"),
)
def q343_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the first 64 days of the
    daily event-count series: detail energy per dyadic scale (level 1 =
    day-to-day, level 6 = 32-day blocks) plus the level-7 approximation
    — 'where does the variance live' by time scale, the multiresolution
    complement of the ACF (q241) and seasonality-strength (q284)
    screens.  Energies satisfy Parseval (they sum to Σx²), which the
    behavior test pins.

    Scale plan: the corpus aggregates to the per-DAY grid once; the
    transform state is a 64-int vector bounded by construction (the
    q216 grid class), so the pyramid replays driver-side in exact
    Python integers under a limit-capped collect (the q223 /
    bounded-artifact serving rule) and publishes a local relation.
    Exactness:
    unnormalized Haar sums/differences are pure integers; level-ℓ
    energy Σd²/2^ℓ is a DYADIC rational (numerator < 2^53), so the
    published double is EXACT in both engines; the energy share is a
    `_ha6` integer rational with HUGEINT/DECIMAL(38,0) widening."""
    ev = read_table(spark, sf_dir, "events")
    g = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    cnt = (
        ev.crossJoin(F.broadcast(g))
        .groupBy(F.expr("datediff(to_date(ts), d0)").alias("i"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    idx = spark.range(64).select(F.col("id").alias("i"))
    x0 = idx.join(cnt, "i", "left").select(
        "i", F.coalesce("x", F.lit(0)).alias("x")
    )
    # The pyramid's state is a 64-int vector BY CONSTRUCTION (the q216
    # grid class): the corpus-scale work ends at the per-day aggregate,
    # so the 6 chained distributed levels (each a pin job + a tiny
    # exchange) are replayed in exact Python integer arithmetic under a
    # limit-capped collect instead (the q223 / statcat bounded-artifact
    # serving rule — 28 jobs → 3).  Every published value is identical:
    # sums/differences are integers; level energy num/2^ℓ is a dyadic
    # float division (exact IEEE, same as CAST(num AS DOUBLE)/sc); the
    # share is the same truncating integer division (operands are
    # non-negative, so Python // == SQL div) then one double division
    # by 1e6 of the same integer.
    rows = x0.orderBy("i").limit(65).collect()
    if len(rows) > 64:
        raise ValueError("q343: day grid exceeded its 64-row bound")
    xs = [int(r["x"]) for r in rows]
    te = sum(v * v for v in xs)
    out_rows = []
    cur = xs
    for lev in range(1, 7):
        ds = [cur[2 * j] - cur[2 * j + 1] for j in range(len(cur) // 2)]
        cur = [cur[2 * j] + cur[2 * j + 1] for j in range(len(cur) // 2)]
        num = sum(d * d for d in ds)
        out_rows.append((lev, len(cur), num, 2 ** lev))
    out_rows.append((7, 1, cur[0] * cur[0], 64))
    vals = []
    for lev, ncoef, num, sc in out_rows:
        share = (2 * num * 1_000_000 + sc * te) // (2 * (sc * te))
        vals.append([lev, ncoef, float(num) / sc, float(share) / 1_000_000])
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("level", IntegerType()),
            StructField("n_coeffs", LongType()),
            StructField("energy", DoubleType()),
            StructField("energy_share", DoubleType()),
        ]
    )
    return local_frame(spark, vals, schema)


def _fertility_oracle() -> str:
    from ..operators.bpe import bpe_oracle_sql

    return bpe_oracle_sql(4, carry_token=True) + f""",
    st AS (
      SELECT source, token FROM (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS token
        FROM documents)
      WHERE token NOT LIKE '%¦%'
    ),
    sc AS (SELECT source, token, COUNT(*) AS cnt FROM st GROUP BY 1, 2),
    sym AS (
      SELECT token, len(string_split(trim(repr, '¦'), '¦¦')) AS ns FROM w4
    )
    SELECT source,
           CAST(SUM(sc.cnt) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           {_ha6_sql("SUM(sc.cnt * ns)", "SUM(sc.cnt)")} AS bpe_fertility,
           {_ha6_sql("SUM(sc.cnt * len(sc.token))", "SUM(sc.cnt)")}
             AS char_fertility
    FROM sc JOIN sym USING (token)
    GROUP BY source ORDER BY source
    """


@query(
    "q345_bpe_fertility",
    oracle=_fertility_oracle(),
    tags=("text", "tokenizer", "bpe"),
)
def q345_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per source: average BPE symbols per
    word under the corpus-trained 4-merge tokenizer (q131/q145's shared
    artifact), next to the character baseline — THE tokenizer-quality
    metric a multilingual/multi-source pipeline tracks (high fertility
    = the vocabulary under-serves that source, inflating sequence
    lengths and training cost; complements the token-budget allocator
    q279 and the packing audits q160/q172).

    Scale plan: the trained tokenizer is the memoized `_bpe_rounds`
    artifact (one loop per session/dataset, q131's cache); symbol
    counts per word come from ONE projection of the final word table
    (vocabulary-bounded); the per-source token counts aggregate before
    the vocabulary join.  Exactness: counts and symbol counts are
    integers; both fertilities are `_ha6` rationals."""
    from .textops import _bpe_rounds

    _, tables = _bpe_rounds(spark, sf_dir, 4)
    final = tables[-1]  # (repr, cnt, token) — corpus-wide
    sym = final.select(
        "token",
        F.size(F.split(F.expr("trim(BOTH '¦' FROM repr)"), "¦¦")).alias("ns"),
    )
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    ).where(~F.col("token").contains("¦"))
    sc = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        sc.join(sym, "token")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_word_types"),
            F.expr(
                "CAST((2*SUM(cnt * ns)*1000000 + SUM(cnt))"
                " div (2*SUM(cnt)) AS DOUBLE) / 1000000"
            ).alias("bpe_fertility"),
            F.expr(
                "CAST((2*SUM(cnt * length(token))*1000000 + SUM(cnt))"
                " div (2*SUM(cnt)) AS DOUBLE) / 1000000"
            ).alias("char_fertility"),
        )
        .orderBy("source")
    )


@query(
    "q346_sprt_replay",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS trials,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    bounds AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d
    ),
    h AS (
      SELECT SUM(trials) AS t1, SUM(conv) AS s1
      FROM d, bounds WHERE (day - d0) * 2 < (d1 - d0) + 1
    ),
    lr AS (
      SELECT CAST(floor(ln(CAST(6 AS DOUBLE) / 5) * 1000000000000 + 0.5)
                  AS BIGINT) AS la12,
             CAST(CASE WHEN 5*t1 - 6*s1 > 0 THEN
               floor(ln(CAST(5*t1 - 6*s1 AS DOUBLE) / (5*(t1 - s1)))
                     * 1000000000000 - 0.5) + 1
               ELSE NULL END AS BIGINT) AS lb12,
             CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000000000 + 0.5)
                  AS BIGINT) AS a12
      FROM h
    ),
    c AS (
      SELECT day,
             SUM(trials) OVER w AS cum_trials,
             SUM(conv) OVER w AS cum_conv
      FROM d WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    z AS (
      SELECT day, cum_trials, cum_conv,
             CAST(cum_conv AS HUGEINT) * la12
               + CAST(cum_trials - cum_conv AS HUGEINT) * lb12 AS llr12,
             a12
      FROM c, lr
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(cum_trials AS BIGINT) AS cum_trials,
           CAST(cum_conv AS BIGINT) AS cum_conv,
           CAST(CASE WHEN llr12 >= 0
                     THEN (2*llr12*1000000 + 1000000000000)
                          // CAST(2000000000000 AS HUGEINT)
                     ELSE -((2*(-llr12)*1000000 + 1000000000000)
                            // CAST(2000000000000 AS HUGEINT)) END
                AS DOUBLE) / 1000000 AS llr,
           CASE WHEN llr12 >= a12 THEN 'accept_h1'
                WHEN llr12 <= -a12 THEN 'accept_h0'
                ELSE 'continue' END AS verdict
    FROM z ORDER BY day
    """,
    tags=("experiment", "sequential", "agg-grid-window"),
)
def q346_sprt_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test replay over the daily
    conversion stream: H0 = the first-half purchase rate p0, H1 = 1.2·p0,
    cumulative log-likelihood ratio after each day with Wald boundaries
    ±ln(19) (α=β=0.05) — the always-valid sequential monitor that
    complements the fixed-horizon A/B family (q144/q294): it shows WHEN
    the experiment could have stopped.

    Scale plan: the corpus aggregates to the per-DAY grid once; the
    cumulative is a window over that bounded grid (q216 class).
    Exactness: the per-observation increments ln(p1/p0) = ln(6/5) and
    ln((1−p1)/(1−p0)) = ln of an exact integer ratio are snapped to
    1e-12-unit INTEGERS (floor(x·1e12+0.5) for the positive one,
    ceil-floor mirror for the negative — sign-aware half-away), so the
    cumulative LLR is s·la12 + f·lb12, pure integer arithmetic widened
    to DECIMAL(38,0); the published llr and the boundary comparisons
    are integer operations — no float accumulates across days."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("trials"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    d = d.localCheckpoint(eager=True)  # feeds bounds, first-half agg AND cumsum
    bounds = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    h = (
        d.crossJoin(F.broadcast(bounds))
        .where(F.expr("datediff(day, d0) * 2 < datediff(d1, d0) + 1"))
        .agg(F.sum("trials").alias("t1"), F.sum("conv").alias("s1"))
    )
    lr = h.select(
        F.expr(
            "CAST(floor(ln(CAST(6 AS DOUBLE) / 5) * 1000000000000 + 0.5)"
            " AS BIGINT)"
        ).alias("la12"),
        F.expr(
            "CAST(CASE WHEN 5*t1 - 6*s1 > 0 THEN"
            " floor(ln(CAST(5*t1 - 6*s1 AS DOUBLE) / (5*(t1 - s1)))"
            " * 1000000000000 - 0.5) + 1"
            " ELSE NULL END AS BIGINT)"
        ).alias("lb12"),
        F.expr(
            "CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000000000 + 0.5)"
            " AS BIGINT)"
        ).alias("a12"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("trials").over(w).alias("cum_trials"),
        F.sum("conv").over(w).alias("cum_conv"),
    )
    z = c.crossJoin(F.broadcast(lr)).select(
        "day",
        "cum_trials",
        "cum_conv",
        F.expr(
            "CAST(cum_conv AS DECIMAL(38,0)) * la12"
            " + CAST(cum_trials - cum_conv AS DECIMAL(38,0)) * lb12"
        ).alias("llr12"),
        "a12",
    )
    return z.select(
        F.col("day").cast("string").alias("day"),
        F.col("cum_trials").cast("long").alias("cum_trials"),
        F.col("cum_conv").cast("long").alias("cum_conv"),
        F.expr(
            "CAST(CASE WHEN llr12 >= 0"
            " THEN (2*llr12*1000000 + 1000000000000)"
            " div CAST(2000000000000 AS DECIMAL(38,0))"
            " ELSE -((2*(-llr12)*1000000 + 1000000000000)"
            " div CAST(2000000000000 AS DECIMAL(38,0))) END"
            " AS DOUBLE) / 1000000"
        ).alias("llr"),
        F.expr(
            "CASE WHEN llr12 >= a12 THEN 'accept_h1'"
            " WHEN llr12 <= -a12 THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("verdict"),
    ).orderBy("day")


@query(
    "q347_runs_test",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
    ),
    r AS (
      SELECT day, x, row_number() OVER (ORDER BY x, day) AS rn,
             COUNT(*) OVER () AS nd
      FROM d
    ),
    med AS (SELECT x AS m FROM r WHERE rn = (nd + 1) // 2),
    s AS (
      SELECT day, CASE WHEN x > m THEN 1 ELSE 0 END AS hi
      FROM d, med WHERE x <> m
    ),
    lagd AS (
      SELECT hi, lag(hi) OVER (ORDER BY day) AS ph FROM s
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(hi) AS n1,
             SUM(1 - hi) AS n2,
             1 + SUM(CASE WHEN ph IS NOT NULL AND hi <> ph
                          THEN 1 ELSE 0 END) AS runs
      FROM lagd
    ),
    v AS (
      SELECT n, n1, n2, runs,
             (2*(2*CAST(n1 AS HUGEINT)*n2*(2*CAST(n1 AS HUGEINT)*n2 - n))
              *1000000 + (n - 1))
               // (2*CAST(n - 1 AS HUGEINT)) AS a6
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS runs,
           round((CAST(runs AS DOUBLE) * n - n - 2.0*n1*n2)
                 / sqrt(CAST(a6 AS DOUBLE) / 1000000), 6) AS z
    FROM v
    """,
    tags=("statistics", "randomness", "agg-grid-window"),
)
def q347_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily event-count series: is the
    sequence of above/below-median days random, or does volume cluster
    (trend/regime persistence)?  Z compares the observed run count to
    its exact null mean 1 + 2n1n2/n and variance
    2n1n2(2n1n2−n)/(n²(n−1)) — the nonparametric randomness screen next
    to the trend tests (q228/q229/q329) and the ACF (q241).

    Scale plan: one corpus aggregate to the per-DAY grid; the median is
    a rank pick on the bounded grid and the run boundaries one lag —
    both q216-class grid windows.  Median-ties drop (the standard
    two-sample reduction).  Exactness: n, n1, n2, runs are integers;
    z is published as (runs·n − n − 2n1n2)/√(A/(n−1)) where A/(n−1) is
    half-away-snapped to 1e-6 units in HUGEINT/DECIMAL(38,0) (A is
    n⁴-scale) so the sqrt input is an exact double; the final round(,6)
    sits on an irrational quotient (q317 discipline)."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    d = d.localCheckpoint(eager=True)  # feeds the rank pick AND the sign series
    w = Window.orderBy("x", "day")
    r = d.select(
        "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nd"),
    )
    med = r.where(F.expr("rn = (nd + 1) div 2")).select(
        F.col("x").alias("m")
    )
    s = (
        d.crossJoin(F.broadcast(med))
        .where(F.col("x") != F.col("m"))
        .select("day", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("hi"))
    )
    lagd = s.select(
        "hi", F.lag("hi").over(Window.orderBy("day")).alias("ph")
    )
    agg = lagd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("hi").alias("n1"),
        F.sum(1 - F.col("hi")).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("ph").isNotNull() & (F.col("hi") != F.col("ph")), 1
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    v = agg.select(
        "n",
        "n1",
        "n2",
        "runs",
        F.expr(
            "(2*(2*CAST(n1 AS DECIMAL(38,0))*n2"
            "*(2*CAST(n1 AS DECIMAL(38,0))*n2 - n))*1000000 + (n - 1))"
            " div (2*CAST(n - 1 AS DECIMAL(38,0)))"
        ).alias("a6"),
    )
    return v.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.col("runs").cast("long").alias("runs"),
        F.round(
            (
                F.col("runs").cast("double") * F.col("n")
                - F.col("n")
                - 2.0 * F.col("n1") * F.col("n2")
            )
            / F.sqrt(F.col("a6").cast("double") / 1000000),
            6,
        ).alias("z"),
    )


def _threshold_sweep_oracle() -> str:
    from .textops import _JACCARD_FROM_COMMON, _SHINGLES_CTE

    reaches = []
    selects = []
    for tag, t in (("5", "0.5"), ("6", "0.6"), ("7", "0.7")):
        reaches.append(
            f""",
    p{tag} AS (SELECT id_a, id_b FROM jp WHERE jaccard >= {t}),
    g{tag} AS (
      SELECT id_a AS u, id_b AS v FROM p{tag}
      UNION SELECT id_b, id_a FROM p{tag}
    ),
    reach{tag}(u, v) AS (
      SELECT u, v FROM g{tag}
      UNION
      SELECT r.u, e.v FROM reach{tag} r JOIN g{tag} e ON r.v = e.u
    ),
    comp{tag} AS (
      SELECT u AS id, LEAST(u, MIN(v)) AS component
      FROM reach{tag} GROUP BY u
    ),
    stat{tag} AS (
      SELECT {t} AS threshold,
             (SELECT COUNT(*) FROM p{tag}) AS n_pairs,
             COUNT(DISTINCT component) AS n_components,
             COUNT(*) AS n_docs_clustered,
             COALESCE(MAX(csize), 0) AS largest
      FROM (SELECT component, COUNT(*) AS csize
            FROM comp{tag} GROUP BY 1)
      JOIN comp{tag} USING (component)
    )"""
        )
        selects.append(
            f"SELECT threshold, CAST(n_pairs AS BIGINT) AS n_pairs,"
            f" CAST(n_components AS BIGINT) AS n_components,"
            f" CAST(n_docs_clustered AS BIGINT) AS n_docs_clustered,"
            f" CAST(largest AS BIGINT) AS largest FROM stat{tag}"
        )
    return (
        f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    jp AS MATERIALIZED ({_JACCARD_FROM_COMMON})"""
        + "".join(reaches)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY threshold"
    )


@query(
    "q348_dedup_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
    tags=("dedup", "clustering", "tuning"),
)
def q348_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity curve: connected-component cluster
    statistics of the exact-Jaccard pair graph at t ∈ {0.5, 0.6, 0.7} —
    pairs, components, clustered docs and the largest cluster per
    threshold.  THE tuning artifact for a near-dup pass: the largest-
    component trajectory shows where transitive over-merge sets in
    (q304's audit at one threshold, swept), and the doc counts quantify
    how much corpus each setting would collapse.

    Scale plan: ONE memoized pair table (the q21/q27 shared artifact —
    only above-0.5 pairs survive, so the sweep input is tiny) filtered
    per threshold; three CC runs on monotonically SHRINKING graphs.
    Exactness: jaccard is the 6-dp round of an exact rational in both
    engines, so >= comparisons at the grid points agree; components use
    the deterministic min-label convention (q27)."""
    from ..graph.algorithms import connected_components
    from .textops import cached_jaccard_pairs

    # ONE min-label CC over the threshold-TAGGED union graph: node ids
    # are offset by t_idx*10^12 per threshold, so the three (nested)
    # graphs share one superstep schedule instead of paying the CC loop
    # floor three times (solo A/B at sf0.1: 4.2 s -> ~1.9 s warm).
    # Tags never mix (no cross-tag edges) and min-label stays in-tag.
    jp = cached_jaccard_pairs(spark, sf_dir)
    tagged = None
    for i, t in enumerate((0.5, 0.6, 0.7)):
        e = jp.where(F.col("jaccard") >= t).select(
            (F.lit(i) * F.lit(10 ** 12) + F.col("id_a")).alias("src"),
            (F.lit(i) * F.lit(10 ** 12) + F.col("id_b")).alias("dst"),
        )
        tagged = e if tagged is None else tagged.union(e)
    comp = connected_components(tagged)
    csz = comp.groupBy(
        F.expr("component div 1000000000000").alias("ti"),
        "component",
    ).agg(F.count(F.lit(1)).alias("csize"))
    stats = csz.groupBy("ti").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("csize").alias("n_docs_clustered"),
        F.max("csize").alias("largest"),
    )
    np_ = jp.groupBy().agg(
        *[
            F.sum(F.when(F.col("jaccard") >= t, 1).otherwise(0)).alias(f"np{i}")
            for i, t in enumerate((0.5, 0.6, 0.7))
        ]
    )
    np_rows = np_.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ti"), F.col(f"np{i}").alias("n_pairs")
                    )
                    for i in range(3)
                ]
            )
        ).alias("s")
    ).select("s.ti", "s.n_pairs")
    return (
        stats.join(F.broadcast(np_rows), "ti", "right")
        .select(
            F.expr("CAST(0.5 + ti * 0.1 AS DOUBLE)").alias("threshold"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_components"), F.lit(0))
            .cast("long")
            .alias("n_components"),
            F.coalesce(F.col("n_docs_clustered"), F.lit(0))
            .cast("long")
            .alias("n_docs_clustered"),
            F.coalesce(F.col("largest"), F.lit(0)).cast("long").alias("largest"),
        )
        .orderBy("threshold")
    )


@query(
    "q349_shard_balance",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             {_md5_mod_sql("doc_id", 8)} AS shard
      FROM documents
    ),
    cs AS (SELECT shard, source, COUNT(*) AS c FROM d GROUP BY 1, 2),
    ns AS (SELECT shard, SUM(c) AS n FROM cs GROUP BY 1),
    gs AS (SELECT source, COUNT(*) AS g FROM d GROUP BY 1),
    t AS (SELECT COUNT(*) AS nt FROM d),
    dev AS (
      SELECT ns.shard, ns.n,
             abs(CAST(COALESCE(cs.c, 0) AS HUGEINT) * nt
                 - CAST(gs.g AS HUGEINT) * ns.n) AS num
      FROM ns CROSS JOIN gs
      LEFT JOIN cs ON cs.shard = ns.shard AND cs.source = gs.source, t
    ),
    agg AS (
      SELECT shard, n, MAX(num) AS mx, SUM(num) AS sm FROM dev GROUP BY 1, 2
    )
    SELECT CAST(shard AS BIGINT) AS shard, CAST(n AS BIGINT) AS n_docs,
           {_ha6_sql("mx", "CAST(n AS HUGEINT) * (SELECT nt FROM t)")}
             AS max_abs_dev,
           {_ha6_sql("sm", "2 * CAST(n AS HUGEINT) * (SELECT nt FROM t)")}
             AS tv_distance
    FROM agg ORDER BY shard
    """,
    tags=("sharding", "curation", "audit"),
)
def q349_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard stratification audit for a deterministic corpus shuffle:
    md5-shard the documents into 8 training shards and compare each
    shard's SOURCE composition to the global mix — max absolute share
    deviation and total-variation distance per shard.  The quality gate
    for 'is my shuffle a real shuffle': a skewed shard biases every
    data-parallel worker that consumes it (complements the mixture
    sampler q108 and the partition-skew audit q258, which measures
    SIZE, not composition).

    Scale plan: one count aggregate to (shard × source) cardinality
    (bounded: 8 × source vocabulary); devs are computed on the bounded
    grid with a shard×source CROSS join against the source margin so
    MISSING cells count as zero share (never silently dropped).
    Exactness: share deviations are exact integer cross-products over
    the common denominator n_shard·N, so max/sum commute with the
    single final `_ha6` rounding."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _md5_mod(F.col("doc_id"), 8).alias("shard")
    )
    d = d.localCheckpoint(eager=True)  # feeds 3 aggregates
    cs = d.groupBy("shard", "source").agg(F.count(F.lit(1)).alias("c"))
    ns = cs.groupBy("shard").agg(F.sum("c").alias("n"))
    gs = d.groupBy("source").agg(F.count(F.lit(1)).alias("g"))
    t = d.agg(F.count(F.lit(1)).alias("nt"))
    dev = (
        ns.crossJoin(F.broadcast(gs))
        .join(cs, ["shard", "source"], "left")
        .crossJoin(F.broadcast(t))
        .select(
            "shard",
            "n",
            "nt",
            F.expr(
                "abs(CAST(COALESCE(c, 0) AS DECIMAL(38,0)) * nt"
                " - CAST(g AS DECIMAL(38,0)) * n)"
            ).alias("num"),
        )
    )
    agg = dev.groupBy("shard", "n", "nt").agg(
        F.max("num").alias("mx"), F.sum("num").alias("sm")
    )
    return agg.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n").cast("long").alias("n_docs"),
        F.expr(
            "CAST((2*mx*1000000 + CAST(n AS DECIMAL(38,0))*nt)"
            " div (2*CAST(n AS DECIMAL(38,0))*nt) AS DOUBLE) / 1000000"
        ).alias("max_abs_dev"),
        F.expr(
            "CAST((2*sm*1000000 + 2*CAST(n AS DECIMAL(38,0))*nt)"
            " div (2*(2*CAST(n AS DECIMAL(38,0))*nt)) AS DOUBLE) / 1000000"
        ).alias("tv_distance"),
    ).orderBy("shard")


@query(
    "q350_poisson_rate_ratio",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
    halves AS (
      SELECT event_type,
             SUM(CASE WHEN (day - d0) * 2 < (d1 - d0) + 1 THEN c ELSE 0 END)
               AS c1,
             SUM(CASE WHEN (day - d0) * 2 < (d1 - d0) + 1 THEN 0 ELSE c END)
               AS c2,
             CAST(((d1 - d0) + 1 + 1) // 2 AS BIGINT) AS t1,
             CAST((d1 - d0) + 1 - (((d1 - d0) + 1 + 1) // 2) AS BIGINT) AS t2
      FROM d, b GROUP BY event_type, d0, d1
    )
    SELECT event_type,
           CAST(c1 AS BIGINT) AS n_first, CAST(c2 AS BIGINT) AS n_second,
           t1 AS days_first, t2 AS days_second,
           CASE WHEN c2 > 0 THEN
             {_ha6_sql("CAST(c1 AS HUGEINT) * t2 * 1",
                       "CAST(c2 AS HUGEINT) * t1")}
           END AS rate_ratio,
           round((CAST(c1 AS DOUBLE) * (t1 + t2) - (c1 + c2) * CAST(t1 AS DOUBLE))
                 / sqrt(CAST((c1 + c2) AS DOUBLE) * t1 * t2), 6) AS z
    FROM halves ORDER BY event_type
    """,
    tags=("statistics", "poisson", "experiment"),
)
def q350_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison per event type: first vs
    second calendar half, rate ratio (λ1/λ2 with exposure correction)
    and the exact conditional z — under H0, c1 | c1+c2 is
    Binomial(n, t1/(t1+t2)), so z = (c1·(t1+t2) − n·t1)/√(n·t1·t2) is a
    pure-integer numerator over an integer sqrt.  The count-data
    sibling of the Welch test (q144) and the SPRT monitor (q346).

    Scale plan: one aggregate to the (type × day) grid, one conditional
    rollup per type — all bounded.  Exactness: exposures are exact
    calendar-day integers; the rate ratio is an exact integer rational
    (`_ha6`, NULL-guarded when the second half is empty); z divides an
    exact integer double by an irrational sqrt (round-safe, q317)."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    b = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    halves = (
        d.crossJoin(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.expr("datediff(day, d0) * 2 < datediff(d1, d0) + 1"),
                    F.col("c"),
                ).otherwise(0)
            ).alias("c1"),
            F.sum(
                F.when(
                    F.expr("datediff(day, d0) * 2 < datediff(d1, d0) + 1"), 0
                ).otherwise(F.col("c"))
            ).alias("c2"),
            F.expr(
                "CAST((datediff(MAX(d1), MAX(d0)) + 1 + 1) div 2 AS BIGINT)"
            ).alias("t1"),
            F.expr(
                "CAST(datediff(MAX(d1), MAX(d0)) + 1"
                " - ((datediff(MAX(d1), MAX(d0)) + 1 + 1) div 2) AS BIGINT)"
            ).alias("t2"),
        )
    )
    return halves.select(
        "event_type",
        F.col("c1").cast("long").alias("n_first"),
        F.col("c2").cast("long").alias("n_second"),
        F.col("t1").alias("days_first"),
        F.col("t2").alias("days_second"),
        F.when(
            F.col("c2") > 0,
            F.expr(
                "CAST((2*(CAST(c1 AS DECIMAL(38,0)) * t2 * 1)*1000000"
                " + (CAST(c2 AS DECIMAL(38,0)) * t1))"
                " div (2*(CAST(c2 AS DECIMAL(38,0)) * t1)) AS DOUBLE)"
                " / 1000000"
            ),
        ).alias("rate_ratio"),
        F.round(
            (
                F.col("c1").cast("double") * (F.col("t1") + F.col("t2"))
                - (F.col("c1") + F.col("c2")) * F.col("t1").cast("double")
            )
            / F.sqrt(
                (F.col("c1") + F.col("c2")).cast("double")
                * F.col("t1")
                * F.col("t2")
            ),
            6,
        ).alias("z"),
    ).orderBy("event_type")


@query(
    "q351_semantic_decontamination",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 6) >= 0.3
    ),
    split AS (
      SELECT vec_id,
             CASE WHEN {_md5_mod_sql("vec_id", 10)} = 0
                  THEN 1 ELSE 0 END AS is_eval
      FROM embeddings
    ),
    cross_pairs AS (
      SELECT CASE WHEN sa.is_eval = 1 THEN p.ib ELSE p.ia END AS train_id
      FROM p
      JOIN split sa ON sa.vec_id = p.ia
      JOIN split sb ON sb.vec_id = p.ib
      WHERE sa.is_eval + sb.is_eval = 1
    ),
    flagged AS (SELECT DISTINCT train_id FROM cross_pairs),
    t AS (
      SELECT SUM(is_eval) AS n_eval,
             SUM(1 - is_eval) AS n_train
      FROM split
    )
    SELECT CAST(n_eval AS BIGINT) AS n_eval,
           CAST(n_train AS BIGINT) AS n_train,
           CAST((SELECT COUNT(*) FROM flagged) AS BIGINT)
             AS n_contaminated,
           {_ha6_sql("(SELECT COUNT(*) FROM flagged)", "n_train")}
             AS contamination_rate
    FROM t
    """,
    tags=("decontamination", "embedding", "dedup"),
)
def q351_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC train/eval decontamination: with a deterministic md5
    10% eval split of the embedding corpus, count training vectors
    whose cosine to ANY eval vector reaches the 0.3 near-dup bar — the
    embedding-space sibling of the n-gram decontamination gate (q91):
    n-grams catch verbatim leakage, cosine catches paraphrase leakage.

    Scale plan: reuses the memoized candidate-first eps-pair kernel
    (`cached_eps_pairs`, the q194/q235 shared artifact — cell-pruned
    EXACT pairs, never an all-pairs GEMM); the split and the cross-pair
    filter are projections and one semi-ish distinct over the tiny
    above-threshold pair table.  Exactness: the kernel's rounded
    cosines are oracle-pinned (q194's equality discipline), the flag
    set is exact integers, and the rate is an `_ha6` rational.

    Grid budget: 2*hits*1e6 with hits <= n_train fits int64 to ~4.6e12 train docs."""
    from .analytics import cached_eps_pairs

    pairs = cached_eps_pairs(spark, sf_dir, threshold=0.3)
    split = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(_md5_mod(F.col("vec_id"), 10) == 0, 1).otherwise(0).alias(
            "is_eval"
        ),
    )
    split = split.localCheckpoint(eager=True)  # feeds 2 pair joins + totals
    sa = split.select(
        F.col("vec_id").alias("id_a"), F.col("is_eval").alias("ea")
    )
    sb = split.select(
        F.col("vec_id").alias("id_b"), F.col("is_eval").alias("eb")
    )
    flagged = (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .where(F.col("ea") + F.col("eb") == 1)
        .select(
            F.when(F.col("ea") == 1, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_id")
        )
        .distinct()
    )
    nf = flagged.agg(F.count(F.lit(1)).alias("n_contaminated"))
    t = split.agg(
        F.sum("is_eval").alias("n_eval"),
        F.sum(1 - F.col("is_eval")).alias("n_train"),
    )
    return (
        t.crossJoin(F.broadcast(nf))
        .select(
            F.col("n_eval").cast("long").alias("n_eval"),
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.expr(
                "CAST((2*n_contaminated*1000000 + n_train)"
                " div (2*n_train) AS DOUBLE) / 1000000"
            ).alias("contamination_rate"),
        )
    )


@query(
    "q352_discount_elasticity",
    oracle=f"""
    WITH x AS (
      SELECT p.p_brand AS brand,
             CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS xu,
             CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
      SELECT brand, COUNT(*) AS n,
             SUM(CAST(xu AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(xu AS HUGEINT) * xu) AS sxx,
             SUM(CAST(xu AS HUGEINT) * y) AS sxy
      FROM x GROUP BY 1
    )
    SELECT brand, CAST(n AS BIGINT) AS n_lines,
           {_ha6_sql("sy", "n")} AS mean_qty,
           {_ha6_sql("sx", "n")} AS mean_discount_pct,
           CAST(CASE WHEN n*sxy - sx*sy >= 0
                     THEN (2*(n*sxy - sx*sy)*1000000 + (n*sxx - sx*sx))
                          // (2*(n*sxx - sx*sx))
                     ELSE -((2*(sx*sy - n*sxy)*1000000 + (n*sxx - sx*sx))
                            // (2*(n*sxx - sx*sx))) END
                AS DOUBLE) / 1000000 AS qty_per_discount_pt
    FROM s ORDER BY brand
    """,
    tags=("econ", "regression", "agg"),
)
def q352_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount response per brand: the OLS slope of line quantity on
    discount percentage points — 'how many extra units does one more
    point of discount move' — next to the per-brand means.  The
    price-response sibling of the time-trend OLS (q189) and the
    promo-share rollup (q54).

    Scale plan: ONE fact-scan moment aggregate per brand (the part dim
    broadcasts onto lineitem); everything after is the bounded brand
    table.  Exactness: discounts live on an exact integer percent grid
    (2-dp doubles snap losslessly), quantities are integral; the slope
    (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) is an exact integer rational in
    HUGEINT/DECIMAL(38,0), published sign-aware half-away (negative
    slopes are the expected sign of nothing here — the synthetic data
    draws discount and quantity independently, making ~0 slopes the
    pinned truth)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    x = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
    ).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("xu"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("y"),
    )
    s = x.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("CAST(xu AS DECIMAL(38,0)) * xu")).alias("sxx"),
        F.sum(F.expr("CAST(xu AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    return s.select(
        "brand",
        F.col("n").cast("long").alias("n_lines"),
        F.expr(
            "CAST((2*sy*1000000 + n) div (2*n) AS DOUBLE) / 1000000"
        ).alias("mean_qty"),
        F.expr(
            "CAST((2*sx*1000000 + n) div (2*n) AS DOUBLE) / 1000000"
        ).alias("mean_discount_pct"),
        F.expr(
            "CAST(CASE WHEN n*sxy - sx*sy >= 0"
            " THEN (2*(n*sxy - sx*sy)*1000000 + (n*sxx - sx*sx))"
            " div (2*(n*sxx - sx*sx))"
            " ELSE -((2*(sx*sy - n*sxy)*1000000 + (n*sxx - sx*sx))"
            " div (2*(n*sxx - sx*sx))) END AS DOUBLE) / 1000000"
        ).alias("qty_per_discount_pt"),
    ).orderBy("brand")


@query(
    "q353_hill_tail_index",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey AS ok
      FROM orders
    ),
    top AS (
      SELECT cents FROM c ORDER BY cents DESC, ok LIMIT 101
    ),
    thr AS (SELECT MIN(cents) AS xk FROM top),
    s AS (
      SELECT SUM(CAST(round(ln(CAST(cents AS DOUBLE) / xk), 12)
                      AS DECIMAL(20,12))) AS hsum
      FROM top, thr
    )
    SELECT 100 AS k,
           CAST((SELECT xk FROM thr) AS BIGINT) AS boundary_cents,
           CAST(hsum AS DOUBLE) / 100 AS hill_inv_alpha,
           round(100 / CAST(hsum AS DOUBLE), 6) AS hill_alpha
    FROM s
    """,
    tags=("statistics", "heavy-tail", "topk"),
)
def q353_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index at k=100: mean of
    ln(x_(i)/x_(k+1)) over the top-k order statistics — the standard
    heavy-tail exponent (small α = fatter tail = a few whale orders
    dominate), quantifying what the Gini (q259) and Pareto coverage
    (q285) describe.

    Scale plan: ONE TakeOrdered top-101 (never a global sort); the
    boundary x_(k+1) is the min of that bounded frame, and the
    boundary row's own term is ln(1)=0, so the sum runs over all 101
    rows with no post-limit ranking.  Exactness: values are exact
    integer cents; each ln(exact ratio) snaps 12 dp into DECIMAL(20,12)
    before the exact sum (q327 discipline); ties at the boundary cut
    break on the order key identically in both engines."""
    o = read_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderkey").alias("ok"),
    )
    top = (
        o.orderBy(F.col("cents").desc(), "ok").limit(101).select("cents")
    )
    top = top.localCheckpoint(eager=True)  # feeds the boundary agg AND the sum
    thr = top.agg(F.min("cents").alias("xk"))
    s = top.crossJoin(F.broadcast(thr)).agg(
        F.sum(
            F.expr(
                "CAST(round(ln(CAST(cents AS DOUBLE) / xk), 12)"
                " AS DECIMAL(20,12))"
            )
        ).alias("hsum"),
        F.max("xk").alias("xk"),
    )
    return s.select(
        F.lit(100).alias("k"),
        F.col("xk").cast("long").alias("boundary_cents"),
        (F.col("hsum").cast("double") / 100).alias("hill_inv_alpha"),
        F.round(100 / F.col("hsum").cast("double"), 6).alias("hill_alpha"),
    )


def _lsh_sweep_oracle() -> str:
    configs = ((2, 4), (4, 2), (8, 1))  # (bands, rows_per_band), P = 8
    parts = []
    selects = []
    for bands, rows in configs:
        mins = " || '|' || ".join(
            f"MIN(CASE WHEN seed // {bands} = {r} THEN h END)"
            for r in range(rows)
        )
        parts.append(
            f""",
    sig{bands} AS (
      SELECT id, seed % {bands} AS band,
             md5(CAST(seed % {bands} AS VARCHAR) || '|' || {mins})
               AS band_sig
      FROM hashed GROUP BY id, seed % {bands}
    ),
    cand{bands} AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sig{bands} a JOIN sig{bands} b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id
    )"""
        )
        selects.append(
            f"""SELECT {bands} AS bands, {rows} AS rows_per_band,
           CAST((SELECT COUNT(*) FROM cand{bands}) AS BIGINT)
             AS n_candidates,
           CAST((SELECT COUNT(*) FROM cand{bands} JOIN truth
                 USING (id_a, id_b)) AS BIGINT) AS true_positives,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth_pairs"""
        )
    from .analytics2 import _ha6_sql as _h

    body = "\n    UNION ALL ".join(selects)
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id AS id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)-1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks
      )
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    hashed AS MATERIALIZED (
      SELECT id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
      FROM sh, (SELECT unnest(range(0, 8)) AS seed)
    ),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM common c JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE 2*c.n_common >= sa.n + sb.n - c.n_common
    ){"".join(parts)},
    sweep AS ({body})
    SELECT bands, rows_per_band, n_candidates, true_positives,
           n_truth_pairs,
           {_h("true_positives", "n_candidates")} AS precision,
           {_h("true_positives", "n_truth_pairs")} AS recall
    FROM sweep ORDER BY bands
    """


@query(
    "q354_lsh_parameter_sweep",
    oracle=_lsh_sweep_oracle(),
    tags=("dedup", "lsh", "tuning"),
)
def q354_lsh_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve parameter sweep: candidate precision/recall of THREE
    banding schemes over the same 8 MinHash permutations — (2 bands × 4
    rows), q22's default (4 × 2), and (8 × 1) — against the exact
    Jaccard ≥ 0.5 truth.  Extends the single-config eval (q302) to the
    actual tuning decision: more rows per band sharpens precision
    (collision needs a longer run of matching minima), more bands buys
    recall; the sweep shows both sides of the S-curve knee at once.

    Scale plan (single signature pass, r9 verdict #4): the 8
    per-permutation minima are computed in ONE corpus md5/explode pass
    into a pinned wide table (id, mh0..mh7); each scheme's band
    signature is a pure projection of that row — md5 over its row-slot
    minima, the exact :func:`operators.dedup.band_signatures` layout
    (row r of band b is permutation r·bands + b) — so the three banded
    equi-joins fan out of one shuffle instead of three corpus passes.
    Truth is the memoized exact pair table.  Exactness: band-signature
    equality ⟺ minima-tuple equality (md5), so candidate sets are
    identical to per-scheme signing; pure integer counts; P/R half-away
    rationals; the exact-integer threshold form 2·common ≥ na+nb−common
    (q302's).

    Grid budget: 2*tp*1e6 with tp <= candidate/truth pair counts (banded, bounded) fits int64 to ~4.6e12 pairs."""
    from .textops import cached_jaccard_pairs, cached_shingles

    sh = cached_shingles(spark, sf_dir)
    truth = cached_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    truth = truth.localCheckpoint(eager=True)  # feeds one tp join per scheme
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    # column-wise permutation minima (the r12 band_signatures form): the
    # 8 md5s ride as COLUMNS of the un-exploded shingle rows — one
    # hash-agg probe per shingle instead of 8, identical hash inputs
    mins = (
        sh.groupBy("id")
        .agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{p}:"), F.col("shingle")))
                ).alias(f"mh{p}")
                for p in range(8)
            ]
        )
        .localCheckpoint(eager=True)  # feeds all three schemes
    )
    out = None
    for bands in (2, 4, 8):
        rpb = 8 // bands
        sig = mins.select(
            "id",
            F.posexplode(
                F.array(
                    *[
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.lit(str(band)),
                                *[
                                    F.col(f"mh{r * bands + band}")
                                    for r in range(rpb)
                                ],
                            )
                        )
                        for band in range(bands)
                    ]
                )
            ).alias("band", "band_sig"),
        )
        a = sig.select(F.col("id").alias("id_a"), "band", "band_sig")
        b = sig.select(F.col("id").alias("id_b"), "band", "band_sig")
        cand = (
            a.join(b, ["band", "band_sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .localCheckpoint(eager=True)  # feeds the count AND the tp join
        )
        nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
        tp = cand.join(truth, ["id_a", "id_b"]).agg(
            F.count(F.lit(1)).alias("tp")
        )
        row = (
            nc.crossJoin(F.broadcast(tp))
            .crossJoin(F.broadcast(nt))
            .select(
                F.lit(bands).alias("bands"),
                F.lit(8 // bands).alias("rows_per_band"),
                F.col("n_cand").cast("long").alias("n_candidates"),
                F.col("tp").cast("long").alias("true_positives"),
                F.col("n_truth").cast("long").alias("n_truth_pairs"),
                F.expr(
                    "CAST((2*tp*1000000 + n_cand) div (2*n_cand)"
                    " AS DOUBLE) / 1000000"
                ).alias("precision"),
                F.expr(
                    "CAST((2*tp*1000000 + n_truth) div (2*n_truth)"
                    " AS DOUBLE) / 1000000"
                ).alias("recall"),
            )
        )
        out = row if out is None else out.union(row)
    return out.orderBy("bands")


@query(
    "q355_prefix_cache_audit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    lv AS (
      SELECT k, doc_id,
             md5(array_to_string(t[1:k], ' ')) AS ph
      FROM toks, (VALUES (8),(16),(32)) AS v(k)
      WHERE len(t) >= k
    ),
    g AS (SELECT k, ph, COUNT(*) AS n FROM lv GROUP BY 1, 2),
    s AS (
      SELECT k,
             SUM(n) AS docs_at_k,
             SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup_docs,
             SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS dup_groups,
             MAX(n) AS largest_group
      FROM g GROUP BY 1
    )
    SELECT CAST(k AS INT) AS prefix_tokens,
           CAST(docs_at_k AS BIGINT) AS docs_at_k,
           CAST(dup_groups AS BIGINT) AS shared_prefix_groups,
           CAST(largest_group AS BIGINT) AS largest_group,
           {_ha6_sql("dup_docs", "docs_at_k")} AS shared_prefix_share
    FROM s ORDER BY prefix_tokens
    """,
    tags=("llm", "serving", "prefix"),
)
def q355_prefix_cache_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-reuse audit for KV-cache economics: at prefix lengths
    k ∈ {8, 16, 32} tokens, how much of the corpus shares an exact
    token prefix with another document — shared-prefix groups, the
    largest group, and the share of docs whose prefill could reuse a
    cached prefix.  The serving-side sibling of the exact-substring
    span family (q139: spans ANYWHERE; here: anchored at position 1,
    the only kind a prefix cache exploits).

    Scale plan: tokens are computed once per doc, each level is one
    md5 of the SLICED prefix (JVM expressions), and the census is one
    (k, hash) aggregate — no pair enumeration anywhere: group sizes,
    not pairs, carry the statistic.  Exactness: md5 over the identical
    space-joined prefix string in both engines; shares `_ha6`.

    Grid budget: 2*dup_docs*1e6 with dup_docs <= corpus docs fits int64 to ~4.6e12 docs."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("t"),
    )
    lv = (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("k"),
        )
        .where(F.size("t") >= F.col("k"))
        .select(
            "k",
            F.md5(
                F.array_join(F.slice(F.col("t"), 1, F.col("k")), " ")
            ).alias("ph"),
        )
    )
    g = lv.groupBy("k", "ph").agg(F.count(F.lit(1)).alias("n"))
    s = g.groupBy("k").agg(
        F.sum("n").alias("docs_at_k"),
        F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0)).alias(
            "dup_docs"
        ),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias("dup_groups"),
        F.max("n").alias("largest_group"),
    )
    return s.select(
        F.col("k").cast("int").alias("prefix_tokens"),
        F.col("docs_at_k").cast("long").alias("docs_at_k"),
        F.col("dup_groups").cast("long").alias("shared_prefix_groups"),
        F.col("largest_group").cast("long").alias("largest_group"),
        F.expr(
            "CAST((2*dup_docs*1000000 + docs_at_k) div (2*docs_at_k)"
            " AS DOUBLE) / 1000000"
        ).alias("shared_prefix_share"),
    ).orderBy("prefix_tokens")


@query(
    "q356_truncation_waste",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok
      FROM documents
    ),
    s AS (
      SELECT source, b AS budget,
             COUNT(*) AS n_docs,
             SUM(n_tok) AS total_tokens,
             SUM(CASE WHEN n_tok > b THEN n_tok - b ELSE 0 END)
               AS lost_tokens,
             SUM(CASE WHEN n_tok > b THEN 1 ELSE 0 END) AS docs_truncated
      FROM d, (VALUES (128),(192),(256)) AS v(b)
      GROUP BY 1, 2
    )
    SELECT source, CAST(budget AS INT) AS budget,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(lost_tokens AS BIGINT) AS lost_tokens,
           CAST(docs_truncated AS BIGINT) AS docs_truncated,
           {_ha6_sql("lost_tokens", "total_tokens")} AS loss_share,
           {_ha6_sql("docs_truncated", "n_docs")} AS truncated_share
    FROM s ORDER BY source, budget
    """,
    tags=("llm", "curation", "budget"),
)
def q356_truncation_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-waste curve: per source and context budget
    L ∈ {128, 192, 256} tokens, the token mass and document share lost
    to hard truncation — the third corner of the sequence-length
    triangle next to padding waste (q172: budget too LONG) and packing
    efficiency (q160): this one quantifies budget too SHORT, per
    source, so budget and mixture decisions see the same table.

    Scale plan: one token-count projection per doc (no token
    materialization — only the length survives), a 3-budget constant
    fan-out, one aggregate to the bounded (source × budget) grid.
    Exactness: all integers; shares `_ha6`."""
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_tok"
        ),
    )
    s = (
        d.select(
            "source",
            "n_tok",
            F.explode(
                F.array(F.lit(128), F.lit(192), F.lit(256))
            ).alias("budget"),
        )
        .groupBy("source", "budget")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(
                F.when(
                    F.col("n_tok") > F.col("budget"),
                    F.col("n_tok") - F.col("budget"),
                ).otherwise(0)
            ).alias("lost_tokens"),
            F.sum(
                F.when(F.col("n_tok") > F.col("budget"), 1).otherwise(0)
            ).alias("docs_truncated"),
        )
    )
    return s.select(
        "source",
        F.col("budget").cast("int").alias("budget"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("lost_tokens").cast("long").alias("lost_tokens"),
        F.col("docs_truncated").cast("long").alias("docs_truncated"),
        F.expr(
            "CAST((2*lost_tokens*1000000 + total_tokens)"
            " div (2*total_tokens) AS DOUBLE) / 1000000"
        ).alias("loss_share"),
        F.expr(
            "CAST((2*docs_truncated*1000000 + n_docs) div (2*n_docs)"
            " AS DOUBLE) / 1000000"
        ).alias("truncated_share"),
    ).orderBy("source", "budget")


def _mmr_oracle() -> str:
    """Generated DuckDB twin of the q357 MMR replay: exact integer
    micro-grid cosines (quantized element dots, engine-identical
    floor(x·1e6+0.5) snap of the double quotient), top-20 candidates
    per query, then TEN unrolled greedy steps — each picks
    FIRST(vec_id ORDER BY score DESC, vec_id) per query (q320's
    argmax-with-tiebreak form) where score = 7·rel_u − 3·maxsim_u is a
    pure integer.  Every selected-set CTE is multi-referenced →
    MATERIALIZED."""
    steps = []
    prev = "sel0"
    for t in range(1, 11):
        steps.append(
            f""",
    ms{t} AS (
      SELECT p.qid, p.a, MAX(p.sim_u) AS ms
      FROM pairs p JOIN {prev} s ON s.qid = p.qid AND s.vec_id = p.b
      GROUP BY 1, 2
    ),
    sc{t} AS (
      SELECT c.qid, c.vec_id, c.rel_u,
             7*c.rel_u - 3*COALESCE(m.ms, 0) AS score
      FROM cand c
      LEFT JOIN {prev} s ON s.qid = c.qid AND s.vec_id = c.vec_id
      LEFT JOIN ms{t} m ON m.qid = c.qid AND m.a = c.vec_id
      WHERE s.vec_id IS NULL
    ),
    pick{t} AS (
      SELECT qid, FIRST(vec_id ORDER BY score DESC, vec_id) AS vec_id,
             FIRST(rel_u ORDER BY score DESC, vec_id) AS rel_u,
             FIRST(score ORDER BY score DESC, vec_id) AS score,
             {t} AS pos
      FROM sc{t} GROUP BY qid
    ),
    sel{t} AS MATERIALIZED (
      SELECT qid, vec_id, rel_u, score, pos FROM pick{t}
      UNION ALL SELECT qid, vec_id, rel_u, score, pos FROM {prev}
    )"""
        )
        prev = f"sel{t}"
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding FROM embeddings
      ORDER BY vec_id LIMIT 3
    ),
    qx AS (
      SELECT qid, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS x
      FROM q, range(1, 65) AS t(i)
    ),
    cx AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings, range(1, 65) AS t(i)
    ),
    cn AS (SELECT vec_id, SUM(CAST(x AS HUGEINT) * x) AS nc FROM cx GROUP BY 1),
    dots AS (
      SELECT q.qid, c.vec_id, SUM(CAST(q.x AS HUGEINT) * c.x) AS dot
      FROM qx q JOIN cx c ON q.i = c.i GROUP BY 1, 2
    ),
    rel AS (
      SELECT d.qid, d.vec_id,
             CAST(floor(CAST(d.dot AS DOUBLE)
                        / (sqrt(CAST(nq.nc AS DOUBLE))
                           * sqrt(CAST(nc.nc AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS rel_u
      FROM dots d
      JOIN cn nq ON nq.vec_id = d.qid
      JOIN cn nc ON nc.vec_id = d.vec_id
      WHERE d.vec_id <> d.qid
    ),
    cand AS MATERIALIZED (
      SELECT qid, vec_id, rel_u FROM (
        SELECT qid, vec_id, rel_u,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel_u DESC, vec_id) AS rn
        FROM rel
      ) WHERE rn <= 20
    ),
    pairs AS MATERIALIZED (
      SELECT a.qid, a.vec_id AS a, b.vec_id AS b,
             CAST(floor(CAST(SUM(CAST(xa.x AS HUGEINT) * xb.x) AS DOUBLE)
                        / (sqrt(CAST(MAX(na.nc) AS DOUBLE))
                           * sqrt(CAST(MAX(nb.nc) AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS sim_u
      FROM cand a
      JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
      JOIN cx xa ON xa.vec_id = a.vec_id
      JOIN cx xb ON xb.vec_id = b.vec_id AND xb.i = xa.i
      JOIN cn na ON na.vec_id = a.vec_id
      JOIN cn nb ON nb.vec_id = b.vec_id
      GROUP BY 1, 2, 3
    ),
    sel0 AS (SELECT NULL::BIGINT AS qid, NULL::BIGINT AS vec_id,
                    NULL::BIGINT AS rel_u, NULL::BIGINT AS score,
                    0 AS pos WHERE FALSE)
    {''.join(steps)}
    SELECT qid AS query_id, CAST(pos AS INT) AS position, vec_id,
           CAST(rel_u AS DOUBLE) / 1000000 AS relevance,
           CAST(score AS DOUBLE) / 10000000 AS mmr_score
    FROM {prev} ORDER BY query_id, position
    """


@query(
    "q357_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("retrieval", "diversity", "kernel"),
)
def q357_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: for 3 probe vectors, take
    the exact cosine top-20 and greedily select 10 results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected (λ = 0.7) —
    the diversity-aware re-ranker between retrieval (q24/q67) and its
    quality metrics (q263/q267): near-duplicate hits stop crowding out
    coverage.

    Scale plan: relevance is ONE broadcast-probe integer-dot pass over
    the posexploded corpus (the q301 shape — 3×64 probe elements
    broadcast, map-side partial agg) + a WindowGroupLimit top-20 cut;
    the greedy loop is bounded state (3 queries × 20 candidates), so it
    runs driver-side on a guarded collect (q337's rule) with pair
    similarities computed from the SAME quantized integers, and ships
    back as a local relation.  Exactness: vectors quantize to the
    1e-6 integer grid, dots/norms are exact integers, every cosine is
    the engine-identical floor(double·1e6 + 0.5) snap, and MMR scores
    7·rel_u − 3·maxsim_u are pure integers — selection and tie-breaks
    (score desc, vec_id) are integer-deterministic; the generated
    10-step MATERIALIZED CTE chain replays every pick."""
    import math

    emb = read_table(spark, sf_dir, "embeddings")
    cx = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("p", "xf"),
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("i"),
        F.floor(F.col("xf").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    cx = cx.localCheckpoint(eager=True)  # feeds norms AND the probe dot pass
    cn = cx.groupBy("vec_id").agg(
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("nc")
    )
    qx = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("qid"),
            F.posexplode(F.col("embedding")).alias("p", "xf"),
        )
        .select(
            "qid",
            (F.col("p") + 1).alias("i"),
            F.floor(F.col("xf").cast("double") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("qxv"),
        )
    )
    dots = (
        cx.join(F.broadcast(qx), "i")
        .groupBy("qid", "vec_id")
        .agg(F.sum(F.expr("CAST(qxv AS DECIMAL(38,0)) * x")).alias("dot"))
    )
    nq = cn.select(F.col("vec_id").alias("qid"), F.col("nc").alias("nq"))
    rel = (
        dots.where(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(nq), "qid")
        .join(cn, "vec_id")
        .select(
            "qid",
            "vec_id",
            F.expr(
                "CAST(floor(CAST(dot AS DOUBLE)"
                " / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("rel_u"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("rel_u").desc(), "vec_id")
    cand = (
        rel.select("qid", "vec_id", "rel_u", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
        .drop("rn")
    )
    rows = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .limit(100)
        .collect()
    )
    if len(rows) > 70:
        raise ValueError(
            "q357_mmr_rerank: candidate collect exceeded the 3x20 contract"
        )
    by_q: dict = {}
    vecs: dict = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["rel_u"]))
        vecs[r["vec_id"]] = [
            math.floor(float(v) * 1000000 + 0.5) for v in r["embedding"]
        ]
    norms = {k: sum(x * x for x in v) for k, v in vecs.items()}

    def sim_u(a: int, b: int) -> int:
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        return math.floor(
            float(dot) / (math.sqrt(float(norms[a])) * math.sqrt(float(norms[b])))
            * 1000000 + 0.5
        )

    out = []
    for qid in sorted(by_q):
        cands = sorted(by_q[qid])
        selected: list = []
        remaining = {v: r for v, r in cands}
        for pos in range(1, 11):
            best = None
            for v, r in sorted(remaining.items()):
                ms = max((sim_u(v, s) for s, _ in selected), default=0)
                score = 7 * r - 3 * ms
                if best is None or score > best[2]:
                    best = (v, r, score)
            selected.append((best[0], best[2]))
            out.append((qid, pos, best[0], best[1], best[2]))
            del remaining[best[0]]
    return local_frame(
        spark, [[q, p, v, float(r) / 1000000, float(s) / 10000000] for q, p, v, r, s in out],
        "query_id bigint, position int, vec_id bigint, relevance double,"
        " mmr_score double",
    ).orderBy("query_id", "position")


@query(
    "q358_bipartite_check",
    oracle="""
    WITH RECURSIVE li2 AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    ew AS (SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
           FROM li2 a JOIN li2 b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
    qq AS (SELECT quantile_cont(w, 0.95) AS q99 FROM ew),
    se AS (SELECT src, dst FROM ew, qq WHERE w >= q99),
    dbl AS (
      SELECT 2*src AS u, 2*dst + 1 AS v FROM se
      UNION ALL SELECT 2*src + 1, 2*dst FROM se
    ),
    gedges AS (SELECT u, v FROM dbl UNION SELECT v, u FROM dbl),
    reach(u, v) AS (
      SELECT u, v FROM gedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN gedges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    ),
    odd AS (
      SELECT a.id // 2 AS node
      FROM comp a JOIN comp b
        ON a.id // 2 = b.id // 2 AND a.id % 2 = 0 AND b.id % 2 = 1
      WHERE a.component = b.component
    ),
    nodes AS (SELECT DISTINCT src AS id FROM (
      SELECT src FROM se UNION ALL SELECT dst FROM se))
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM se) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM odd) AS BIGINT) AS n_odd_cycle_nodes,
           (SELECT COUNT(*) FROM odd) = 0 AS is_bipartite
    """,
    tags=("graph", "bipartite", "cc"),
)
def q358_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartiteness test on the P95 co-supply backbone via the
    doubled-node trick: split each node into (v, even) and (v, odd),
    wire every edge across parities, and run ONE connected-components
    pass — a node sits on an odd cycle iff its two copies land in the
    same component.  Reports the odd-cycle node count (a 2-colorability
    / conflict-graph screen: bipartite ⇒ the graph is 2-partitionable
    for conflict-free parallel processing).

    Scale plan: the doubled graph has exactly 2|E| edges and reuses the
    memoized backbone and the standard min-label CC kernel (one loop,
    the q348 tagging idea with parity as the tag INSIDE the id);
    everything after is two bounded aggregates.  Exactness: ids and
    components are pure integers."""
    from ..graph.algorithms import connected_components
    from .graphops import _sparse_upper_edges

    se = _sparse_upper_edges(spark, sf_dir)
    se = se.localCheckpoint(eager=False)  # feeds doubled edges + both counts
    # (CC's first superstep materializes it — lazy pin, r13)
    dbl = se.select(
        (2 * F.col("src")).alias("src"), (2 * F.col("dst") + 1).alias("dst")
    ).union(
        se.select(
            (2 * F.col("src") + 1).alias("src"), (2 * F.col("dst")).alias("dst")
        )
    )
    comp = connected_components(dbl)
    even = comp.where(F.col("id") % 2 == 0).select(
        (F.col("id") / 2).cast("long").alias("node"),
        F.col("component").alias("ce"),
    )
    oddc = comp.where(F.col("id") % 2 == 1).select(
        ((F.col("id") - 1) / 2).cast("long").alias("node"),
        F.col("component").alias("co"),
    )
    odd = even.join(oddc, "node").where(F.col("ce") == F.col("co"))
    nodes = (
        se.select(F.col("src").alias("id"))
        .union(se.select(F.col("dst").alias("id")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = se.agg(F.count(F.lit(1)).alias("n_edges"))
    no = odd.agg(F.count(F.lit(1)).alias("n_odd"))
    return (
        nn.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(no))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_odd").cast("long").alias("n_odd_cycle_nodes"),
            (F.col("n_odd") == 0).alias("is_bipartite"),
        )
    )


@query(
    "q359_imputation_eval",
    oracle=f"""
    WITH x AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc,
             CASE WHEN {_md5_mod_sql("event_id", 10)} = 0
                  THEN 1 ELSE 0 END AS masked
      FROM events WHERE value IS NOT NULL
    ),
    tr AS (SELECT event_type, xc, event_id FROM x WHERE masked = 0),
    mn AS (
      SELECT event_type, COUNT(*) AS n, SUM(CAST(xc AS HUGEINT)) AS sx,
             (2*SUM(CAST(xc AS HUGEINT)) + COUNT(*)) // (2*COUNT(*)) AS mean_c
      FROM tr GROUP BY 1
    ),
    rk AS (
      SELECT event_type, xc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY xc, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS ng
      FROM tr
    ),
    md AS (
      SELECT event_type, xc AS med_c FROM rk WHERE rn = (ng + 1) // 2
    ),
    ev AS (
      SELECT x.event_type,
             COUNT(*) AS n_masked,
             SUM(abs(x.xc - mn.mean_c)) AS ae_mean,
             SUM(abs(x.xc - md.med_c)) AS ae_med,
             SUM(CAST((x.xc - mn.mean_c) AS HUGEINT)
                 * (x.xc - mn.mean_c)) AS se_mean,
             SUM(CAST((x.xc - md.med_c) AS HUGEINT)
                 * (x.xc - md.med_c)) AS se_med
      FROM x JOIN mn ON mn.event_type = x.event_type
      JOIN md ON md.event_type = x.event_type
      WHERE x.masked = 1 GROUP BY 1
    )
    SELECT event_type, CAST(n_masked AS BIGINT) AS n_masked,
           {_ha6_sql("ae_mean", "100 * n_masked")} AS mae_mean,
           {_ha6_sql("ae_med", "100 * n_masked")} AS mae_median,
           round(sqrt(CAST((2*se_mean*1000000 + n_masked)
                           // (2*CAST(n_masked AS HUGEINT)) AS DOUBLE)
                      / 1000000) / 100, 6) AS rmse_mean,
           round(sqrt(CAST((2*se_med*1000000 + n_masked)
                           // (2*CAST(n_masked AS HUGEINT)) AS DOUBLE)
                      / 1000000) / 100, 6) AS rmse_median
    FROM ev ORDER BY event_type
    """,
    tags=("dq", "imputation", "eval"),
)
def q359_imputation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imputation-quality evaluation: mask a deterministic md5 10% of
    `value`, impute from the UNMASKED rows only (train/test discipline,
    q148) with the per-type mean and the per-type lower median, and
    score both imputers against the held-out actuals (MAE + RMSE per
    type) — the eval a pipeline runs before choosing its null-filling
    policy (the mean wins on symmetric noise, the median on heavy
    tails; q353's tail index says which regime a column is in).

    Scale plan: one projection computes the mask; the mean is a
    map-side moment agg; the median is a rank pick on the prefix
    kernel's grouped global order (q334's machinery — never a low-card
    percentile buffer); scoring is one broadcast join of the bounded
    per-type imputer table.  Exactness: values live on the exact cents
    grid (so per-row squared errors stay below 2^53 — the micro grid
    would overflow double exactness, the q238 grid-budget rule); MAE is
    `_ha6`, MSE snaps half-away to 1e-6 cents² before the IEEE sqrt."""
    from ..operators.prefix import global_ranks

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("xc"),
        F.when(_md5_mod(F.col("event_id"), 10) == 0, 1).otherwise(0).alias(
            "masked"
        ),
    )
    x = x.localCheckpoint(eager=True)  # feeds train stats AND the scoring pass
    tr = x.where(F.col("masked") == 0)
    mn = tr.groupBy("event_type").agg(
        F.expr(
            "(2*SUM(CAST(xc AS DECIMAL(38,0))) + COUNT(*)) div (2*COUNT(*))"
        ).alias("mean_c")
    )
    rk = global_ranks(
        tr.select("event_type", "xc", "event_id"),
        order_cols=("xc", "event_id"),
        group_cols=("event_type",),
        rn_col="rn",
        total_col="ng",
    )
    md = rk.where(F.expr("rn = (ng + 1) div 2")).select(
        "event_type", F.col("xc").alias("med_c")
    )
    scored = (
        x.where(F.col("masked") == 1)
        .join(F.broadcast(mn), "event_type")
        .join(F.broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_masked"),
            F.sum(F.abs(F.col("xc") - F.col("mean_c"))).alias("ae_mean"),
            F.sum(F.abs(F.col("xc") - F.col("med_c"))).alias("ae_med"),
            F.sum(
                F.expr(
                    "CAST((xc - mean_c) AS DECIMAL(38,0)) * (xc - mean_c)"
                )
            ).alias("se_mean"),
            F.sum(
                F.expr("CAST((xc - med_c) AS DECIMAL(38,0)) * (xc - med_c)")
            ).alias("se_med"),
        )
    )
    return scored.select(
        "event_type",
        F.col("n_masked").cast("long").alias("n_masked"),
        F.expr(
            "CAST((2*ae_mean*1000000 + 100*n_masked) div (2*(100*n_masked))"
            " AS DOUBLE) / 1000000"
        ).alias("mae_mean"),
        F.expr(
            "CAST((2*ae_med*1000000 + 100*n_masked) div (2*(100*n_masked))"
            " AS DOUBLE) / 1000000"
        ).alias("mae_median"),
        F.round(
            F.sqrt(
                F.expr(
                    "CAST((2*se_mean*1000000 + n_masked)"
                    " div (2*CAST(n_masked AS DECIMAL(38,0))) AS DOUBLE)"
                )
                / 1000000
            )
            / 100,
            6,
        ).alias("rmse_mean"),
        F.round(
            F.sqrt(
                F.expr(
                    "CAST((2*se_med*1000000 + n_masked)"
                    " div (2*CAST(n_masked AS DECIMAL(38,0))) AS DOUBLE)"
                )
                / 1000000
            )
            / 100,
            6,
        ).alias("rmse_median"),
    ).orderBy("event_type")


@query(
    "q360_bm25_parameter_sweep",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)-1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS token
      FROM toks
    ),
    post AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM grams GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM grams GROUP BY 1),
    st AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avgdl
      FROM dl
    ),
    dfr AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
    qs AS (
      SELECT token AS qtok FROM dfr
      WHERE df BETWEEN 5 AND 50
      ORDER BY df DESC, token ASC LIMIT 10
    ),
    cfg AS (
      SELECT CAST(k1 AS DOUBLE) AS k1, CAST(b AS DOUBLE) AS b
      FROM (VALUES (0.9, 0.4), (1.2, 0.0), (1.2, 0.75), (2.0, 0.75))
        AS v(k1, b)
    ),
    cand AS (
      SELECT cfg.k1, cfg.b, qs.qtok, p.doc_id, p.tf,
             round(p.tf * (cfg.k1 + 1)
                   / (p.tf + cfg.k1*(1 - cfg.b + cfg.b*d.dl/st.avgdl)), 6)
               AS score
      FROM qs JOIN post p ON p.token = qs.qtok
      JOIN dl d ON d.doc_id = p.doc_id, st, cfg
    ),
    rk AS (
      SELECT k1, b, qtok, tf,
             ROW_NUMBER() OVER (PARTITION BY k1, b, qtok
                                ORDER BY score DESC, doc_id ASC) AS rnk
      FROM cand
    ),
    per AS (
      SELECT k1, b, qtok,
             MIN(CASE WHEN tf >= 2 THEN rnk END) AS first_gold,
             SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS n_gold,
             SUM(CASE WHEN tf >= 2 AND rnk <= 10 THEN 1 ELSE 0 END)
               AS gold_in_10
      FROM rk GROUP BY 1, 2, 3
    ),
    agg AS (
      SELECT k1, b, COUNT(*) AS n_queries,
             SUM(CASE WHEN first_gold IS NULL THEN 0
                      ELSE (2*1000000 + first_gold) // (2*first_gold) END)
               AS rr_u,
             SUM(CASE WHEN n_gold = 0 THEN 0
                      ELSE (2*gold_in_10*1000000 + n_gold) // (2*n_gold) END)
               AS rec_u
      FROM per GROUP BY 1, 2
    )
    SELECT k1, b,
           CAST((2*rr_u + n_queries) // (2*n_queries) AS DOUBLE) / 1000000
             AS mrr,
           CAST((2*rec_u + n_queries) // (2*n_queries) AS DOUBLE) / 1000000
             AS mean_recall_at_10
    FROM agg ORDER BY k1, b
    """,
    tags=("retrieval", "bm25", "tuning"),
)
def q360_bm25_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hyper-parameter sweep: MRR and mean recall@10 of q263's ten
    deterministic shingle queries under four (k1, b) settings — the
    saturation/length-normalization tuning grid (b=0 disables length
    normalization, k1→large approaches raw tf) that turns the one-point
    eval (q263) into the decision a search team actually makes.

    Scale plan: reuses the memoized BM25 index; the config grid is a
    4-row broadcast constant fanned onto the df-BOUNDED candidate set
    (≤ 50 docs/query), so the sweep multiplies bounded work only; the
    per-(config, query) window partitions on the high-card shingle key.
    Exactness: scores are 6-dp rounds of identical double arithmetic
    (config constants CAST to DOUBLE in both engines — DuckDB VALUES
    literals are DECIMAL); per-query RR/recall snap to half-away
    integer micro-units BEFORE the mean, so the published averages are
    exact rationals."""
    from pyspark.sql.window import Window

    from .analytics3 import _bm25_index

    post, dl, st, dfr = _bm25_index(spark, sf_dir)
    qs = (
        dfr.where(F.col("df").between(5, 50))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(10)
        .select(F.col("token").alias("qtok"))
    )
    cfg = spark.sql(
        "SELECT CAST(k1 AS DOUBLE) AS k1, CAST(b AS DOUBLE) AS b"
        " FROM (VALUES (0.9, 0.4), (1.2, 0.0), (1.2, 0.75), (2.0, 0.75))"
        " AS v(k1, b)"
    )
    cand = (
        F.broadcast(qs)
        .join(post, post.token == F.col("qtok"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(cfg))
        .select(
            "k1",
            "b",
            "qtok",
            "doc_id",
            "tf",
            F.round(
                F.col("tf")
                * (F.col("k1") + 1)
                / (
                    F.col("tf")
                    + F.col("k1")
                    * (1 - F.col("b") + F.col("b") * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("score"),
        )
    )
    rk = cand.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("k1", "b", "qtok").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        ),
    )
    per = rk.groupBy("k1", "b", "qtok").agg(
        F.min(F.when(F.col("tf") >= 2, F.col("rnk"))).alias("first_gold"),
        F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0)).alias("n_gold"),
        F.sum(
            F.when((F.col("tf") >= 2) & (F.col("rnk") <= 10), 1).otherwise(0)
        ).alias("gold_in_10"),
    )
    agg = per.groupBy("k1", "b").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.expr(
                "CASE WHEN first_gold IS NULL THEN 0"
                " ELSE (2*1000000 + first_gold) div (2*first_gold) END"
            )
        ).alias("rr_u"),
        F.sum(
            F.expr(
                "CASE WHEN n_gold = 0 THEN 0"
                " ELSE (2*gold_in_10*1000000 + n_gold) div (2*n_gold) END"
            )
        ).alias("rec_u"),
    )
    return agg.select(
        "k1",
        "b",
        F.expr(
            "CAST((2*rr_u + n_queries) div (2*n_queries) AS DOUBLE)"
            " / 1000000"
        ).alias("mrr"),
        F.expr(
            "CAST((2*rec_u + n_queries) div (2*n_queries) AS DOUBLE)"
            " / 1000000"
        ).alias("mean_recall_at_10"),
    ).orderBy("k1", "b")


@query(
    "q361_knn_k_sweep",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 5 = 0 AS is_test
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS true_label
          FROM base WHERE is_test),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, label FROM base
          WHERE NOT is_test),
    scored AS (
      SELECT query_id, true_label, neighbor_id, label,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q, c
    ),
    top AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT k, query_id, true_label, label, COUNT(*) AS cnt
      FROM top, (VALUES (1),(3),(5)) AS kv(k)
      WHERE rn <= k GROUP BY 1, 2, 3, 4
    ),
    pred AS (
      SELECT k, query_id, true_label,
             (list_sort(list((-cnt, label))))[1][2] AS predicted
      FROM votes GROUP BY 1, 2, 3
    )
    SELECT CAST(k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((2*SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                 *1000000 + COUNT(*)) // (2*COUNT(*)) AS DOUBLE) / 1000000
             AS accuracy
    FROM pred GROUP BY 1 ORDER BY 1
    """,
    tags=("ann", "knn", "tuning"),
)
def q361_knn_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN neighborhood-size sweep: overall accuracy at k ∈ {1, 3, 5}
    from ONE top-5 kernel pass (q305's split, kernel and tie
    discipline) — the bias/variance dial of the lazy classifier, read
    off the same neighbor table the k=5 eval already computes (rank
    prefixes nest, so the sweep costs one fan-out over 5-row groups,
    never a re-score).

    Scale plan: one blocked-GEMM brute-force top-5; per-query ranks by
    (cosine desc, neighbor_id) on the high-card query key; the 3-way k
    fan-out rides the bounded ≤5-row neighbor groups.  Exactness:
    6-dp cosine ranking (q24), windowless sorted-list argmax with
    ties-to-smallest-label (q249), accuracies half-away rationals.

    Grid budget: 2*n_correct*1e6 with n_correct <= n_test fits int64 to ~4.6e12 eval rows."""
    from pyspark.sql.window import Window

    from ..operators.ann import brute_force_knn

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.withColumn(
        "is_test",
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
        == 0,
    )
    test = base.where(F.col("is_test"))
    train = base.where(~F.col("is_test"))
    knn = brute_force_knn(
        train.select("vec_id", "embedding"),
        test.select("vec_id", "embedding"),
        k=5,
    )
    rk = knn.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id").asc()
            )
        ),
    )
    lab = train.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    tl = test.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        rk.join(lab, "neighbor_id")
        .join(F.broadcast(tl), "query_id")
        .select(
            "query_id",
            "true_label",
            "nl",
            "rn",
            F.explode(F.array(F.lit(1), F.lit(3), F.lit(5))).alias("k"),
        )
        .where(F.col("rn") <= F.col("k"))
        .groupBy("k", "query_id", "true_label", "nl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pred = votes.groupBy("k", "query_id", "true_label").agg(
        F.element_at(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("nl"))
                )
            ),
            1,
        )["nl"].alias("predicted")
    )
    return (
        pred.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(
                    0
                )
            ).alias("n_correct"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("n_correct").cast("long").alias("n_correct"),
            F.expr(
                "CAST((2*n_correct*1000000 + n_test) div (2*n_test)"
                " AS DOUBLE) / 1000000"
            ).alias("accuracy"),
        )
        .orderBy("k")
    )


@query(
    "q362_srm_check",
    oracle=f"""
    WITH a AS (
      SELECT {_md5_mod_sql("c_custkey", 2)} AS arm FROM customer
    ),
    s AS (
      SELECT SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc
      FROM a
    )
    SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
           {_ha6_sql("CAST(nt - nc AS HUGEINT) * (nt - nc)", "nt + nc")}
             AS chi2,
           CAST(nt - nc AS HUGEINT) * (nt - nc) * 10000
             > 38415 * CAST(nt + nc AS HUGEINT) AS srm_flag
    FROM s
    """,
    tags=("experiment", "guardrail", "srm"),
)
def q362_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the md5 coin: χ² =
    (n_t − n_c)²/n against the 50/50 design, flagged at the 3.8415
    one-df 5% critical value — the first sanity gate of any experiment
    readout (a failed SRM invalidates q294/q335 downstream; here it
    also regression-tests the md5 assignment itself for balance).

    Scale plan: one map-side-combinable aggregate.  Exactness: χ² is
    an exact integer rational (`_ha6`); the flag compares INTEGERS
    (cross-multiplied against the critical value scaled to 1e4 units —
    never a float threshold on a rounded statistic).

    Grid budget: 2*nt*1e6 on arm counts fits int64 to ~4.6e12 assignments."""
    cust = read_table(spark, sf_dir, "customer")
    s = cust.select(_md5_mod(F.col("c_custkey"), 2).alias("arm")).agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("nc"),
    )
    return s.select(
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_ctrl"),
        F.expr(
            "CAST((2*(CAST(nt - nc AS DECIMAL(38,0)) * (nt - nc))*1000000"
            " + (nt + nc)) div (2*(nt + nc)) AS DOUBLE) / 1000000"
        ).alias("chi2"),
        F.expr(
            "CAST(nt - nc AS DECIMAL(38,0)) * (nt - nc) * 10000"
            " > 38415 * CAST(nt + nc AS DECIMAL(38,0))"
        ).alias("srm_flag"),
    )


@query(
    "q363_moments_profile",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             (2*SUM(CAST(xc AS HUGEINT)) + COUNT(*)) // (2*COUNT(*)) AS mu
      FROM x GROUP BY 1
    ),
    c AS (
      SELECT x.event_type, m.n,
             SUM(CAST(x.xc - m.mu AS HUGEINT) * (x.xc - m.mu)) AS s2,
             SUM(CAST(x.xc - m.mu AS HUGEINT) * (x.xc - m.mu)
                 * (x.xc - m.mu)) AS s3,
             SUM(CAST(x.xc - m.mu AS HUGEINT) * (x.xc - m.mu)
                 * (x.xc - m.mu) * (x.xc - m.mu)) AS s4,
             MAX(m.mu) AS mu
      FROM x JOIN m ON m.event_type = x.event_type
      GROUP BY 1, 2
    ),
    sn AS (
      SELECT event_type, n, mu,
             (2*s2*1000000 + n) // (2*CAST(n AS HUGEINT)) AS m2u,
             CASE WHEN s3 >= 0 THEN (2*s3*1000000 + n) // (2*CAST(n AS HUGEINT))
                  ELSE -((2*(-s3)*1000000 + n) // (2*CAST(n AS HUGEINT))) END
               AS m3u,
             (2*s4 + n) // (2*CAST(n AS HUGEINT)) AS m4i
      FROM c
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_rows,
           CAST(mu AS DOUBLE) / 100 AS mean_value,
           round(sqrt(CAST(m2u AS DOUBLE) / 1000000) / 100, 6) AS sd_value,
           round((CAST(m3u AS DOUBLE) / 1000000)
                 / (sqrt(CAST(m2u AS DOUBLE) / 1000000)
                    * (CAST(m2u AS DOUBLE) / 1000000)), 6) AS skewness,
           round(CAST(m4i AS DOUBLE)
                 / ((CAST(m2u AS DOUBLE) / 1000000)
                    * (CAST(m2u AS DOUBLE) / 1000000)) - 3, 6)
             AS excess_kurtosis
    FROM sn ORDER BY event_type
    """,
    tags=("profiling", "moments", "statistics"),
)
def q363_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile per event type: skewness m3/m2^1.5
    and excess kurtosis m4/m2² − 3 of `value`, about the HALF-AWAY-
    SNAPPED integer mean (the published statistic is DEFINED on the
    cents grid — an exact-rational mean would push the 4th-power sums
    past DECIMAL(38) at corpus scale).  Completes the profiling corner
    (q46 covers location/spread/quartiles; this adds shape — the
    fat-tail flag q353's Hill index quantifies).

    Scale plan: one pass for the snapped mean, one map-side-combinable
    central-moment pass (the 2-pass textbook schedule; deviations about
    an integer mean keep every power an exact integer).  Exactness:
    d ≤ ~3e4 cents so d⁴·n stays within DECIMAL(38,0)/HUGEINT; m2/m3
    snap half-away to 1e-6 units (sign-aware for m3) but m4 snaps to
    the INTEGER grid — its 1e-6-unit quotient (~6e21) wraps the int64
    `div` result AND sits far past double ULP anyway (the q238 grid
    budget, which this query hit live on its first run); the final
    ratios divide exact doubles by irrational powers (round-safe,
    q317)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("xc"),
    )
    x = x.localCheckpoint(eager=True)  # feeds the mean pass AND the moment pass
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "(2*SUM(CAST(xc AS DECIMAL(38,0))) + COUNT(*)) div (2*COUNT(*))"
        ).alias("mu"),
    )
    c = (
        x.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mu")
        .agg(
            F.sum(
                F.expr("CAST(xc - mu AS DECIMAL(38,0)) * (xc - mu)")
            ).alias("s2"),
            F.sum(
                F.expr(
                    "CAST(xc - mu AS DECIMAL(38,0)) * (xc - mu) * (xc - mu)"
                )
            ).alias("s3"),
            F.sum(
                F.expr(
                    "CAST(xc - mu AS DECIMAL(38,0)) * (xc - mu) * (xc - mu)"
                    " * (xc - mu)"
                )
            ).alias("s4"),
        )
    )
    sn = c.select(
        "event_type",
        "n",
        "mu",
        F.expr(
            "(2*s2*1000000 + n) div (2*CAST(n AS DECIMAL(38,0)))"
        ).alias("m2u"),
        F.expr(
            "CASE WHEN s3 >= 0"
            " THEN (2*s3*1000000 + n) div (2*CAST(n AS DECIMAL(38,0)))"
            " ELSE -((2*(-s3)*1000000 + n) div (2*CAST(n AS DECIMAL(38,0))))"
            " END"
        ).alias("m3u"),
        F.expr(
            "(2*s4 + n) div (2*CAST(n AS DECIMAL(38,0)))"
        ).alias("m4i"),
    )
    return sn.select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        (F.col("mu").cast("double") / 100).alias("mean_value"),
        F.round(
            F.sqrt(F.col("m2u").cast("double") / 1000000) / 100, 6
        ).alias("sd_value"),
        F.round(
            (F.col("m3u").cast("double") / 1000000)
            / (
                F.sqrt(F.col("m2u").cast("double") / 1000000)
                * (F.col("m2u").cast("double") / 1000000)
            ),
            6,
        ).alias("skewness"),
        F.round(
            F.col("m4i").cast("double")
            / (
                (F.col("m2u").cast("double") / 1000000)
                * (F.col("m2u").cast("double") / 1000000)
            )
            - 3,
            6,
        ).alias("excess_kurtosis"),
    ).orderBy("event_type")


@query(
    "q364_heavy_hitter_drift",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)-1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks
    ),
    half AS (
      SELECT g, CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS h
      FROM grams
    ),
    cnt AS (SELECT h, g, COUNT(*) AS c FROM half GROUP BY 1, 2),
    rk AS (
      SELECT h, g, c,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY c DESC, g) AS r
      FROM cnt
    ),
    top AS MATERIALIZED (SELECT h, g, r FROM rk WHERE r <= 20),
    a AS (SELECT g, r AS ra FROM top WHERE h = 0),
    b AS (SELECT g, r AS rb FROM top WHERE h = 1),
    tot AS (SELECT COUNT(*) AS nab FROM top),
    j AS (SELECT a.g, ra, rb FROM a JOIN b USING (g))
    SELECT CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_common,
           CAST((SELECT CAST((2*COUNT(*)*1000000
                              + ((SELECT nab FROM tot) - COUNT(*)))
                             // (2*((SELECT nab FROM tot) - COUNT(*)))
                             AS DOUBLE) / 1000000
                 FROM j) AS DOUBLE) AS jaccard_top20,
           CAST((SELECT COALESCE(SUM(abs(ra - rb)), 0) FROM j) AS BIGINT)
             AS total_rank_displacement
    """,
    tags=("drift", "heavy-hitters", "text"),
)
def q364_heavy_hitter_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter stability across corpus halves: the top-20 3-word
    shingles of each (doc_id-parity) half, their overlap (Jaccard of
    the two top-20 sets) and total rank displacement over the common
    members — the popularity-drift screen a feed/trending pipeline
    runs (stable top-k ⇒ caches and manual curation stay valid), on
    the q22/q49 shingle space (unigrams degenerate on this corpus).

    Scale plan: one shingle count per half (map-side combinable), two
    WindowGroupLimit top-20 cuts, and a 20-row join.  The half split is
    doc-parity (deterministic, no calendar on documents).  Exactness:
    counts and ranks are integers with (count desc, shingle) ties;
    Jaccard is an `_ha6` rational on |∩| and |∪| = |A| + |B| − |∩|,
    where |A| + |B| is MEASURED from the top-table row count (a half
    with fewer than 20 distinct shingles at tiny scale factors must
    not inflate the union — ADVICE r9).

    Grid budget: n_common <= 40 - tiny integers."""
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("t"),
    )
    grams = toks.select(
        (F.col("doc_id") % 2).alias("h"),
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 2),"
                " (x, i) -> concat(x, ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("g"),
    )
    cnt = grams.groupBy("h", "g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("h").orderBy(F.col("c").desc(), "g")
    top = (
        cnt.select("h", "g", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 20)
        # feeds THREE consumers (a, b, tot) — pin the 40-row cut once
        # so the corpus gram count is not re-executed per consumer
        .localCheckpoint(eager=True)
    )
    a = top.where(F.col("h") == 0).select("g", F.col("r").alias("ra"))
    b = top.where(F.col("h") == 1).select("g", F.col("r").alias("rb"))
    tot = top.agg(F.count(F.lit(1)).alias("nab"))
    j = a.join(b, "g")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_common"),
            F.coalesce(
                F.sum(F.abs(F.col("ra") - F.col("rb"))), F.lit(0)
            ).alias("disp"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_common").cast("long").alias("n_common"),
            F.expr(
                "CAST((2*n_common*1000000 + (nab - n_common))"
                " div (2*(nab - n_common)) AS DOUBLE) / 1000000"
            ).alias("jaccard_top20"),
            F.col("disp").cast("long").alias("total_rank_displacement"),
        )
    )


@query(
    "q365_dup_source_mix",
    oracle="""
    WITH toks AS (
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
      SELECT c.id_a, c.id_b
      FROM common c JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE 2*c.n_common >= sa.n + sb.n - c.n_common
    ),
    lab AS (
      SELECT p.id_a, p.id_b,
             CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS same_src
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(same_src) AS BIGINT) AS n_same_source,
           CAST(SUM(1 - same_src) AS BIGINT) AS n_cross_source,
           CASE WHEN COUNT(*) > 0 THEN
             CAST((2*SUM(same_src)*1000000 + COUNT(*)) // (2*COUNT(*))
                  AS DOUBLE) / 1000000 END AS same_source_share
    FROM lab
    """,
    tags=("dedup", "provenance", "audit"),
)
def q365_dup_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate provenance mix: of the exact Jaccard ≥ 0.5 near-dup
    pairs, how many join documents of the SAME source vs different
    sources — the policy input for a dedup pass (same-source dups are
    template/boilerplate artifacts the source owner should fix;
    cross-source dups are syndication the keep-best canonicalizer
    q320 must arbitrate).

    Scale plan: reuses the memoized pair table (tiny — only
    above-threshold pairs survive) with two broadcast label joins
    against the (doc_id, source) projection.  Exactness: counts
    integer; the share an `_ha6` rational, NULL-guarded for an empty
    pair table.

    Grid budget: 2*n_same_source*1e6 with pairs bounded by the above-threshold table fits int64 to ~4.6e12 pairs."""
    from .textops import cached_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = cached_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    lab = (
        pairs.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            F.when(F.col("sa") == F.col("sb"), 1).otherwise(0).alias("same_src")
        )
    )
    return lab.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("same_src").alias("n_same_source"),
        F.sum(1 - F.col("same_src")).alias("n_cross_source"),
    ).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_same_source").cast("long").alias("n_same_source"),
        F.col("n_cross_source").cast("long").alias("n_cross_source"),
        F.when(
            F.col("n_pairs") > 0,
            F.expr(
                "CAST((2*n_same_source*1000000 + n_pairs) div (2*n_pairs)"
                " AS DOUBLE) / 1000000"
            ),
        ).alias("same_source_share"),
    )


@query(
    "q366_minhash_estimator_error",
    oracle="""
    WITH toks AS (
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
    truth AS MATERIALIZED (
      SELECT c.id_a, c.id_b,
             c.n_common AS nc, sa.n + sb.n - c.n_common AS nu
      FROM common c JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE 2*c.n_common >= sa.n + sb.n - c.n_common
    ),
    hashed AS (
      SELECT id, seed, MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS mh
      FROM sh, (SELECT unnest(range(0, 8)) AS seed)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT t.id_a, t.id_b, t.nc, t.nu,
             SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) AS matches
      FROM truth t
      JOIN hashed ha ON ha.id = t.id_a
      JOIN hashed hb ON hb.id = t.id_b AND hb.seed = ha.seed
      GROUP BY 1, 2, 3, 4
    ),
    err AS (
      SELECT id_a, id_b, matches,
             abs(CAST(matches AS HUGEINT) * nu - 8 * CAST(nc AS HUGEINT))
               AS anum,
             8 * CAST(nu AS HUGEINT) AS aden
      FROM est
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(matches) AS BIGINT) AS total_matches,
           CASE WHEN COUNT(*) > 0 THEN
             CAST((2*SUM((anum * 1000000) // aden) + COUNT(*))
                  // (2*COUNT(*)) AS DOUBLE) / 1000000 END AS mae
    FROM err
    """,
    tags=("dedup", "minhash", "estimator"),
)
def q366_minhash_estimator_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator quality on the true near-dup pairs: the
    8-permutation match-fraction estimate of Jaccard vs the exact value
    — mean absolute error over the ≥ 0.5 truth pairs.  Quantifies the
    estimator noise BEHIND the banding S-curve (q354 sweeps candidate
    P/R; this measures the underlying per-pair estimate the bands
    threshold; 8 perms ⇒ the estimate lives on a 1/8 grid, so MAE
    ~0.06 is expected — the test for 'do we need more permutations').

    Scale plan: per-doc minima reuse the memoized shingle table (one
    (id, seed) aggregate); the comparison touches only the tiny truth
    pair table (two broadcast-joinable signature lookups).  Exactness:
    |matches/8 − nc/nu| is an exact integer rational (cross-multiplied,
    floored to 1e-6 units per pair before the exact mean — identical in
    both engines; the per-pair floor is part of the published metric's
    definition)."""
    from .textops import cached_jaccard_pairs, cached_shingles

    sh = cached_shingles(spark, sf_dir)
    truth = cached_jaccard_pairs(spark, sf_dir)
    # the cached pair table carries a ROUNDED jaccard — the exact
    # integer (nc, nu) stats are recovered by re-joining the bounded
    # truth pairs against the memoized shingle sets (tiny: only
    # above-threshold pairs survive)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    t = truth.select("id_a", "id_b")
    a = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("ga"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingle").alias("gb"))
    common = (
        t.join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("ga") == F.col("gb"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    tr = (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            "nc",
            (F.col("na") + F.col("nb") - F.col("nc")).alias("nu"),
        )
    )
    # signatures are only compared FOR TRUTH-PAIR MEMBERS: semi-join the
    # shingle table down to those ids before the 8× seed fan-out + md5 —
    # the fan-out input drops from the whole corpus to the pair members
    # (guide §2.3 project-early; per-id signatures are independent, so
    # values are unchanged)
    pair_ids = (
        t.select(F.col("id_a").alias("id"))
        .unionAll(t.select(F.col("id_b").alias("id")))
        .distinct()
    )
    hashed = (
        sh.join(F.broadcast(pair_ids), "id", "leftsemi")
        .select(
            "id",
            F.explode(F.array(*[F.lit(i) for i in range(8)])).alias("seed"),
            "shingle",
        )
        .select(
            "id",
            "seed",
            F.md5(
                F.concat(F.col("seed").cast("string"), F.lit(":"), "shingle")
            ).alias("h"),
        )
        .groupBy("id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    ha = hashed.select(
        F.col("id").alias("id_a"), "seed", F.col("mh").alias("mha")
    )
    hb = hashed.select(
        F.col("id").alias("id_b"), "seed", F.col("mh").alias("mhb")
    )
    est = (
        tr.join(ha, "id_a")
        .join(hb, ["id_b", "seed"])
        .groupBy("id_a", "id_b", "nc", "nu")
        .agg(
            F.sum(
                F.when(F.col("mha") == F.col("mhb"), 1).otherwise(0)
            ).alias("matches")
        )
    )
    err = est.select(
        "matches",
        F.expr(
            "abs(CAST(matches AS DECIMAL(38,0)) * nu"
            " - 8 * CAST(nc AS DECIMAL(38,0)))"
        ).alias("anum"),
        F.expr("8 * CAST(nu AS DECIMAL(38,0))").alias("aden"),
    )
    return err.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("matches").alias("total_matches"),
        F.sum(F.expr("(anum * 1000000) div aden")).alias("eu"),
    ).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("total_matches").cast("long").alias("total_matches"),
        F.when(
            F.col("n_pairs") > 0,
            F.expr(
                "CAST((2*eu + n_pairs) div (2*n_pairs) AS DOUBLE) / 1000000"
            ),
        ).alias("mae"),
    )


@query(
    "q367_hard_negative_margin",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label,
             {_md5_mod_sql("vec_id", 5)} = 0 AS is_test
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, label AS tl
          FROM base WHERE is_test),
    c AS (SELECT vec_id AS nid, v AS cv, label AS gl
          FROM base WHERE NOT is_test),
    gm AS (
      SELECT qid, tl, gl,
             round(MAX(list_cosine_similarity(qv, cv)), 6) AS mc
      FROM q, c GROUP BY 1, 2, 3
    ),
    st AS (
      SELECT qid, tl,
             MAX(CASE WHEN gl = tl THEN mc END) AS s,
             MAX(CASE WHEN gl <> tl THEN mc END) AS d
      FROM gm GROUP BY 1, 2
    ),
    ok AS (
      SELECT tl,
             CAST(round(s*1000000, 0) AS BIGINT) AS su,
             CAST(round(d*1000000, 0) AS BIGINT) AS du
      FROM st WHERE s IS NOT NULL AND d IS NOT NULL
    ),
    ag AS (
      SELECT tl, COUNT(*) AS n,
             CAST(SUM(su - du) AS BIGINT) AS mnum,
             SUM(CASE WHEN du >= su THEN 1 ELSE 0 END) AS viol
      FROM ok GROUP BY 1
    )
    SELECT CAST(tl AS INT) AS label,
           CAST(n AS BIGINT) AS n_anchors,
           {_sha6_sql("mnum", "n*1000000")} AS mean_margin,
           CAST(viol AS BIGINT) AS hard_negatives,
           {_sha6_sql("viol", "n")} AS hard_negative_rate
    FROM ag ORDER BY label
    """,
    tags=("ann", "embedding", "mining"),
)
def q367_hard_negative_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative margin audit — the metric-learning data-quality
    screen: for each held-out anchor (q361's md5 1-in-5 split), the best
    cosine inside its OWN label class vs the best inside ANY OTHER class
    (via :func:`operators.ann.groupwise_max_cosine`, which a plain top-k
    cannot provide — the nearest same-label vector may sit at rank 1000);
    per label, the mean margin and the share of anchors whose hardest
    negative beats their hardest positive (d ≥ s — the pairs a
    contrastive/triplet miner would surface, and the labels whose
    embedding neighborhoods are broken).

    Scale plan: one blocked-GEMM corpus pass (probe matrix broadcast
    under the max_queries contract); per block only |Q|·|labels| max
    rows shuffle; label lookups broadcast.  Exactness: 6-dp cosines
    (round of a global max is blocking-invariant — round is monotone),
    micro-integer margins (a 6-dp cosine ×1e6 re-rounds exactly: the
    nearest .5 tie is 0.5 µ away), sums/shares sign-aware half-away
    rationals via _sha6."""
    from ..operators.ann import groupwise_max_cosine

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.withColumn("is_test", _md5_mod(F.col("vec_id"), 5) == 0)
    test = base.where(F.col("is_test"))
    train = base.where(~F.col("is_test"))
    gm = groupwise_max_cosine(
        train.select("vec_id", "embedding", "label"),
        test.select("vec_id", "embedding"),
        "label",
    )
    tl = test.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    st = (
        gm.join(F.broadcast(tl), "query_id")
        .groupBy("query_id", "true_label")
        .agg(
            F.max(
                F.when(F.col("label") == F.col("true_label"), F.col("cosine"))
            ).alias("s"),
            F.max(
                F.when(F.col("label") != F.col("true_label"), F.col("cosine"))
            ).alias("d"),
        )
    )
    ok = st.where(F.col("s").isNotNull() & F.col("d").isNotNull()).select(
        "true_label",
        F.expr("CAST(round(s*1000000, 0) AS BIGINT)").alias("su"),
        F.expr("CAST(round(d*1000000, 0) AS BIGINT)").alias("du"),
    )
    ag = ok.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("su - du")).alias("mnum"),
        F.sum(F.when(F.col("du") >= F.col("su"), 1).otherwise(0)).alias(
            "viol"
        ),
    )
    return ag.select(
        F.col("true_label").cast("int").alias("label"),
        F.col("n").cast("long").alias("n_anchors"),
        _sha6("mnum", "n*1000000").alias("mean_margin"),
        F.col("viol").cast("long").alias("hard_negatives"),
        _sha6("viol", "n").alias("hard_negative_rate"),
    ).orderBy("label")


@query(
    "q368_shard_dedup_spillover",
    oracle=f"""
    WITH toks AS (
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
      SELECT c.id_a, c.id_b
      FROM common c JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE 2*c.n_common >= sa.n + sb.n - c.n_common
    ),
    hashed AS (
      SELECT id_a, id_b,
             CAST(('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 8))
                  AS BIGINT) AS ha,
             CAST(('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hb
      FROM pairs
    )
    SELECT CAST(k AS INT) AS n_shards,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN ha % k = hb % k THEN 1 ELSE 0 END)
                AS BIGINT) AS same_shard_pairs,
           CAST(SUM(CASE WHEN ha % k <> hb % k THEN 1 ELSE 0 END)
                AS BIGINT) AS cross_shard_pairs,
           {_ha6_sql("SUM(CASE WHEN ha % k <> hb % k THEN 1 ELSE 0 END)",
                     "COUNT(*)")} AS spillover_share
    FROM hashed, (VALUES (CAST(4 AS BIGINT)), (16), (64)) AS v(k)
    GROUP BY k ORDER BY n_shards
    """,
    tags=("dedup", "sharding", "audit"),
)
def q368_shard_dedup_spillover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local dedup spillover: if dedup ran independently inside k
    md5 shards (the cheap distributed layout — no global shuffle), how
    many true near-dup pairs CROSS a shard boundary and would be missed?
    Swept at k ∈ {4, 16, 64} — the policy table that decides whether a
    pipeline needs the global banded pass (operators/dedup) or per-shard
    dedup is good enough, the distributed-layout sibling of the
    provenance mix (q365).

    Scale plan: reuses the memoized exact pair table (tiny — only
    above-threshold pairs survive); the 3-value k grid rides a broadcast
    fan-out, so the sweep costs 3 passes over a bounded table.  md5
    shard assignment is the _md5_mod discipline, identical text in both
    engines.  Exactness: integer counts; shares half-away rationals."""
    from .textops import cached_jaccard_pairs

    pairs = cached_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    ks = spark.sql(
        "SELECT CAST(k AS BIGINT) AS k FROM (VALUES (4), (16), (64)) AS v(k)"
    )
    # _md5_mod takes a literal modulus; the sweep's k is a COLUMN, so the
    # same first-8-hex-digits draw is inlined with `% F.col("k")`
    lab = pairs.crossJoin(F.broadcast(ks)).select(
        "k",
        (
            F.conv(
                F.substring(F.md5(F.col("id_a").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % F.col("k")
        ).alias("sa"),
        (
            F.conv(
                F.substring(F.md5(F.col("id_b").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % F.col("k")
        ).alias("sb"),
    )
    ag = lab.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("sa") == F.col("sb"), 1).otherwise(0)).alias(
            "same"
        ),
        F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0)).alias(
            "cross"
        ),
    )
    return ag.select(
        F.col("k").cast("int").alias("n_shards"),
        F.col("n").cast("long").alias("n_pairs"),
        F.col("same").cast("long").alias("same_shard_pairs"),
        F.col("cross").cast("long").alias("cross_shard_pairs"),
        _sha6("cross", "n").alias("spillover_share"),
    ).orderBy("n_shards")


@query(
    "q369_source_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT source,
             unnest(list_transform(range(1, length(text) + 1),
                    i -> substring(text, i, 1))) AS ch
      FROM documents
    ),
    cnt AS (
      SELECT source, ch, COUNT(*) AS c FROM ch
      WHERE ch <> '' GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, SUM(c) AS n, COUNT(*) AS alphabet
      FROM cnt GROUP BY 1
    ),
    terms AS (
      SELECT cnt.source,
             CAST(round((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c),
                        12) AS DECIMAL(20,12)) AS term
      FROM cnt JOIN tot ON cnt.source = tot.source
    )
    SELECT t.source,
           CAST(n AS BIGINT) AS n_chars,
           CAST(alphabet AS BIGINT) AS alphabet_size,
           round(CAST(s AS DOUBLE), 6) AS entropy_nats
    FROM tot t JOIN (SELECT source, SUM(term) AS s FROM terms GROUP BY 1) e
      ON t.source = e.source
    ORDER BY t.source
    """,
    tags=("text", "quality", "entropy"),
)
def q369_source_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-level Shannon entropy (nats) — the cheapest
    template/boilerplate screen a curation pipeline runs: a source whose
    text is generated from a rigid template shows depressed character
    entropy relative to organic prose, before any tokenization exists.
    Publishes (source, n_chars, alphabet_size, entropy_nats).

    Scale plan: one exploded character pass (the shingle-explode cost
    class, linear) into map-side-combinable (source, char) counts —
    |sources| × |alphabet| groups — then a broadcast totals join.
    Exactness: each term (c/n)·ln(n/c) is identical double arithmetic in
    both engines snapped at 12 dp into DECIMAL(20,12) (the q244
    discipline — absorbs libm last-ulp differences), summed exactly,
    published at 6 dp (the 12-dp decimal stays far under the 2^53
    double-cast cliff: entropy < ln(alphabet) ≈ 5)."""
    docs = read_table(spark, sf_dir, "documents")
    # regexp_extract_all('(?s).') iterates CODEPOINTS (Java regex `.`
    # consumes a full surrogate pair), matching the oracle's substring
    # walk on arbitrary text — r10 ADVICE: F.split(text, '') is
    # UTF-16-code-unit-shaped in general; also measured 3x faster here.
    cnt = (
        docs.select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(text, '(?s).', 0)")
            ).alias("ch"),
        )
        .where(F.col("ch") != "")
        .groupBy("source", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("alphabet")
    )
    terms = cnt.join(F.broadcast(tot.select("source", "n")), "source").select(
        "source",
        F.round(
            (F.col("c").cast("double") / F.col("n"))
            * F.log(F.col("n").cast("double") / F.col("c")),
            12,
        )
        .cast("decimal(20,12)")
        .alias("term"),
    )
    ent = terms.groupBy("source").agg(F.sum("term").alias("s"))
    return (
        tot.join(ent, "source")
        .select(
            "source",
            F.col("n").cast("long").alias("n_chars"),
            F.col("alphabet").cast("long").alias("alphabet_size"),
            F.round(F.col("s").cast("double"), 6).alias("entropy_nats"),
        )
        .orderBy("source")
    )


@query(
    "q370_knn_hubness",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_md5_mod_sql("vec_id", 5)} = 0 AS is_test
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE is_test),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM base WHERE NOT is_test),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q, c
    ),
    top AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    deg AS (SELECT neighbor_id, COUNT(*) AS indegree FROM top GROUP BY 1),
    tot AS (SELECT COUNT(*) AS edges FROM top)
    SELECT neighbor_id,
           CAST(indegree AS BIGINT) AS indegree,
           {_ha6_sql("indegree", "(SELECT edges FROM tot)")} AS edge_share
    FROM deg ORDER BY indegree DESC, neighbor_id ASC LIMIT 10
    """,
    tags=("ann", "embedding", "hubness"),
)
def q370_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN hubness audit — the high-dimensional pathology screen: a few
    "hub" vectors appearing in a disproportionate share of top-k lists
    degrade retrieval diversity and kNN-classifier calibration
    (Radovanović et al.'s hubness effect).  Publishes the top-10 hubs of
    the probe set's top-5 graph by in-degree with their edge share.

    Scale plan: one blocked-GEMM brute-force top-5 over the md5 1-in-5
    probe split (q361's kernel and split); the neighbor table is
    |probes|·5 rows, pinned once for the degree count AND the edge
    total (the ≥2-consumer rule); top-10 via TakeOrdered, never a
    global sort.  Exactness: 6-dp cosine ranks with neighbor_id
    tie-breaks (q361); integer degrees; shares half-away rationals."""
    from ..operators.ann import brute_force_knn

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.withColumn("is_test", _md5_mod(F.col("vec_id"), 5) == 0)
    knn = brute_force_knn(
        base.where(~F.col("is_test")).select("vec_id", "embedding"),
        base.where(F.col("is_test")).select("vec_id", "embedding"),
        k=5,
    ).localCheckpoint(eager=True)
    deg = knn.groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("indegree"))
    tot = knn.agg(F.count(F.lit(1)).alias("edges"))
    return (
        deg.crossJoin(F.broadcast(tot))
        .select(
            "neighbor_id",
            F.col("indegree").cast("long").alias("indegree"),
            _sha6("indegree", "edges").alias("edge_share"),
        )
        .orderBy(F.col("indegree").desc(), "neighbor_id")
        .limit(10)
    )


@query(
    "q371_shard_rebalance_cost",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM docs
    ),
    tr AS (SELECT CAST(k1 AS BIGINT) AS k1, CAST(k2 AS BIGINT) AS k2
           FROM (VALUES (4, 5), (16, 17)) AS v(k1, k2)),
    modmoved AS (
      SELECT k1, k2, COUNT(*) AS n,
             SUM(CASE WHEN hv % k1 <> hv % k2 THEN 1 ELSE 0 END) AS moved
      FROM h, tr GROUP BY 1, 2
    ),
    sv AS (SELECT CAST(unnest(range(0, 17)) AS BIGINT) AS s),
    rv AS (
      SELECT t.k1, t.k2, d.doc_id, sv.s,
             md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(sv.s AS VARCHAR))
               AS hs
      FROM docs d, tr t, sv WHERE sv.s < t.k2
    ),
    pick AS (
      SELECT k1, k2, doc_id,
             FIRST(s ORDER BY hs DESC, s ASC) FILTER (WHERE s < k1)
               AS old_s,
             FIRST(s ORDER BY hs DESC, s ASC) AS new_s
      FROM rv GROUP BY 1, 2, 3
    ),
    rvm AS (
      SELECT k1, k2, COUNT(*) AS n,
             SUM(CASE WHEN old_s <> new_s THEN 1 ELSE 0 END) AS moved
      FROM pick GROUP BY 1, 2
    )
    SELECT CAST(k1 AS INT) AS k_from, CAST(k2 AS INT) AS k_to,
           'mod' AS scheme, CAST(n AS BIGINT) AS n_docs,
           CAST(moved AS BIGINT) AS moved_docs,
           {_ha6_sql("moved", "n")} AS moved_share
    FROM modmoved
    UNION ALL
    SELECT CAST(k1 AS INT), CAST(k2 AS INT), 'rendezvous',
           CAST(n AS BIGINT), CAST(moved AS BIGINT),
           {_ha6_sql("moved", "n")}
    FROM rvm
    ORDER BY k_from, scheme
    """,
    tags=("sharding", "layout", "audit"),
)
def q371_shard_rebalance_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-count rebalance cost: growing k → k+1 shards, what fraction
    of documents MOVE under (a) mod hashing (≈ 1 − 1/k2 of everything
    reshuffles — the naive layout's hidden cost) vs (b) rendezvous /
    highest-random-weight hashing (only ~1/k2 moves, all INTO the new
    shard) — the table that justifies consistent placement for any
    100 TB corpus that ever re-shards.  Swept at 4→5 and 16→17.

    Scale plan: linear — each doc fans out to ≤ k2+1 md5 draws
    (broadcast transition × slot grids), one high-card groupBy(doc)
    argmax (max_by on the lexicographic hex, FIRST(ORDER BY) in DuckDB
    — the q320 discipline), then a bounded rollup.  Exactness: md5 hex
    compares identically in both engines (lowercase, fixed width);
    integer counts; shares half-away rationals; argmax ties are
    md5-impossible but carry the s-asc tie-break anyway."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    tr = spark.sql(
        "SELECT CAST(k1 AS BIGINT) AS k1, CAST(k2 AS BIGINT) AS k2"
        " FROM (VALUES (4, 5), (16, 17)) AS v(k1, k2)"
    )
    h = docs.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        )
        .cast("bigint")
        .alias("hv"),
    )
    modmoved = (
        h.crossJoin(F.broadcast(tr))
        .groupBy("k1", "k2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("hv") % F.col("k1") != F.col("hv") % F.col("k2"), 1
                ).otherwise(0)
            ).alias("moved"),
        )
    )
    sv = spark.range(17).select(F.col("id").cast("bigint").alias("s"))
    rv = (
        docs.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(sv))
        .where(F.col("s") < F.col("k2"))
        .select(
            "k1",
            "k2",
            "doc_id",
            "s",
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("s").cast("string"),
                )
            ).alias("hs"),
        )
    )
    pick = rv.groupBy("k1", "k2", "doc_id").agg(
        F.expr(
            "max_by(s, struct(hs, -s)) FILTER (WHERE s < k1)"
        ).alias("old_s"),
        F.expr("max_by(s, struct(hs, -s))").alias("new_s"),
    )
    rvm = pick.groupBy("k1", "k2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("old_s") != F.col("new_s"), 1).otherwise(0)
        ).alias("moved"),
    )
    def publish(df, scheme):
        return df.select(
            F.col("k1").cast("int").alias("k_from"),
            F.col("k2").cast("int").alias("k_to"),
            F.lit(scheme).alias("scheme"),
            F.col("n").cast("long").alias("n_docs"),
            F.col("moved").cast("long").alias("moved_docs"),
            _sha6("moved", "n").alias("moved_share"),
        )

    return (
        publish(modmoved, "mod")
        .unionAll(publish(rvm, "rendezvous"))
        .orderBy("k_from", "scheme")
    )


@query(
    "q372_curriculum_length_deciles",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS tokens
      FROM documents
    ),
    d AS (
      SELECT tokens, NTILE(10) OVER (ORDER BY tokens, doc_id) AS decile
      FROM tk
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS total_tokens
      FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS grand FROM per)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           total_tokens,
           {_sha6_sql("total_tokens", "n_docs")} AS mean_tokens,
           {_sha6_sql("total_tokens", "(SELECT grand FROM tot)")}
             AS token_share
    FROM per ORDER BY decile
    """,
    tags=("text", "curriculum", "training"),
)
def q372_curriculum_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum schedule table: documents bucketed into global
    token-count deciles (the short→long ordering a curriculum trainer
    feeds), with each decile's document count, token mass, mean length
    and share of the total token budget — the planning table that says
    how many steps each curriculum phase can fund.

    Scale plan: the global decile is the q63 discipline — the
    distributed rank kernel (operators/prefix.global_ranks) derives
    (rn, n) under the (tokens, doc_id) total order with no single-task
    sort, and ntile_expr turns them into ANSI NTILE buckets row-locally;
    the rollup is 10 rows, pinned once for the grand total AND the
    publish (≥2-consumer rule).  Exactness: integer counts/sums; means
    and shares half-away rationals."""
    from ..operators.prefix import global_ranks, ntile_expr

    docs = read_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x != ''))")
        .cast("long")
        .alias("tokens"),
    )
    g = global_ranks(tk, order_cols=["tokens", "doc_id"])
    per = (
        g.select(
            "tokens", ntile_expr(F.col("rn"), F.col("n"), 10).alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
        )
        .localCheckpoint(eager=True)  # 10 rows; feeds grand total + publish
    )
    tot = per.agg(F.sum("total_tokens").alias("grand"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            _sha6("total_tokens", "n_docs").alias("mean_tokens"),
            _sha6("total_tokens", "grand").alias("token_share"),
        )
        .orderBy("decile")
    )


@query(
    "q373_lang_source_independence",
    oracle="""
    WITH m AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    nl AS (SELECT lang, SUM(o) AS n_l FROM m GROUP BY 1),
    ns AS (SELECT source, SUM(o) AS n_s FROM m GROUP BY 1),
    nn AS (SELECT SUM(o) AS n, COUNT(DISTINCT lang) AS r,
                  COUNT(DISTINCT source) AS c
           FROM m),
    grid AS (
      SELECT nl.lang, ns.source, nl.n_l, ns.n_s,
             COALESCE(m.o, 0) AS o
      FROM nl CROSS JOIN ns
      LEFT JOIN m ON m.lang = nl.lang AND m.source = ns.source
    ),
    terms AS (
      SELECT CAST(round(
               (CAST(o AS DOUBLE)
                - CAST(n_l AS DOUBLE) * n_s / (SELECT n FROM nn))
               * (CAST(o AS DOUBLE)
                  - CAST(n_l AS DOUBLE) * n_s / (SELECT n FROM nn))
               / (CAST(n_l AS DOUBLE) * n_s / (SELECT n FROM nn)),
               12) AS DECIMAL(24,12)) AS term
      FROM grid
    )
    SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_docs,
           CAST((SELECT r FROM nn) AS INT) AS n_langs,
           CAST((SELECT c FROM nn) AS INT) AS n_sources,
           CAST(((SELECT r FROM nn) - 1) * ((SELECT c FROM nn) - 1)
                AS INT) AS dof,
           round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
           round(sqrt(CAST(SUM(term) AS DOUBLE)
                      / ((SELECT n FROM nn)
                         * least((SELECT r FROM nn) - 1,
                                 (SELECT c FROM nn) - 1))), 6) AS cramers_v
    FROM terms
    """,
    tags=("quality", "independence", "statistics"),
)
def q373_lang_source_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × source independence (chi-squared + Cramér's V) — the
    confounding screen a curation pipeline runs before per-source or
    per-language decisions: if language composition differs wildly by
    source, any per-source quality policy silently becomes a language
    policy.

    Scale plan: ONE map-side (lang, source) count into a bounded grid;
    zero cells enter via the margins cross join (the q349 convention);
    everything downstream is ≤ |langs|·|sources| rows.  Exactness: the
    per-cell (o−e)²/e uses only IEEE +,−,×,÷ on identical expression
    text — bit-identical across engines with NO libm exposure — and
    each term snaps at 12 dp into DECIMAL before the exact sum (the
    q244 shape, order-proof); sqrt is IEEE correctly-rounded so
    Cramér's V survives a plain 6-dp round.  The double path never
    overflows at any corpus size (the exact-integer x² route would
    leave DECIMAL(38,0) past ~3e9 docs)."""
    docs = read_table(spark, sf_dir, "documents")
    m = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)  # bounded grid; feeds 3 margins + join
    )
    nl = m.groupBy("lang").agg(F.sum("o").alias("n_l"))
    ns = m.groupBy("source").agg(F.sum("o").alias("n_s"))
    nn = m.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
    )
    grid = (
        nl.crossJoin(F.broadcast(ns))
        .join(m, ["lang", "source"], "left")
        .select("lang", "source", "n_l", "n_s", F.coalesce("o", F.lit(0)).alias("o"))
        .crossJoin(F.broadcast(nn))
    )
    terms = grid.select(
        "n",
        "r",
        "c",
        F.expr(
            "CAST(round((CAST(o AS DOUBLE)"
            " - CAST(n_l AS DOUBLE) * n_s / n)"
            " * (CAST(o AS DOUBLE) - CAST(n_l AS DOUBLE) * n_s / n)"
            " / (CAST(n_l AS DOUBLE) * n_s / n), 12) AS DECIMAL(24,12))"
        ).alias("term"),
    )
    ag = terms.groupBy("n", "r", "c").agg(F.sum("term").alias("s"))
    return ag.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("r").cast("int").alias("n_langs"),
        F.col("c").cast("int").alias("n_sources"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        F.round(F.col("s").cast("double"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("s").cast("double")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# Poisson(1) inverse-CDF thresholds on the exact 2^52 grid:
# t_k = floor(CDF(k) * 2^52); a 52-bit md5 uniform u draws weight
# w = #{k : u >= t_k} (truncated at 9 — tail mass ~1e-6, identical in
# both engines so exactness is unaffected).  Shared constants generate
# BOTH the Spark and the DuckDB expression text.
_POIS1_T = [
    1656781714176974, 3313563428353948, 4141954285442435,
    4418084571138597, 4487117142562638, 4500923656847446,
    4503224742561580, 4503553469092171, 4503594559908495,
]


def _pois1_w(u_expr: str) -> str:
    """Engine-shared SQL: Poisson(1) weight from a 52-bit uniform."""
    return "(" + " + ".join(
        f"(CASE WHEN ({u_expr}) >= {t} THEN 1 ELSE 0 END)" for t in _POIS1_T
    ) + ")"


@query(
    "q374_poisson_bootstrap_ci",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, event_id AS rid,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vu
      FROM events WHERE value IS NOT NULL
    ),
    base AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(vu) AS BIGINT) AS num_all
      FROM ev GROUP BY 1
    ),
    hx AS (
      SELECT e.event_type, g.g, e.vu,
             md5(CAST(e.rid AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)) AS h
      FROM ev e,
           (SELECT CAST(unnest(range(1, 17)) AS BIGINT) AS g) g
    ),
    draws AS (
      SELECT event_type, 2*g - 1 AS b, vu,
             CAST(('0x' || substr(h, 1, 13)) AS BIGINT) AS u FROM hx
      UNION ALL
      SELECT event_type, 2*g AS b, vu,
             CAST(('0x' || substr(h, 14, 13)) AS BIGINT) AS u FROM hx
    ),
    wts AS (
      SELECT event_type, b, vu, {_pois1_w("u")} AS w FROM draws
    ),
    reps AS (
      SELECT event_type, b,
             SUM(CAST(w AS HUGEINT) * vu) AS num_u,
             CAST(SUM(w) AS BIGINT) AS n_w
      FROM wts GROUP BY 1, 2
    ),
    means AS (
      SELECT event_type, b,
             {_sha6_sql("num_u", "CAST(n_w AS HUGEINT)*1000000")} AS mean_b
      FROM reps WHERE n_w > 0
    ),
    ci AS (
      SELECT event_type, list_sort(list(mean_b)) AS ms,
             COUNT(*) AS n_reps
      FROM means GROUP BY 1
    )
    SELECT base.event_type,
           base.n_rows,
           {_sha6_sql("num_all", "CAST(n_rows AS HUGEINT)*1000000")}
             AS mean_value,
           CAST(n_reps AS INT) AS n_replicates,
           CASE WHEN n_reps = 32 THEN ms[2] END AS ci_lo,
           CASE WHEN n_reps = 32 THEN ms[31] END AS ci_hi
    FROM base JOIN ci ON base.event_type = ci.event_type
    ORDER BY base.event_type
    """,
    tags=("statistics", "bootstrap", "scale"),
)
def q374_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the per-type mean value — THE bootstrap
    that scales: instead of B resampled copies of the corpus, every row
    draws an independent Poisson(1) replicate weight from md5(row:b), so
    32 bootstrap replicate means come out of ONE corpus pass of
    map-side-combinable aggregates (the streaming-bootstrap construction
    used for CIs over web-scale logs).  Publishes the exact mean and the
    [2nd, 31st] order statistics of the 32 sorted replicate means (a
    ~94% percentile interval).

    Scale plan: one explode(1..32) fan-out folded by partial aggregation
    into |types|·32 groups — no shuffle growth, no per-replicate scan;
    everything downstream is bounded (32-element sorted lists).
    Exactness: weights are integer draws against shared 2^52-grid
    Poisson thresholds (_POIS1_T generates both engines' CASE text);
    values snap to exact micro-integers via the engine-shared
    floor(value·1e6 + 0.5) idiom (q332 form; r10 ADVICE — the earlier
    round(round(·,6)·1e6) double-round is the Spark-BigDecimal vs
    DuckDB-multiply-round divergence class; value >= 0 on this column
    so half-up == half-away); replicate sums widen to
    DECIMAL(38,0)/HUGEINT.

    Grid budget: num_u ≤ 9·n·1e8 and n_w·1e6 ≤ 9n·1e6 both widened
    to DECIMAL(38,0) INSIDE the _sha6 operand text (the int64 product
    n_w*1000000 would wrap near 9e12 rows); _sha6's runtime guard
    raises if a mean ever leaves the 6-dp grid."""
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("event_id").alias("rid"),
            F.expr(
                "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
            ).alias("vu"),
        )
        # the testdata parquet is one split: spread the 32x md5 fan-out
        # across cores (q230 lesson) and pin — ev feeds base AND hx
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("vu").alias("num_all")
    )
    # one md5 per (row, g) feeds TWO replicate draws (digits 1-13 and
    # 14-26 are independent 52-bit uniforms) — halves the dominant hash
    # cost; b = 2g-1 / 2g keeps the replicate ids dense in 1..32
    hx = ev.select(
        "event_type",
        "vu",
        F.explode(F.sequence(F.lit(1), F.lit(16))).alias("g"),
        F.col("rid"),
    ).select(
        "event_type",
        "vu",
        "g",
        F.md5(
            F.concat(
                F.col("rid").cast("string"), F.lit(":"), F.col("g").cast("string")
            )
        ).alias("h"),
    )
    draws = hx.select(
        "event_type",
        "vu",
        F.explode(
            F.array(
                F.struct(
                    (2 * F.col("g") - 1).alias("b"),
                    F.expr(
                        "CAST(conv(substr(h, 1, 13), 16, 10) AS BIGINT)"
                    ).alias("u"),
                ),
                F.struct(
                    (2 * F.col("g")).alias("b"),
                    F.expr(
                        "CAST(conv(substr(h, 14, 13), 16, 10) AS BIGINT)"
                    ).alias("u"),
                ),
            )
        ).alias("x"),
    ).select("event_type", F.col("x.b").alias("b"), "vu", F.col("x.u").alias("u"))
    wts = draws.select("event_type", "b", "vu", F.expr(_pois1_w("u")).alias("w"))
    reps = wts.groupBy("event_type", "b").agg(
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * vu")).alias("num_u"),
        F.sum("w").alias("n_w"),
    )
    means = reps.where(F.col("n_w") > 0).select(
        "event_type",
        _sha6("num_u", "CAST(n_w AS DECIMAL(38,0))*1000000").alias("mean_b"),
    )
    ci = means.groupBy("event_type").agg(
        F.array_sort(F.collect_list("mean_b")).alias("ms"),
        F.count(F.lit(1)).alias("n_reps"),
    )
    return (
        base.join(ci, "event_type")
        .select(
            "event_type",
            F.col("n_rows").cast("long").alias("n_rows"),
            _sha6(
                "num_all", "CAST(n_rows AS DECIMAL(38,0))*1000000"
            ).alias("mean_value"),
            F.col("n_reps").cast("int").alias("n_replicates"),
            # a type with very few rows can lose zero-weight replicates
            # (n_reps < 32): Spark ANSI would RAISE on element_at past
            # the end while DuckDB returns NULL — publish NULL in both
            # engines unless the full 32 replicates survived (r10 review)
            F.when(F.col("n_reps") == 32, F.element_at(F.col("ms"), 2))
            .alias("ci_lo"),
            F.when(F.col("n_reps") == 32, F.element_at(F.col("ms"), 31))
            .alias("ci_hi"),
        )
        .orderBy("event_type")
    )


def _cms_sql(rel: str, key: str, width: int = CMS_WIDTH, depth: int = CMS_DEPTH) -> str:
    """DuckDB text twin of operators/countmin.cms_sketch over
    ``SELECT {key} FROM {rel} WHERE {key} IS NOT NULL``: exact
    per-(row, bucket) counts.  Nulls are excluded to match the stats
    catalog's convention (operators/statcat.key_sketches — a null key
    joins nothing and counts toward no distinct), which q375 now serves
    its sketches from."""
    return f"""
      SELECT r.r,
             CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
                   CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {width} AS b,
             COUNT(*) AS c
      FROM {rel}, (SELECT unnest(range(0, {depth})) AS r) r
      WHERE {key} IS NOT NULL
      GROUP BY 1, 2
    """


@query(
    "q375_join_size_estimate",
    oracle=f"""
    WITH se AS ({_cms_sql("events", "user_id")}),
    sl AS ({_cms_sql("lineitem", "l_orderkey")}),
    so AS ({_cms_sql("orders", "o_orderkey")}),
    self_ip AS (
      SELECT r, SUM(CAST(c AS HUGEINT) * c) AS ip FROM se GROUP BY r
    ),
    cross_ip AS (
      -- depth spine + COALESCE: a hash row with zero overlapping
      -- buckets contributes ip = 0 to the MIN, matching the Python
      -- accumulator's zero-initialized rows (ADVICE r11)
      SELECT d.r, COALESCE(x.ip, 0) AS ip
      FROM (SELECT unnest(range(0, {CMS_DEPTH})) AS r) d
      LEFT JOIN (
        SELECT sl.r, SUM(CAST(sl.c AS HUGEINT) * so.c) AS ip
        FROM sl JOIN so ON sl.r = so.r AND sl.b = so.b
        GROUP BY sl.r
      ) x ON d.r = x.r
    ),
    est AS (
      SELECT 'events_self_user' AS join_name,
             (SELECT MIN(ip) FROM self_ip) AS cms_estimate,
             (SELECT SUM(CAST(c AS HUGEINT) * c)
              FROM (SELECT COUNT(*) AS c FROM events
                    WHERE user_id IS NOT NULL GROUP BY user_id))
               AS exact_pairs
      UNION ALL
      SELECT 'lineitem_orders_key',
             (SELECT MIN(ip) FROM cross_ip),
             (SELECT SUM(CAST(l.c AS HUGEINT) * o.c)
              FROM (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
                    WHERE l_orderkey IS NOT NULL GROUP BY 1) l
              JOIN (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders
                    WHERE o_orderkey IS NOT NULL GROUP BY 1) o ON l.k = o.k)
    )
    SELECT join_name,
           CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_pairs AS BIGINT) AS overcount,
           {_ha6_sql("cms_estimate - exact_pairs", "exact_pairs")}
             AS overcount_share
    FROM est ORDER BY join_name
    """,
    tags=("sketch", "join", "planning"),
)
def q375_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from Count-Min sketches — the planner input
    that decides whether a join is safe to run: |A ⋈_k B| estimated as
    min over sketch rows of the bucket-count inner product (the AGMS/CMS
    estimator, always ≥ the true size), next to the exact degree-product
    truth, for (a) the skewed events self-join on user_id (the
    sessionization-pair blow-up) and (b) the benign lineitem⋈orders key
    join.  Sketches compose: each side is built independently (a stats
    catalog keeps one per table) and the estimate needs only the two
    O(depth·width) summaries — never the data.

    Scale plan: the sketches are SERVED FROM THE PERSISTED STATS CATALOG
    (plans/statcat.build_catalog → ensure_catalog — same 128×3 md5
    convention, hash-pinned by q377), so steady-state the estimate costs
    zero data scans: the builder reads O(depth·width) catalog rows
    driver-side (the q379 bounded-artifact contract) and only the TRUTH
    columns run one degree-product aggregate per join.  This is the
    r11-verdict routing: q375 previously rebuilt the exact three
    sketches the catalog memoizes (~3 s/bench of duplicated work).

    Exactness: catalog sketches are md5-deterministic exact counts
    (q224/q377); inner products ride Python arbitrary-precision ints
    driver-side, degree products DECIMAL(38,0)/HUGEINT (c² is n²-scale).

    Grid budget: the overcount share's numerator 2·(est−exact)·1e6 rides
    integer Python / HUGEINT inside the shared half-away text; est ≤
    ΣcA·cB is n²-scale — past ~9e12 the 6-dp share would overflow the
    shared grid, at which point the share needs a coarser grid (q238
    rule), not a wider int."""
    from .statcat import (
        _BOUND_JOINS,
        _collect_cms_cells,
        _ha6_py,
        cms_inner_product,
        exact_degree_product,
    )

    cells = _collect_cms_cells(spark, sf_dir)
    out = []
    for name, a, b in _BOUND_JOINS:
        e = cms_inner_product(cells, a, b)
        x = exact_degree_product(spark, sf_dir, a, b)
        out.append((name, x, e, e - x, _ha6_py(e - x, x)))
    return local_frame(
        spark, out,
        "join_name string, exact_pairs long, cms_estimate long,"
        " overcount long, overcount_share double",
    )


# KMV (bottom-k / k-minimum-values) sketch constants: k = 32, hashes are
# 52-bit md5 uniforms (13 hex digits).  Distinct estimate (k-1)*2^52/u_k
# where u_k is the k-th smallest hash; exact when fewer than k distinct.
_KMV_K = 32
_KMV_NUM = (_KMV_K - 1) * (1 << 52)  # 139611588448485376, fits int64


@query(
    "q376_kmv_distinct_sketch",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    h AS (
      SELECT event_type, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS u
      FROM du
    ),
    rk AS (
      SELECT event_type, user_id, u,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY u, user_id) AS rn
      FROM h
    ),
    bk AS (SELECT * FROM rk WHERE rn <= {_KMV_K}),
    per_type AS (
      SELECT event_type AS set_name,
             CAST(exact_d AS BIGINT) AS exact_distinct,
             CASE WHEN exact_d < {_KMV_K} THEN CAST(exact_d AS DOUBLE)
                  ELSE {_ha6_sql(f"CAST({_KMV_NUM} AS HUGEINT)", "uk")} END AS kmv_estimate
      FROM (
        SELECT event_type, COUNT(*) AS exact_d,
               (SELECT MAX(u) FROM bk b WHERE b.event_type = h2.event_type
                AND b.rn <= {_KMV_K}) AS uk
        FROM h h2 GROUP BY 1
      )
    ),
    a AS (SELECT user_id, u FROM bk WHERE event_type = 'view'),
    b AS (SELECT user_id, u FROM bk WHERE event_type = 'purchase'),
    ub AS (
      SELECT user_id, u
      FROM (SELECT DISTINCT user_id, u FROM (SELECT * FROM a
                                             UNION ALL SELECT * FROM b))
      ORDER BY u, user_id LIMIT {_KMV_K}
    ),
    ustat AS (
      SELECT COUNT(*) AS n_ub,
             MAX(u) AS uk,
             SUM(CASE WHEN user_id IN (SELECT user_id FROM a)
                       AND user_id IN (SELECT user_id FROM b)
                      THEN 1 ELSE 0 END) AS nb
      FROM ub
    ),
    uex AS (
      SELECT COUNT(DISTINCT user_id) AS ex_u,
             COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
               + COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                     THEN user_id END)
               - COUNT(DISTINCT user_id) AS ex_i
      FROM du WHERE event_type IN ('view', 'purchase')
    ),
    pair AS (
      SELECT 'view_union_purchase' AS set_name,
             CAST(ex_u AS BIGINT) AS exact_distinct,
             CASE WHEN n_ub < {_KMV_K} THEN CAST(n_ub AS DOUBLE)
                  ELSE {_ha6_sql(f"CAST({_KMV_NUM} AS HUGEINT)", "uk")} END AS kmv_estimate
      FROM ustat, uex
      UNION ALL
      SELECT 'view_intersect_purchase',
             CAST(ex_i AS BIGINT),
             CASE WHEN n_ub < {_KMV_K}
                  THEN CAST(nb AS DOUBLE)
                  ELSE {_ha6_sql(f"nb*CAST({_KMV_NUM} AS HUGEINT)",
                                 f"CAST(uk AS HUGEINT)*{_KMV_K}")} END
      FROM ustat, uex
    )
    SELECT * FROM per_type
    UNION ALL SELECT * FROM pair
    ORDER BY set_name
    """,
    tags=("sketch", "distinct", "set-ops"),
)
def q376_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketches with SET-OPERATION estimates —
    the mergeable-distinct family that, unlike HLL (q312/q173), supports
    intersection: per event type, the k=32 minimum 52-bit md5 hashes of
    the user set give D̂ = (k−1)·2^52/u_k; two types' sketches merge into
    the union's bottom-k, and the intersection estimate is the Jaccard
    read off the merged bottom-k times the union estimate (Beyer et al.'s
    KMV algebra).  Exact counts ride alongside.

    Scale plan: per-type bottom-k is a rank window cut (WindowGroupLimit
    — map-side k-row buffers at any cardinality); everything after the
    cut touches ≤ k·|types| rows.  The estimate needs only the
    O(k)-value summaries — the stats-catalog composition, like q375.
    Exactness: md5 hashes identical cross-engine; estimates are exact
    integer rationals through _ha6 (num (k−1)·2^52 fits int64; the
    intersection numerator nb·(k−1)·2^52 widens to DECIMAL/HUGEINT);
    sets with < k distinct take the exact branch (exercised at
    sf0.001, where only 15 users exist)."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    du = ev.distinct()
    h = du.select(
        "event_type",
        "user_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 13), 16, 10)"
            " AS BIGINT)"
        ).alias("u"),
    )
    rk = h.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("u", "user_id")
        ),
    )
    bk = rk.where(F.col("rn") <= _KMV_K).localCheckpoint(
        eager=True
    )  # tiny; feeds per-type uk, the pair merge and both membership joins
    pt = (
        h.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_d"))
        .join(
            bk.groupBy("event_type").agg(
                F.max(F.when(F.col("rn") == _KMV_K, F.col("u"))).alias("uk")
            ),
            "event_type",
        )
        .select(
            F.col("event_type").alias("set_name"),
            F.col("exact_d").cast("long").alias("exact_distinct"),
            F.when(
                F.col("exact_d") < _KMV_K, F.col("exact_d").cast("double")
            )
            .otherwise(_sha6(str(_KMV_NUM), "uk"))
            .alias("kmv_estimate"),
        )
    )
    a = bk.where(F.col("event_type") == "view").select("user_id", "u")
    b = bk.where(F.col("event_type") == "purchase").select("user_id", "u")
    # merged bottom-k WITHOUT a window: a global (u, user_id) top-32 is
    # TakeOrderedAndProject (Spark 4.1 never plans WindowGroupLimit for
    # an EMPTY partition spec, so a rank window here would be a global
    # single-task sort — caught by the r10 window audit); u_k is then
    # max(u) of the 32-row table, valid exactly when n_ub = k
    mu = a.unionAll(b).distinct().orderBy("u", "user_id").limit(_KMV_K)
    ustat = (
        mu.join(
            a.select(F.col("user_id").alias("ua")).withColumn(
                "ina", F.lit(1)
            ),
            mu.user_id == F.col("ua"),
            "left",
        )
        .join(
            b.select(F.col("user_id").alias("ub2")).withColumn(
                "inb", F.lit(1)
            ),
            mu.user_id == F.col("ub2"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_ub"),
            F.max("u").alias("uk"),
            F.sum(
                F.when(
                    F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1
                ).otherwise(0)
            ).alias("nb"),
        )
    )
    vp = du.where(F.col("event_type").isin("view", "purchase"))
    uex = vp.agg(
        F.countDistinct("user_id").alias("ex_u"),
        (
            F.countDistinct(
                F.when(F.col("event_type") == "view", F.col("user_id"))
            )
            + F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            )
            - F.countDistinct("user_id")
        ).alias("ex_i"),
    )
    both = ustat.crossJoin(F.broadcast(uex))
    pair = both.select(
        F.lit("view_union_purchase").alias("set_name"),
        F.col("ex_u").cast("long").alias("exact_distinct"),
        F.when(F.col("n_ub") < _KMV_K, F.col("n_ub").cast("double"))
        .otherwise(_sha6(str(_KMV_NUM), "uk"))
        .alias("kmv_estimate"),
    ).unionAll(
        both.select(
            F.lit("view_intersect_purchase").alias("set_name"),
            F.col("ex_i").cast("long").alias("exact_distinct"),
            F.when(F.col("n_ub") < _KMV_K, F.col("nb").cast("double"))
            .otherwise(
                _sha6(
                    f"nb*CAST({_KMV_NUM} AS DECIMAL(38,0))",
                    f"CAST(uk AS DECIMAL(38,0))*{_KMV_K}",
                )
            )
            .alias("kmv_estimate"),
        )
    )
    return pt.unionAll(pair).orderBy("set_name")


# ---- DTW series similarity (q403) ------------------------------------------

_DTW_INF = 1 << 40


@query(
    "q403_dtw_similarity",
    oracle=f"""
    WITH RECURSIVE bounds AS (
      SELECT MIN(year(o_orderdate)*12 + month(o_orderdate)) AS lo,
             MAX(year(o_orderdate)*12 + month(o_orderdate)) AS hi
      FROM orders
    ),
    months AS (SELECT unnest(generate_series(lo, hi)) AS ym FROM bounds),
    cnts AS (
      SELECT c_nationkey AS nk, year(o_orderdate)*12 + month(o_orderdate) AS ym,
             COUNT(*) AS c
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    ser AS MATERIALIZED (
      SELECT n.n_nationkey, n.n_name,
             list(CAST(COALESCE(c.c, 0) AS BIGINT) ORDER BY m.ym) AS s
      FROM nation n
      CROSS JOIN months m
      LEFT JOIN cnts c ON c.nk = n.n_nationkey AND c.ym = m.ym
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT x.n_name AS n1, y.n_name AS n2, x.s AS a, y.s AS b
      FROM ser x JOIN ser y ON x.n_nationkey < y.n_nationkey
    ),
    dp AS (
      SELECT n1, n2, a, b, 0 AS k,
             list_transform(range(1, len(b)+1),
                j -> CASE WHEN j = 1 THEN CAST(abs(a[1]-b[1]) AS BIGINT)
                          ELSE CAST({_DTW_INF} AS BIGINT) END) AS cur,
             CAST(NULL AS BIGINT[]) AS prev
      FROM pairs
      UNION ALL
      SELECT n1, n2, a, b, k+1,
             list_transform(range(1, len(b)+1), j ->
               CASE WHEN (k+1) - (j-1) BETWEEN 0 AND len(a)-1
                    THEN CAST(abs(a[k+3-j] - b[j]) AS BIGINT) + LEAST(
                           COALESCE(cur[j], {_DTW_INF}),
                           CASE WHEN j >= 2 THEN COALESCE(cur[j-1], {_DTW_INF})
                                ELSE {_DTW_INF} END,
                           CASE WHEN j >= 2 THEN COALESCE(prev[j-1], {_DTW_INF})
                                ELSE {_DTW_INF} END)
                    ELSE {_DTW_INF} END),
             cur
      FROM dp WHERE k+1 <= len(a)+len(b)-2
    )
    SELECT n1, n2, CAST(cur[len(b)] AS BIGINT) AS dtw
    FROM dp WHERE k = len(a)+len(b)-2
    ORDER BY dtw, n1, n2
    LIMIT 15
    """,
    tags=("timeseries", "dtw", "kernel"),
)
def q403_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping similarity between nations' monthly order
    series — the elastic-alignment distance the fixed-lag families
    (q273 CCF, q241 ACF) can't express: same demand shape at drifting
    phase is CLOSE under DTW, far under any per-timestep metric.  Every
    nation's series lives on one shared month spine (missing months 0);
    all 300 nation pairs run through the anti-diagonal DP kernel
    (operators/dtw.dtw_pairs — one vectorized time loop over the
    pair×diagonal axes, the walk-kernel group-axis rule), and the 15
    closest pairs publish.

    The oracle replays the IDENTICAL recurrence as a recursive CTE
    whose state is the last two diagonals as lists — integer costs, so
    both engines' DPs are bit-equal cell by cell (no float anywhere).

    Scale plan: the series build is one join + one (nation, month)
    count agg (map-side combinable); the quadratic DP is per-PAIR over
    calendar-bounded length (~84 months), P·n² int ops batch-vectorized
    — at 1000× data the series only get DENSER, not longer, and the
    pair count depends on the entity vocabulary, not the corpus.  Grid:
    path cost ≤ (n+m)·max|Δcount| ≪ 2^40 = the INF sentinel."""
    from ..operators.dtw import dtw_pairs

    ords = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    bounds = ords.agg(F.min("ym").alias("lo"), F.max("ym").alias("hi"))
    cnts = (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"), "ym")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = (
        nation.crossJoin(F.broadcast(bounds))
        .select(
            "n_nationkey",
            "n_name",
            F.explode(F.sequence("lo", "hi")).alias("ym"),
        )
    )
    ser = (
        spine.join(
            cnts,
            (spine.n_nationkey == cnts.nk) & (spine.ym == cnts.ym),
            "left",
        )
        .select(
            "n_nationkey",
            "n_name",
            spine.ym.alias("m"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "c"))), lambda s: s["c"]
            ).alias("s")
        )
    )
    # 25 rows; the self-join below would otherwise run the spine join +
    # collect_list build once PER SIDE (r7 multi-consumer rule)
    ser = ser.localCheckpoint(eager=True)
    x, y = ser.alias("x"), ser.alias("y")
    pairs = x.join(
        y, F.col("x.n_nationkey") < F.col("y.n_nationkey")
    ).select(
        F.col("x.n_name").alias("n1"),
        F.col("y.n_name").alias("n2"),
        F.col("x.s").alias("a"),
        F.col("y.s").alias("b"),
    )
    scored = dtw_pairs(pairs, "a", "b", out="dtw")
    return (
        scored.select("n1", "n2", F.col("dtw").cast("long").alias("dtw"))
        .orderBy("dtw", "n1", "n2")
        .limit(15)
    )


# ---- HLL register rollup (q409) --------------------------------------------

def _q409_oracle() -> str:
    from .analytics4 import _q312_rho_sql

    rho = _q312_rho_sql("hv % 16777216")
    lvl = """
      SELECT '{level}' AS level, {period} AS period, user_id, hv
      FROM h
    """
    levels = " UNION ALL ".join(
        lvl.format(level=lv, period=p)
        for lv, p in (
            ("day", "CAST(CAST(ts AS DATE) AS VARCHAR)"),
            ("week", "CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR)"),
            ("month", "CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR)"),
        )
    )
    return f"""
    WITH h AS (
      SELECT ts, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ),
    lv AS MATERIALIZED ({levels}),
    reg AS (
      SELECT level, period, (hv // 16777216) % 256 AS j,
             MAX({rho}) AS m
      FROM lv GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT level, period,
             (256 - COUNT(*)) + SUM(1.0 / (CAST(1 AS BIGINT) << m)) AS z,
             COUNT(*) AS hit
      FROM reg GROUP BY 1, 2
    ),
    ex AS (
      SELECT level, period, COUNT(DISTINCT user_id) AS n
      FROM lv GROUP BY 1, 2
    ),
    est AS (
      SELECT s.level, s.period, s.hit,
             CASE WHEN 0.7213 / (1.0 + 1.079 / 256) * 65536 / s.z
                       <= 2.5 * 256 AND s.hit < 256
                  THEN 256.0 * ln(256.0 / (256 - s.hit))
                  ELSE 0.7213 / (1.0 + 1.079 / 256) * 65536 / s.z END AS e
      FROM s
    )
    SELECT est.level, est.period,
           CAST(ex.n AS BIGINT) AS n_exact,
           CAST(est.hit AS BIGINT) AS registers_hit,
           round(est.e, 6) AS hll_estimate,
           round(ABS(est.e - ex.n) / ex.n, 6) AS rel_err
    FROM est JOIN ex ON est.level = ex.level AND est.period = ex.period
    ORDER BY est.level, est.period
    """


@query(
    "q409_hll_register_rollup",
    oracle=_q409_oracle(),
    tags=("sketch", "cardinality", "rollup", "mergeable"),
)
def q409_hll_register_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count PRE-AGGREGATION through the calendar hierarchy —
    the classic problem HLL registers exist to solve: COUNT DISTINCT
    does not roll up (Σ daily distincts ≠ weekly distinct), but
    register vectors do (register-wise MAX is the HLL union).  The
    Spark side builds registers once per DAY and derives week and month
    levels by FOLDING the day registers (max per j) — never re-scanning
    the raw events — while the oracle recomputes every level from raw;
    MAX's associativity makes the two bit-identical, so the hash gate
    pins the rollup algebra itself (the q378 merge-identity discipline
    applied to the q312 sketch).  Estimates carry the standard
    small-range correction; exact distincts ride alongside per period.

    Scale plan: one map-side-combinable (day, j) MAX over the raw scan,
    then folds over O(|periods|·256) summary rows — the week/month
    levels cost NOTHING data-sized, which is the point: a year of daily
    register vectors (365·256 ints) serves any ad-hoc date-range
    distinct query.  Exactness: q312's dyadic-Z/integer-rho rules;
    periods published as date STRINGS (q154/q288 convention);
    date_trunc('week'/'month') is Monday/first-of-month in BOTH
    engines.

    Grid budget: hv < 2^32 (8 md5 hex digits); `div` 2^24 only shrinks
    it (the q312 budget, unchanged)."""
    from .analytics4 import _q312_rho_sql

    ev = read_table(spark, sf_dir, "events")
    h = ev.select(
        F.col("ts").cast("date").cast("string").alias("day"),
        F.date_trunc("week", "ts").cast("date").cast("string").alias("week"),
        F.date_trunc("month", "ts").cast("date").cast("string").alias("month"),
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("hv"),
        "user_id",
    ).localCheckpoint(eager=True)  # feeds day registers + 3 exact counts
    dayreg = h.groupBy(
        "day",
        "week",
        "month",
        F.expr("(hv div 16777216) % 256").alias("j"),
    ).agg(F.expr(f"MAX({_q312_rho_sql('hv % 16777216')})").alias("m"))
    dayreg = dayreg.localCheckpoint(eager=True)  # the stored artifact; 3 consumers
    regs = (
        dayreg.select(F.lit("day").alias("level"), F.col("day").alias("period"), "j", "m")
        .unionAll(
            dayreg.groupBy(F.lit("week").alias("level"), F.col("week").alias("period"), "j")
            .agg(F.max("m").alias("m"))
            .select("level", "period", "j", "m")
        )
        .unionAll(
            dayreg.groupBy(F.lit("month").alias("level"), F.col("month").alias("period"), "j")
            .agg(F.max("m").alias("m"))
            .select("level", "period", "j", "m")
        )
    )
    s = regs.groupBy("level", "period").agg(
        (
            (F.lit(256) - F.count(F.lit(1)))
            + F.sum(
                F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE)")
            )
        ).alias("z"),
        F.count(F.lit(1)).alias("hit"),
    )
    ex = (
        h.groupBy(F.lit("day").alias("level"), F.col("day").alias("period"))
        .agg(F.count_distinct("user_id").alias("n"))
        .unionAll(
            h.groupBy(F.lit("week").alias("level"), F.col("week").alias("period"))
            .agg(F.count_distinct("user_id").alias("n"))
        )
        .unionAll(
            h.groupBy(F.lit("month").alias("level"), F.col("month").alias("period"))
            .agg(F.count_distinct("user_id").alias("n"))
        )
    )
    raw = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / 256) * 65536 / F.col("z")
    est = F.when(
        (raw <= 2.5 * 256) & (F.col("hit") < 256),
        256.0 * F.log(256.0 / (256 - F.col("hit"))),
    ).otherwise(raw)
    return (
        s.join(ex, ["level", "period"])
        .select(
            "level",
            "period",
            F.col("n").cast("long").alias("n_exact"),
            F.col("hit").cast("long").alias("registers_hit"),
            F.round(est, 6).alias("hll_estimate"),
            F.round(F.abs(est - F.col("n")) / F.col("n"), 6).alias("rel_err"),
        )
        .orderBy("level", "period")
    )


# ---- Croston intermittent demand (q411) ------------------------------------

@query(
    "q411_croston_intermittent",
    oracle="""
    WITH RECURSIVE dem AS MATERIALIZED (
      SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS day,
             SUM(CAST(l_quantity AS BIGINT)) AS d
      FROM lineitem GROUP BY 1, 2
    ),
    ev AS MATERIALIZED (
      SELECT pk, d,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY day) AS rn,
             COALESCE(day - LAG(day) OVER (PARTITION BY pk ORDER BY day),
                      0) AS gap
      FROM dem
    ),
    st AS (
      SELECT pk, 1 AS k, CAST(d AS DOUBLE) AS z, CAST(1 AS DOUBLE) AS p
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT st.pk, st.k + 1,
             (e.d + st.z) / 2.0, (e.gap + st.p) / 2.0
      FROM st JOIN ev e ON e.pk = st.pk AND e.rn = st.k + 1
    ),
    fin AS (
      SELECT pk, k AS n_events, z, p,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY k DESC) AS last
      FROM st
    )
    SELECT pk AS p_partkey, CAST(n_events AS BIGINT) AS n_events,
           round(z, 6) AS z, round(p, 6) AS p,
           round(z / p, 6) AS demand_rate
    FROM fin WHERE last = 1
    ORDER BY demand_rate DESC, p_partkey
    LIMIT 20
    """,
    tags=("forecast", "timeseries", "kernel"),
)
def q411_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand — the forecasting family
    member (q248 Holt, q277 Holt-Winters) built for series that are
    mostly zero: each part's demand arrives on scattered ship days, and
    Croston smooths demand SIZE and inter-demand INTERVAL separately
    (α = 1/2 dyadic), forecasting the demand rate z/p.  Top-20 parts by
    smoothed rate publish.

    Scale plan: demand aggregates to the (part, day) grid map-side;
    the per-part recurrences run in operators/forecast.croston_forecast
    — the MANY-small-series group-axis kernel (one row per part
    carrying its event list, the time loop vectorized over the part
    axis; NEVER per-period Spark recursion, the q248 lesson — the
    recursive CTE stays oracle-side where DuckDB runs one join round
    per event rank).  Exactness: integer demands/gaps halved under
    dyadic α are identical IEEE trajectories cross-engine; 6-dp rounds
    of dyadics can't hit .5e-6 ties (5-adic denominators — the module
    rule); rate ties break on partkey."""
    from ..operators.forecast import croston_forecast

    li = read_table(spark, sf_dir, "lineitem")
    dem = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.unix_date(F.to_date("l_shipdate")).alias("day"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("d"))
    # rn/gap need no window: the kernel sorts each part's (day, d)
    # events once collected and derives gaps as integer day diffs —
    # identical to datediff(day, lag(day)) without the window's full
    # pk exchange + sort (one of three exchanges gone)
    cf = croston_forecast(dem, "pk", "day", "d")
    return (
        cf.select(
            F.col("pk").alias("p_partkey"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round("z", 6).alias("z"),
            F.round("p", 6).alias("p"),
            F.round(F.col("z") / F.col("p"), 6).alias("demand_rate"),
        )
        .orderBy(F.col("demand_rate").desc(), "p_partkey")
        .limit(20)
    )


# ---- distribution-free median CI (q413) ------------------------------------

# exact integer sqrt of 38416·n (= (100·1.96·sqrt(n))²): floor(sqrt) on a
# double then a ±1 fix-up by exact integer comparison — the q172 rule
# (never trust a libm boundary a bucket depends on).  {n} is the group
# size column; both engines share the text verbatim.
_Q413_T = (
    "(CAST(floor(sqrt(CAST(38416 * {n} AS DOUBLE))) AS BIGINT)"
    " - CASE WHEN CAST(floor(sqrt(CAST(38416 * {n} AS DOUBLE))) AS BIGINT)"
    "            * CAST(floor(sqrt(CAST(38416 * {n} AS DOUBLE))) AS BIGINT)"
    "            > 38416 * {n} THEN 1 ELSE 0 END"
    " + CASE WHEN (CAST(floor(sqrt(CAST(38416 * {n} AS DOUBLE))) AS BIGINT) + 1)"
    "            * (CAST(floor(sqrt(CAST(38416 * {n} AS DOUBLE))) AS BIGINT) + 1)"
    "            <= 38416 * {n} THEN 1 ELSE 0 END)"
)


@query(
    "q413_median_ci",
    oracle=f"""
    WITH r AS (
      SELECT o_orderpriority AS grp, o_totalprice AS x,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    ks AS (
      SELECT grp, n, {_Q413_T.format(n="n")} AS t
      FROM (SELECT DISTINCT grp, n FROM r)
    ),
    bounds AS (
      SELECT grp, n,
             GREATEST(1, (100 * n - t) // 200) AS k_lo,
             (n + 1) // 2 AS k_med,
             LEAST(n, (100 * n + t) // 200 + 1) AS k_hi
      FROM ks
    )
    SELECT b.grp AS o_orderpriority, CAST(b.n AS BIGINT) AS n,
           CAST(b.k_lo AS BIGINT) AS k_lo, CAST(b.k_hi AS BIGINT) AS k_hi,
           MIN(CASE WHEN r.rn = b.k_lo THEN r.x END) AS ci_lo,
           MIN(CASE WHEN r.rn = b.k_med THEN r.x END) AS median,
           MIN(CASE WHEN r.rn = b.k_hi THEN r.x END) AS ci_hi
    FROM bounds b JOIN r ON r.grp = b.grp
                        AND r.rn IN (b.k_lo, b.k_med, b.k_hi)
    GROUP BY b.grp, b.n, b.k_lo, b.k_hi
    ORDER BY b.grp
    """,
    tags=("stats", "quantiles", "kernel"),
)
def q413_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the per-group
    MEDIAN — the order-statistic CI (ranks (n ± 1.96√n)/2, the binomial
    normal approximation; Hahn & Meeker's nonparametric interval): no
    distributional assumption, just the k-th and (n−k+1)-ish order
    statistics, which is why it is THE robust analyst tool for skewed
    money columns.  Published per order priority: n, the rank bounds,
    and the three order-statistic VALUES (CI low, lower median, CI
    high) — raw column values, so the hash gate is exact with no float
    arithmetic beyond the isqrt.

    Scale plan: ranks come from the distributed range-partition rank
    kernel (operators/prefix.global_ranks — never a per-group
    single-task window; the oracle's plain window is DuckDB-side only);
    rank bounds are pure integer arithmetic on the 5-row group table,
    with 1.96√n computed as an EXACT integer sqrt of 38416·n (floor-
    sqrt plus a ±1 fix-up by integer comparison — the q172 boundary
    rule, immune to any libm ulp).

    Grid budget: 38416·n fits int64 to n ≈ 2.4e14 rows/group; the
    `div` 200 only shrinks; rank arithmetic is group-size-bounded."""
    from ..operators.prefix import global_ranks

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        "o_orderkey",
    )
    r = global_ranks(
        orders, order_cols=["x", "o_orderkey"], group_cols=["grp"]
    )
    ks = (
        r.select("grp", "n")
        .distinct()
        .selectExpr("grp", "n", f"{_Q413_T.format(n='n')} AS t")
    )
    bounds = ks.selectExpr(
        "grp",
        "n",
        "GREATEST(1, (100 * n - t) div 200) AS k_lo",
        "(n + 1) div 2 AS k_med",
        "LEAST(n, (100 * n + t) div 200 + 1) AS k_hi",
    )
    j = r.select("grp", "x", "rn").join(F.broadcast(bounds), "grp").where(
        (F.col("rn") == F.col("k_lo"))
        | (F.col("rn") == F.col("k_med"))
        | (F.col("rn") == F.col("k_hi"))
    )
    return (
        j.groupBy("grp", F.col("n").alias("n_rows"), "k_lo", "k_hi", "k_med")
        .agg(
            F.min(F.when(F.col("rn") == F.col("k_lo"), F.col("x"))).alias("ci_lo"),
            F.min(F.when(F.col("rn") == F.col("k_med"), F.col("x"))).alias("median"),
            F.min(F.when(F.col("rn") == F.col("k_hi"), F.col("x"))).alias("ci_hi"),
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("n_rows").cast("long").alias("n"),
            F.col("k_lo").cast("long").alias("k_lo"),
            F.col("k_hi").cast("long").alias("k_hi"),
            "ci_lo",
            "median",
            "ci_hi",
        )
        .orderBy("o_orderpriority")
    )


# ---- James-Stein shrinkage (q414) ------------------------------------------

# the shrinkage arithmetic, shared verbatim between engines (identical
# IEEE ops on identical integer-micro-sum inputs): group mean, grand
# mean of group means, between-group S, averaged sampling variance
# vbar = s2w * mean(1/n_g), factor B = max(0, 1 - (m-3)*vbar/S)
_Q414_XG = "CAST(sxu AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)"


@query(
    "q414_james_stein_shrinkage",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey AS nk,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
                  AS HUGEINT) AS sxu,
             CAST(SUM(CAST(floor(o_totalprice * 1000000 + 0.5) AS HUGEINT)
                      * CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
                  AS HUGEINT) AS sx2u
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(n) AS BIGINT) AS nn,
             SUM({_Q414_XG}) / COUNT(*) AS grand,
             SUM(1.0 / CAST(n AS DOUBLE)) / COUNT(*) AS invn
      FROM g
    ),
    s2 AS (
      SELECT SUM(({_Q414_XG} - m.grand) * ({_Q414_XG} - m.grand)) AS s
      FROM g, m
    ),
    w AS (
      SELECT SUM(CAST(sx2u AS DOUBLE) / 1e12
                 - CAST(sxu AS DOUBLE) / 1e6 * ({_Q414_XG})) AS ssw
      FROM g
    ),
    fac AS (
      SELECT m.m, m.grand,
             GREATEST(0.0,
               1.0 - (m.m - 3) * (w.ssw / (m.nn - m.m) * m.invn) / s2.s
             ) AS b
      FROM m, s2, w
    )
    SELECT g.nk AS nationkey, CAST(g.n AS BIGINT) AS n,
           round({_Q414_XG}, 6) AS raw_mean,
           round(fac.grand + fac.b * ({_Q414_XG} - fac.grand), 6)
             AS shrunk_mean,
           round(fac.b, 6) AS shrink_b
    FROM g, fac
    ORDER BY g.nk
    """,
    tags=("stats", "shrinkage", "empirical-bayes"),
)
def q414_james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation mean order values — the
    Efron–Morris/James–Stein estimator that DOMINATES the raw group
    means under squared error whenever ≥ 4 groups exist: each nation's
    mean is pulled toward the grand mean by B = 1 − (m−3)·v̄/S (v̄ the
    averaged sampling variance of a group mean from the pooled within-
    group variance, S the between-group sum of squares), clamped at 0.
    Small noisy groups shrink hard; the factor publishes alongside.

    Scale plan: one map-side-combinable (Σ, Σx²) pass per group in
    exact integer micro units, then all shrinkage arithmetic on the
    m-row group table (m = 25 nations).  Exactness: micro sums are
    exact integers (HUGEINT / DECIMAL(38,0)); every double op from
    there is the SAME expression text in both engines (the q339 shared-
    text discipline), so 6-dp rounds agree.

    Grid budget: Σx²·1e12 micro² per group ≈ 6e27 — exceeds int64, so
    the squared-sum accumulates in DECIMAL(38,0)/HUGEINT (exact to
    1e38); no integer `div` anywhere."""
    ords = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .join(
            read_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.expr(
                "CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)"
            ).alias("xu"),
        )
    )
    g = ords.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("sxu"),
        F.sum(
            (F.col("xu").cast("decimal(38,0)") * F.col("xu")).cast(
                "decimal(38,0)"
            )
        ).alias("sx2u"),
    )
    g = g.localCheckpoint(eager=True)  # 25 rows; feeds 3 aggregates + output
    xg = _Q414_XG
    m = g.selectExpr(
        "CAST(COUNT(*) AS BIGINT) AS m",
        "CAST(SUM(n) AS BIGINT) AS nn",
        f"SUM({xg}) / COUNT(*) AS grand",
        "SUM(1.0 / CAST(n AS DOUBLE)) / COUNT(*) AS invn",
    )
    s2 = g.crossJoin(F.broadcast(m)).selectExpr(
        f"SUM(({xg} - grand) * ({xg} - grand)) AS s"
    )
    w = g.selectExpr(
        f"SUM(CAST(sx2u AS DOUBLE) / 1e12"
        f" - CAST(sxu AS DOUBLE) / 1e6 * ({xg})) AS ssw"
    )
    fac = (
        m.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(w))
        .selectExpr(
            "m",
            "grand",
            "GREATEST(0.0, 1.0 - (m - 3) * (ssw / (nn - m) * invn) / s) AS b",
        )
    )
    return (
        g.crossJoin(F.broadcast(fac))
        .selectExpr(
            "nk AS nationkey",
            "CAST(n AS BIGINT) AS n",
            f"round({xg}, 6) AS raw_mean",
            f"round(grand + b * ({xg} - grand), 6) AS shrunk_mean",
            "round(b, 6) AS shrink_b",
        )
        .orderBy("nationkey")
    )


# ---- Benjamini-Hochberg FDR (q415) -----------------------------------------

def _phi_inv(q: float) -> float:
    """Φ⁻¹ by bisection on math.erf — runs ONCE at import to mint the
    BH threshold literals both engines share (no scipy in the
    container; math.erf is exact enough for a 1e-9 bisection, and the
    6-dp snap below makes the literals platform-stable)."""
    import math

    lo, hi = -10.0, 10.0
    for _ in range(80):
        mid = (lo + hi) / 2
        if (1.0 + math.erf(mid / math.sqrt(2.0))) / 2.0 < q:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


_BH_M = 25        # one hypothesis per nation
_BH_ALPHA = 0.05
# |z| threshold for BH rank k: p_(k) <= alpha*k/m  <=>  |z_(k)| >= t_k,
# t_k = PhiInv(1 - alpha*k/(2m)) — p is monotone in |z|, so BH runs
# entirely on z-scores with NO p-value/erf at query time
_BH_T = [
    round(_phi_inv(1.0 - _BH_ALPHA * k / (2 * _BH_M)), 6)
    for k in range(1, _BH_M + 1)
]
_BH_VALUES = ", ".join(
    f"({k}, {t})" for k, t in zip(range(1, _BH_M + 1), _BH_T)
)

_Q415_XG = "CAST(sxu AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)"
_Q415_Z = (
    f"(({_Q415_XG}) - mu0) / sqrt(var0 / CAST(n AS DOUBLE))"
)


@query(
    "q415_bh_fdr",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
                  AS HUGEINT) AS sxu
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ),
    gl AS (
      SELECT COUNT(*) AS nn,
             CAST(SUM(xu) AS DOUBLE) / 1e6 / COUNT(*) AS mu0,
             (CAST(SUM(CAST(xu AS HUGEINT) * xu) AS DOUBLE) / 1e12
              - CAST(SUM(xu) AS DOUBLE) / 1e6
                * (CAST(SUM(xu) AS DOUBLE) / 1e6 / COUNT(*)))
             / (COUNT(*) - 1) AS var0
      FROM (SELECT CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT) AS xu
            FROM orders)
    ),
    z AS (
      SELECT g.nk, g.n, {_Q415_Z} AS z
      FROM g, gl
    ),
    rk AS (
      SELECT nk, n, z,
             ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, nk) AS rank
      FROM z
    ),
    th AS (SELECT k, t FROM (VALUES {_BH_VALUES}) v(k, t)),
    flag AS (
      SELECT rk.*, th.t, (ABS(rk.z) >= th.t) AS passes
      FROM rk JOIN th ON rk.rank = th.k
    ),
    kstar AS (
      SELECT COALESCE(MAX(CASE WHEN passes THEN rank END), 0) AS ks
      FROM flag
    )
    SELECT f.nk AS nationkey, CAST(f.n AS BIGINT) AS n,
           round(f.z, 6) AS z,
           CAST(f.rank AS BIGINT) AS bh_rank,
           CAST(f.t AS DOUBLE) AS threshold,
           (f.rank <= kstar.ks) AS rejected
    FROM flag f, kstar
    ORDER BY f.nk
    """,
    tags=("stats", "multiple-testing", "fdr"),
)
def q415_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over 25 simultaneous hypotheses —
    the multiple-testing correction every per-group screen (q309's
    feature screening, q144's A/B tests) needs before anyone reads its
    "significant" list: per nation, a z-test of mean order value
    against the global mean; BH's step-up rule rejects the k* smallest
    p-values where k* = max{{k : p_(k) ≤ αk/m}}.  Because p is monotone
    in |z|, the whole procedure runs on z-scores against precomputed
    thresholds t_k = Φ⁻¹(1 − αk/2m) — Φ⁻¹ evaluated ONCE at import by
    erf-bisection and embedded as identical 6-dp literals in BOTH
    engines, so no erf/CDF exists at query time in either plan.

    Scale plan: one exact integer-micro moment pass per group plus one
    global pass; the BH machinery runs on the m-row table (ranked by a
    self-join count Spark-side — the 25-row table never earns a window;
    the oracle's ROW_NUMBER is DuckDB-side only).  Exactness: z from
    shared expression text on exact integer sums; threshold comparisons
    against 6-dp literals (a |z| landing within one ulp of a threshold
    is measure-zero on data-derived ratios — the q312 double-path
    rule).

    Grid budget: global Σx² widened per-row to HUGEINT/DECIMAL(38,0)
    before summing (the q414/q215 rule); no integer `div`."""
    ords = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)").alias(
            "xu"
        ),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    g = (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("xu").cast("decimal(38,0)")).alias("sxu"),
        )
    )
    glob = ords.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("xu").cast("decimal(38,0)") * F.col("xu")).cast(
                "decimal(38,0)"
            )
        ).alias("sx2"),
    ).selectExpr(
        "CAST(SX AS DOUBLE) / 1e6 / nn AS mu0",
        "(CAST(sx2 AS DOUBLE) / 1e12"
        " - CAST(sx AS DOUBLE) / 1e6 * (CAST(sx AS DOUBLE) / 1e6 / nn))"
        " / (nn - 1) AS var0",
    )
    z = (
        g.crossJoin(F.broadcast(glob))
        .selectExpr("nk", "n", f"{_Q415_Z} AS z")
        .localCheckpoint(eager=True)  # 25 rows; self-join rank + kstar + output
    )
    a, b = z.alias("a"), z.alias("b")
    rk = (
        a.join(
            b,
            (F.abs(F.col("b.z")) > F.abs(F.col("a.z")))
            | (
                (F.abs(F.col("b.z")) == F.abs(F.col("a.z")))
                & (F.col("b.nk") <= F.col("a.nk"))
            ),
        )
        .groupBy(F.col("a.nk").alias("nk"), F.col("a.n").alias("n"), F.col("a.z").alias("z"))
        .agg(F.count(F.lit(1)).alias("rank"))
    )
    th = local_frame(
        spark, list(zip(range(1, _BH_M + 1), _BH_T)), "k long, t double"
    )
    flag = rk.join(F.broadcast(th), rk.rank == th.k).select(
        "nk", "n", "z", "rank", "t", (F.abs(F.col("z")) >= F.col("t")).alias("passes")
    )
    flag = flag.localCheckpoint(eager=True)
    kstar = flag.agg(
        F.coalesce(
            F.max(F.when(F.col("passes"), F.col("rank"))), F.lit(0)
        ).alias("ks")
    )
    return (
        flag.crossJoin(F.broadcast(kstar))
        .select(
            F.col("nk").alias("nationkey"),
            F.col("n").cast("long").alias("n"),
            F.round("z", 6).alias("z"),
            F.col("rank").cast("long").alias("bh_rank"),
            F.col("t").cast("double").alias("threshold"),
            (F.col("rank") <= F.col("ks")).alias("rejected"),
        )
        .orderBy("nationkey")
    )
