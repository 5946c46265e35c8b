"""Round-7 analytics additions, continued (q215+): rank-statistics model
evaluation (ROC AUC), change-point detection (CUSUM), distribution-free
uncertainty (split conformal), marketing attribution (last touch),
forensic digit analysis (Benford), and categorical association
(chi-square / Cramer's V).

Family ancestry: the reference's workload is exploratory pandas
analytics over event/alert tables (value_counts, shift() comparisons,
notebook eval loops — e.g. data_integration.ipynb's ad-hoc model-eval
and distribution-profiling cells); these re-express the same analysis
patterns as declarative, shuffle-conscious Spark plans with exact
DuckDB twins.

Cross-engine float discipline (CLAUDE.md): every reported ratio whose
numerator/denominator are exact integers is rounded via pure integer
division — half-away(num/den, 6dp) = (2*num*1e6 + den) div (2*den) for
num >= 0 — because round(x, 6) of an exact rational can hit a .5e-6 tie
that Spark (BigDecimal half-up) and DuckDB (multiply-round) resolve
differently.  Ratios computed through IEEE doubles from identical
inputs (order statistics, log10, sqrt) are safe under plain round(,6):
both engines round the same binary value, and a binary double can never
sit exactly on a non-dyadic .5e-6 boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import artifact, local_frame
from ..sources import read_table
from .registry import query


def _ha6(num: str, den: str) -> F.Column:
    """round(num/den, 6) for an EXACT integer rational with num >= 0,
    den > 0, as pure integer half-away division — THE module rounding
    idiom (a plain round() of a rational can hit a .5e-6 tie that Spark
    and DuckDB resolve differently; see the module docstring).
    Negative-capable numerators need the sign-aware CASE form (q225).

    Grid budget — EXECUTABLE since r10 (the q238/q240/q363 silent-wrap
    class, three live bites): operands are widened to DECIMAL(38,0)
    INSIDE the expression, so the 2·num·1e6 product can never wrap an
    int64 input type (q215's lesson enforced, not advised), and the
    published quotient is runtime-guarded — |num/den| beyond the 6-dp
    int64 grid (9e12) RAISES instead of wrapping.  The guard must live
    here because Spark's `div` on DECIMAL operands wraps silently EVEN
    UNDER ANSI MODE (measured on this build: CAST(4e19 AS
    DECIMAL(38,0)) div 1 returns garbage with ansi.enabled=true), so
    no session conf can be the canary.  den = 0 publishes NULL via an
    EXPLICIT CASE branch (r10 ADVICE: without it, ANSI `div` raises
    DIVIDE_BY_ZERO — the den <> 0 overflow condition routes den=0
    straight into the ELSE div)."""
    return (
        F.expr(
            f"CASE WHEN ({den}) = 0 THEN NULL"
            f" WHEN abs(CAST(({num}) AS DOUBLE)"
            f" / CAST(({den}) AS DOUBLE)) > 9.0e12"
            f" THEN raise_error(concat('_ha6 grid overflow"
            f" (q238/q363 class — use a coarser grid): num=',"
            f" CAST(({num}) AS STRING), ' den=', CAST(({den}) AS STRING)))"
            f" ELSE (2*CAST(({num}) AS DECIMAL(38,0))*1000000 + ({den}))"
            f" div (2*CAST(({den}) AS DECIMAL(38,0))) END"
        ).cast("double")
        / 1_000_000
    )


def _ha6_sql(num: str, den: str) -> str:
    """DuckDB text twin of :func:`_ha6` (// instead of div).

    Grid budget: DuckDB // promotes to HUGEINT and ERRORS loudly on int128 overflow, so the text twin needs no runtime guard - the Spark side (_ha6) carries it."""
    return (
        f"CAST((2*({num})*1000000 + ({den})) // (2*({den})) AS DOUBLE)"
        " / 1000000"
    )


def _day_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per-(session, dataset) daily count grid
    (event_type, day, cnt), pinned — shared by the trend/change-point
    family (q216 / q228 / q229), whose consumers would otherwise each
    re-scan events and re-pin the same ~calendar x 5 rows."""
    return artifact(
        spark, sf_dir, "day_grid",
        lambda: (
            read_table(spark, sf_dir, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint(eager=True)
        ),
    )


@query(
    "q215_roc_auc",
    oracle="""
    WITH s AS (
      SELECT value, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      FROM events GROUP BY 1
    ),
    c AS (SELECT n, np, SUM(n) OVER (ORDER BY value) AS cum_n FROM s),
    r AS (
      SELECT SUM(np * (2*cum_n - n + 1)) AS r2,
             SUM(np) AS n_pos, SUM(n - np) AS n_neg
      FROM c
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST((2*(CAST(r2 AS HUGEINT) - CAST(n_pos AS HUGEINT)*(n_pos+1))
                   *1000000 + 2*CAST(n_pos AS HUGEINT)*n_neg)
                // (4*CAST(n_pos AS HUGEINT)*n_neg) AS DOUBLE) / 1000000
             AS auc
    FROM r
    """,
    tags=("ml-eval", "rank", "prefix-kernel"),
)
def q215_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of ``value`` as a score for the purchase class, via the
    Mann-Whitney rank-sum identity with exact tie handling (average
    ranks): AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg).

    Scale plan: ranks are NEVER materialized per row.  Aggregate to the
    distinct-score table first (one shuffle), then a GLOBAL running
    count over score order via the distributed prefix kernel
    (operators/prefix.py) — per-partition memory, no single-task
    whole-table window, no sort of the raw data.  The average rank of a
    tied score group falls out of (cum_n, n) arithmetic: twice the rank
    sum stays integral (2*avg_rank = 2*cum_n - n + 1), so the whole
    statistic is an exact integer rational until the final 6-dp
    rounding, computed in DECIMAL(38,0)/HUGEINT: the rounding multiply
    2*num*1e6 ~ n^2/2 * 1e6 would exceed int64 at only ~4M rows (the
    review-corrected bound — the bigint rank-sum aggregate itself is
    good to ~2e9 rows; beyond that the sum input needs the decimal cast
    too), and the widening is free because the division runs on ONE
    already-aggregated row."""
    from ..operators.prefix import running_total

    ev = read_table(spark, sf_dir, "events")
    s = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("np"),
    )
    c = running_total(s, "n", order_cols=["value"], out_col="cum_n")
    r = c.agg(
        F.sum(F.col("np") * (2 * F.col("cum_n") - F.col("n") + 1)).alias("r2"),
        F.sum("np").alias("n_pos"),
        F.sum(F.col("n") - F.col("np")).alias("n_neg"),
    )
    return r.select(
        "n_pos",
        "n_neg",
        (
            F.expr(
                "(2*(CAST(r2 AS DECIMAL(38,0))"
                "    - CAST(n_pos AS DECIMAL(38,0))*(n_pos+1))*1000000"
                " + 2*CAST(n_pos AS DECIMAL(38,0))*n_neg)"
                " div (4*CAST(n_pos AS DECIMAL(38,0))*n_neg)"
            ).cast("double")
            / 1_000_000
        ).alias("auc"),
    )


@query(
    "q221_average_precision",
    oracle="""
    WITH s AS (
      SELECT value, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT np, SUM(n) OVER (ORDER BY value DESC) AS cum_n,
             SUM(np) OVER (ORDER BY value DESC) AS cum_p
      FROM s
    ),
    t AS (
      SELECT SUM((2*np*cum_p*1000000 + cum_n) // (2*cum_n)) AS total_units,
             SUM(np) AS n_pos, COUNT(*) AS n_blocks
      FROM c WHERE np > 0
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST((2*total_units + n_pos) // (2*n_pos) AS DOUBLE) / 1000000
             AS avg_precision
    FROM t
    """,
    tags=("ml-eval", "rank", "prefix-kernel"),
)
def q221_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve summary) of ``value`` scoring the
    purchase class, with deterministic block tie handling: every positive
    in a tied-score block receives the precision at the END of its block
    (cum_p / cum_n inclusive of the whole block) — the conservative
    convention, independent of any within-tie ordering.

    Scale plan: q215's sibling, but AP needs TWO aligned prefixes of the
    same descending-score order (cumulative rows AND cumulative
    positives), so it uses the multi-spec prefix kernel
    (operators/prefix.running_totals): ONE range partitioning, one
    control table carrying both partial sums — two running_total calls
    would shuffle twice and could sample different range boundaries.
    Per-block term np*cum_p/cum_n is rounded to 6 dp by pure integer
    half-away division (exact bigint rational — a double .5e-6 tie here
    is not just possible but common, e.g. precision exactly 1/2), the
    integer micro-units are summed exactly, and the final mean over
    positives is one more integer division.

    Grid budget: the per-block numerator np*cum_p*1e6 is n^2-scale and widened to DECIMAL(38,0) (q215 lesson); its quotient <= np*1e6 and the final 2*total_units <= 2*n_pos*1e6 fit int64 to ~4.6e12 positives."""
    from ..operators.prefix import running_totals

    ev = read_table(spark, sf_dir, "events")
    s = (
        ev.groupBy("value")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .withColumn("negv", -F.col("value"))
    )
    c = running_totals(
        s, [("n", "cum_n"), ("np", "cum_p")], order_cols=["negv"]
    )
    t = c.where(F.col("np") > 0).agg(
        F.sum(
            F.expr(
                "(2*CAST(np AS DECIMAL(38,0))*cum_p*1000000 + cum_n)"
                " div (2*cum_n)"
            )
        ).alias("total_units"),
        F.sum("np").alias("n_pos"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    return t.select(
        "n_pos",
        "n_blocks",
        (
            F.expr("(2*total_units + n_pos) div (2*n_pos)").cast("double")
            / 1_000_000
        ).alias("avg_precision"),
    )


@query(
    "q216_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, COUNT(*) AS nd, SUM(cnt) AS tot FROM d GROUP BY 1),
    c AS (
      SELECT d.event_type, day, nd, tot,
             ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY day) AS ti,
             SUM(cnt) OVER (PARTITION BY d.event_type ORDER BY day) AS cum
      FROM d JOIN t USING (event_type)
    ),
    s AS (
      SELECT event_type, day, nd, ABS(nd*cum - ti*tot) AS anum FROM c
    ),
    r AS (
      SELECT event_type, day, nd, anum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY anum DESC, day) AS rn
      FROM s
    )
    SELECT event_type, CAST(day AS VARCHAR) AS cp_day,
           CAST((2*anum*1000000 + nd) // (2*nd) AS DOUBLE) / 1000000 AS s_abs,
           CAST(nd AS BIGINT) AS n_days
    FROM r WHERE rn = 1
    """,
    tags=("timeseries", "changepoint", "agg-grid-window"),
)
def q216_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate per event type: the day t maximizing
    |S_t| where S_t = cumulative (count_i - mean) over the daily series
    — the classic mean-shift locator (Page's statistic at its argmax).

    The cumulative window runs over the per-DAY aggregate grid (rows
    bounded by calendar x 5 types — the q210/q213 exemption class), not
    the raw events.  Exact arithmetic: S_t * n_days = n_days*cum - t*tot
    is a pure integer, so the argmax and the tie-break (earliest day)
    are engine-independent; only the final report divides, via integer
    half-away rounding."""
    d = _day_grid(spark, sf_dir)
    t = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("cnt").alias("tot")
    )
    wday = Window.partitionBy("event_type").orderBy("day")
    c = (
        d.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "day",
            "nd",
            "tot",
            F.row_number().over(wday).alias("ti"),
            F.sum("cnt").over(wday).alias("cum"),
        )
        .withColumn(
            "anum", F.abs(F.col("nd") * F.col("cum") - F.col("ti") * F.col("tot"))
        )
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("anum"), "day")
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            _ha6("anum", "nd").alias("s_abs"),
            F.col("nd").alias("n_days"),
        )
    )


def _lr_oracle() -> str:
    """Unrolled 3-step IRLS oracle.  Each level references only the
    PREVIOUS level's single CTE (betas are carried THROUGH the aggregate
    via MAX so no level is referenced twice — the q141 CTE-inlining
    blow-up rule)."""
    head = """
    WITH base AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS q
      FROM events
    ),
    stats AS (SELECT COUNT(*) AS n, SUM(q) AS sq, SUM(q*q) AS ssq FROM base),
    xb AS (
      SELECT y,
             (CAST(q AS DOUBLE)/100 - CAST(sq AS DOUBLE)/(100*n))
               / sqrt(CAST(ssq AS DOUBLE)/(10000*n)
                      - POW(CAST(sq AS DOUBLE)/(100*n), 2)) AS x
      FROM base, stats
    ),
    b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)
    """
    step = """
    , p{k} AS (
      SELECT y, x, 1 / (1 + exp(-(b0 + b1 * x))) AS p, b0, b1
      FROM xb, b{j}
    ),
    a{k} AS (
      SELECT
        CAST(SUM(CAST(round(p*(1-p), 10) AS DECIMAL(38,10))) AS DOUBLE) AS s0,
        CAST(SUM(CAST(round(p*(1-p)*x, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(round(p*(1-p)*x*x, 10) AS DECIMAL(38,10))) AS DOUBLE) AS s2,
        CAST(SUM(CAST(round(y - p, 10) AS DECIMAL(38,10))) AS DOUBLE) AS g0,
        CAST(SUM(CAST(round((y - p)*x, 10) AS DECIMAL(38,10))) AS DOUBLE) AS g1,
        MAX(b0) AS b0, MAX(b1) AS b1
      FROM p{k}
    ),
    b{k} AS (
      SELECT round(b0 + (s2*g0 - s1*g1) / (s0*s2 - s1*s1), 6) AS b0,
             round(b1 + (s0*g1 - s1*g0) / (s0*s2 - s1*s1), 6) AS b1
      FROM a{k}
    )
    """
    tail = """
    SELECT n, b0, b1,
           CAST((2*n_correct*1000000 + n) // (2*n) AS DOUBLE) / 1000000
             AS accuracy
    FROM (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN (CASE WHEN b0 + b1*x >= 0 THEN 1 ELSE 0 END) = y
                      THEN 1 ELSE 0 END) AS n_correct,
             MAX(b0) AS b0, MAX(b1) AS b1
      FROM xb, b3
    )
    """
    return head + "".join(step.format(k=k, j=k - 1) for k in (1, 2, 3)) + tail


@query(
    "q222_logistic_irls",
    oracle=_lr_oracle(),
    tags=("ml-train", "iterative", "exact-decimal"),
)
def q222_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression by 3 unrolled IRLS/Newton steps:
    P(purchase | value) with a standardized feature, trained exactly the
    way a 100 TB job would — each step is ONE map-side-combinable
    aggregate over the corpus producing the 2x2 Hessian moments and the
    gradient, the 2-parameter state rides along as a broadcast 1-row
    table, and the Newton solve is closed-form.

    Cross-engine float discipline: the feature is standardized through
    EXACT integer cents moments (sum/sum-of-squares as bigint — ssq
    stays < 2^53 through sf1, so the double cast is exact; the variance
    is then pure double arithmetic on identical inputs).  Per-row IRLS
    terms go through exp() (1-ulp libm divergence possible) so each term
    is rounded to 10 dp and summed EXACTLY as DECIMAL(38,10) — a raw
    double sum over a shuffle would be partitioning-dependent; a 1e-10
    term flip shifts beta by ~1e-13, absorbed by the per-step 6-dp
    round.  Accuracy compares z = b0 + b1*x >= 0 from the ROUNDED betas
    and identical x doubles — engine-exact — and reports an
    integer-rounded ratio."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("q"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("ssq"),
    )
    mu = F.col("sq").cast("double") / (100 * F.col("n"))
    var = F.col("ssq").cast("double") / (10000 * F.col("n")) - mu * mu
    # spread before pinning: the events scan is one split at small SFs,
    # and every IRLS pass would otherwise run its exp()-heavy aggregate
    # on a single core (the q230 lesson)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    xb = (
        base.repartition(nparts)
        .crossJoin(F.broadcast(stats))
        .select(
            "y",
            ((F.col("q").cast("double") / 100 - mu) / F.sqrt(var)).alias("x"),
            "n",
        )
        .localCheckpoint(eager=True)  # feeds 3 IRLS aggregates + the eval pass
    )

    def dsum10(c):
        return F.sum(F.round(c, 10).cast("decimal(38,10)")).cast("double")

    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(3):
        p = F.lit(1.0) / (1 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
        w = p * (1 - p)
        a = xb.crossJoin(F.broadcast(beta)).agg(
            dsum10(w).alias("s0"),
            dsum10(w * F.col("x")).alias("s1"),
            dsum10(w * F.col("x") * F.col("x")).alias("s2"),
            dsum10(F.col("y") - p).alias("g0"),
            dsum10((F.col("y") - p) * F.col("x")).alias("g1"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
        )
        det = F.col("s0") * F.col("s2") - F.col("s1") * F.col("s1")
        beta = a.select(
            F.round(
                F.col("b0")
                + (F.col("s2") * F.col("g0") - F.col("s1") * F.col("g1")) / det,
                6,
            ).alias("b0"),
            F.round(
                F.col("b1")
                + (F.col("s0") * F.col("g1") - F.col("s1") * F.col("g0")) / det,
                6,
            ).alias("b1"),
        )
    pred_ok = (
        F.when(F.col("b0") + F.col("b1") * F.col("x") >= 0, 1).otherwise(0)
        == F.col("y")
    )
    return (
        xb.crossJoin(F.broadcast(beta))
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(pred_ok, 1).otherwise(0)).alias("n_correct"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
        )
        .select(
            "n",
            "b0",
            "b1",
            _ha6("n_correct", "n").alias("accuracy"),
        )
    )


_MD5_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5"
)


@query(
    "q217_conformal_interval",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             {_MD5_BUCKET} AS bucket
      FROM orders
    ),
    mu AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM b WHERE bucket <= 2 GROUP BY 1
    ),
    cal AS (
      SELECT b.o_orderpriority, ABS(o_totalprice - mu) AS absres, o_orderkey
      FROM b JOIN mu USING (o_orderpriority) WHERE bucket = 3
    ),
    ranked AS (
      SELECT o_orderpriority, absres,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY absres, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n_cal
      FROM cal
    ),
    qh AS (
      SELECT o_orderpriority, n_cal,
             LEAST((9*(n_cal+1) + 9) // 10, n_cal) AS k, absres AS q_hat
      FROM ranked
      WHERE rn = LEAST((9*(n_cal+1) + 9) // 10, n_cal)
    ),
    test AS (
      SELECT b.o_orderpriority,
             CASE WHEN ABS(o_totalprice - mu) <= q_hat THEN 1 ELSE 0 END AS inside
      FROM b JOIN mu USING (o_orderpriority) JOIN qh USING (o_orderpriority)
      WHERE bucket = 4
    ),
    cov AS (
      SELECT o_orderpriority, COUNT(*) AS n_test, SUM(inside) AS n_in
      FROM test GROUP BY 1
    )
    SELECT q.o_orderpriority, CAST(n_cal AS BIGINT) AS n_cal,
           CAST(k AS BIGINT) AS k, round(q_hat, 6) AS q_hat,
           CAST(n_test AS BIGINT) AS n_test,
           CAST((2*n_in*1000000 + n_test) // (2*n_test) AS DOUBLE) / 1000000
             AS coverage
    FROM qh q JOIN cov USING (o_orderpriority)
    """,
    tags=("ml-eval", "conformal", "prefix-kernel", "quantile"),
)
def q217_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian split-conformal prediction intervals per order priority:
    md5-stable 60/20/20 train/calibration/test split, a per-group mean
    model on train, q_hat = the ceil(0.9*(n_cal+1))-th smallest absolute
    calibration residual (the distribution-free 90% bound), and the
    empirical test-set coverage of mu +/- q_hat.

    The order statistic comes from the distributed prefix kernel's
    grouped global ranks (operators/prefix.py) — no per-group
    single-task sort; k is computed by pure integer ceiling
    ((9*(n+1)+9) div 10), never ceil(0.9*(n+1)) in doubles, whose
    binary representation can straddle an exact integer.  The coverage
    comparison uses the UNROUNDED q_hat double (identical in both
    engines); only the report rounds.

    Grid budget: rank arithmetic (9*(n+1)+9) div 10 on row counts - fits int64 to ~1e18 rows."""
    from ..operators.prefix import global_ranks

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 5
        ).alias("bucket"),
    )
    mu = (
        o.where(F.col("bucket") <= 2)
        .groupBy("o_orderpriority")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu")
        )
    )
    cal = (
        o.where(F.col("bucket") == 3)
        .join(F.broadcast(mu), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.abs(F.col("o_totalprice") - F.col("mu")).alias("absres"),
            "o_orderkey",
        )
    )
    ranked = global_ranks(
        cal,
        order_cols=["absres", "o_orderkey"],
        group_cols=["o_orderpriority"],
        rn_col="rn",
        total_col="n_cal",
    )
    k = F.least(
        F.expr("(9*(n_cal+1) + 9) div 10"), F.col("n_cal")
    )
    qh = (
        ranked.withColumn("k", k)
        .where(F.col("rn") == F.col("k"))
        .select("o_orderpriority", "n_cal", "k", F.col("absres").alias("q_hat"))
    )
    test = (
        o.where(F.col("bucket") == 4)
        .join(F.broadcast(mu), "o_orderpriority")
        .join(F.broadcast(qh), "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_cal",
            "k",
            "q_hat",
            F.when(
                F.abs(F.col("o_totalprice") - F.col("mu")) <= F.col("q_hat"), 1
            )
            .otherwise(0)
            .alias("inside"),
        )
    )
    return test.groupBy("o_orderpriority", "n_cal", "k", "q_hat").agg(
        F.count(F.lit(1)).alias("n_test"), F.sum("inside").alias("n_in")
    ).select(
        "o_orderpriority",
        "n_cal",
        "k",
        F.round("q_hat", 6).alias("q_hat"),
        "n_test",
        _ha6("n_in", "n_test").alias("coverage"),
    )


@query(
    "q218_last_touch_attribution",
    oracle="""
    WITH marked AS (
      SELECT event_type, ts,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts
      FROM events
    ),
    attributed AS (
      SELECT CASE WHEN lt_type IS NOT NULL
                   AND lt_ts >= ts - INTERVAL 7 DAY THEN lt_type
                  ELSE 'direct' END AS channel
      FROM marked WHERE event_type = 'purchase'
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM attributed)
    SELECT channel, COUNT(*) AS n,
           CAST((2*COUNT(*)*1000000 + n_total) // (2*n_total) AS DOUBLE)
             / 1000000 AS share
    FROM attributed, tot GROUP BY channel, n_total
    """,
    tags=("window", "attribution", "funnel"),
)
def q218_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRIOR non-purchase event within a 7-day lookback, else
    'direct' — the standard marketing-attribution report the reference's
    event analysis implies (funnel/retention cousins: q98/q99/q156).

    One window pass partitioned by user_id (high-cardinality — per-task
    state is one user's history, bounded), ordered by (ts, event_id) for
    a total order; last(col, ignorenulls) over the strictly-prior frame
    gives both the channel and its timestamp in the same pass.  The
    lookback compares timestamps via interval arithmetic (identical in
    both engines); shares are integer-rounded rationals."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    np_type = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    np_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    marked = ev.select(
        "event_type",
        "ts",
        F.last(np_type, ignorenulls=True).over(w).alias("lt_type"),
        F.last(np_ts, ignorenulls=True).over(w).alias("lt_ts"),
    )
    attributed = marked.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_type").isNotNull()
            & (F.col("lt_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
            F.col("lt_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel")
    )
    # aggregate ONCE: the channel counts are the only consumer of the
    # full per-user window pass; n_total is their sum (pinned <=5-row
    # table — an unpinned `attributed.agg` twin would re-run the whole
    # window sort per consumer; review r7 batch-2 finding)
    counts = (
        attributed.groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(F.sum("n").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n",
            _ha6("n", "n_total").alias("share"),
        )
    )


@query(
    "q219_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                         AS VARCHAR), 1, 1) AS digit
      FROM orders
    ),
    counts AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_total FROM digits)
    SELECT digit, n,
           CAST((2*n*1000000 + n_total) // (2*n_total) AS DOUBLE) / 1000000
             AS observed,
           round(log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS expected,
           round(ABS(CAST((2*n*1000000 + n_total) // (2*n_total) AS DOUBLE)
                     / 1000000
                     - round(log10(1 + 1 / CAST(digit AS DOUBLE)), 6)), 6) AS dev
    FROM counts, tot
    """,
    tags=("dq", "audit", "distribution"),
)
def q219_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts: observed vs
    expected log10(1 + 1/d) leading-digit shares — the classic forensic
    data-quality screen for fabricated or truncated monetary columns.

    The leading digit is extracted through exact integer cents
    (floor(x*100 + 0.5), the micro-grid snap) and string formatting of a
    BIGINT — identical in both engines, immune to float log10-of-the-
    value-itself edge cases.  Expected shares DO use log10, but only as
    report output: all nine constants sit >= 2e-8 away from a .5e-6
    rounding boundary, so a 1-ulp libm difference cannot flip the 6-dp
    round (verified digit by digit).  Observed shares are integer-
    rounded rationals.  One tiny groupBy — the scan aggregates to <= 9
    rows; at 100 TB this is a map-side-combined count, no other
    shuffle."""
    o = read_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            1,
            1,
        ).alias("digit")
    )
    # pinned: n_total is the SUM over the <=9-row count table — a
    # second `digits.agg` pass would re-scan orders (review r7-2)
    counts = (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(F.sum("n").alias("n_total"))
    obs = _ha6("n", "n_total")
    exp = F.round(F.log10(1 + 1 / F.col("digit").cast("double")), 6)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            obs.alias("observed"),
            exp.alias("expected"),
            F.round(F.abs(obs - exp), 6).alias("dev"),
        )
    )


def _pca_oracle(iterations: int = 8, dim: int = 64) -> str:
    """Unrolled power iteration on the exact-integer covariance.  The
    Gram/cov CTEs are MATERIALIZED (single evaluation — the el self-join
    is the only non-trivial work); each v-level references only the
    previous level once, with the L2 normalizer as OVER () (q141)."""
    steps = [
        f"v0 AS (SELECT CAST(i AS INT) AS i, CAST(0.125 AS DOUBLE) AS v"
        f" FROM range(1, {dim + 1}) t(i))"
    ]
    for k in range(1, iterations + 1):
        steps.append(
            f"""v{k} AS {"MATERIALIZED " if k == iterations else ""}(
  SELECT i, round(u / sqrt(SUM(u*u) OVER ()), 6) AS v FROM (
    SELECT m.i AS i, SUM(m.a * x.v) AS u
    FROM am m JOIN v{k - 1} x ON m.j = x.i GROUP BY 1))"""
        )
    return f"""
    WITH el AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS INT) AS i,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(1, {dim + 1}) t(i)
    ),
    g AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, SUM(CAST(a.q AS HUGEINT) * b.q) AS s
      FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    cs AS (SELECT i, SUM(CAST(q AS HUGEINT)) AS s1 FROM el GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    fullg AS (
      SELECT i, j, s FROM g
      UNION ALL SELECT j AS i, i AS j, s FROM g WHERE i < j
    ),
    cov AS MATERIALIZED (
      SELECT f.i, f.j, CAST(n AS HUGEINT) * f.s - a.s1 * b.s1 AS c
      FROM fullg f JOIN cs a ON f.i = a.i JOIN cs b ON f.j = b.i, nn
    ),
    tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j),
    am AS MATERIALIZED (
      SELECT i, j, round(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 12) AS a
      FROM cov, tr
    ),
    {",".join(steps)},
    u9 AS (
      SELECT m.i AS i, SUM(m.a * x.v) AS u
      FROM am m JOIN v{iterations} x ON m.j = x.i GROUP BY 1
    )
    SELECT v.i AS dim, v.v AS loading, lam.l AS eigval_share
    FROM v{iterations} v,
         (SELECT round(sqrt(SUM(u*u)), 6) AS l FROM u9) lam
    """


@query(
    "q223_pca_top_component",
    oracle=_pca_oracle(),
    tags=("ml-train", "pca", "iterative", "exact-decimal"),
)
def q223_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA direction finding on the embedding corpus: exact-integer
    covariance accumulation + 8 unrolled power iterations, reporting the
    64 loadings of the DETERMINISTIC 8-STEP ITERATE and its Rayleigh
    variance share (||A'v|| with A' = cov/trace, so trace(A') = 1).
    On a gapped spectrum the iterate IS the top principal component
    (pinned by a constructed-gap test); this synthetic corpus is
    near-isotropic (lambda1/lambda2 ~ 1.07), where NO power method
    converges in few steps — the recurrence itself, replayed in numpy,
    is the behavior contract (tests/test_pca.py).

    Scale split: the ONLY corpus-scale work is the Gram accumulation,
    done by the per-batch int64 GEMM kernel (operators/pca.py) — O(d^2)
    shuffle rows per Arrow batch instead of the O(n*d^2) explode the
    oracle uses, and exact-integer partials so the DECIMAL(38,0) merge is
    independent of partitioning and batch slicing.  Centering never
    materializes (n*S_ij - s_i*s_j in exact HUGEINT/DECIMAL algebra).
    The d x d power iteration is constant-sized: broadcast joins over the
    pinned 4096-row matrix, per-iteration 6-dp rounds absorbing the
    64-term float matvec's shuffle-order ulps (q196's loop discipline,
    starting from the exactly-representable v0 = 1/8, so no sign
    ambiguity — both engines follow the identical deterministic
    trajectory)."""
    from ..operators.pca import gram_exact

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    g = gram_exact(emb)  # pinned: feeds n / colsums / gram / trace
    nn = g.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("s").alias("n")
    )
    cs = g.where((F.col("i") >= 1) & (F.col("j") == 0)).select(
        "i", F.col("s").alias("s1")
    )
    ut = g.where(F.col("j") >= 1)
    fullg = ut.union(
        ut.where(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s"
        )
    )
    cov = (
        fullg.join(
            F.broadcast(cs.select(F.col("i"), F.col("s1").alias("si"))), "i"
        )
        .join(
            F.broadcast(
                cs.select(F.col("i").alias("j"), F.col("s1").alias("sj"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s") - F.col("si") * F.col("sj")).alias("c"),
        )
    )
    tr = cov.where(F.col("i") == F.col("j")).agg(F.sum("c").alias("t"))
    am = cov.crossJoin(F.broadcast(tr)).select(
        "i",
        "j",
        F.round(F.col("c").cast("double") / F.col("t").cast("double"), 12)
        .alias("a"),
    )
    # the d x d eigen-iteration is constant-sized: one task, not 8
    # shuffle supersteps (operators/pca.power_iterate_table — 13.5 s ->
    # ~1 s at sf0.1; the corpus-scale work above is untouched)
    from ..operators.pca import power_iterate_table

    return power_iterate_table(am, dim=64, iterations=8)


@query(
    "q224_countmin_audit",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    buckets AS MATERIALIZED (
      SELECT t.r,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token),
                                  1, 8)) AS BIGINT) % 128 AS b,
             COUNT(*) AS c
      FROM tok CROSS JOIN range(0, 3) t(r)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY 1
      ORDER BY exact_cnt DESC, token LIMIT 20
    ),
    probes AS (
      SELECT token, exact_cnt, t.r,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token),
                                  1, 8)) AS BIGINT) % 128 AS b
      FROM top CROSS JOIN range(0, 3) t(r)
    ),
    est AS (
      SELECT token, exact_cnt, MIN(COALESCE(bk.c, 0)) AS cms_est
      FROM probes p LEFT JOIN buckets bk USING (r, b)
      GROUP BY 1, 2
    )
    SELECT token, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
    FROM est
    """,
    tags=("sketch", "countmin", "audit"),
)
def q224_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch error audit: build a deliberately tight sketch
    (width 128, depth 3) over the document token stream, then report the
    top-20 tokens' exact counts next to their CMS estimates and the
    one-sided overcount (est >= exact always; collisions at ~3.7k-word
    vocabulary vs 128 buckets make the overcount non-trivial, which is
    the point of the audit).

    The hash gate proves the SCALE KERNEL exact: Spark builds the sketch
    via per-Arrow-batch [depth x width] int64 accumulation
    (operators/countmin.py — O(depth*width) emitted cells per batch,
    exact integer merge, partitioning/slicing independent), while DuckDB
    builds it by direct bucket GROUP BY — bit-identical sketches is the
    claim.  Estimates are min-over-rows of exact integers; no floats
    anywhere."""
    from ..operators.countmin import cms_estimate, cms_sketch

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "token"
        )
    ).localCheckpoint(eager=True)  # feeds the sketch AND the exact counts
    sketch = cms_sketch(tok, "token", width=128, depth=3)
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(20)
        # pinned: feeds the probe build AND the final join — unpinned,
        # the groupBy + TakeOrdered would execute twice (review r7-2)
        .localCheckpoint(eager=True)
    )
    est = cms_estimate(sketch, top, "token", width=128, depth=3)
    return top.join(est, "token").select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


@query(
    "q225_clustering_eval",
    oracle="""
    WITH asg AS (
      SELECT 4 * CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0 THEN 1 ELSE 0 END
           + 2 * CASE WHEN CAST(embedding[2] AS DOUBLE) >= 0 THEN 1 ELSE 0 END
           +     CASE WHEN CAST(embedding[3] AS DOUBLE) >= 0 THEN 1 ELSE 0 END
               AS cluster, label
      FROM embeddings
    ),
    cells AS (SELECT cluster, label, COUNT(*) AS n FROM asg GROUP BY 1, 2),
    sij AS (SELECT SUM(n*(n-1)//2) AS s, SUM(n) AS nt,
                   COUNT(DISTINCT cluster) AS nc,
                   COUNT(DISTINCT label) AS nl
            FROM cells),
    sa AS (SELECT SUM(a*(a-1)//2) AS s
           FROM (SELECT SUM(n) AS a FROM cells GROUP BY cluster)),
    sb AS (SELECT SUM(b*(b-1)//2) AS s
           FROM (SELECT SUM(n) AS b FROM cells GROUP BY label)),
    pur AS (SELECT SUM(m) AS s
            FROM (SELECT MAX(n) AS m FROM cells GROUP BY cluster)),
    frac AS (
      -- HUGEINT: 2*num*1e6 exceeds BIGINT beyond ~sf0.1 (Sn^2-scale)
      SELECT nt, nc, nl, pur.s AS p,
             2*CAST(sij.s AS HUGEINT)*(nt*(nt-1)//2)
               - 2*CAST(sa.s AS HUGEINT)*sb.s AS num,
             (CAST(sa.s AS HUGEINT) + sb.s)*(nt*(nt-1)//2)
               - 2*CAST(sa.s AS HUGEINT)*sb.s AS den
      FROM sij, sa, sb, pur
    )
    SELECT CAST(nt AS BIGINT) AS n, CAST(nc AS BIGINT) AS n_clusters,
           CAST(nl AS BIGINT) AS n_labels,
           CAST((2*p*1000000 + nt) // (2*nt) AS DOUBLE) / 1000000 AS purity,
           CAST(CASE WHEN num >= 0
                     THEN (2*num*1000000 + den) // (2*den)
                     ELSE -((2*(-num)*1000000 + den) // (2*den)) END
                AS DOUBLE) / 1000000 AS ari
    FROM frac
    """,
    tags=("ml-eval", "clustering", "exact-rational"),
)
def q225_clustering_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation — purity and the Adjusted Rand
    Index of a deterministic 3-bit sign-LSH cell assignment (the
    SimHash-family cheap clustering) against the corpus ground-truth
    ``label`` column.  Closes the ML-eval family's clustering corner
    next to AUC (q215), AP (q221), conformal coverage (q217) and the
    chi-square association screen (q220).

    Both metrics are EXACT integer rationals: purity = sum of per-cluster
    majority counts over N, and ARI entirely in pair-count binomials
    (2*Sij*Sn - 2*Sa*Sb over (Sa+Sb)*Sn - 2*Sa*Sb, all C(x,2) by integer
    division), rounded once by half-away integer division — no float
    enters before the final report.  Scale: one groupBy to the
    (cluster, label) contingency cells; everything after is
    contingency-table-sized (the q220 shape).  A trained-k-means variant
    would reuse ann.kmeans_fit assignments with these identical metric
    aggregates.

    Grid budget: Rand-index numerators are widened to DECIMAL(38,0) (quotient +/-1e6); the long-typed pair counts n*(n-1) div 2 overflow past ~4.3e9 rows per (cluster,label) cell, where ANSI raises LOUDLY (never silent garbage) - widen them if cells ever reach that mass."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    bit = lambda i: F.when(e.getItem(i).cast("double") >= 0, 1).otherwise(0)  # noqa: E731
    asg = emb.select(
        (4 * bit(0) + 2 * bit(1) + bit(2)).alias("cluster"), "label"
    )
    cells = asg.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)  # 4 metric consumers
    sij = cells.agg(
        F.sum(F.expr("n*(n-1) div 2")).alias("sij"),
        F.sum("n").alias("nt"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.countDistinct("label").alias("n_labels"),
    )
    sa = (
        cells.groupBy("cluster")
        .agg(F.sum("n").alias("a"))
        .agg(F.sum(F.expr("a*(a-1) div 2")).alias("sa"))
    )
    sb = (
        cells.groupBy("label")
        .agg(F.sum("n").alias("b"))
        .agg(F.sum(F.expr("b*(b-1) div 2")).alias("sb"))
    )
    pur = (
        cells.groupBy("cluster")
        .agg(F.max("n").alias("m"))
        .agg(F.sum("m").alias("pur"))
    )
    return (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(pur))
        .withColumn(
            "_num",
            F.expr(
                "2*CAST(sij AS DECIMAL(38,0))*(nt*(nt-1) div 2)"
                " - 2*CAST(sa AS DECIMAL(38,0))*sb"
            ),
        )
        .withColumn(
            "_den",
            F.expr(
                "(CAST(sa AS DECIMAL(38,0)) + sb)*(nt*(nt-1) div 2)"
                " - 2*CAST(sa AS DECIMAL(38,0))*sb"
            ),
        )
        .select(
            F.col("nt").alias("n"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_labels").cast("long").alias("n_labels"),
            _ha6("pur", "nt").alias("purity"),
            (
                # DECIMAL(38,0): 2*num*1e6 exceeds BIGINT beyond ~sf0.1
                F.expr(
                    "CASE WHEN _num >= 0"
                    " THEN (2*_num*1000000 + _den) div (2*_den)"
                    " ELSE -((2*(-_num)*1000000 + _den) div (2*_den)) END"
                ).cast("double")
                / 1_000_000
            ).alias("ari"),
        )
    )


@query(
    "q226_wilson_ci",
    oracle="""
    WITH agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS k
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT event_type, n, k,
             CAST(k AS DOUBLE) / n AS ph,
             3.841458820694124 AS z2, 1.959963984540054 AS z
      FROM agg
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           CAST((2*k*1000000 + n) // (2*n) AS DOUBLE) / 1000000 AS p_hat,
           round((ph + z2/(2*n) - z * sqrt(ph*(1-ph)/n + z2/(4.0*n*n)))
                 / (1 + z2/n), 6) AS ci_lo,
           round((ph + z2/(2*n) + z * sqrt(ph*(1-ph)/n + z2/(4.0*n*n)))
                 / (1 + z2/n), 6) AS ci_hi
    FROM w
    """,
    tags=("stats", "interval", "agg"),
)
def q226_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the per-event-type rate of
    high-value events (value >= 50) — the binomial CI that behaves at
    extreme rates and small n, which is why monitoring dashboards use it
    over the Wald interval.

    One map-side-combined aggregate to (n, k) per type; the interval is
    pure double arithmetic on those exact integers plus the z constants
    (spelled to full double precision IN BOTH SQL TEXTS, so there is no
    libm inverse-normal call to diverge) — identical binary doubles,
    final 6-dp round.  p_hat itself is the integer-rounded exact
    rational."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") >= 50, 1).otherwise(0)).alias("k"),
    )
    z2 = F.lit(3.841458820694124)
    z = F.lit(1.959963984540054)
    ph = F.col("k").cast("double") / F.col("n")
    half = z * F.sqrt(
        ph * (1 - ph) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return agg.select(
        "event_type",
        "n",
        "k",
        _ha6("k", "n").alias("p_hat"),
        F.round((ph + z2 / (2 * F.col("n")) - half) / denom, 6).alias("ci_lo"),
        F.round((ph + z2 / (2 * F.col("n")) + half) / denom, 6).alias("ci_hi"),
    )


@query(
    "q227_spearman_trend",
    oracle="""
    WITH ev AS (SELECT event_type, ts, value FROM events),
    vx AS (
      SELECT event_type, value AS v, COUNT(*) AS n FROM ev GROUP BY 1, 2
    ),
    rx AS (
      SELECT event_type, v,
             2*SUM(n) OVER (PARTITION BY event_type ORDER BY v) - n + 1 AS r2
      FROM vx
    ),
    vy AS (
      SELECT event_type, ts AS v, COUNT(*) AS n FROM ev GROUP BY 1, 2
    ),
    ry AS (
      SELECT event_type, v,
             2*SUM(n) OVER (PARTITION BY event_type ORDER BY v) - n + 1 AS r2
      FROM vy
    ),
    j AS (
      SELECT e.event_type, rx.r2 AS x, ry.r2 AS y
      FROM ev e
      JOIN rx ON e.event_type = rx.event_type AND e.value = rx.v
      JOIN ry ON e.event_type = ry.event_type AND e.ts = ry.v
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM j GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy
                      AS DOUBLE)
                 / (sqrt(CAST(CAST(n AS HUGEINT)*sxx
                              - CAST(sx AS HUGEINT)*sx AS DOUBLE))
                    * sqrt(CAST(CAST(n AS HUGEINT)*syy
                                - CAST(sy AS HUGEINT)*sy AS DOUBLE))), 6)
             AS spearman_rho
    FROM s
    """,
    tags=("stats", "rank", "prefix-kernel"),
)
def q227_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event time and value per event
    type — "is value drifting over time", robust to outliers and
    monotone transforms (the rank twin of q137's Pearson).

    Tie handling is exact: average ranks come from the distinct-value
    block identity 2*avg_rank = 2*cum_n - n + 1 (q215's trick), so DOUBLED
    ranks stay integers and every moment (sums, squares, cross products)
    is exact bigint — through sf1, S_xy <= 4n^3 < 2^63; the n*S products
    are widened to DECIMAL(38,0)/HUGEINT.  rho = Pearson on the doubled
    ranks (scale-invariant).  Scale plan: ranks are computed on the
    distinct-score tables via the distributed prefix kernel and joined
    back by value — never a per-row rank window over the raw order, and
    the only full-corpus shuffles are the two value-keyed joins."""
    from ..operators.prefix import running_total

    ev = read_table(spark, sf_dir, "events").select("event_type", "ts", "value")

    # ONE kernel pass for both rank dimensions (the q266 stacking): the
    # two distinct-value block tables ride a dim-tagged union ranked by a
    # double order-embedding of each key — value IS double; ts embeds as
    # unix_micros cast to double (epoch micros ~1.7e15 < 2^53: exact,
    # monotone, injective), so per-(event_type, dim) cum totals are
    # identical to two separate kernel passes over the original keys.
    def blocks(col: str, dim: str):
        b = ev.groupBy("event_type", F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("n")
        )
        sk = (
            F.col("v").cast("double")
            if dim == "x"
            else F.unix_micros(F.col("v")).cast("double")
        )
        return b.select(
            F.lit(dim).alias("dim"),
            "event_type",
            sk.alias("sk"),
            (
                F.col("v")
                if dim == "x"
                else F.lit(None).cast(ev.schema["value"].dataType)
            ).alias("vx"),
            (
                F.col("v")
                if dim == "t"
                else F.lit(None).cast(ev.schema["ts"].dataType)
            ).alias("vt"),
            "n",
        )

    c = running_total(
        blocks("value", "x").unionByName(blocks("ts", "t")),
        "n",
        order_cols=["sk"],
        group_cols=["event_type", "dim"],
        out_col="cum",
    ).withColumn("r2", 2 * F.col("cum") - F.col("n") + 1)
    rx = c.where(F.col("dim") == "x").select(
        F.col("event_type").alias("_etx"),
        F.col("vx").alias("_vx"),
        F.col("r2").alias("x"),
    )
    ry = c.where(F.col("dim") == "t").select(
        F.col("event_type").alias("_ety"),
        F.col("vt").alias("_vy"),
        F.col("r2").alias("y"),
    )
    j = (
        ev.join(
            rx,
            (F.col("event_type") == F.col("_etx"))
            & (F.col("value") == F.col("_vx")),
        )
        .join(
            ry,
            (F.col("event_type") == F.col("_ety"))
            & (F.col("ts") == F.col("_vy")),
        )
        .select("event_type", "x", "y")
    )
    s = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.expr("CAST(n AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy")
    dx = F.expr("CAST(n AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sx")
    dy = F.expr("CAST(n AS DECIMAL(38,0))*syy - CAST(sy AS DECIMAL(38,0))*sy")
    return s.select(
        "event_type",
        "n",
        F.round(
            num.cast("double")
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "q228_mann_kendall",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             SUM(CASE WHEN b.cnt > a.cnt THEN 1
                      WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS s_stat
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1
    ),
    nn AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY 1),
    ties AS (
      SELECT event_type,
             SUM(t*(t-1)*(2*t+5)) AS tie18
      FROM (SELECT event_type, cnt, COUNT(*) AS t FROM d GROUP BY 1, 2)
      GROUP BY 1
    ),
    v AS (
      SELECT nn.event_type, n, s_stat,
             n*(n-1)*(2*n+5) - COALESCE(tie18, 0) AS var18
      FROM nn JOIN s USING (event_type)
      LEFT JOIN ties USING (event_type)
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           round((s_stat - CASE WHEN s_stat > 0 THEN 1
                                WHEN s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt(CAST(var18 AS DOUBLE) / 18), 6) AS z
    FROM v
    """,
    tags=("stats", "trend", "rank"),
)
def q228_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily count
    series — the standard nonparametric "is this metric monotonically
    drifting" monitor, with the exact tie-corrected variance and
    continuity correction.

    S = sum of pairwise sign comparisons and the tie term are pure
    integers; 18*var(S) = n(n-1)(2n+5) - sum t(t-1)(2t+5) stays integral
    (the /18 moves into the final double).  The pair enumeration runs on
    the per-DAY aggregate grid (calendar x 5 types — the q210/q216
    bounded class, ~66k pairs per type at a year of days), never on raw
    events; z is a double from exact integers, rounded once."""
    d = _day_grid(spark, sf_dir)  # memoized + pinned; pairs/n/ties share it
    a, b = d.alias("a"), d.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
                .when(F.col("b.cnt") < F.col("a.cnt"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        d.groupBy("event_type", "cnt")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(F.sum(F.expr("t*(t-1)*(2*t+5)")).alias("tie18"))
    )
    v = (
        nn.join(s, "event_type")
        .join(ties, "event_type", "left")
        .withColumn(
            "var18",
            F.expr("n*(n-1)*(2*n+5) - COALESCE(tie18, 0)"),
        )
    )
    return v.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        F.round(
            (
                F.col("s_stat")
                - F.when(F.col("s_stat") > 0, 1)
                .when(F.col("s_stat") < 0, -1)
                .otherwise(0)
            )
            / F.sqrt(F.col("var18").cast("double") / 18),
            6,
        ).alias("z"),
    )


@query(
    "q229_theil_sen",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.cnt - a.cnt AS DOUBLE)
               / (b.day - a.day) AS slope,
             a.day AS d1, b.day AS d2
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    )
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           round(slope, 6) AS ts_slope
    FROM ranked WHERE rn = (np + 1) // 2
    """,
    tags=("stats", "trend", "robust", "prefix-kernel"),
)
def q229_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per event type: the LOWER MEDIAN of
    all pairwise day-count slopes — the 29%-breakdown estimator that
    shrugs off outlier days where q193-style OLS would not.

    Each slope is one exact integer ratio cast to double (identical in
    both engines); the median is the deterministic k = (n+1) div 2 order
    statistic with a unique (slope, d1, d2) tie-break — selected via the
    distributed prefix kernel's grouped global ranks, never a
    whole-group window task (the pair table is grid-bounded but the
    kernel costs nothing extra and keeps the plan audit's invariant).
    Pair enumeration is on the per-day grid, as in q228."""
    from ..operators.prefix import global_ranks

    d = _day_grid(spark, sf_dir)  # memoized + pinned across q216/q228/q229
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cnt") - F.col("a.cnt")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
        F.col("a.day").alias("d1"),
        F.col("b.day").alias("d2"),
    )
    ranked = global_ranks(
        pairs,
        order_cols=["slope", "d1", "d2"],
        group_cols=["event_type"],
        rn_col="rn",
        total_col="np",
    )
    return ranked.where(F.col("rn") == F.expr("(np + 1) div 2")).select(
        "event_type",
        F.col("np").alias("n_pairs"),
        F.round("slope", 6).alias("ts_slope"),
    )


@query(
    "q230_randomization_test",
    oracle="""
    WITH base AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    obs AS (
      SELECT SUM(y) AS n1, COUNT(*) - SUM(y) AS n0,
             SUM(CASE WHEN y = 1 THEN cents ELSE 0 END) AS s1,
             SUM(CASE WHEN y = 0 THEN cents ELSE 0 END) AS s0,
             COUNT(*) AS n
      FROM base
    ),
    hashed AS (
      SELECT cents, g.g AS g,
             md5(CAST(event_id AS VARCHAR) || ':' || CAST(g.g AS VARCHAR))
               AS h
      FROM base CROSS JOIN range(0, 16) g(g)
    ),
    perm AS (
      SELECT 4*g + l.l AS b,
             CASE WHEN CAST(('0x' || substr(h, 1 + 8*l.l, 8)) AS BIGINT)
                       * (SELECT n FROM obs)
                     < (SELECT n1 FROM obs) * 4294967296
                  THEN 1 ELSE 0 END AS yb,
             cents
      FROM hashed CROSS JOIN range(0, 4) l(l)
    ),
    pstat AS (
      SELECT b, SUM(yb) AS pn1, COUNT(*) - SUM(yb) AS pn0,
             SUM(CASE WHEN yb = 1 THEN cents ELSE 0 END) AS ps1,
             SUM(CASE WHEN yb = 0 THEN cents ELSE 0 END) AS ps0
      FROM perm GROUP BY 1
    ),
    cmp AS (
      SELECT COUNT(*) FILTER (WHERE pn1 > 0 AND pn0 > 0 AND ABS(
               CAST(ps1 AS DOUBLE)/pn1 - CAST(ps0 AS DOUBLE)/pn0) >=
               ABS((SELECT CAST(s1 AS DOUBLE)/n1 FROM obs)
                   - (SELECT CAST(s0 AS DOUBLE)/n0 FROM obs))) AS n_extreme,
             COUNT(*) AS nb
      FROM pstat
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           round(CAST(s1 AS DOUBLE)/n1/100 - CAST(s0 AS DOUBLE)/n0/100, 6)
             AS diff_obs,
           CAST((2*(1 + n_extreme)*1000000 + (nb + 1)) // (2*(nb + 1))
                AS DOUBLE) / 1000000 AS p_value
    FROM obs, cmp
    """,
    tags=("stats", "resampling", "md5-deterministic"),
)
def q230_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the purchase-vs-rest mean-value gap: 64
    deterministic label reshuffles (binomial randomization at the
    observed rate — the distributed approximation of the permutation
    test, documented as such), p = (1 + #extreme) / (B + 1).

    Determinism end to end: the b-th pseudo-label of a row is an EXACT
    integer comparison u32 * n < n1 * 2^32 on the md5-derived 32-bit
    uniform (no float probability), values go through exact integer
    cents, and each replicate's mean difference is a double from exact
    integers — identical in both engines, so the >= comparison against
    the observed gap can never disagree.  Scale: the explode is x64 but
    every replicate aggregate is map-side combinable — the shuffle
    carries 64 partial rows per task, and B scales the CPU, not the
    shuffle."""
    ev = read_table(spark, sf_dir, "events")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    ).repartition(nparts).localCheckpoint(eager=True)
    # pinned + spread: feeds the observed aggregate AND the x64 hash
    # fan-out (review r7-2: q231's identical shape already pinned), and
    # the single parquet split would put the fan-out on one core
    obs = base.agg(
        F.sum("y").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n0"),
        F.sum(F.when(F.col("y") == 1, F.col("cents")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("y") == 0, F.col("cents")).otherwise(0)).alias("s0"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)  # broadcast into the replicate pass
    # one md5 per (row, g) yields FOUR independent 32-bit uniforms
    # (md5's 128 bits split into lanes) — 4x less hashing than one call
    # per replicate, measured 5.0 -> ~2 s at sf0.1
    hashed = (
        base.crossJoin(F.broadcast(obs))
        .select(
            "cents",
            "n",
            "n1",
            F.explode(F.array(*[F.lit(g) for g in range(16)])).alias("g"),
            "event_id",
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("g").cast("string"),
                )
            ),
        )
    )
    perm = (
        hashed.select(
            "cents",
            "n",
            "n1",
            "g",
            "h",
            F.explode(F.array(*[F.lit(lane) for lane in range(4)])).alias(
                "l"
            ),
        )
        .withColumn("b", 4 * F.col("g") + F.col("l"))
        .withColumn(
            "yb",
            F.when(
                F.conv(
                    F.substring(F.col("h"), 1 + 8 * F.col("l"), 8), 16, 10
                ).cast("bigint")
                * F.col("n")
                < F.col("n1") * F.lit(4294967296),
                1,
            ).otherwise(0),
        )
    )
    pstat = perm.groupBy("b").agg(
        F.sum("yb").alias("pn1"),
        (F.count(F.lit(1)) - F.sum("yb")).alias("pn0"),
        F.sum(F.when(F.col("yb") == 1, F.col("cents")).otherwise(0)).alias(
            "ps1"
        ),
        F.sum(F.when(F.col("yb") == 0, F.col("cents")).otherwise(0)).alias(
            "ps0"
        ),
    )
    cmp_ = pstat.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(
                (F.col("pn1") > 0)
                & (F.col("pn0") > 0)
                & (
                    F.abs(
                        F.col("ps1").cast("double") / F.col("pn1")
                        - F.col("ps0").cast("double") / F.col("pn0")
                    )
                    >= F.abs(
                        F.col("s1").cast("double") / F.col("n1")
                        - F.col("s0").cast("double") / F.col("n0")
                    )
                ),
                1,
            ).otherwise(0)
        ).alias("n_extreme"),
        F.count(F.lit(1)).alias("nb"),
    )
    return obs.crossJoin(F.broadcast(cmp_)).select(
        "n1",
        "n0",
        F.round(
            F.col("s1").cast("double") / F.col("n1") / 100
            - F.col("s0").cast("double") / F.col("n0") / 100,
            6,
        ).alias("diff_obs"),
        _ha6("(1 + n_extreme)", "(nb + 1)").alias("p_value"),
    )


@query(
    "q231_poisson_bootstrap",
    oracle="""
    WITH base AS (
      SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    reps AS (
      SELECT b,
             CASE
               WHEN u < 1580030169 THEN 0
               WHEN u < 3160060338 THEN 1
               WHEN u < 3950075422 THEN 2
               WHEN u < 4213413784 THEN 3
               WHEN u < 4279248374 THEN 4
               WHEN u < 4292415292 THEN 5
               WHEN u < 4294609778 THEN 6
               ELSE 7 END AS w,
             cents
      FROM (
        SELECT t.b AS b,
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                    || CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT) AS u,
               cents
        FROM base CROSS JOIN range(0, 50) t(b)
      )
    ),
    means AS (
      SELECT b, SUM(w * cents) AS sw, SUM(w) AS nw
      FROM reps GROUP BY 1
    ),
    ranked AS (
      SELECT b, CAST(sw AS DOUBLE) / nw / 100 AS m,
             ROW_NUMBER() OVER (ORDER BY CAST(sw AS DOUBLE) / nw, b) AS rn,
             COUNT(*) OVER () AS nb
      FROM means WHERE nw > 0
    ),
    point AS (
      SELECT CAST(SUM(CAST(cents AS DECIMAL(18,0))) AS DOUBLE)
               / COUNT(*) / 100 AS mean_obs, COUNT(*) AS n
      FROM base
    )
    SELECT CAST(n AS BIGINT) AS n, round(mean_obs, 6) AS mean_obs,
           round(MAX(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
           round(MAX(CASE WHEN rn = nb - 1 THEN m END), 6) AS ci_hi
    FROM ranked, point
    GROUP BY n, mean_obs
    """,
    tags=("stats", "resampling", "bootstrap", "md5-deterministic"),
)
def q231_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95%-ish CI for the mean purchase value — THE
    scalable bootstrap: instead of resampling n rows with replacement
    (which needs global coordination), each row independently receives a
    Poisson(1) weight per replicate, so the whole resample is one
    embarrassingly parallel map (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012).

    Determinism: the weight is a CASE ladder on the md5-derived 32-bit
    uniform against PRECOMPUTED integer cutoffs floor(CDF_Poisson(1)(k)
    * 2^32) — no float probability at query time, identical in both
    engines.  Replicate means are doubles from exact integer
    (sum-of-cents, count) pairs; the CI bounds are the 2nd / 49th order
    statistics of the 50 replicate means (the percentile-bootstrap
    convention for B=50, documented), selected with a unique (m, b)
    tie-break.  Scale: B multiplies CPU only — every replicate aggregate
    is map-side combinable, the shuffle carries B partials per task."""
    ev = read_table(spark, sf_dir, "events")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        # spread before pinning: one parquet split would otherwise put
        # the x50 hash fan-out on a single core (the q230 lesson)
        .repartition(nparts)
        .localCheckpoint(eager=True)  # feeds replicates + the point estimate
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = (
        F.when(F.col("u") < 1580030169, 0)
        .when(F.col("u") < 3160060338, 1)
        .when(F.col("u") < 3950075422, 2)
        .when(F.col("u") < 4213413784, 3)
        .when(F.col("u") < 4279248374, 4)
        .when(F.col("u") < 4292415292, 5)
        .when(F.col("u") < 4294609778, 6)
        .otherwise(7)
    )
    reps = (
        base.select(
            "cents",
            "event_id",
            F.explode(F.array(*[F.lit(b) for b in range(50)])).alias("b"),
        )
        .withColumn("u", u)
        .withColumn("w", w)
    )
    means = reps.groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).alias("sw"),
        F.sum("w").alias("nw"),
    )
    from ..operators.prefix import global_ranks

    ranked = global_ranks(
        means.where(F.col("nw") > 0).select(
            "b", (F.col("sw").cast("double") / F.col("nw")).alias("mraw")
        ),
        order_cols=["mraw", "b"],
        rn_col="rn",
        total_col="nb",
    )
    point = base.agg(
        (
            F.sum(F.col("cents").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1))
            / 100
        ).alias("mean_obs"),
        F.count(F.lit(1)).alias("n"),
    )
    ci = ranked.agg(
        F.max(
            F.when(F.col("rn") == 2, F.col("mraw") / 100)
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.col("nb") - 1, F.col("mraw") / 100)
        ).alias("hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n",
        F.round("mean_obs", 6).alias("mean_obs"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
    )


@query(
    "q232_sequential_patterns",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, MIN(ts) AS mn, MAX(ts) AS mx
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
    sup AS (
      SELECT a.event_type AS first_type, b.event_type AS then_type,
             COUNT(*) AS n_supporting
      FROM ut a JOIN ut b ON a.user_id = b.user_id
      WHERE a.mn < b.mx
      GROUP BY 1, 2
    )
    SELECT first_type, then_type, n_supporting,
           CAST(n_users AS BIGINT) AS n_users,
           CAST((2*n_supporting*1000000 + n_users) // (2*n_users)
                AS DOUBLE) / 1000000 AS support
    FROM sup, tot
    """,
    tags=("pattern-mining", "sequence", "funnel"),
)
def q232_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support (GSP's length-2 core): for every
    ordered pair of event types (a -> b), the number and fraction of
    users with SOME a-event strictly before SOME b-event — the pattern
    lattice's first level, sitting next to the unordered basket rules
    (q192) and the strictly-ordered funnel (q156).

    The existential "a before b" collapses to min_ts(a) < max_ts(b) on
    the per-(user, type) extremes — so the corpus reduces to one
    5-rows-per-user table BEFORE any pairing, the self-join is
    co-partitioned on user_id (no extra shuffle beyond the one groupBy),
    and the pair fan-out is |types|^2 per user, never |events|^2.
    Supports are exact integer-rounded rationals; timestamp comparisons
    are exact microseconds."""
    ev = read_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).localCheckpoint(eager=True)  # feeds the self-join twice + the total
    tot = ut.agg(F.countDistinct("user_id").alias("n_users"))
    a, b = ut.alias("a"), ut.alias("b")
    sup = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .where(F.col("a.mn") < F.col("b.mx"))
        .groupBy(
            F.col("a.event_type").alias("first_type"),
            F.col("b.event_type").alias("then_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_supporting"))
    )
    return sup.crossJoin(F.broadcast(tot)).select(
        "first_type",
        "then_type",
        "n_supporting",
        "n_users",
        _ha6("n_supporting", "n_users").alias("support"),
    )


@query(
    "q233_gini_feature_ranking",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(date_part('hour', ts) // 6 AS BIGINT) AS f_daypart,
             CAST(date_part('dow', ts) AS BIGINT) AS f_weekday,
             LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS f_valueband
      FROM events
    ),
    longf AS (
      SELECT 'daypart' AS feature, f_daypart AS bucket, y FROM base
      UNION ALL
      SELECT 'weekday', f_weekday, y FROM base
      UNION ALL
      SELECT 'valueband', f_valueband, y FROM base
    ),
    cells AS (
      SELECT feature, bucket, COUNT(*) AS nv, SUM(y) AS n1v
      FROM longf GROUP BY 1, 2
    ),
    parent AS (
      SELECT feature, SUM(nv) AS n, SUM(n1v) AS n1 FROM cells GROUP BY 1
    ),
    child AS (
      SELECT c.feature, COUNT(*) AS n_buckets,
             CAST(SUM(CAST(round(
               CAST(nv*nv - n1v*n1v - (nv-n1v)*(nv-n1v) AS DOUBLE)
                 / (CAST(p.n AS DOUBLE) * nv), 12) AS DECIMAL(38,12)))
               AS DOUBLE) AS g_child
      FROM cells c JOIN parent p USING (feature)
      GROUP BY 1
    )
    SELECT p.feature, CAST(n_buckets AS BIGINT) AS n_buckets,
           round(CAST(n*n - n1*n1 - (n-n1)*(n-n1) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n), 6) AS gini_parent,
           round(g_child, 6) AS gini_children,
           round(CAST(n*n - n1*n1 - (n-n1)*(n-n1) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n) - g_child, 6) AS gini_gain
    FROM parent p JOIN child USING (feature)
    """,
    tags=("ml-train", "feature-selection", "exact-rational"),
)
def q233_gini_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature ranking by Gini gain for the purchase
    label — which of (daypart, weekday, value band) splits the class
    best.  Gini instead of information gain BECAUSE it is log-free: the
    parent impurity 1 - p1^2 - p0^2 = (n^2 - n1^2 - n0^2)/n^2 and every
    per-bucket child term (nv^2 - n1v^2 - n0v^2)/(n*nv) are doubles from
    EXACT integers — identical in both engines; the <= 10 child terms per
    feature are 12-dp rounded and DECIMAL-summed (the q220
    order-independence discipline).

    Scale: one scan fans to three (feature, bucket) cell aggregates —
    map-side combinable to <= 21 cells total; everything downstream is
    contingency-sized.

    Grid budget: hour div 6 - single-digit integers."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        # `div`, never `/`+cast: long `/` is double division whose
        # truncation can flip at exact multiples (the q201 convention)
        F.expr("CAST(hour(ts) AS BIGINT) div 6").alias("f_daypart"),
        (F.dayofweek("ts") - 1).cast("long").alias("f_weekday"),
        F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("long").alias(
            "f_valueband"
        ),
    )
    longf = base.selectExpr(
        "stack(3, 'daypart', f_daypart, 'weekday', f_weekday,"
        " 'valueband', f_valueband) AS (feature, bucket)",
        "y",
    )
    cells = longf.groupBy("feature", "bucket").agg(
        F.count(F.lit(1)).alias("nv"), F.sum("y").alias("n1v")
    ).localCheckpoint(eager=True)  # parent + child off one build
    parent = cells.groupBy("feature").agg(
        F.sum("nv").alias("n"), F.sum("n1v").alias("n1")
    )
    child = (
        cells.join(F.broadcast(parent), "feature")
        .select(
            "feature",
            F.round(
                F.expr(
                    "CAST(nv*nv - n1v*n1v - (nv-n1v)*(nv-n1v) AS DOUBLE)"
                    " / (CAST(n AS DOUBLE) * nv)"
                ),
                12,
            ).alias("term"),
        )
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.col("term").cast("decimal(38,12)"))
            .cast("double")
            .alias("g_child"),
        )
    )
    gp = F.expr(
        "round(CAST(n*n - n1*n1 - (n-n1)*(n-n1) AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * n), 6)"
    )
    return parent.join(child, "feature").select(
        "feature",
        "n_buckets",
        gp.alias("gini_parent"),
        F.round("g_child", 6).alias("gini_children"),
        F.round(
            F.expr(
                "CAST(n*n - n1*n1 - (n-n1)*(n-n1) AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * n)"
            )
            - F.col("g_child"),
            6,
        ).alias("gini_gain"),
    )


@query(
    "q234_calibration_ece",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS band,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS split
      FROM events
    ),
    tr AS (
      SELECT band, COUNT(*) AS n_tr, SUM(y) AS k_tr
      FROM base WHERE split = 0 GROUP BY 1
    ),
    te AS (
      SELECT band, COUNT(*) AS n_te, SUM(y) AS k_te
      FROM base WHERE split = 1 GROUP BY 1
    ),
    tot AS (SELECT SUM(n_te) AS n_test FROM te),
    bins AS (
      SELECT te.band, n_tr, k_tr, n_te, k_te, n_test,
             round(CAST(n_te AS DOUBLE) / n_test
                   * ABS(CAST(k_te AS DOUBLE)/n_te
                         - CAST(k_tr AS DOUBLE)/n_tr), 12) AS term
      FROM te JOIN tr USING (band), tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MAX(n_test) AS BIGINT) AS n_test,
           CAST(SUM(CAST(round(CAST(k_tr AS DOUBLE)/n_tr
                  * CAST(n_te AS DOUBLE)/n_test, 12) AS DECIMAL(38,12)))
                AS DOUBLE) AS avg_pred_rate,
           CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS ece
    FROM bins
    """,
    tags=("ml-eval", "calibration", "exact-rational"),
)
def q234_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of a histogram-binned purchase-rate
    model: md5-stable 50/50 train/test split, the model is the per-band
    training purchase rate, and ECE = sum over bands of
    (test-band weight) * |test rate - predicted rate| — the reliability-
    diagram summary that completes the eval family (discrimination: AUC
    q215 / AP q221; uncertainty: conformal q217 / bootstrap q231;
    calibration: this).

    Every rate is a ratio of exact integers; each band's term is one
    double from exact inputs (identical in both engines), 12-dp rounded
    and DECIMAL-summed (<= 10 bands — the q220/q233 order-independence
    discipline)."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("long").alias(
            "band"
        ),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("split"),
    ).localCheckpoint(eager=True)  # feeds both split aggregates
    tr = base.where(F.col("split") == 0).groupBy("band").agg(
        F.count(F.lit(1)).alias("n_tr"), F.sum("y").alias("k_tr")
    )
    te = base.where(F.col("split") == 1).groupBy("band").agg(
        F.count(F.lit(1)).alias("n_te"), F.sum("y").alias("k_te")
    )
    tot = te.agg(F.sum("n_te").alias("n_test"))
    bins = (
        te.join(F.broadcast(tr), "band")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_te",
            "n_test",
            F.round(
                F.col("n_te").cast("double")
                / F.col("n_test")
                * F.abs(
                    F.col("k_te").cast("double") / F.col("n_te")
                    - F.col("k_tr").cast("double") / F.col("n_tr")
                ),
                12,
            ).alias("term"),
            F.round(
                F.col("k_tr").cast("double")
                / F.col("n_tr")
                * F.col("n_te").cast("double")
                / F.col("n_test"),
                12,
            ).alias("pred_w"),
        )
    )
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.max("n_test").cast("long").alias("n_test"),
        F.sum(F.col("pred_w").cast("decimal(38,12)"))
        .cast("double")
        .alias("avg_pred_rate"),
        F.sum(F.col("term").cast("decimal(38,12)")).cast("double").alias("ece"),
    )


def _label_spread_oracle(steps: int = 3, k: int = 5, thr: str = "0.3") -> str:
    """kNN graph + unrolled clamped label propagation.  Every level is
    MATERIALIZED: l(k-1) is referenced twice per level (carry + votes),
    which would otherwise re-evaluate the chain 2^steps times."""
    levels = []
    for s in range(1, steps + 1):
        levels.append(
            f"""l{s} AS MATERIALIZED (
  SELECT l.id, COALESCE(l.lab, b.newlab) AS lab
  FROM l{s - 1} l LEFT JOIN (
    SELECT src AS id, nlab AS newlab FROM (
      SELECT kg.src, c.lab AS nlab,
             ROW_NUMBER() OVER (PARTITION BY kg.src
                                ORDER BY COUNT(*) DESC, c.lab) AS rn
      FROM knn kg JOIN l{s - 1} c ON kg.dst = c.id
      WHERE c.lab IS NOT NULL
      GROUP BY kg.src, c.lab
    ) WHERE rn = 1
  ) b USING (id)
)"""
        )
    return f"""
    WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vv, label
               FROM embeddings),
    pairs AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst,
             round(list_cosine_similarity(a.vv, b.vv), 6) AS cosine
      FROM v a JOIN v b ON a.id <> b.id
      WHERE round(list_cosine_similarity(a.vv, b.vv), 6) >= {thr}
    ),
    knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY cosine DESC, dst) AS rn
        FROM pairs
      ) WHERE rn <= {k}
    ),
    l0 AS (SELECT id, CASE WHEN id % 10 < 2 THEN label END AS lab FROM v),
    {",".join(levels)},
    seedn AS (SELECT COUNT(*) AS n_seed FROM v WHERE id % 10 < 2),
    ev AS (
      SELECT COUNT(*) AS n_holdout, COUNT(f.lab) AS n_predicted,
             SUM(CASE WHEN f.lab = v.label THEN 1 ELSE 0 END) AS n_correct
      FROM l{steps} f JOIN v USING (id) WHERE id % 10 >= 2
    )
    SELECT CAST(n_seed AS BIGINT) AS n_seed,
           CAST(n_holdout AS BIGINT) AS n_holdout,
           CAST(n_predicted AS BIGINT) AS n_predicted,
           CAST((2*n_predicted*1000000 + n_holdout) // (2*n_holdout)
                AS DOUBLE) / 1000000 AS coverage,
           CAST((2*n_correct*1000000 + n_predicted) // (2*n_predicted)
                AS DOUBLE) / 1000000 AS accuracy
    FROM seedn, ev
    """


@query(
    "q235_label_spreading",
    oracle=_label_spread_oracle(),
    tags=("ml-train", "semi-supervised", "graph", "ann"),
)
def q235_label_spreading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading: 20% of the embedding corpus
    keeps its ground-truth label (md5-free deterministic id % 10 < 2
    seed split), a 5-NN cosine graph connects the rest, and 3 clamped
    majority-vote supersteps spread labels outward; report holdout
    coverage and accuracy.  The query composes three families end to
    end: the blocked-GEMM exact pair kernel (ANN), the Pregel-style
    clamped propagation loop (graph), and the exact-rational eval
    (ML-eval).

    Scale plan: pairs come from operators/ann.eps_neighbor_pairs (the
    candidate-first cell-pruned exact kernel — O(n·B·d) shuffle, never a
    per-pair self-join, cell pairs pruned by triangle inequality when
    the corpus clusters); the top-5 cut is a
    high-cardinality-key rank window (WindowGroupLimit pushes the cut
    map-side); each superstep is one keyed join + count-argmax with the
    assignment pinned (loop discipline); ties break (count desc, label
    asc) — the LPA min-label convention.  Sticky assignment (a node
    never relabels once set) makes the 3-step result order-independent
    and the unrolled SQL twin exact."""
    from .analytics import cached_eps_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = cached_eps_pairs(spark, sf_dir, threshold=0.3)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "cosine"
    ).union(
        pairs.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "cosine"
        )
    )
    wk = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    knn = (
        edges.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= 5)
        .select("src", "dst")
        .localCheckpoint(eager=True)  # reused every superstep
    )
    truth = emb.select(F.col("vec_id").alias("id"), "label")
    cur = truth.select(
        "id",
        F.when(F.col("id") % 10 < 2, F.col("label")).alias("lab"),
    ).localCheckpoint(eager=True)
    # one-exchange superstep (the q100 LPA r12 treatment): deterministic
    # F.mode IS "most frequent neighbor label, ties to smallest" —
    # verified on strings ({a:2,b:2} → 'a') — so the former
    # count-per-(src,label) exchange + rank-window exchange collapse into
    # ONE aggregate whose map-side partial state is the (label → cnt)
    # map; the ≤|V|-row label vector broadcasts into both per-superstep
    # joins, so the pinned knn edge list never re-exchanges.
    for _ in range(3):
        best = (
            knn.join(
                F.broadcast(
                    cur.select(
                        F.col("id").alias("dst"), F.col("lab").alias("nlab")
                    )
                ),
                "dst",
            )
            .where(F.col("nlab").isNotNull())
            .groupBy("src")
            .agg(F.mode("nlab", deterministic=True).alias("newlab"))
            .select(F.col("src").alias("id"), "newlab")
        )
        cur = (
            cur.join(F.broadcast(best), "id", "left")
            .select("id", F.coalesce("lab", "newlab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    seedn = truth.where(F.col("id") % 10 < 2).agg(
        F.count(F.lit(1)).alias("n_seed")
    )
    ev = (
        cur.join(truth, "id")
        .where(F.col("id") % 10 >= 2)
        .agg(
            F.count(F.lit(1)).alias("n_holdout"),
            F.count("lab").alias("n_predicted"),
            F.sum(
                F.when(F.col("lab") == F.col("label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
    )
    return seedn.crossJoin(F.broadcast(ev)).select(
        "n_seed",
        "n_holdout",
        "n_predicted",
        _ha6("n_predicted", "n_holdout").alias("coverage"),
        _ha6("n_correct", "n_predicted").alias("accuracy"),
    )


# Most transition-matrix rows the one-task Markov kernels (q236, q262)
# accept: the matrix is event-TYPE cardinality squared, never data.
_MAX_CHAIN_ROWS = 100_000


def _journey_prob(spark: SparkSession, sf_dir: str):
    """Memoized (journey table, transition-probability table) of the
    first-order purchase-truncated Markov chain — q236's corpus-scale
    work, shared with the expected-absorption-time query (q262): one
    high-cardinality user window pass + terminal union per (session,
    dataset), both frames pinned."""
    return artifact(spark, sf_dir, "journey", lambda: _build_journey_prob(spark, sf_dir))


def _build_journey_prob(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # pinned: fp and j both consume the row-numbered table — unpinned,
    # the per-user window pass would execute once per consumer
    pe = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("rn"),
    ).localCheckpoint(eager=True)
    fp = (
        pe.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    # NO broadcast hint: fp is one row per purchasing user — it grows
    # with the scale factor (the 4ab794b rule); the join is user-keyed
    # and AQE picks the strategy
    j = (
        pe.join(fp, "user_id", "left")
        .where(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            "rn",
            F.when(F.col("event_type") == "purchase", "__conv")
            .otherwise(F.col("event_type"))
            .alias("st"),
        )
        .localCheckpoint(eager=True)  # feeds the lag pass + terminals
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    steps_t = j.select(
        F.coalesce(F.lag("st").over(wj), F.lit("__start")).alias("i"),
        F.col("st").alias("jn"),
    )
    wr = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    terminal = (
        j.withColumn("rr", F.row_number().over(wr))
        .where((F.col("rr") == 1) & (F.col("st") != "__conv"))
        .select(F.col("st").alias("i"), F.lit("__null").alias("jn"))
    )
    trans = steps_t.union(terminal)
    cnt = trans.groupBy("i", "jn").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("i").agg(F.sum("c").alias("t"))
    prob = (
        cnt.join(F.broadcast(tot), "i")
        .select(
            "i", "jn", (F.col("c").cast("double") / F.col("t")).alias("p")
        )
        .localCheckpoint(eager=True)
    )
    return j, prob



def _markov_oracle(steps: int = 40) -> str:
    """Unrolled absorption-probability iteration a = Q a + r over the
    (variant, i, j, p) matrix table — conv encoded as j='__conv' with
    a==1, so one chain serves the base chain and every removed-channel
    variant.  Each level references only the previous one; mt is
    MATERIALIZED."""
    levels = ["a0 AS (SELECT DISTINCT variant, i, 0.0 AS a FROM mt)"]
    for k in range(1, steps + 1):
        levels.append(
            f"""a{k} AS {"MATERIALIZED " if k % 10 == 0 else ""}(
  SELECT m.variant, m.i,
         SUM(CAST(floor(m.p * CASE WHEN m.j = '__conv' THEN 1.0
                                   ELSE COALESCE(x.a, 0.0) END
                        * 1000000000000 + 0.5) AS BIGINT))
           / 1000000000000.0 AS a
  FROM mt m LEFT JOIN a{k - 1} x
    ON m.variant = x.variant AND m.j = x.i
  GROUP BY 1, 2
)"""
        )
    return f"""
    WITH pe AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fp AS (
      SELECT user_id, MIN(rn) AS prn FROM pe
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    j AS (
      SELECT pe.user_id, rn,
             CASE WHEN event_type = 'purchase' THEN '__conv'
                  ELSE event_type END AS st
      FROM pe LEFT JOIN fp USING (user_id)
      WHERE fp.prn IS NULL OR rn <= fp.prn
    ),
    steps_t AS (
      SELECT user_id,
             COALESCE(LAG(st) OVER (PARTITION BY user_id ORDER BY rn),
                      '__start') AS i,
             st AS jn
      FROM j
    ),
    terminal AS (
      SELECT user_id, st AS i, '__null' AS jn
      FROM (SELECT user_id, st,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY rn DESC) AS rr
            FROM j)
      WHERE rr = 1 AND st <> '__conv'
    ),
    trans AS (
      SELECT i, jn FROM steps_t UNION ALL SELECT i, jn FROM terminal
    ),
    cnt AS (SELECT i, jn, COUNT(*) AS c FROM trans GROUP BY 1, 2),
    tot AS (SELECT i, SUM(c) AS t FROM cnt GROUP BY 1),
    prob AS (
      SELECT i, jn, CAST(c AS DOUBLE) / t AS p
      FROM cnt JOIN tot USING (i)
    ),
    chans AS (SELECT DISTINCT st AS ch FROM j WHERE st <> '__conv'),
    variants AS (SELECT 'base' AS variant UNION ALL SELECT ch FROM chans),
    mt AS MATERIALIZED (
      SELECT v.variant, p.i, p.jn AS j, p.p
      FROM variants v JOIN prob p
        ON (v.variant = 'base' OR (p.i <> v.variant AND p.jn <> v.variant))
      WHERE p.jn <> '__null'
    ),
    {",".join(levels)},
    base AS (
      SELECT a AS pb FROM a{steps}
      WHERE variant = 'base' AND i = '__start'
    ),
    res AS (
      SELECT v.variant,
             COALESCE(x.a, 0.0) AS pc
      FROM variants v LEFT JOIN a{steps} x
        ON x.variant = v.variant AND x.i = '__start'
    )
    SELECT variant AS channel, round(pc, 6) AS p_conv,
           CASE WHEN variant = 'base' THEN NULL
                ELSE round(1 - pc / pb, 6) END AS removal_effect
    FROM res, base
    """


@query(
    "q236_markov_attribution",
    oracle=_markov_oracle(),
    tags=("attribution", "markov", "iterative"),
)
def q236_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain multi-touch attribution with REMOVAL EFFECTS (the
    Anderl et al. framework): build the first-order journey chain
    (start -> channel touches -> conversion/null, one journey per user
    truncated at the first purchase), compute the absorption probability
    into conversion, then for each channel delete its state and measure
    how much conversion probability disappears — the channel's causal
    share in the chain model.  Complements last-touch (q218) and the
    Markov transition backtest (q186-family).

    Exactness: transition probabilities are exact count ratios (one
    double division, identical in both engines); absorption solves
    a = Qa + r by 40 fixed iterations where every per-step TERM p*a is
    snapped to the 1e-12 integer grid and summed exactly as integers —
    order-independent, so the SQL aggregate and the numpy reduction walk
    bit-identical trajectories by construction (a bare matvec + round
    would differ in summation order).  The chain is substochastic (null
    leaks), so the fixpoint converges geometrically.

    Scale split: journey construction is the only corpus-scale work —
    one high-cardinality user window pass + a terminal-row union; the
    chain itself is (channels+2)^2 PER VARIANT, constant-sized, so ALL
    variants iterate together in ONE task (the q223 bounded-state
    lesson — never 40 distributed supersteps over a 200-row table)."""
    j, prob = _journey_prob(spark, sf_dir)
    # channels from the PINNED journey table (no extra events scan)
    chans = (
        j.where(F.col("st") != "__conv").select(F.col("st").alias("ch")).distinct()
    )
    variants = local_frame(spark, [("base",)], "variant string").union(
        chans.select(F.col("ch").alias("variant"))
    ).localCheckpoint(eager=True)  # feeds mt AND the result join
    mt = (
        variants.join(
            prob,
            (F.col("variant") == "base")
            | ((F.col("i") != F.col("variant")) & (F.col("jn") != F.col("variant"))),
        )
        .where(F.col("jn") != "__null")
        .select("variant", "i", F.col("jn").alias("j"), "p")
    )

    # constant-size chain: iterate ALL variants in one task
    def kernel(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_CHAIN_ROWS:
            # bounded-state contract enforced, not just documented (the
            # exact_quantiles guard lesson): the matrix table is
            # |variants| x (channels+2)^2 — event-TYPE cardinality, not
            # data; 100k rows means someone fed this kernel a corpus
            raise ValueError(
                f"markov kernel: {len(pdf)} matrix rows exceed the "
                "bounded chain contract (variants x states^2)"
            )
        out_v, out_p = [], []
        for variant, g in pdf.groupby("variant", sort=True):
            states = sorted(set(g["i"]))
            idx = {s: k for k, s in enumerate(states)}
            q = np.zeros((len(states), len(states)))
            r = np.zeros(len(states))
            for i_s, j_s, p in zip(g["i"], g["j"], g["p"]):
                if j_s == "__conv":
                    r[idx[i_s]] += p
                elif j_s in idx:
                    q[idx[i_s], idx[j_s]] += p
            # per-TERM 1e-12 grid snap + exact integer sum: each p*a
            # product is the identical double in both engines, each
            # snapped term is an exact integer, and integer sums are
            # order-independent — so the oracle's SQL SUM and this numpy
            # reduction walk bit-identical trajectories BY CONSTRUCTION
            # (a bare matvec + round would differ in summation order,
            # review r7-3 finding; probabilities are >= 0 so the
            # half-up floor(x*1e12 + 0.5) is the half-away snap)
            ru = np.floor(r * 1e12 + 0.5).astype(np.int64)
            a = np.zeros(len(states))
            for _ in range(40):
                tu = (
                    np.floor(q * a[None, :] * 1e12 + 0.5)
                    .astype(np.int64)
                    .sum(axis=1)
                )
                a = (tu + ru) / 1e12
            out_v.append(variant)
            out_p.append(float(a[idx["__start"]]) if "__start" in idx else 0.0)
        yield pd.DataFrame({"variant": out_v, "pc": out_p})

    absorbed = (
        mt.coalesce(1)
        .limit(_MAX_CHAIN_ROWS + 1)
        .mapInPandas(kernel, "variant string, pc double")
        .localCheckpoint(eager=True)  # base + res both read it
    )
    base = absorbed.where(F.col("variant") == "base").select(
        F.col("pc").alias("pb")
    )
    res = variants.join(
        absorbed.withColumnRenamed("variant", "_v"),
        F.col("variant") == F.col("_v"),
        "left",
    ).select("variant", F.coalesce("pc", F.lit(0.0)).alias("pc"))
    return res.crossJoin(F.broadcast(base)).select(
        F.col("variant").alias("channel"),
        F.round("pc", 6).alias("p_conv"),
        F.when(F.col("variant") == "base", F.lit(None).cast("double"))
        .otherwise(F.round(1 - F.col("pc") / F.col("pb"), 6))
        .alias("removal_effect"),
    )


@query(
    "q237_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    big AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
    ),
    uni AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(t) AS w FROM toks
      ) GROUP BY 1
    ),
    nn AS (SELECT SUM(c) AS n FROM uni),
    pairs AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
    ),
    scored AS (
      SELECT w1, w2, c12,
             CAST((2*(CAST(c12 AS HUGEINT)*n)*1000000
                   + CAST(u1.c AS HUGEINT)*u2.c)
                  // (2*CAST(u1.c AS HUGEINT)*u2.c) AS DOUBLE)
               / 1000000 AS lift
      FROM pairs
      JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2, nn
      WHERE c12 >= 5
    )
    SELECT w1, w2, c12, lift FROM scored
    ORDER BY lift DESC, w1, w2 LIMIT 20
    """,
    tags=("text", "collocation", "exact-rational"),
)
def q237_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations (adjacent-token bigrams) ranked by LIFT —
    n * c(w1 w2) / (c(w1) * c(w2)) — the log-free PMI twin (exp(PMI)):
    lift is an EXACT integer rational, 6-dp rounded by the _ha6 integer
    division with DECIMAL(38,0)/HUGEINT widening (ln-based PMI could not
    be hash-gated across libms, the q185 lesson; plain round(,6) of a
    rational is the module's documented tie hazard).  Min support 5,
    deterministic (lift desc, w1, w2) top-20.

    Scale: token explode -> one bigram groupBy (map-side combinable) and
    one unigram groupBy; the scoring joins are keyed on the pair table
    (already collapsed to distinct bigrams) with the unigram side
    shuffle-joined — at web scale both tables are vocabulary-sized, not
    corpus-sized.  TakeOrdered for the cut, no global sort."""
    from ..functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("t")).localCheckpoint(
        eager=True
    )  # feeds bigrams AND unigrams
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(
                    "t", 2, F.greatest(F.size("t") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nn = uni.agg(F.sum("c").alias("n"))
    pairs = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        pairs.where(F.col("c12") >= 5)
        .join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2"
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            "c12",
            # _ha6 with DECIMAL widening: lift is an EXACT rational whose
            # denominator c1*c2 can be 5-adic — plain round(,6) of it is
            # the module's documented cross-engine tie hazard; 2*c12*n*1e6
            # exceeds int64 at web scale (the q215 lesson)
            _ha6(
                "CAST(c12 AS DECIMAL(38,0))*n",
                "CAST(c1 AS DECIMAL(38,0))*c2",
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "w1", "w2").limit(20)


@query(
    "q220_chi_square_independence",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(date_part('dow', ts) + 1 AS BIGINT) AS dow
      FROM events
    ),
    cells AS (SELECT event_type, dow, COUNT(*) AS o FROM e GROUP BY 1, 2),
    rt AS (SELECT event_type, COUNT(*) AS r FROM e GROUP BY 1),
    ct AS (SELECT dow, COUNT(*) AS c FROM e GROUP BY 1),
    tt AS (SELECT COUNT(*) AS n FROM e),
    contrib AS (
      SELECT round(POW(CAST(o*n - r*c AS DOUBLE), 2)
                   / CAST(n*r*c AS DOUBLE), 6) AS cell,
             n, r, c
      FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tt
    ),
    agg AS (
      SELECT MAX(n) AS n,
             CAST(SUM(CAST(cell AS DECIMAL(18,6))) AS DOUBLE) AS chi2
      FROM contrib
    ),
    dims AS (
      SELECT (SELECT COUNT(*) FROM rt) AS nrows,
             (SELECT COUNT(*) FROM ct) AS ncols
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((nrows - 1) * (ncols - 1) AS BIGINT) AS dof, chi2,
           round(sqrt(chi2 / (n * LEAST(nrows - 1, ncols - 1))), 6) AS cramers_v
    FROM agg, dims
    """,
    tags=("stats", "association", "agg"),
)
def q220_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence for event_type x
    day-of-week, plus Cramer's V effect size — the categorical
    association screen behind every "is traffic mix shifting by
    weekday?" dashboard.

    Per-cell contribution is computed as (o*n - r*c)^2 / (n*r*c): the
    difference is EXACT bigint before the double cast, so both engines
    square and divide the same binary values; each of the <= 35 cell
    doubles is rounded to 6 dp, then summed EXACTLY as DECIMAL(18,6)
    (a float sum over an unordered shuffle would be
    partitioning-dependent).  Three map-side-combined aggregates over
    one scan (cells, row totals, column totals are all tiny) and
    broadcast joins — nothing here grows beyond the 5x7 grid."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    )
    pinned = ev.localCheckpoint(eager=True)  # feeds 4 aggregates
    cells = pinned.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    rt = pinned.groupBy("event_type").agg(F.count(F.lit(1)).alias("r"))
    ct = pinned.groupBy("dow").agg(F.count(F.lit(1)).alias("c"))
    tt = pinned.agg(F.count(F.lit(1)).alias("n"))
    contrib = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tt))
        .select(
            "n",
            "r",
            "c",
            F.round(
                F.pow(
                    (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast(
                        "double"
                    ),
                    2,
                )
                / (F.col("n") * F.col("r") * F.col("c")).cast("double"),
                6,
            ).alias("cell"),
        )
    )
    agg = contrib.agg(
        F.max("n").alias("n"),
        F.sum(F.col("cell").cast("decimal(18,6)")).cast("double").alias("chi2"),
    )
    dims = cells.agg(
        F.countDistinct("event_type").alias("nrows"),
        F.countDistinct("dow").alias("ncols"),
    )
    return agg.crossJoin(F.broadcast(dims)).select(
        "n",
        ((F.col("nrows") - 1) * (F.col("ncols") - 1)).cast("long").alias("dof"),
        "chi2",
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("nrows") - 1, F.col("ncols") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )
