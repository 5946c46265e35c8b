"""Bounded-series forecasting kernels — the q223 lesson applied to
sequential smoothers.

Exponential-smoothing recurrences are constant-sized state walked over
an AGGREGATED series (per-day grids bounded by the calendar, never the
corpus).  Expressing the walk as Spark recursion is the wrong physical
plan: each recursive step is a scheduled job, so a 2-year daily series
costs ~700 join rounds (measured 17 s at sf0.1 for Holt via Spark's
WITH RECURSIVE, vs 0.4 s for this kernel).  The right plan — identical
to operators/pca.power_iterate_table — keeps the corpus-scale work
(the daily aggregation) distributed and replays the recurrence in ONE
mapInPandas task over the coalesced grid.

Cross-engine exactness: the kernel iterates in plain Python floats with
the SAME expression tree the DuckDB recursive-CTE oracle evaluates;
with dyadic smoothing weights (alpha = beta = 1/2) every step is a
sequence of exactly-rounded IEEE operations, so both engines walk
bit-identical (level, trend) trajectories and no per-step snapping is
needed.  Values are returned UNROUNDED; callers apply Spark round()
(which matches DuckDB round() on identical doubles — the double-path
rule in plans/analytics2's module docstring).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# hard cap on the bounded-series contract: a per-day grid spans years,
# not millions — refuse rather than OOM the single task (the
# exact_quantiles / power_iterate_table guard lesson)
_MAX_SERIES_ROWS = 200_000


def holt_linear_forecast(
    daily: DataFrame,
    order_col: str = "day",
    value_col: str = "x",
    horizons: int = 7,
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Holt's linear-trend smoothing over a BOUNDED ordered series →
    (horizon, n_days, level, trend, forecast), one row per horizon
    1..``horizons``; level/trend/forecast are unrounded doubles.

    Init: l_1 = x_1, b_1 = x_2 − x_1; recurrence for t ≥ 2:
    l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}.  Fewer than 2 rows → empty.
    """
    schema = (
        "horizon int, n_days bigint, level double, trend double,"
        " forecast double"
    )

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_SERIES_ROWS:
            raise ValueError(
                f"holt_linear_forecast: {len(pdf)} rows exceed the "
                f"bounded-series contract ({_MAX_SERIES_ROWS}); this "
                "kernel is for aggregated (e.g. per-day) grids, never "
                "raw data"
            )
        if len(pdf) < 2:
            return
        pdf = pdf.sort_values(order_col, ignore_index=True)
        xs = [float(v) for v in pdf[value_col]]
        lvl = xs[0]
        trd = xs[1] - xs[0]
        for t in range(1, len(xs)):
            # the exact expression tree of the recursive-CTE oracle:
            # 0.5*x + 0.5*(l+b); b = 0.5*(l_new - l) + 0.5*b
            new_l = alpha * xs[t] + (1.0 - alpha) * (lvl + trd)
            trd = beta * (new_l - lvl) + (1.0 - beta) * trd
            lvl = new_l
        yield pd.DataFrame(
            {
                "horizon": list(range(1, horizons + 1)),
                "n_days": [len(xs)] * horizons,
                "level": [lvl] * horizons,
                "trend": [trd] * horizons,
                "forecast": [lvl + h * trd for h in range(1, horizons + 1)],
            }
        )

    one_task = daily.select(order_col, value_col).coalesce(1).limit(_MAX_SERIES_ROWS + 1)
    return one_task.mapInPandas(kernel, schema)


def holt_winters_forecast(
    daily: DataFrame,
    order_col: str = "day",
    value_col: str = "x",
    period: int = 7,
    horizons: int = 7,
) -> DataFrame:
    """Additive Holt-Winters (α = β = γ = 1/2, season ``period``) over a
    BOUNDED dense ordered series → one row per horizon 1..``horizons``:
    (horizon, n_days, level, trend, seasonal, forecast), unrounded.

    Init (first two seasons): l = mean(x_1..x_p),
    b = (mean(x_{p+1}..x_{2p}) − mean(x_1..x_p)) / p,
    s_i = x_i − l; recurrence for t > p:
    l_t = ½(x_t − s_{t−p}) + ½(l+b); b_t = ½(l_t − l) + ½b;
    s_t = ½(x_t − l_t) + ½s_{t−p}.  Seasonal state rotates so its head
    is always the factor for the NEXT step.  Inputs must be
    integer-valued (daily counts): the init means are then exact-sum
    divisions and every recurrence step is an identical IEEE expression
    tree in both engines (the dyadic-weights rule of this module) — the
    recursive-CTE oracle walks a bit-identical trajectory.  Fewer than
    2·``period`` rows → empty."""
    schema = (
        "horizon int, n_days bigint, level double, trend double,"
        " seasonal double, forecast double"
    )

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_SERIES_ROWS:
            raise ValueError(
                f"holt_winters_forecast: {len(pdf)} rows exceed the "
                f"bounded-series contract ({_MAX_SERIES_ROWS})"
            )
        if len(pdf) < 2 * period:
            return
        pdf = pdf.sort_values(order_col, ignore_index=True)
        xs = [float(v) for v in pdf[value_col]]
        # exact-integer sums (counts), then one IEEE division each —
        # identical in the oracle's SUM(CASE)/p form
        lvl = sum(xs[:period]) / float(period)
        trd = (sum(xs[period : 2 * period]) - sum(xs[:period])) / float(
            period * period
        )
        s = [xs[i] - lvl for i in range(period)]
        for t in range(period, len(xs)):
            x = xs[t]
            # the oracle's exact expression tree (l_new spelled inline)
            new_l = 0.5 * (x - s[0]) + 0.5 * (lvl + trd)
            trd = 0.5 * (new_l - lvl) + 0.5 * trd
            s_new = 0.5 * (x - new_l) + 0.5 * s[0]
            lvl = new_l
            s = s[1:] + [s_new]
        yield pd.DataFrame(
            {
                "horizon": list(range(1, horizons + 1)),
                "n_days": [len(xs)] * horizons,
                "level": [lvl] * horizons,
                "trend": [trd] * horizons,
                "seasonal": [s[(h - 1) % period] for h in range(1, horizons + 1)],
                "forecast": [
                    lvl + h * trd + s[(h - 1) % period]
                    for h in range(1, horizons + 1)
                ],
            }
        )

    one_task = daily.select(order_col, value_col).coalesce(1).limit(_MAX_SERIES_ROWS + 1)
    return one_task.mapInPandas(kernel, schema)


def holt_winters_backtest(
    daily: DataFrame,
    order_col: str = "day",
    value_col: str = "x",
    period: int = 7,
) -> DataFrame:
    """One-step-ahead backtest of the additive Holt-Winters walk
    (α = β = γ = 1/2): replays :func:`holt_winters_forecast`'s exact
    recurrence, and for every step past the 2-season init accumulates
    the absolute one-step error |x_t − (l+b+s_head)| — the forecast made
    BEFORE folding x_t in — plus Σ|x_t| over the same steps.  Returns
    ONE row (n_days, n_scored, sae, sax); callers derive WAPE.
    Error sums accumulate in recurrence order, so the recursive-CTE
    oracle adds the identical doubles in the identical order."""
    schema = "n_days bigint, n_scored bigint, sae double, sax double"

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_SERIES_ROWS:
            raise ValueError(
                f"holt_winters_backtest: {len(pdf)} rows exceed the "
                f"bounded-series contract ({_MAX_SERIES_ROWS})"
            )
        if len(pdf) < 2 * period:
            return
        pdf = pdf.sort_values(order_col, ignore_index=True)
        xs = [float(v) for v in pdf[value_col]]
        lvl = sum(xs[:period]) / float(period)
        trd = (sum(xs[period : 2 * period]) - sum(xs[:period])) / float(
            period * period
        )
        s = [xs[i] - lvl for i in range(period)]
        sae = 0.0
        sax = 0.0
        n_scored = 0
        for t in range(period, len(xs)):
            x = xs[t]
            if t >= 2 * period:
                f = lvl + trd + s[0]
                sae = sae + abs(x - f)
                sax = sax + abs(x)
                n_scored += 1
            new_l = 0.5 * (x - s[0]) + 0.5 * (lvl + trd)
            trd = 0.5 * (new_l - lvl) + 0.5 * trd
            s_new = 0.5 * (x - new_l) + 0.5 * s[0]
            lvl = new_l
            s = s[1:] + [s_new]
        yield pd.DataFrame(
            {
                "n_days": [len(xs)],
                "n_scored": [n_scored],
                "sae": [sae],
                "sax": [sax],
            }
        )

    one_task = daily.select(order_col, value_col).coalesce(1).limit(_MAX_SERIES_ROWS + 1)
    return one_task.mapInPandas(kernel, schema)


def croston_forecast(
    events: DataFrame,
    group_col: str,
    day_col: str,
    demand_col: str,
) -> DataFrame:
    """Croston's intermittent-demand method over MANY small series —
    the group-axis regime (operators/walk.py rule): each group reduces
    to ONE row carrying its day-ordered demand events, and a
    mapInPandas kernel walks ALL groups of a batch simultaneously with
    the time loop vectorized over the group axis.

    ``events`` is one row per (group, day): ``day_col`` an INTEGER day
    number (days since epoch — ``F.unix_date``), ``demand_col`` the
    integer demand.  Inter-demand gaps are derived HERE as
    ``days[i] - days[i-1]`` (first gap 0) — identical integers to a
    ``datediff(day, lag(day))`` window, without paying that window's
    full exchange + sort (r12: dropping it cut one of q411's three
    exchanges).  Events ship as array_sort'ed plain long arrays via
    native struct-field extraction (GetArrayStructFields — codegen'd,
    never a per-element higher-order lambda or Python dict unpack).

    Recurrence (α = 1/2, dyadic — the module's cross-engine rule):
    z₁ = d₁, p₁ = 1; for t ≥ 2: z_t = (d_t + z_{t-1})/2 (demand-size
    EWMA), p_t = (gap_t + p_{t-1})/2 (inter-demand-interval EWMA);
    forecast rate = z/p.  With integer demands and gaps, every state is
    an exact dyadic while its bit-width stays under 53 (≈ 40 bits at
    this data's depth), and past that both engines perform identical
    IEEE halvings — bit-equal either way.

    Returns one row per group: (group, n_events, z, p) — z/p UNROUNDED
    (caller rounds).  Scale: one hash shuffle to group cardinality,
    then embarrassingly parallel; per-batch state is two float64
    vectors over the group axis, T = max events per group time steps.
    """
    import numpy as np
    from pyspark.sql import functions as F

    agg = (
        events.groupBy(F.col(group_col).cast("long").alias(group_col))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(day_col).cast("long").alias("t"),
                        F.col(demand_col).cast("long").alias("d"),
                    )
                )
            ).alias("_ev")
        )
        .select(
            group_col,
            F.col("_ev").getField("t").alias("_days"),
            F.col("_ev").getField("d").alias("_ds"),
        )
    )
    out_schema = f"{group_col} long, n_events long, z double, p double"

    def _kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            days_l, ds_l = pdf["_days"], pdf["_ds"]
            n = np.fromiter(
                (len(e) for e in ds_l), dtype=np.int64, count=len(pdf)
            )
            tmax = int(n.max()) if len(n) else 0
            d = np.zeros((len(pdf), tmax), dtype=np.float64)
            g = np.zeros((len(pdf), tmax), dtype=np.float64)
            for r in range(len(pdf)):
                k = n[r]
                d[r, :k] = np.asarray(ds_l.iloc[r], dtype=np.int64)
                dd = np.asarray(days_l.iloc[r], dtype=np.int64)
                g[r, 1:k] = dd[1:] - dd[:-1]
            z = d[:, 0].copy()
            p = np.ones(len(pdf), dtype=np.float64)
            for t in range(1, tmax):
                act = n > t
                z[act] = (d[act, t] + z[act]) / 2.0
                p[act] = (g[act, t] + p[act]) / 2.0
            yield pd.DataFrame(
                {
                    group_col: pdf[group_col].astype("int64"),
                    "n_events": n,
                    "z": z,
                    "p": p,
                }
            )

    return agg.mapInPandas(_kernel, schema=out_schema)
