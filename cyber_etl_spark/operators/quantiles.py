"""Distributed exact quantiles by range-partitioned selection.

Spark's exact ``percentile(...)`` aggregate buffers EVERY value of a
group inside one aggregation buffer (OpenHashMap in a single task).
For a bounded group count at small scale that is fine; for a global
group at 100 TB it is an executor OOM, not a slowdown — the one
scale-killer-class hazard the r5 verdict flagged.  This kernel computes
the same interpolated quantiles with per-*partition* (never per-group)
memory, the same bound Spark's own sort machinery assumes:

1. **Range-partition** the (group, value) pairs with Spark's
   sampling-based range partitioner, so each group's values land in
   partitions in ascending value order, and pin the result
   (``localCheckpoint``) so both passes read the shuffle output once.
2. **Count pass** — one tiny ``groupBy(partition_id, group).count()``
   aggregate (|partitions| x |groups| rows) gives every partition its
   global rank offset within each group, and every group its total n.
   The global ranks a quantile needs are just ``floor/ceil(p*(n-1))``.
3. **Selection pass** — one ``mapInPandas`` over the pinned data: each
   task sorts only its own partition's values per group and emits the
   values sitting at needed global ranks (<= 2*|probs| rows per group
   across the whole cluster).  No task ever holds more than one
   partition of one column.
4. **Interpolate** with Spark's own ``Percentile`` formula
   ``(higher-pos)*lower_val + (pos-lower)*higher_val`` (identical IEEE
   double arithmetic to the built-in aggregate, so oracles that were
   hash-green against DuckDB's ``quantile_cont`` stay green).

The selected rows are bounded by |groups| * 2|probs|, so the final
assembly is a driver-side table build — the same "small boundary table"
pattern as q146's bin edges.  Groups whose values are all NULL are
omitted (callers in this repo only use non-null measure columns).

Replaces the in-memory ``percentile`` in q61/q112/q130/q146;
``tests/test_plans.py`` bans the exact ``percentile(`` aggregate from
every registered query's plan so it cannot creep back.

:func:`histogram_quantiles` is the other physical operator for the same
numbers, chosen by the data's shape: a column with FEW distinct values
(the graph backbones' integer co-supply weights: 39 values at sf0.1)
needs no range partition — one ``groupBy(value).count()`` histogram
reaches the driver and the ranks are read off its running counts.
"""

from __future__ import annotations

import bisect
import itertools
import math
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ..session import local_frame


# Most rows a quantile kernel's driver-side control table (the
# (partition, group) counts, or the value histogram) may hold.
_MAX_CONTROL_ROWS = 1_000_000


def _interpolate(p: float, n: int, at: dict[int, float]) -> float | None:
    """Spark Percentile.getPercentile: rank = p*(n-1); linear between
    floor and ceil with (higher-pos)*lower + (pos-lower)*higher."""
    if n <= 0:
        return None
    pos = p * (n - 1)
    lo = int(math.floor(pos))
    hi = int(math.ceil(pos))
    if hi == lo:
        return at[lo]
    return (hi - pos) * at[lo] + (pos - lo) * at[hi]


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Mapping[str, float],
    group_cols: Sequence[str] = (),
    num_partitions: int | None = None,
    weight_col: str | None = None,
    max_control_rows: int = _MAX_CONTROL_ROWS,
    group_probs: Mapping[tuple, Mapping[str, float]] | None = None,
) -> DataFrame:
    """Exact quantiles of ``value_col`` per group.

    Returns a DataFrame with ``group_cols`` plus one DOUBLE column per
    ``probs`` alias — the distributed twin of
    ``groupBy(*group_cols).agg(percentile(value_col, p) for p in probs)``.
    Output is a small local-rows frame (|groups| rows): broadcast-join or
    crossJoin it back, exactly like any boundary table.

    ``weight_col``: WEIGHTED lower quantiles — the smallest value whose
    running weight (values ascending) reaches ``p * total_weight``; no
    interpolation (the result is always an actual data value), rows with
    weight <= 0 are ignored.  Weights must be integer-valued: every
    running sum is then exact in IEEE doubles regardless of summation
    order, so the SQL twin (window cumsum ``>= p * SUM(w)``) picks the
    identical value.  The driver-side control tables are
    O(|groups| x |partitions|): this kernel targets the
    bounded-group-count / unbounded-group-SIZE regime (a global group at
    100 TB); the opposite regime — millions of tiny groups — fits a
    per-group aggregation buffer by definition and needs no kernel.

    ``group_probs``: per-GROUP fraction map (group-value tuple →
    {alias: fraction}) overriding ``probs`` — the r13 fusion hook: a
    caller whose per-group marks depend on each group's own size (e.g.
    q397's exact rank-k marks (k−0.5)/n per table) can stack all groups
    into ONE kernel pass instead of one chain per group.  All groups
    must share the same alias set (it is the output schema); ``probs``
    still supplies the column order.  A data group absent from
    ``group_probs`` is a contract error (raises), mirroring the bounded
    collect discipline.
    """
    spark = df.sparkSession
    group_cols = list(group_cols)
    gfields = [df.schema[c] for c in group_cols]
    # Float/double group columns are unsupported: NaN group values would
    # be folded into the NULL group by gkey() (deviating from Spark's
    # groupBy, where NaN is its own group distinct from NULL), and the
    # range partitioner sorts NULL ranges first but NaN ranges last, so
    # the merged group's offsets would not follow ascending value order —
    # wrong quantiles (ADVICE r6).  No sane quantile grouping keys on
    # floats; fail loudly instead of silently mis-selecting.
    for f in gfields:
        if isinstance(f.dataType, (DoubleType, FloatType)):
            raise TypeError(
                f"exact_quantiles: float-typed group column {f.name!r} is "
                "unsupported (NaN/NULL grouping diverges from Spark groupBy "
                "semantics under range partitioning) — cast to string/decimal"
            )

    cols = [*group_cols, F.col(value_col).cast("double").alias("_v")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    vals = df.select(*cols).where(F.col("_v").isNotNull())
    if weight_col is not None:
        vals = vals.where(F.col("_w") > 0)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        vals.repartitionByRange(num_partitions, *group_cols, "_v")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    # Pass 1: (partition, group) sizes -> per-group totals + offsets
    # (row counts, or weight sums in the weighted mode).
    size_agg = (
        F.count(F.lit(1)) if weight_col is None else F.sum("_w")
    ).alias("_n")
    # Enforce the bounded-group contract (r6 verdict item 4) AT the
    # collect: the LIMIT caps what can ever reach the driver, so an
    # unbounded group cardinality raises below instead of OOM-ing
    # inside collect() (review r7: a post-collect length check cannot
    # prevent the blow-up it documents).  Within the bound, limit(N+1)
    # returns the complete control table.  This kernel targets FEW
    # groups of UNBOUNDED size (a global group at 100 TB); the opposite
    # regime — millions of tiny groups — fits a per-group aggregation
    # buffer by definition and needs no kernel.
    counts = (
        ranged.groupBy("_pid", *group_cols)
        .agg(size_agg)
        .limit(max_control_rows + 1)
        .collect()
    )
    if len(counts) > max_control_rows:
        raise ValueError(
            f"exact_quantiles: control table exceeds max_control_rows="
            f"{max_control_rows} (partition × group) rows."
            " This kernel is for few groups of unbounded size; with this"
            " many groups each group fits one aggregation buffer — use a"
            " plain per-group aggregate (e.g. groupBy().agg(percentile_"
            "approx) or a grouped exact sort) instead."
        )

    def gkey(r) -> tuple:
        # NaN float group values are boxed as fresh never-equal objects
        # by the driver and as NaN by pandas — normalize BOTH sides to
        # None so they key one group (reported as NULL in the output)
        return tuple(
            None if (v := r[c]) is None or (isinstance(v, float) and v != v) else v
            for c in group_cols
        )

    totals: dict[tuple, float] = {}
    for r in counts:
        g = gkey(r)
        totals[g] = totals.get(g, 0) + r["_n"]
    offsets: dict[tuple, float] = {}  # (group..., pid) -> rank/weight offset
    run: dict[tuple, float] = {}
    # only the WITHIN-group pid order matters (ascending pid == ascending
    # value range); the cross-group order is arbitrary, so a None-safe
    # (is-null, str) key avoids TypeError on NULL group values
    for r in sorted(
        counts,
        key=lambda r: ([(r[c] is None, str(r[c])) for c in group_cols], r["_pid"]),
    ):
        g = gkey(r)
        offsets[(g, r["_pid"])] = run.get(g, 0)
        run[g] = run.get(g, 0) + r["_n"]

    # group -> sorted needed global ranks (unweighted: floor/ceil of
    # p*(n-1)) or weight thresholds (weighted: p*W).
    needed: dict[tuple, list[float]] = {}
    if group_probs is not None:
        missing = [g for g in totals if g not in group_probs]
        if missing:
            raise ValueError(
                f"exact_quantiles: data group(s) {missing[:5]} have no "
                "group_probs entry — per-group marks must cover every group"
            )
    for g, n in totals.items():
        marks: set[float] = set()
        gp = probs if group_probs is None else group_probs[g]
        for p in gp.values():
            if weight_col is None:
                pos = p * (n - 1)
                marks.add(float(math.floor(pos)))
                marks.add(float(math.ceil(pos)))
            else:
                marks.add(p * n)
        needed[g] = sorted(marks)

    # Pass 2: per-partition selection at the needed marks.
    out_schema = StructType(
        list(gfields)
        + [StructField("_mark", DoubleType()), StructField("_v", DoubleType())]
    )
    ngc = len(group_cols)
    weighted = weight_col is not None
    data_cols = ["_v", "_w"] if weighted else ["_v"]

    def select_ranks(batches: Iterable["pd.DataFrame"]):  # noqa: F821
        import numpy as np
        import pandas as pd

        acc: dict[tuple, list] = {}
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            if ngc:
                for g, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                    raw = g if isinstance(g, tuple) else (g,)
                    # pandas boxes a NULL group value as NaN; the offsets
                    # dict (built from Spark Rows) keys it as None
                    gk = tuple(
                        None
                        if y is None or (isinstance(y, float) and y != y)
                        else y
                        for y in raw
                    )
                    acc.setdefault(gk, []).append(sub[data_cols].to_numpy())
            else:
                acc.setdefault((), []).append(pdf[data_cols].to_numpy())
        rows = []
        for gk, chunks in acc.items():
            off = offsets.get((gk, pid))
            if off is None:
                continue
            m = np.concatenate(chunks)
            order = np.argsort(m[:, 0], kind="stable")
            v = m[order, 0]
            if weighted:
                cum = off + np.cumsum(m[order, 1])
                hi = cum[-1]
                for t in needed.get(gk, ()):
                    # first row where running weight reaches t — in this
                    # partition iff the threshold crosses inside it; a
                    # p=0 threshold is reached by the group's FIRST row
                    # (cw >= 0 in the SQL twin), i.e. the first partition
                    if off < t <= hi or (t <= 0 and off == 0):
                        i = int(np.searchsorted(cum, t, side="left"))
                        rows.append(list(gk) + [t, float(v[i])])
            else:
                hi = off + len(v)
                for rank in needed.get(gk, ()):
                    if off <= rank < hi:
                        rows.append(list(gk) + [rank, float(v[int(rank - off)])])
        cols = group_cols + ["_mark", "_v"]
        yield pd.DataFrame(rows, columns=cols)

    selected = ranged.mapInPandas(select_ranks, schema=out_schema).collect()
    at: dict[tuple, dict[float, float]] = {}
    for r in selected:
        at.setdefault(gkey(r), {})[r["_mark"]] = r["_v"]

    res_schema = StructType(
        list(gfields) + [StructField(a, DoubleType()) for a in probs]
    )
    out_rows = []
    for g in sorted(totals, key=lambda t: tuple(map(str, t))):
        gp = probs if group_probs is None else group_probs[g]
        # alias order follows `probs` (the shared output schema)
        pvals = [gp[a] for a in probs]
        if weight_col is None:
            qs = [
                _interpolate(p, int(totals[g]), at.get(g, {})) for p in pvals
            ]
        else:
            qs = [at.get(g, {}).get(p * totals[g]) for p in pvals]
        out_rows.append(list(g) + qs)
    return local_frame(spark, out_rows, res_schema)


def histogram_quantiles(
    df: DataFrame, value_col: str, probs: Mapping[str, float]
) -> dict[str, float | None]:
    """Exact quantiles of a DISCRETE column with few distinct values →
    ``{alias: value}`` (None for each alias when the column has no
    non-NULL value): the numbers ``exact_quantiles(df, value_col,
    probs)`` returns as its one row, from one histogram aggregate.

    ``groupBy(value).count()`` collects one row per distinct value; the
    value at global rank r is the first whose running count exceeds r,
    and :func:`_interpolate` applies Spark's ``Percentile`` formula to
    the floor/ceil ranks, so the result equals ``quantile_cont`` bit for
    bit.  No range partition, no pin, no Python task: the histogram job
    is all it costs, so callers can filter on the result as a literal.

    For high-cardinality columns (doubles, timestamps) the histogram is
    as large as the data; the collect is bounded at
    ``_MAX_CONTROL_ROWS`` distinct values and raises past it — use
    :func:`exact_quantiles` there.
    """
    cap = _MAX_CONTROL_ROWS
    hist = (
        df.select(F.col(value_col).cast("double").alias("_v"))
        .where(F.col("_v").isNotNull())
        .groupBy("_v")
        .count()
        .limit(cap + 1)
        .collect()
    )
    if len(hist) > cap:
        raise ValueError(
            f"histogram_quantiles: {value_col!r} has more than {cap} distinct"
            " values; this operator is for discrete columns with few values"
            " — use exact_quantiles"
        )
    # ascending value order, NaN last (Spark's sort order for doubles)
    hist.sort(key=lambda r: (r["_v"] != r["_v"], r["_v"]))
    vals = [r["_v"] for r in hist]
    cum = list(itertools.accumulate(r["count"] for r in hist))
    n = cum[-1] if cum else 0

    def at(rank: int) -> float:
        return vals[bisect.bisect_right(cum, rank)]

    out: dict[str, float | None] = {}
    for alias, p in probs.items():
        pos = p * (n - 1)
        lo, hi = math.floor(pos), math.ceil(pos)
        out[alias] = _interpolate(p, n, {lo: at(lo), hi: at(hi)}) if n else None
    return out
