"""Offline policy replay over a bounded aggregated reward grid — the
q223/forecast one-task-iteration pattern applied to sequential decision
evaluation.

A bandit replay is a SEQUENTIAL recurrence: the arm chosen on day t
depends on every reward observed before t, so it cannot parallelize —
and the state (per-arm pull counts and reward sums) is constant-sized.
Distributed supersteps would schedule one join round per day (the
measured q248 trap); the corpus-scale work (the per-day reward
aggregation) stays distributed and the walk replays in ONE mapInPandas
task.

Cross-engine exactness: pulls and reward sums are exact Python ints
(HUGEINT-equivalent); exploration draws are md5 digits of the day
index; the exploit argmax compares (unpulled-first, −mean, index)
tuples where −mean is the SAME IEEE double division the recursive-CTE
oracle's struct sort evaluates — bit-identical trajectories.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame

_MAX_GRID_ROWS = 200_000


def epsilon_greedy_replay(
    daily: DataFrame,
    reward_cols: list[str],
    order_col: str = "day",
    explore_pct: int = 20,
) -> DataFrame:
    """Replay an epsilon-greedy policy over a bounded ordered reward
    grid (one row per period, one integer reward column per arm) →
    one row per arm: (arm_idx, pulls, total_reward, policy_total).

    Day t explores iff md5(t) % 100 < ``explore_pct`` (arm =
    (md5(t) div 100) mod k); otherwise it exploits the argmax running
    mean, pulling unpulled arms first, ties to the lowest index.
    Rewards must be integer-valued."""
    k = len(reward_cols)
    schema = (
        "arm_idx int, pulls bigint, total_reward decimal(38,0),"
        " policy_total decimal(38,0)"
    )

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_GRID_ROWS:
            raise ValueError(
                f"epsilon_greedy_replay: {len(pdf)} rows exceed the "
                f"bounded-grid contract ({_MAX_GRID_ROWS})"
            )
        # 'rewards must be integer-valued and non-null' contract (r8
        # advice): a NULL/NaN cell — a caller that forgot the spine
        # coalesce — otherwise crashes int() mid-walk with an opaque
        # pandas error; a fractional cell would silently truncate.
        for col in reward_cols:
            vals = pdf[col]
            if vals.isnull().any():
                raise ValueError(
                    f"epsilon_greedy_replay: reward column '{col}' contains "
                    "NULL/NaN — rewards must be non-null integers (did the "
                    "caller forget to coalesce the day spine?)"
                )
            if (vals != vals.astype("int64")).any():
                raise ValueError(
                    f"epsilon_greedy_replay: reward column '{col}' contains "
                    "non-integer values — the exact-integer replay contract "
                    "requires integer-valued rewards"
                )
        pdf = pdf.sort_values(order_col, ignore_index=True)
        n = [0] * k
        s = [0] * k
        tot = 0
        for t in range(1, len(pdf) + 1):
            h = int(
                hashlib.md5(str(t).encode()).hexdigest()[:8], 16
            )
            if h % 100 < explore_pct:
                c = (h // 100) % k
            else:
                # the oracle's struct sort: (unpulled-first, -mean, idx)
                c = min(
                    range(k),
                    key=lambda i: (
                        0 if n[i] == 0 else 1,
                        -(s[i] / n[i]) if n[i] else 0.0,
                        i,
                    ),
                )
            r = int(pdf[reward_cols[c]].iloc[t - 1])
            n[c] += 1
            s[c] += r
            tot += r
        yield pd.DataFrame(
            {
                "arm_idx": list(range(1, k + 1)),
                "pulls": n,
                "total_reward": s,
                "policy_total": [tot] * k,
            }
        )

    one_task = daily.select(order_col, *reward_cols).coalesce(1).limit(_MAX_GRID_ROWS + 1)
    return one_task.mapInPandas(kernel, schema)
