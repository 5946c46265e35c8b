"""Bloom-filter join prefiltering — probe-side shuffle reduction for
selective joins at cluster scale.

When a big fact table shuffle-joins a selective dimension subset, most
probe rows shuffle only to be dropped by the join.  The classic fix
(what Spark's own runtime row-level filtering does when its thresholds
fire, and what this module makes an explicit, always-available operator)
is: build a Bloom filter over the build side's join keys, ship it to the
probe side, and filter BEFORE the exchange — shuffle volume drops to
(selectivity + false-positive rate) of the fact table.

Spark 4 does not expose ``bloom_filter_agg``/``might_contain`` in the
public function registry, so the filter is built from first principles
with DataFrame ops, all JVM-side:

1. k positions per key: ``pmod(xxhash64(key, i), m)`` for seed i < k
   (the extra literal argument yields independent 64-bit hashes);
2. OR the position bits into 64-bit words: one ``groupBy(word_idx)`` +
   ``bit_or`` aggregation — a map-side-combining shuffle of at most
   m/64 rows, INDEPENDENT of build-side row count;
3. collect the non-zero (word_idx, word) pairs — bounded by m/64 ≤ 2^16
   rows (512 KB), the same order of driver traffic a broadcast handshake
   costs — and embed the bitmap as an array<bigint> literal in the probe
   plan;
4. probe test: AND over k of ``bit_get(element_at(words, p/64 + 1),
   p % 64) = 1`` — whole-stage-codegen'd integer math, no UDF, no
   Python in the hot path.

False positives only ever ADD probe rows, and the exact join behind the
prefilter drops them — results are bit-identical to the plain join, so
the DuckDB oracle for q122 is the plain join.

Scale bounds, explicitly: ``num_bits`` caps at 2^22 (512 KB plan
literal).  With m = 16·n that covers build sides to ~260 k keys at
~0.2% FP (k=4); past the cap the FP rate degrades smoothly — the join
stays exact, the prefilter just discards less.  For build sides so
large they saturate the cap, a Bloom filter stops paying and the plain
shuffle join is the right plan anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

_MAX_BITS = 1 << 22  # 512 KB of bitmap literal in the probe plan
_WORD = 64


def _positions(key: Column, num_bits: int, k: int) -> list[Column]:
    """k independent hash positions in [0, num_bits)."""
    return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)) for i in range(k)]


def bloom_build(df: DataFrame, key: Column, num_bits: int, k: int = 4) -> list[int]:
    """Distributed Bloom-filter build → bitmap as ``num_bits/64`` int64
    words (zeros included), ready for :func:`bloom_might_contain`."""
    if num_bits <= 0 or num_bits % _WORD:
        raise ValueError(
            f"num_bits must be a positive multiple of {_WORD}, got {num_bits}"
        )
    pos = df.select(F.explode(F.array(*_positions(key, num_bits, k))).alias("p"))
    words = (
        pos.select(
            F.floor(F.col("p") / _WORD).cast("int").alias("w"),
            F.expr(f"shiftleft(1L, cast(pmod(p, {_WORD}) as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("word"))
        .collect()
    )
    out = [0] * (num_bits // _WORD)
    for r in words:
        out[r.w] = r.word
    return out


def bloom_might_contain(
    key: Column, words: list[int], num_bits: int, k: int = 4
) -> Column:
    """Membership-test column: true for every inserted key, plus ~FP-rate
    of the rest.  Pure codegen'd arithmetic over an array literal.

    NOTE: embeds the bitmap as a plan literal — fine for small filters,
    but every expression tree that references it stringifies the whole
    array into plan text (UI/AQE descriptions), which gets measurably
    slow past a few thousand words.  :func:`bloom_prefilter` ships the
    bitmap as broadcast DATA instead and is what the join path uses.
    """
    return _probe_cond(key, F.lit(words), num_bits, k)


def _probe_cond(key: Column, words_col: Column, num_bits: int, k: int) -> Column:
    """AND-fold of the k word/bit lookups — the one probe implementation
    behind both the literal and the broadcast-column bitmap forms."""
    cond = F.lit(True)
    for p in _positions(key, num_bits, k):
        word = F.element_at(words_col, (F.floor(p / _WORD) + 1).cast("int"))
        cond = cond & (F.bit_get(word, F.pmod(p, F.lit(_WORD)).cast("int")) == 1)
    return cond


def bloom_prefilter(
    big: DataFrame, key: str, words: list[int], num_bits: int, k: int = 4
) -> DataFrame:
    """``big`` filtered to rows whose key might be in the filter.

    The bitmap rides a broadcast 1-row DataFrame (single-row nested-loop
    broadcast join — the scan, the join and the membership Filter fuse
    into ONE codegen stage), so the plan carries a reference, not the
    array: plan text stays O(1) whatever the bitmap size, and the 512 KB
    cap is a broadcast-payload budget rather than a plan-size hazard.
    (Measured: the literal form's 600 KB plan strings cost ~2s/run in
    plan descriptions at 3.7k words; this form is flat.)"""
    spark = big.sparkSession
    wdf = local_frame(spark, [[words]], "_bloom_words array<bigint>")
    probe = big.crossJoin(F.broadcast(wdf))
    cond = _probe_cond(F.col(key), F.col("_bloom_words"), num_bits, k)
    return probe.where(cond).drop("_bloom_words")


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    how: str = "inner",
    num_bits: int | None = None,
    k: int = 4,
) -> DataFrame:
    """Exact ``big ⋈ small`` with a Bloom prefilter on the probe side.

    Only join types where dropping non-matching probe rows is sound are
    allowed (inner / left_semi): an outer join must keep them.
    ``num_bits`` defaults to 16 bits per build-side row (one scalar count
    job — the same metadata cost AQE pays for its own stats), rounded to
    a word multiple and capped at 2^22.
    """
    if how not in ("inner", "left_semi", "leftsemi", "semi"):
        raise ValueError(
            f"bloom prefiltering drops non-matching probe rows; join type "
            f"{how!r} must keep them (use inner or left_semi)"
        )
    # the build side is referenced by up to three jobs (sizing count,
    # bitmap build, final join) — materialize its plan once so a deep
    # upstream scan+filter doesn't re-execute per reference (CLAUDE.md
    # multiply-referenced-frame rule)
    small = small.localCheckpoint(eager=True)
    if num_bits is None:
        n = small.count()
        num_bits = min(_MAX_BITS, max(1024, 16 * n))
        num_bits = ((num_bits + _WORD - 1) // _WORD) * _WORD
    words = bloom_build(small, F.col(small_key), num_bits, k)
    filtered = bloom_prefilter(big, big_key, words, num_bits, k)
    return filtered.join(small, filtered[big_key] == small[small_key], how)
