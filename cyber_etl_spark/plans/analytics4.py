"""Round-8 analytics additions, second wave (q266+): customer-value
segmentation (RFM), graded ranking evaluation (NDCG@k), and the
cumulative-hazard twin of the Kaplan-Meier curve — plus storage-layout
and index-maintenance operators further down.

Family ancestry: the reference's notebooks segment and score entities
with pandas ``qcut``/``groupby`` passes (data_integration.ipynb's
ad-hoc per-entity profiling cells); these re-express the same analyses
as shuffle-conscious Spark plans with exact DuckDB twins, reusing the
repo's distributed kernels (``operators/prefix`` for every global
ranking, the memoized ``_bm25_index`` for retrieval eval).

Float discipline: identical to analytics2/analytics3 — exact integer /
decimal sufficient statistics everywhere, per-term 12-dp snaps summed
as DECIMAL where a transcendental (log2) is unavoidable, half-away
integer division (``_ha6``) for every reported rational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources import read_table
from .analytics2 import _ha6, _ha6_sql
from .registry import query


@query(
    "q266_rfm_segmentation",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS cust, MAX(CAST(o_orderdate AS DATE)) AS last_day,
             COUNT(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
      FROM orders GROUP BY 1
    ),
    h AS (SELECT MAX(last_day) AS h FROM per),
    rfm AS (
      SELECT cust, date_diff('day', last_day, h.h) AS rec, freq, mon
      FROM per, h
    ),
    q AS (
      SELECT cust, mon,
             NTILE(5) OVER (ORDER BY rec ASC, cust ASC) AS r_q,
             NTILE(5) OVER (ORDER BY freq DESC, cust ASC) AS f_q,
             NTILE(5) OVER (ORDER BY mon DESC, cust ASC) AS m_q
      FROM rfm
    )
    SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
           CAST(m_q AS INT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(mon) AS DOUBLE) AS total_monetary,
           CAST(SUM(mon) AS DOUBLE) / COUNT(*) AS avg_monetary
    FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    tags=("segmentation", "ranking", "kernel"),
)
def q266_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles per customer, reported as segment sizes and revenue — the
    classic entity-scoring pass a marketing pipeline runs over the
    order fact (the reference's per-entity ``value_counts``/``qcut``
    profiling, made distributed).

    Scale plan: ONE hash aggregation reduces the fact table to a
    customer-cardinality frame (pinned — three ranking passes consume
    it); each quintile assignment is the distributed rank kernel
    (operators/prefix.global_ranks + ntile_expr) over that frame — no
    whole-table single-task NTILE window ever exists, the q63
    discipline.  The final rollup is a bounded 125-cell cube.
    Exactness: monetary stays DECIMAL(18,2) end-to-end; the quintile
    arithmetic is pure integers (rn, n); avg = exact-decimal-sum cast
    double / count, identical IEEE division in both engines.
    Tie-breaks: every ranking carries cust as the unique final key."""
    from ..operators.prefix import global_ranks, ntile_expr

    o = read_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    horizon = per.agg(F.max("last_day").alias("h"))
    rfm = (
        per.crossJoin(F.broadcast(horizon))
        .select(
            "cust",
            F.datediff("h", "last_day").alias("rec"),
            "freq",
            "mon",
            (-F.col("freq")).alias("negf"),
            (-F.col("mon")).alias("negm"),
        )
        .localCheckpoint(eager=True)  # feeds three rank passes
    )
    # All three quintile rankings ride ONE rank-kernel call (r12, the
    # q290 fusion): the R/F/M sort keys stack into a dim-tagged union —
    # each key cast to DECIMAL(21,2), an order-embedding for int days,
    # long counts and 18,2-decimal revenue alike, so per-dim (rn, n) are
    # identical to the former three chained calls — then one cust-keyed
    # pivot reassembles the quintiles.  One range shuffle + one pin
    # instead of three of each.
    stack = None
    for dim, key in (("r", "rec"), ("f", "negf"), ("m", "negm")):
        part = rfm.select(
            F.lit(dim).alias("dim"),
            F.col(key).cast("decimal(21,2)").alias("sk"),
            "cust",
            "mon",
        )
        stack = part if stack is None else stack.unionByName(part)
    g = global_ranks(
        stack, order_cols=["sk", "cust"], group_cols=["dim"],
        rn_col="rn", total_col="nn",
    )
    q5 = ntile_expr(F.col("rn"), F.col("nn"), 5)
    seg = (
        g.select("dim", "cust", "mon", q5.alias("q"))
        .groupBy("cust")
        .agg(
            F.max("mon").alias("mon"),
            F.max(F.when(F.col("dim") == "r", F.col("q"))).alias("r_q"),
            F.max(F.when(F.col("dim") == "f", F.col("q"))).alias("f_q"),
            F.max(F.when(F.col("dim") == "m", F.col("q"))).alias("m_q"),
        )
        .select("mon", "r_q", "f_q", "m_q")
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("mon").cast("double").alias("total_monetary"),
            (F.sum("mon").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary"
            ),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@query(
    "q267_ndcg_at_10",
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
    cand AS (
      SELECT qs.qtok, p.doc_id,
             CASE WHEN p.tf > 3 THEN 3 ELSE p.tf END AS rel,
             round(p.tf * 2.2
                   / (p.tf + 1.2*(1 - 0.75 + 0.75*d.dl/st.avgdl)), 6)
               AS score
      FROM qs JOIN post p ON p.token = qs.qtok
      JOIN dl d ON d.doc_id = p.doc_id, st
    ),
    rk AS (
      SELECT qtok, rel,
             ROW_NUMBER() OVER (PARTITION BY qtok
                                ORDER BY score DESC, doc_id ASC) AS rnk,
             ROW_NUMBER() OVER (PARTITION BY qtok
                                ORDER BY rel DESC, doc_id ASC) AS irnk
      FROM cand
    ),
    terms AS (
      SELECT qtok,
             SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS n_ranked,
             SUM(CASE WHEN rnk <= 10 THEN CAST(round(
                   ((1<<rel) - 1) / log2(rnk + 1), 12) AS DECIMAL(20,12))
                 ELSE CAST(0 AS DECIMAL(20,12)) END) AS dcg,
             SUM(CASE WHEN irnk <= 10 THEN CAST(round(
                   ((1<<rel) - 1) / log2(irnk + 1), 12) AS DECIMAL(20,12))
                 ELSE CAST(0 AS DECIMAL(20,12)) END) AS idcg
      FROM rk GROUP BY 1
    )
    SELECT qtok AS query_shingle,
           CAST(n_ranked AS BIGINT) AS n_ranked,
           CAST(dcg AS DOUBLE) AS dcg,
           CAST(idcg AS DOUBLE) AS idcg,
           CAST((2*CAST(dcg*1000000000000 AS HUGEINT)*1000000
                 + CAST(idcg*1000000000000 AS HUGEINT))
                // (2*CAST(idcg*1000000000000 AS HUGEINT)) AS DOUBLE)
             / 1000000 AS ndcg
    FROM terms ORDER BY query_shingle
    """,
    tags=("retrieval", "eval", "ranking"),
)
def q267_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 with graded relevance for the ten deterministic
    mid-frequency shingle queries — the graded companion of the binary
    MRR/recall eval (q263), completing the ranking-eval family.
    Relevance = min(tf, 3); gain = 2^rel − 1, discount = log2(rank+1).

    Scale plan: reuses the memoized 3-shingle retrieval index
    (``_bm25_index`` — one tokenize pass shared with q263); candidates
    per query are one posting-list read bounded by the df band (≤ 50),
    so both ranking windows (actual and ideal order) are bounded by
    construction.  Exactness: each DCG term divides an exact small
    integer by log2 of an integer — the only transcendental — and is
    snapped at 12 dp into DECIMAL(20,12) before the exact sum (the q244
    per-term discipline, absorbing libm last-ulp differences); NDCG is
    then a half-away 6-dp integer rational of the two exact 1e-12-unit
    sums (DECIMAL(38,0)/HUGEINT)."""
    from pyspark.sql.window import Window
    from .analytics3 import _bm25_index

    post, dl, st, dfr = _bm25_index(spark, sf_dir)
    qs = (
        dfr.where(F.col("df").between(5, 50))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(10)
        .select(F.col("token").alias("qtok"))
    )
    cand = (
        F.broadcast(qs)
        .join(post, post.token == F.col("qtok"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select(
            "qtok",
            "doc_id",
            F.least(F.col("tf"), F.lit(3)).alias("rel"),
            F.round(
                F.col("tf")
                * 2.2
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("score"),
        )
    )
    # per-qtok windows: bounded by the df band (<= 50 candidates)
    rk = cand.select(
        "qtok",
        "rel",
        F.row_number()
        .over(
            Window.partitionBy("qtok").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        )
        .alias("rnk"),
        F.row_number()
        .over(
            Window.partitionBy("qtok").orderBy(
                F.col("rel").desc(), F.col("doc_id").asc()
            )
        )
        .alias("irnk"),
    )
    gain = "(CAST(shiftleft(1, rel) - 1 AS DOUBLE))"
    terms = rk.groupBy("qtok").agg(
        F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0)).alias("n_ranked"),
        F.sum(
            F.expr(
                f"CASE WHEN rnk <= 10 THEN CAST(round({gain} / log2(rnk + 1),"
                " 12) AS DECIMAL(20,12)) ELSE CAST(0 AS DECIMAL(20,12)) END"
            )
        ).alias("dcg"),
        F.sum(
            F.expr(
                f"CASE WHEN irnk <= 10 THEN CAST(round({gain} / log2(irnk + 1),"
                " 12) AS DECIMAL(20,12)) ELSE CAST(0 AS DECIMAL(20,12)) END"
            )
        ).alias("idcg"),
    )
    return terms.select(
        F.col("qtok").alias("query_shingle"),
        F.col("n_ranked").cast("long").alias("n_ranked"),
        F.col("dcg").cast("double").alias("dcg"),
        F.col("idcg").cast("double").alias("idcg"),
        (
            F.expr(
                "(2*CAST(dcg*1000000000000 AS DECIMAL(38,0))*1000000"
                " + CAST(idcg*1000000000000 AS DECIMAL(38,0)))"
                " div (2*CAST(idcg*1000000000000 AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("ndcg"),
    ).orderBy("query_shingle")


@query(
    "q268_nelson_aalen",
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
      SELECT CASE WHEN pu.p_day IS NOT NULL AND pu.p_day >= su.s_day
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
    na AS (
      SELECT t, d,
             CAST((SELECT COUNT(*) FROM obs) AS BIGINT)
               - CAST(COALESCE(SUM(removed) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_risk
      FROM grid
    )
    SELECT t AS day, n_risk, d AS n_converted,
           {hazard} AS hazard,
           CAST(SUM(CAST(round(CAST(d AS DOUBLE) / n_risk, 12)
                         AS DECIMAL(20,12)))
                OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS DOUBLE) AS cum_hazard
    FROM na WHERE d > 0 ORDER BY day
    """.format(hazard=_ha6_sql("d", "n_risk")),
    tags=("timeseries", "survival", "ml-eval"),
)
def q268_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator for time-to-first-
    purchase — the additive twin of the Kaplan–Meier curve (q210),
    sharing its subject construction: first signup, first purchase,
    right-censor at the horizon.  H(t) = Σ_{t_i ≤ t} d_i / n_i.

    Scale plan: identical to q210 — the per-user reduction is the only
    corpus-scale work; the hazard table is ONE ROW PER DISTINCT EVENT
    DAY (bounded by the calendar, AGG_INPUT_OK class), so its
    cumulative window is a bounded-aggregate pass.  Exactness: each
    d/n is an exact integer ratio (identical IEEE division), snapped at
    12 dp into DECIMAL(20,12) and cumulated exactly; the per-day hazard
    is a half-away 6-dp integer rational."""
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
    na = grid.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        F.col("n_total") - F.coalesce(F.sum("removed").over(wprev), F.lit(0)),
    )
    return (
        na.withColumn(
            "cum_hazard",
            F.sum(
                F.expr(
                    "CAST(round(CAST(d AS DOUBLE) / n_risk, 12)"
                    " AS DECIMAL(20,12))"
                )
            )
            .over(wcum)
            .cast("double"),
        )
        .where(F.col("d") > 0)
        .select(
            F.col("t").alias("day"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("n_converted"),
            _ha6("d", "n_risk").alias("hazard"),
            "cum_hazard",
        )
        .orderBy("day")
    )


@query(
    "q269_compaction_plan",
    oracle="""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS excl
      FROM documents
    ),
    f AS (
      SELECT source, excl // 65536 AS file_idx, doc_id, n_chars FROM c
    )
    SELECT source, CAST(file_idx AS BIGINT) AS file_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS bytes,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           {fill} AS fill_ratio
    FROM f GROUP BY 1, 2 ORDER BY 1, 2
    """.format(fill=_ha6_sql("SUM(n_chars)", "65536")),
    tags=("layout", "compaction", "kernel"),
)
def q269_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: pack each source's documents (in
    doc_id order) into ~64 KiB output files by running-byte-count and
    report the resulting file manifest (doc count, bytes, id range,
    fill ratio) — the storage-maintenance pass every lakehouse pipeline
    schedules, expressed as a first-class operator.

    Scale plan: the running byte total comes from the distributed
    prefix kernel (operators/prefix.running_total) — NOT a per-source
    window, which would funnel each source's entire corpus through one
    task (the q160 lesson); file assignment is then row-local floor
    arithmetic on the EXCLUSIVE prefix, and the manifest is a bounded
    per-(source, file) aggregate.  Exactness: pure integer arithmetic
    end-to-end; fill ratio is a half-away 6-dp integer rational."""
    from ..operators.prefix import running_total

    docs = read_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    c = running_total(
        docs,
        value_col="n_chars",
        order_cols=["doc_id"],
        group_cols=["source"],
        out_col="cum",
    )
    f = c.select(
        "source",
        "doc_id",
        "n_chars",
        ((F.col("cum") - F.col("n_chars")) / 65536)
        .cast("long")
        .alias("file_idx"),
    )
    return (
        f.groupBy("source", "file_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            "source",
            "file_idx",
            "n_docs",
            F.col("bytes").cast("long").alias("bytes"),
            "min_doc",
            "max_doc",
            _ha6("bytes", "65536").alias("fill_ratio"),
        )
        .orderBy("source", "file_idx")
    )


@query(
    "q270_bitmap_intersect",
    oracle="""
    WITH bm AS (
      SELECT event_type, user_id // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(bit_count(bits)) AS n_users FROM bm GROUP BY 1
    ),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             SUM(bit_count(a.bits & b.bits)) AS common_users
      FROM bm a JOIN bm b
        ON a.word = b.word AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(ta.n_users AS BIGINT) AS users_a,
           CAST(tb.n_users AS BIGINT) AS users_b,
           CAST(p.common_users AS BIGINT) AS common_users,
           {jac} AS jaccard
    FROM pair p
    JOIN tot ta ON ta.event_type = p.type_a
    JOIN tot tb ON tb.event_type = p.type_b
    ORDER BY 1, 2
    """.format(
        jac=_ha6_sql(
            "p.common_users", "ta.n_users + tb.n_users - p.common_users"
        )
    ),
    tags=("bitmap", "audience", "set-ops"),
)
def q270_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index audience overlap: per event type, compress the user
    set into 32-bit bitmap words (word = user_id div 32, one BIGINT of
    bits per word), then compute every pairwise audience intersection
    with bitwise AND + popcount — the classic bitmap-index approach to
    COUNT(DISTINCT) set algebra, 32 users per row instead of one.

    Scale plan: the bitmap build is ONE map-side-combinable bit_or
    aggregation (mergeable across partitions/days by construction — the
    same property a real bitmap index exploits for incremental
    maintenance); the pair stage joins on the WORD key, so work is
    O(words x types²) with no row-level self-join of the fact table;
    popcounts are JVM-side bit_count.  Exactness: pure integer bit
    algebra; Jaccard is a half-away 6-dp integer rational.

    Grid budget: word = user_id div 32 only shrinks; bitmap words hold 32 bits in a BIGINT."""
    ev = read_table(spark, sf_dir, "events")
    bm = (
        ev.select(
            "event_type",
            (F.col("user_id") / 32).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
            ).alias("mask"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .localCheckpoint(eager=True)  # feeds totals AND both join sides
    )
    tot = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users")
    )
    a = bm.select(
        F.col("event_type").alias("type_a"),
        "word",
        F.col("bits").alias("bits_a"),
    )
    b = bm.select(
        F.col("event_type").alias("type_b"),
        "word",
        F.col("bits").alias("bits_b"),
    )
    pair = (
        a.join(b, "word")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.bit_count(F.expr("bits_a & bits_b"))
            ).alias("common_users")
        )
    )
    ta = tot.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("users_a")
    )
    tb = tot.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("users_b")
    )
    return (
        pair.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("users_a").cast("long").alias("users_a"),
            F.col("users_b").cast("long").alias("users_b"),
            F.col("common_users").cast("long").alias("common_users"),
            _ha6(
                "common_users", "users_a + users_b - common_users"
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q271_position_attribution",
    oracle="""
    WITH pe AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fp AS (
      SELECT user_id, MIN(rn) AS prn FROM pe
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    touch AS (
      SELECT pe.user_id, pe.event_type, pe.rn
      FROM pe JOIN fp USING (user_id) WHERE pe.rn < fp.prn
    ),
    per AS (
      SELECT user_id, COUNT(*) AS k, MIN(rn) AS rf, MAX(rn) AS rl
      FROM touch GROUP BY 1
    ),
    cr AS (
      SELECT t.event_type AS channel,
             CASE WHEN p.k = 1 THEN 1000000000000
                  WHEN t.rn = p.rf OR t.rn = p.rl THEN
                    CASE WHEN p.k = 2 THEN 500000000000
                         ELSE 400000000000 END
                  ELSE (2*200000000000 + (p.k-2)) // (2*(p.k-2)) END AS u,
             CASE WHEN t.rn = p.rf THEN 1 ELSE 0 END AS isf,
             CASE WHEN t.rn = p.rl THEN 1 ELSE 0 END AS isl
      FROM touch t JOIN per p USING (user_id)
    )
    SELECT channel,
           CAST(SUM(isf) AS BIGINT) AS n_first,
           CAST(SUM(isl) AS BIGINT) AS n_last,
           CAST(SUM(1 - isf - isl + CASE WHEN isf = 1 AND isl = 1
                                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mid,
           CAST((2*SUM(CAST(u AS HUGEINT)) + 1000000) // 2000000
                AS DOUBLE) / 1000000 AS credit
    FROM cr GROUP BY 1 ORDER BY 1
    """,
    tags=("attribution", "journey"),
)
def q271_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) conversion attribution: each converting
    user's pre-purchase touches split the conversion credit 40% first /
    40% last / 20% across the middles (100% for a single touch, 50/50
    for two) — the rule-based member of the attribution family next to
    last-touch (q218) and Markov removal effects (q236).

    Scale plan: REUSES the memoized purchase-truncated journey table
    (``_journey_prob`` — q236/q262's corpus-scale window pass is paid
    once per session); everything after is user-keyed aggregation and
    one user-keyed join (high-cardinality keys, no low-card windows).
    Exactness: credits are exact 1e-12-unit integers (the middle share
    is half-away integer division by k-2), summed as DECIMAL(38,0)/
    HUGEINT, and the reported credit is a half-away 6-dp rational —
    bit-identical in both engines by construction."""
    from .analytics2 import _journey_prob

    j, _ = _journey_prob(spark, sf_dir)
    conv = (
        j.where(F.col("st") == "__conv")
        .select("user_id", F.col("rn").alias("crn"))
    )
    touch = (
        j.join(conv, "user_id")
        .where((F.col("rn") < F.col("crn")) & (F.col("st") != "__conv"))
        .select("user_id", F.col("st").alias("channel"), "rn")
    )
    per = touch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.min("rn").alias("rf"),
        F.max("rn").alias("rl"),
    )
    cr = touch.join(per, "user_id").select(
        "channel",
        F.when(F.col("k") == 1, F.lit(1_000_000_000_000))
        .when(
            (F.col("rn") == F.col("rf")) | (F.col("rn") == F.col("rl")),
            F.when(F.col("k") == 2, F.lit(500_000_000_000)).otherwise(
                F.lit(400_000_000_000)
            ),
        )
        .otherwise(
            F.expr("(2*200000000000 + (k-2)) div (2*(k-2))")
        )
        .alias("u"),
        F.when(F.col("rn") == F.col("rf"), 1).otherwise(0).alias("isf"),
        F.when(F.col("rn") == F.col("rl"), 1).otherwise(0).alias("isl"),
    )
    return (
        cr.groupBy("channel")
        .agg(
            F.sum("isf").alias("n_first"),
            F.sum("isl").alias("n_last"),
            F.sum(
                1
                - F.col("isf")
                - F.col("isl")
                + F.when((F.col("isf") == 1) & (F.col("isl") == 1), 1).otherwise(0)
            ).alias("n_mid"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        )
        .select(
            "channel",
            F.col("n_first").cast("long").alias("n_first"),
            F.col("n_last").cast("long").alias("n_last"),
            F.col("n_mid").cast("long").alias("n_mid"),
            (
                F.expr("(2*su + 1000000) div 2000000").cast("double")
                / 1_000_000
            ).alias("credit"),
        )
        .orderBy("channel")
    )


_FD_CANDIDATES: tuple[tuple[str, str, str, str], ...] = (
    ("customer.c_custkey->c_mktsegment", "customer", "c_custkey", "c_mktsegment"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("documents.doc_id->source", "documents", "doc_id", "source"),
    ("documents.source->lang", "documents", "source", "lang"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
)


@query(
    "q272_fd_audit",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{fd}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN cd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(cd) AS BIGINT) AS max_rhs,
           MAX(cd) = 1 AS holds
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS cd
          FROM {tbl} GROUP BY 1) s
    """
        for fd, tbl, lhs, rhs in _FD_CANDIDATES
    )
    + "\nORDER BY fd",
    tags=("profiling", "data-quality"),
)
def q272_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for a fixed candidate set of
    (lhs -> rhs) column pairs across the star schema, report how many
    lhs values exist, how many VIOLATE the dependency (more than one
    distinct rhs), and the worst fan-out — the schema-discovery /
    data-quality pass (q85's dq audit generalized to cross-column
    structure; profiling notebooks do this with pandas nunique).

    Scale plan (r8 verdict fix — was one scan PER CANDIDATE, 8 total):
    every table is scanned ONCE; a table's candidate FDs stack through
    one explode of (fd, lhs, rhs) structs, keeping NATIVE key types
    unless the stacked columns genuinely differ in type (only
    documents' long/string lhs mix needs a string cast — injective, so
    distinctness and NULL semantics are exact).  Each table then runs
    one (fd, lhs)-keyed countDistinct and a bounded (fd) rollup; the
    union of 1-row frames is free.  Measured honesty (r9 interleaved
    solo A/B at sf0.1, min of 3): 8-scan 2.46 s / per-table-stacked
    2.62 s / one-global-string-stack 2.85 s — locally the query was
    never rescan-bound (page-cached single-row-group parquet), so the
    verdict's ≥2× did not exist to be had; the per-table form is kept
    because at 100 TB the duplicate customer/documents scans are real
    I/O while its local delta is inside run noise, and the global
    string-stack form is strictly worse on both axes (one giant
    string-keyed shuffle serializes 5 tables' rows through one stage).
    Exactness: pure integer counts."""
    by_table: dict[str, list[tuple[str, str, str]]] = {}
    for fd, tbl, lhs, rhs in _FD_CANDIDATES:
        by_table.setdefault(tbl, []).append((fd, lhs, rhs))
    rollups = []
    for tbl, fds in sorted(by_table.items()):
        t = read_table(spark, sf_dir, tbl)
        if len(fds) == 1:
            fd, lhs, rhs = fds[0]
            s = t.select(
                F.lit(fd).alias("fd"),
                F.col(lhs).alias("lhs"),
                F.col(rhs).alias("rhs"),
            )
        else:
            lmix = len({t.schema[l].dataType for _, l, _ in fds}) > 1
            rmix = len({t.schema[r].dataType for *_, r in fds}) > 1

            def _k(col: str, mixed: bool) -> F.Column:
                return F.col(col).cast("string") if mixed else F.col(col)

            s = t.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(fd).alias("fd"),
                                _k(lhs, lmix).alias("lhs"),
                                _k(rhs, rmix).alias("rhs"),
                            )
                            for fd, lhs, rhs in fds
                        ]
                    )
                ).alias("x")
            ).select("x.fd", "x.lhs", "x.rhs")
        per = s.groupBy("fd", "lhs").agg(F.count_distinct(F.col("rhs")).alias("cd"))
        rollups.append(
            per.groupBy("fd").agg(
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                F.sum(F.when(F.col("cd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("cd").cast("long").alias("max_rhs"),
            )
        )
    out = rollups[0]
    for f in rollups[1:]:
        out = out.unionByName(f)
    return out.select(
        "fd",
        "n_lhs",
        "n_violating",
        "max_rhs",
        (F.col("max_rhs") == 1).alias("holds"),
    ).orderBy("fd")


@query(
    "q273_ccf_lead_lag",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    x AS (SELECT day, cnt AS xc FROM d WHERE event_type = 'view'),
    y AS (SELECT day, cnt AS yc FROM d WHERE event_type = 'purchase'),
    pair AS (
      SELECT u.k, x.xc, y.yc
      FROM x, unnest(generate_series(-7, 7)) AS u(k)
      JOIN y ON y.day = x.day + CAST(u.k AS INT)
    ),
    s AS (
      SELECT k, COUNT(*) AS n,
             SUM(CAST(xc AS HUGEINT)) AS sx, SUM(CAST(yc AS HUGEINT)) AS sy,
             SUM(CAST(xc AS HUGEINT)*yc) AS sxy,
             SUM(CAST(xc AS HUGEINT)*xc) AS sxx,
             SUM(CAST(yc AS HUGEINT)*yc) AS syy
      FROM pair GROUP BY 1
    )
    SELECT CAST(k AS INT) AS lag_days, CAST(n AS BIGINT) AS n_days,
           CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN NULL
                ELSE round(CAST(n*sxy - sx*sy AS DOUBLE)
                     / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
                            * CAST(n*syy - sy*sy AS DOUBLE)), 6) END
             AS ccf
    FROM s ORDER BY lag_days
    """,
    tags=("timeseries", "correlation"),
)
def q273_ccf_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the daily 'view' and
    'purchase' series at lags −7..+7 — the two-series lead-lag
    companion of the autocorrelation query (q241): a positive peak at
    k>0 means views LEAD purchases by k days.

    Scale plan: reuses the memoized per-day count grid (_day_grid —
    calendar-bounded); the 15 lags ride ONE explode + equi-join on the
    shifted day (the q241 design — never a range/nested-loop join);
    per-lag Pearson terms are exact integer sufficient statistics
    (DECIMAL(38,0)/HUGEINT products).  Exactness: numerator/denominator
    are exact integers; the only doubles are one correctly-rounded
    int→double conversion each, sqrt (correctly rounded by IEEE), one
    division, and the 6-dp round of an irrational — safe."""
    from .analytics2 import _day_grid

    d = _day_grid(spark, sf_dir)
    x = d.where(F.col("event_type") == "view").select(
        "day", F.col("cnt").alias("xc")
    )
    y = d.where(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("cnt").alias("yc")
    )
    pair = (
        x.select(
            "day", "xc", F.explode(F.sequence(F.lit(-7), F.lit(7))).alias("k")
        )
        .join(y, F.col("yday") == F.date_add(F.col("day"), F.col("k")))
        .select("k", "xc", "yc")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pair.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("xc")).alias("sx"),
        F.sum(dec("yc")).alias("sy"),
        F.sum(dec("xc") * F.col("yc")).alias("sxy"),
        F.sum(dec("xc") * F.col("xc")).alias("sxx"),
        F.sum(dec("yc") * F.col("yc")).alias("syy"),
    )
    return s.select(
        F.col("k").cast("int").alias("lag_days"),
        F.col("n").cast("long").alias("n_days"),
        F.when(
            (F.expr("n*sxx - sx*sx") == 0) | (F.expr("n*syy - sy*sy") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.expr("CAST(n*sxy - sx*sy AS DOUBLE)")
                / F.sqrt(
                    F.expr("CAST(n*sxx - sx*sx AS DOUBLE)")
                    * F.expr("CAST(n*syy - sy*sy AS DOUBLE)")
                ),
                6,
            )
        )
        .alias("ccf"),
    ).orderBy("lag_days")


@query(
    "q274_decayed_leaderboard",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    h AS (SELECT MAX(day) AS dmax FROM d),
    u AS (
      SELECT event_type,
             CAST(cnt AS HUGEINT)
               * (CAST(1 AS HUGEINT) << (45 - date_diff('day', day, h.dmax)))
               AS units
      FROM d, h WHERE date_diff('day', day, h.dmax) <= 45
    ),
    tot AS (
      SELECT event_type, COUNT(*) AS n_days, SUM(cnt) AS raw_total
      FROM d GROUP BY 1
    )
    SELECT t.event_type,
           CAST(t.n_days AS BIGINT) AS n_days,
           CAST(t.raw_total AS BIGINT) AS raw_total,
           CAST(COALESCE(s.su, 0) AS DOUBLE) / 35184372088832.0
             AS decayed_count
    FROM tot t
    LEFT JOIN (SELECT event_type, SUM(units) AS su FROM u GROUP BY 1) s
      USING (event_type)
    ORDER BY decayed_count DESC, event_type
    """,
    tags=("timeseries", "decay", "leaderboard"),
)
def q274_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed activity leaderboard: each event type's
    daily counts decay with a one-day half-life (weight 2^-age), summed
    over the trailing 45 days — the freshness-weighted ranking a
    trending/leaderboard service maintains, expressed as a mergeable
    aggregate (per-day partial sums merge by addition, so the sketch is
    incrementally maintainable like the bitmap index q270).

    Exactness trick: a dyadic decay (half-life = 1 day) makes every
    weight an exact power of two, so contributions are EXACT INTEGERS
    in units of 2^-45 (cnt << (45 - age)); ages beyond 45 days
    contribute less than one unit and are truncated by construction —
    no float ever enters the aggregation, and the final value is one
    correctly-rounded int→double conversion divided by exact 2^45.
    Scale plan: reuses the memoized day grid (bounded, calendar x 5
    types); everything is one tiny rollup."""
    from .analytics2 import _day_grid

    d = _day_grid(spark, sf_dir)
    h = d.agg(F.max("day").alias("dmax"))
    u = (
        d.crossJoin(F.broadcast(h))
        .withColumn("age", F.datediff("dmax", "day"))
        .where(F.col("age") <= 45)
        .select(
            "event_type",
            (
                F.col("cnt").cast("decimal(38,0)")
                * F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT), 45 - age)"
                    " AS DECIMAL(38,0))"
                )
            ).alias("units"),
        )
    )
    su = u.groupBy("event_type").agg(F.sum("units").alias("su"))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cnt").alias("raw_total")
    )
    return (
        tot.join(su, "event_type", "left")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("raw_total").cast("long").alias("raw_total"),
            (
                F.coalesce(F.col("su"), F.lit(0)).cast("double")
                / F.lit(35184372088832.0)
            ).alias("decayed_count"),
        )
        .orderBy(F.col("decayed_count").desc(), "event_type")
    )


@query(
    "q275_mlm_masking_plan",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, source, i, t[i] AS w
      FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
    ),
    hh AS (
      SELECT source, w,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM pos
    ),
    voc AS (
      SELECT w AS vw, ROW_NUMBER() OVER (ORDER BY w) AS vid
      FROM (SELECT DISTINCT w FROM pos)
    ),
    nv AS (SELECT COUNT(*) AS V FROM voc),
    tt AS (
      SELECT source, w,
             h % 100 < 15 AS masked,
             (h // 100) % 10 AS act,
             (h // 1000) % nv.V + 1 AS ridx
      FROM hh, nv
    ),
    j AS (
      SELECT tt.*, voc.vw AS rw FROM tt LEFT JOIN voc ON voc.vid = tt.ridx
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked,
           CAST(SUM(CASE WHEN masked AND act <= 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mask_tok,
           CAST(SUM(CASE WHEN masked AND act = 8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_random,
           CAST(SUM(CASE WHEN masked AND act = 9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN masked AND act = 8 AND rw = w
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_random_identity,
           {rate} AS mask_rate
    FROM j GROUP BY 1 ORDER BY 1
    """.format(
        rate=_ha6_sql(
            "SUM(CASE WHEN masked THEN 1 ELSE 0 END)", "COUNT(*)"
        )
    ),
    tags=("training-data", "masking", "determinism"),
)
def q275_mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MLM masking plan audit: select 15% of token
    positions by a stable md5 draw on (doc_id, position), split the
    selected set 80/10/10 into [MASK] / random-replacement / keep (the
    BERT recipe), draw each replacement deterministically from the
    corpus vocabulary, and report the per-source action counts and
    mask rate — the reproducible-masking pass a training-data pipeline
    runs so that a re-run (or an audit) sees the identical plan.

    Scale plan: the position explode is the corpus-scale work (one
    projection, no shuffle until the per-source rollup); the
    vocabulary is a bounded aggregate (31-word template corpus — the
    q78 AGG_INPUT_OK class) whose index assignment is one tiny window,
    then a broadcast join serves replacements.  Exactness: all
    selection arithmetic is integer md5 bits (h%100 for the 15% gate,
    digit 3 for the 80/10/10 split, higher digits for the replacement
    index) — no floats anywhere; the mask rate is a half-away 6-dp
    rational.

    Grid budget: h is a bounded md5 slice (< 2^48); div/% only shrink it."""
    from pyspark.sql.window import Window
    from ..functions.text import tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        "source",
        F.posexplode(tok_expr(F.col("text"))).alias("i0", "w"),
    ).withColumn("i", F.col("i0") + 1)
    hh = pos.select(
        "source",
        "w",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.col("i"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    vocab = pos.select("w").distinct()
    # bounded vocabulary table (q78 class): one tiny global window
    voc = vocab.withColumn(
        "vid", F.row_number().over(Window.orderBy("w"))
    ).select(F.col("w").alias("rw"), "vid")
    nv = voc.agg(F.count(F.lit(1)).alias("V"))
    tt = hh.crossJoin(F.broadcast(nv)).select(
        "source",
        "w",
        (F.col("h") % 100 < 15).alias("masked"),
        F.expr("(h div 100) % 10").alias("act"),
        F.expr("(h div 1000) % V + 1").alias("ridx"),
    )
    j = tt.join(F.broadcast(voc), tt.ridx == voc.vid, "left")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("masked"), 1).otherwise(0)).alias("n_masked"),
            F.sum(
                F.when(F.col("masked") & (F.col("act") <= 7), 1).otherwise(0)
            ).alias("n_mask_tok"),
            F.sum(
                F.when(F.col("masked") & (F.col("act") == 8), 1).otherwise(0)
            ).alias("n_random"),
            F.sum(
                F.when(F.col("masked") & (F.col("act") == 9), 1).otherwise(0)
            ).alias("n_keep"),
            F.sum(
                F.when(
                    F.col("masked")
                    & (F.col("act") == 8)
                    & (F.col("rw") == F.col("w")),
                    1,
                ).otherwise(0)
            ).alias("n_random_identity"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_masked").cast("long").alias("n_masked"),
            F.col("n_mask_tok").cast("long").alias("n_mask_tok"),
            F.col("n_random").cast("long").alias("n_random"),
            F.col("n_keep").cast("long").alias("n_keep"),
            F.col("n_random_identity").cast("long").alias("n_random_identity"),
            _ha6("n_masked", "n_tokens").alias("mask_rate"),
        )
        .orderBy("source")
    )


@query(
    "q276_textrank_keywords",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i, t[i] AS w
      FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
    ),
    fw AS (
      SELECT a.w AS u, b.w AS v, COUNT(*) AS c
      FROM pos a JOIN pos b
        ON b.doc_id = a.doc_id AND (b.i = a.i + 1 OR b.i = a.i + 2)
      GROUP BY 1, 2
    ),
    ed AS MATERIALIZED (
      SELECT u, v, SUM(c) AS w FROM (
        SELECT u, v, c FROM fw
        UNION ALL SELECT v AS u, u AS v, c FROM fw
      ) GROUP BY 1, 2
    ),
    dg AS MATERIALIZED (
      SELECT u, SUM(w) AS du, COUNT(*) AS n_neighbors FROM ed GROUP BY 1
    ),
    e2 AS MATERIALIZED (
      SELECT e.u, e.v, e.w, d.du FROM ed e JOIN dg d USING (u)
    ),
    r0 AS MATERIALIZED (
      SELECT u AS nd, CAST(1000000000000 AS HUGEINT) AS r FROM dg
    ),
    it1 AS MATERIALIZED (
      SELECT e.v AS nd, 150000000000
             + (2*17*SUM((2*e.w*r.r + e.du) // (2*e.du)) + 20) // 40 AS r
      FROM e2 e JOIN r0 r ON r.nd = e.u GROUP BY e.v
    ),
    it2 AS MATERIALIZED (
      SELECT e.v AS nd, 150000000000
             + (2*17*SUM((2*e.w*r.r + e.du) // (2*e.du)) + 20) // 40 AS r
      FROM e2 e JOIN it1 r ON r.nd = e.u GROUP BY e.v
    ),
    it3 AS MATERIALIZED (
      SELECT e.v AS nd, 150000000000
             + (2*17*SUM((2*e.w*r.r + e.du) // (2*e.du)) + 20) // 40 AS r
      FROM e2 e JOIN it2 r ON r.nd = e.u GROUP BY e.v
    ),
    it4 AS MATERIALIZED (
      SELECT e.v AS nd, 150000000000
             + (2*17*SUM((2*e.w*r.r + e.du) // (2*e.du)) + 20) // 40 AS r
      FROM e2 e JOIN it3 r ON r.nd = e.u GROUP BY e.v
    ),
    it5 AS MATERIALIZED (
      SELECT e.v AS nd, 150000000000
             + (2*17*SUM((2*e.w*r.r + e.du) // (2*e.du)) + 20) // 40 AS r
      FROM e2 e JOIN it4 r ON r.nd = e.u GROUP BY e.v
    )
    SELECT i.nd AS word,
           CAST((2*i.r + 1000000) // 2000000 AS DOUBLE) / 1000000 AS score,
           CAST(d.du AS BIGINT) AS wdeg,
           CAST(d.n_neighbors AS BIGINT) AS n_neighbors
    FROM it5 i JOIN dg d ON d.u = i.nd
    ORDER BY score DESC, word
    """,
    tags=("text-mining", "graph", "kernel"),
)
def q276_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores: damped PageRank (d=0.85, 5 iterations)
    over the word co-occurrence graph (window ±2 positions within a
    document) — the graph-centrality member of the keyword family next
    to RAKE (q243) and PMI collocations (q170/q237).

    Scale plan: corpus-scale work is the co-occurrence count — built
    from shifted-array zips (the shingles machinery: one slice+zip per
    document, never a positional self-join) and two hash aggregations;
    the ITERATION runs on the bounded vocabulary graph in ONE
    mapInPandas task (operators/textrank — the q223 bounded-state rule:
    ~10 scheduled shuffle rounds for a one-Arrow-batch table is the
    wrong physical plan; the oracle joins positions because DuckDB has
    no cheap zip-shift, same counts either way).  Exactness: ranks are
    exact 1e-12-unit integers; every per-iteration step is half-away
    integer division — Python big-ints vs HUGEINT, bit-identical; the
    unrolled MATERIALIZED recursive oracle (q255 discipline) pins all
    five iterations."""
    from ..functions.text import tokens as tok_expr
    from ..operators.textrank import textrank_scores

    docs = read_table(spark, sf_dir, "documents")
    # ONE scan / ONE tokenize for both window offsets (r12): the old
    # form built shingle STRINGS (concat_ws) in two separate document
    # scans only to split them back into pairs — pure waste both ways.
    # zip each token array with its d-shifted copy (the shingles
    # machinery minus the string round-trip); arrays_zip over two
    # function-call args names fields '0'/'1'; both zips share the
    # element type so their concat explodes in one pass.  Pair multiset
    # identical: tokens contain no spaces (split on ' '), so
    # concat_ws+split was lossless.
    base = docs.select(tok_expr(F.col("text")).alias("w"))

    def _zp(d: int) -> str:
        ln = f"greatest(size(w) - {d}, 0)"
        return f"arrays_zip(slice(w, 1, {ln}), slice(w, {d + 1}, {ln}))"

    fw = (
        base.select(
            F.explode(F.expr(f"concat({_zp(1)}, {_zp(2)})")).alias("x")
        )
        .select(F.col("x.0").alias("u"), F.col("x.1").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ed = (
        fw.select("u", "v", "c")
        .unionAll(
            fw.select(
                F.col("v").alias("u"), F.col("u").alias("v"), F.col("c")
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("c").alias("w"))
    )
    dg = ed.groupBy("u").agg(
        F.sum("w").alias("du"), F.count(F.lit(1)).alias("n_neighbors")
    ).localCheckpoint(eager=True)  # feeds the kernel join AND the output join
    e2 = ed.join(F.broadcast(dg.select("u", "du")), "u")
    ranked = textrank_scores(e2, iterations=5)
    return (
        ranked.join(
            F.broadcast(
                dg.select(F.col("u").alias("word"), "du", "n_neighbors")
            ),
            "word",
        )
        .select(
            "word",
            (
                F.expr("(2*r_units + 1000000) div 2000000").cast("double")
                / 1_000_000
            ).alias("score"),
            F.col("du").cast("long").alias("wdeg"),
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
        )
        .orderBy(F.col("score").desc(), "word")
    )


@query(
    "q277_holt_winters",
    oracle="""
    WITH RECURSIVE cnt AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1
    ),
    spine AS MATERIALIZED (
      SELECT unnest(generate_series((SELECT MIN(day) FROM cnt),
                                    (SELECT MAX(day) FROM cnt),
                                    INTERVAL 1 DAY)) AS day
    ),
    xs AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY s.day) AS idx,
             CAST(COALESCE(c.c, 0) AS DOUBLE) AS x
      FROM spine s LEFT JOIN cnt c ON c.day = CAST(s.day AS DATE)
    ),
    nn AS (SELECT MAX(idx) AS n FROM xs),
    init AS (
      SELECT SUM(CASE WHEN idx <= 7 THEN x ELSE 0 END) / 7 AS l0,
             (SUM(CASE WHEN idx BETWEEN 8 AND 14 THEN x ELSE 0 END)
              - SUM(CASE WHEN idx <= 7 THEN x ELSE 0 END)) / 49 AS b0,
             MAX(CASE WHEN idx = 1 THEN x END) AS x1,
             MAX(CASE WHEN idx = 2 THEN x END) AS x2,
             MAX(CASE WHEN idx = 3 THEN x END) AS x3,
             MAX(CASE WHEN idx = 4 THEN x END) AS x4,
             MAX(CASE WHEN idx = 5 THEN x END) AS x5,
             MAX(CASE WHEN idx = 6 THEN x END) AS x6,
             MAX(CASE WHEN idx = 7 THEN x END) AS x7
      FROM xs WHERE idx <= 14
    ),
    walk AS (
      SELECT 7 AS t, l0 AS l, b0 AS b,
             x1 - l0 AS s1, x2 - l0 AS s2, x3 - l0 AS s3, x4 - l0 AS s4,
             x5 - l0 AS s5, x6 - l0 AS s6, x7 - l0 AS s7
      FROM init
      UNION ALL
      SELECT w.t + 1,
             0.5*(d.x - w.s1) + 0.5*(w.l + w.b),
             0.5*((0.5*(d.x - w.s1) + 0.5*(w.l + w.b)) - w.l) + 0.5*w.b,
             w.s2, w.s3, w.s4, w.s5, w.s6, w.s7,
             0.5*(d.x - (0.5*(d.x - w.s1) + 0.5*(w.l + w.b))) + 0.5*w.s1
      FROM walk w JOIN xs d ON d.idx = w.t + 1
    ),
    fin AS (SELECT w.* FROM walk w, nn WHERE w.t = nn.n)
    SELECT CAST(u.h AS INT) AS horizon,
           CAST(nn.n AS BIGINT) AS n_days,
           round(f.l, 6) AS level,
           round(f.b, 6) AS trend,
           round(CASE CAST(u.h AS INT) WHEN 1 THEN f.s1 WHEN 2 THEN f.s2
                 WHEN 3 THEN f.s3 WHEN 4 THEN f.s4 WHEN 5 THEN f.s5
                 WHEN 6 THEN f.s6 WHEN 7 THEN f.s7 END, 6) AS seasonal,
           round(f.l + u.h*f.b
                 + CASE CAST(u.h AS INT) WHEN 1 THEN f.s1 WHEN 2 THEN f.s2
                   WHEN 3 THEN f.s3 WHEN 4 THEN f.s4 WHEN 5 THEN f.s5
                   WHEN 6 THEN f.s6 WHEN 7 THEN f.s7 END, 6) AS forecast
    FROM fin f, nn, unnest(generate_series(1, 7)) AS u(h)
    ORDER BY horizon
    """,
    tags=("timeseries", "forecast", "kernel", "recursive"),
)
def q277_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast (α = β = γ = 1/2, weekly season)
    of the dense daily event series, 7-day fan — the seasonal extension
    of Holt (q248), completing the exponential-smoothing family.

    Scale plan: identical to q248 — corpus-scale work is one daily
    groupBy plus a calendar-spine gap fill (q154's shape: missing days
    count 0 so the weekly phase stays aligned); the 3-component
    recurrence is bounded state walked in ONE mapInPandas task
    (operators/forecast.holt_winters_forecast) — Spark recursion would
    schedule one join round per DAY (the measured q248 trap).
    Exactness: daily counts are integers, so the init means are
    exact-sum divisions; all smoothing weights are dyadic, so every
    step is an identical IEEE expression tree in both engines (l_new
    spelled inline in the oracle exactly as the kernel computes it) —
    bit-identical trajectories, final plain round(,6) on identical
    doubles."""
    from ..operators.forecast import holt_winters_forecast

    ev = read_table(spark, sf_dir, "events")
    cnt = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    bounds = cnt.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day")
    )
    daily = spine.join(cnt, "day", "left").select(
        "day", F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("x")
    )
    out = holt_winters_forecast(daily, order_col="day", value_col="x")
    return out.select(
        "horizon",
        "n_days",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("forecast", 6).alias("forecast"),
    ).orderBy("horizon")


@query(
    "q278_conversion_latency",
    oracle="""
    WITH pe AS (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    f AS (
      SELECT user_id, event_type AS channel, ts AS fts FROM pe WHERE rn = 1
    ),
    p AS (
      SELECT user_id, MIN(ts) AS pts FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    lat AS (
      SELECT f.channel,
             CAST((epoch_us(p.pts) - epoch_us(f.fts)) // 1000000
                  AS DOUBLE) AS lat_s
      FROM f JOIN p USING (user_id) WHERE p.pts > f.fts
    )
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_users,
           round(CAST(percentile_cont(0.5)
                 WITHIN GROUP (ORDER BY lat_s) AS DOUBLE), 6) AS p50_s,
           round(CAST(percentile_cont(0.9)
                 WITHIN GROUP (ORDER BY lat_s) AS DOUBLE), 6) AS p90_s
    FROM lat GROUP BY channel ORDER BY channel
    """,
    tags=("attribution", "percentile", "kernel"),
)
def q278_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per first-touch channel: for every
    user whose journey starts with a non-purchase event and later
    purchases, the latency from first touch to first purchase, reported
    as per-channel count / median / p90 — the funnel-latency companion
    of the attribution family (q218/q236/q271) and survival curves
    (q210/q268).

    Scale plan: first touch is a user-keyed min(struct) aggregation
    (no per-user window), first purchase a filtered min; latencies are
    exact integer seconds (micros difference, integer division); the
    per-channel quantiles run through the distributed range-partition
    selection kernel (operators/quantiles.exact_quantiles) — never the
    in-memory percentile buffer.  Exactness: integer-valued doubles
    interpolate identically in both engines (the q61 discipline).

    Grid budget: microsecond spans div 1e6 - any calendar span fits int64 (~292k years)."""
    from ..operators.quantiles import exact_quantiles

    ev = read_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("f")
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    lat = (
        first.join(purch, "user_id")
        .where(F.col("pts") > F.col("f.ts"))
        .select(
            F.col("f.event_type").alias("channel"),
            F.expr(
                "CAST((unix_micros(pts) - unix_micros(f.ts)) div 1000000"
                " AS DOUBLE)"
            ).alias("lat_s"),
        )
    )
    qs = exact_quantiles(
        lat, "lat_s", {"p50_s": 0.5, "p90_s": 0.9}, ["channel"]
    )
    n = lat.groupBy("channel").agg(F.count(F.lit(1)).alias("n_users"))
    return (
        n.join(F.broadcast(qs), "channel")
        .select(
            "channel",
            F.col("n_users").cast("long").alias("n_users"),
            F.round("p50_s", 6).alias("p50_s"),
            F.round("p90_s", 6).alias("p90_s"),
        )
        .orderBy("channel")
    )


@query(
    "q279_token_budget_allocation",
    oracle="""
    WITH t AS MATERIALIZED (
      SELECT source,
             SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
               AS tok
      FROM documents GROUP BY 1
    ),
    k AS (SELECT COUNT(*) AS k, SUM(tok) AS tt FROM t),
    b AS (SELECT (6 * tt) // 10 AS budget, k FROM k),
    r AS MATERIALIZED (
      SELECT source, tok, 2 * tok AS cap,
             ROW_NUMBER() OVER (ORDER BY 2 * tok, source) AS j,
             SUM(2 * tok) OVER (ORDER BY 2 * tok, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sj
      FROM t
    ),
    m AS (
      SELECT COUNT(CASE WHEN b.budget - (r.sj - r.cap)
                             >= r.cap * (b.k - r.j + 1) THEN 1 END) AS m
      FROM r, b
    ),
    lam AS (
      SELECT b.budget
             - COALESCE((SELECT MAX(sj) FROM r, m WHERE r.j = m.m), 0)
               AS lnum,
             b.k - m.m AS lden
      FROM b, m
    )
    SELECT r.source, CAST(r.tok AS BIGINT) AS tokens,
           CAST(r.cap AS BIGINT) AS cap,
           r.j <= m.m AS saturated,
           CASE WHEN r.j <= m.m THEN CAST(r.cap AS DOUBLE)
                ELSE {lam6} END AS allocation,
           CASE WHEN r.j <= m.m THEN 2.0
                ELSE {ep6} END AS epochs
    FROM r, m, lam ORDER BY r.source
    """.format(
        lam6=_ha6_sql("lam.lnum", "lam.lden"),
        ep6=_ha6_sql("lam.lnum", "lam.lden * r.tok"),
    ),
    tags=("training-data", "mixture", "planning"),
)
def q279_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling: allocate a training budget of 60% of
    the corpus across sources, each capped at 2 epochs of its own
    tokens — equal-level filling (every unsaturated source gets the
    same token count λ) with exact saturation order — the mixture
    PLANNER that complements the mixture SAMPLERS (q108/q142): it
    decides how much of each source to draw before sampling draws it.

    Scale plan: corpus-scale work is one per-source token-count
    aggregation; the water-fill runs on the bounded per-source table
    (5 rows — the q78 AGG_INPUT_OK class) with prefix sums over sorted
    caps; saturation count m and the water level λ = (B − S_m)/(k−m)
    are decided by exact integer comparisons (B − S_{j−1} ≥
    cap_j·(k−j+1) — cross-multiplied, never a float test, the q172
    rule).  Exactness: budget = 6·ΣT div 10 exact; allocations are
    half-away 6-dp integer rationals; saturated rows report exact
    cap/2.0."""
    from pyspark.sql.window import Window
    from ..functions.text import tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(tok_expr(F.col("text")))).alias("tok")
    )
    k = t.agg(F.count(F.lit(1)).alias("k"), F.sum("tok").alias("tt"))
    b = k.select(F.expr("(6 * tt) div 10").alias("budget"), "k")
    # bounded per-source table (q78 class): tiny global windows
    wj = Window.orderBy(F.expr("2 * tok"), F.col("source"))
    r = t.select(
        "source",
        "tok",
        (2 * F.col("tok")).alias("cap"),
        F.row_number().over(wj).alias("j"),
        F.sum(2 * F.col("tok"))
        .over(wj.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sj"),
    ).crossJoin(F.broadcast(b))
    m = r.agg(
        F.count(
            F.when(
                F.col("budget") - (F.col("sj") - F.col("cap"))
                >= F.col("cap") * (F.col("k") - F.col("j") + 1),
                1,
            )
        ).alias("m")
    )
    sm = (
        r.join(F.broadcast(m), F.col("j") == F.col("m"))
        .agg(F.max("sj").alias("smax"))
    )
    lam = (
        b.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(sm))
        .select(
            (F.col("budget") - F.coalesce(F.col("smax"), F.lit(0))).alias(
                "lnum"
            ),
            (F.col("k") - F.col("m")).alias("lden"),
        )
    )
    return (
        r.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(lam))
        .select(
            "source",
            F.col("tok").cast("long").alias("tokens"),
            F.col("cap").cast("long").alias("cap"),
            (F.col("j") <= F.col("m")).alias("saturated"),
            F.when(
                F.col("j") <= F.col("m"), F.col("cap").cast("double")
            )
            .otherwise(_ha6("lnum", "lden"))
            .alias("allocation"),
            F.when(F.col("j") <= F.col("m"), F.lit(2.0))
            .otherwise(_ha6("lnum", "lden * tok"))
            .alias("epochs"),
        )
        .orderBy("source")
    )


@query(
    "q280_feature_hashing_audit",
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
    dfr AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY 1
    ),
    bk AS (
      SELECT CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256
               AS bucket,
             token, df
      FROM dfr
    ),
    per AS (
      SELECT bucket, COUNT(*) AS load, SUM(df) AS mass FROM bk GROUP BY 1
    )
    SELECT CAST(load AS BIGINT) AS load,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(load) AS BIGINT) AS n_tokens,
           CAST(SUM(mass) AS BIGINT) AS doc_freq_mass
    FROM per GROUP BY 1 ORDER BY 1
    """,
    tags=("ml-features", "hashing", "audit"),
)
def q280_feature_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: hash every
    3-shingle term into 256 buckets by a stable md5 and report the
    bucket-load distribution (how many buckets carry 1, 2, ... terms)
    with the document-frequency mass riding each load class — the
    audit an ML pipeline runs before committing to a hashed feature
    space, quantifying how much signal collides.

    Scale plan: reuses the memoized retrieval index's df table (one
    tokenize pass shared with q263/q267); the audit itself is two
    bounded hash aggregations (256 buckets → ≤256 load classes).
    Exactness: md5 bucket assignment and counts are pure integers."""
    from .analytics3 import _bm25_index

    _post, _dl, _st, dfr = _bm25_index(spark, sf_dir)
    bk = dfr.select(
        (
            F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast(
                "long"
            )
            % 256
        ).alias("bucket"),
        "df",
    )
    per = bk.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("load"), F.sum("df").alias("mass")
    )
    return (
        per.groupBy("load")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("load").alias("n_tokens"),
            F.sum("mass").alias("doc_freq_mass"),
        )
        .select(
            F.col("load").cast("long").alias("load"),
            F.col("n_buckets").cast("long").alias("n_buckets"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("doc_freq_mass").cast("long").alias("doc_freq_mass"),
        )
        .orderBy("load")
    )


@query(
    "q281_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(t)-1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS token
      FROM toks
    ),
    post AS (
      SELECT token, doc_id, MIN(source) AS source FROM grams GROUP BY 1, 2
    ),
    fo AS (SELECT token, MIN(doc_id) AS first_doc FROM post GROUP BY 1)
    SELECT p.source,
           CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_shingle_slots,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_slots,
           {nov} AS novelty_rate
    FROM post p JOIN fo f USING (token)
    GROUP BY 1 ORDER BY 1
    """.format(
        nov=_ha6_sql(
            "SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)",
            "COUNT(*)",
        )
    ),
    tags=("training-data", "novelty", "dedup"),
)
def q281_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty per source: for every (document, distinct
    3-shingle) slot, the shingle is NOVEL if this document is its first
    occurrence (minimum doc_id over the corpus) — the novelty/redundancy
    score an LLM-data pipeline uses to rank sources by how much new
    text they contribute beyond what earlier documents already cover
    (the aggregate view of the q139/q140 span machinery).

    Scale plan: reuses the memoized posting table (token, doc_id) —
    first occurrence is ONE token-keyed aggregation joined back
    token-keyed; the rollup is per-source.  Exactness: integer counts;
    novelty rate is a half-away 6-dp rational."""
    from .analytics3 import _bm25_index

    post, _dl, _st, _dfr = _bm25_index(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    fo = post.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    j = post.join(fo, "token").join(docs, "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_shingle_slots"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel_slots"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_shingle_slots").cast("long").alias("n_shingle_slots"),
            F.col("novel_slots").cast("long").alias("novel_slots"),
            _ha6("novel_slots", "n_shingle_slots").alias("novelty_rate"),
        )
        .orderBy("source")
    )


@query(
    "q282_lexical_diversity",
    oracle="""
    WITH w AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS tok
      FROM documents
    ),
    c AS (SELECT source, tok, COUNT(*) AS n FROM w GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           {ttr} AS type_token_ratio,
           {simpson} AS simpson_index
    FROM c GROUP BY 1 ORDER BY 1
    """.format(
        ttr=_ha6_sql("COUNT(*)", "SUM(n)"),
        simpson=_ha6_sql(
            "SUM(CAST(n AS HUGEINT)*(n-1))",
            "SUM(CAST(n AS HUGEINT)) * (SUM(CAST(n AS HUGEINT)) - 1)",
        ),
    ),
    tags=("text-mining", "diversity"),
)
def q282_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity profile per source: token count, vocabulary
    size, hapax legomena, type-token ratio and Simpson's repeat index
    λ = Σ n_w(n_w−1) / (N(N−1)) — the diversity corner of the
    text-statistics family next to entropy (q257) and Zipf (q242);
    a template corpus shows its degeneracy as near-zero TTR.

    Scale plan: one (source, token) hash aggregation then a bounded
    per-source rollup — map-side combinable end to end.  Exactness:
    all statistics are exact integer rationals (DECIMAL(38,0)/HUGEINT
    for the n² terms), reported as half-away 6-dp."""
    from ..functions.text import tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(tok_expr(F.col("text"))).alias("tok")
    )
    c = w.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    dec = "CAST(n AS DECIMAL(38,0))"
    return (
        c.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum(F.expr(f"{dec}*(n-1)")).alias("rep"),
            F.sum(F.expr(dec)).alias("nn"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("n_hapax").cast("long").alias("n_hapax"),
            _ha6("n_types", "n_tokens").alias("type_token_ratio"),
            _ha6("rep", "nn * (nn - 1)").alias("simpson_index"),
        )
        .orderBy("source")
    )


@query(
    "q283_interarrival_cv",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS gap
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(gap AS HUGEINT)) AS sg,
             SUM(CAST(gap AS HUGEINT)*gap) AS sgg
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           {mean} AS mean_gap_s,
           round(sqrt(CAST(n*sgg - sg*sg AS DOUBLE)) / CAST(sg AS DOUBLE), 6)
             AS cv
    FROM s WHERE n >= 2 ORDER BY event_type
    """.format(mean=_ha6_sql("sg", "n * 1000000")),
    tags=("timeseries", "dispersion", "sessions"),
)
def q283_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness at EVENT granularity: per event type,
    the coefficient of variation of the gaps between a user's
    consecutive events of that type (CV = 1 for a Poisson process,
    > 1 bursty) — the micro-scale twin of the daily Fano factor (q264).

    Scale plan: the lag runs under a HIGH-CARDINALITY (user_id,
    event_type) window (audit-safe by key cardinality); everything
    after is one sufficient-statistic aggregation.  Exactness: gaps
    are exact integer microseconds; CV collapses to
    sqrt(n·Σg² − (Σg)²) / Σg — one integer sqrt and one division on
    exact inputs, 6-dp round of an irrational (safe); the mean gap is
    a half-away rational in seconds."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    s = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gap").cast("decimal(38,0)")).alias("sg"),
        F.sum(F.expr("CAST(gap AS DECIMAL(38,0)) * gap")).alias("sgg"),
    )
    return (
        s.where(F.col("n") >= 2)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_gaps"),
            _ha6("sg", "n * 1000000").alias("mean_gap_s"),
            F.round(
                F.sqrt(F.expr("CAST(n*sgg - sg*sg AS DOUBLE)"))
                / F.expr("CAST(sg AS DOUBLE)"),
                6,
            ).alias("cv"),
        )
        .orderBy("event_type")
    )


@query(
    "q284_weekly_seasonality_strength",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    pd AS (
      SELECT event_type, dayofweek(day) AS dow, COUNT(*) AS nd,
             SUM(CAST(c AS HUGEINT)) AS sd
      FROM d GROUP BY 1, 2
    ),
    pt AS (
      SELECT event_type, COUNT(*) AS n, SUM(CAST(c AS HUGEINT)) AS s,
             SUM(CAST(c AS HUGEINT)*c) AS q
      FROM d GROUP BY 1
    ),
    sb AS (
      SELECT event_type,
             SUM((2*sd*sd*1000000 + nd) // (2*CAST(nd AS HUGEINT))) AS ssd_u
      FROM pd GROUP BY 1
    )
    SELECT pt.event_type,
           CAST(pt.n AS BIGINT) AS n_days,
           CAST((2*(sb.ssd_u - (2*pt.s*pt.s*1000000 + pt.n)
                              // (2*CAST(pt.n AS HUGEINT)))*1000000
                 + (pt.q*1000000 - (2*pt.s*pt.s*1000000 + pt.n)
                                   // (2*CAST(pt.n AS HUGEINT))))
                // (2*(pt.q*1000000 - (2*pt.s*pt.s*1000000 + pt.n)
                                      // (2*CAST(pt.n AS HUGEINT))))
                AS DOUBLE) / 1000000 AS seasonality_r2
    FROM pt JOIN sb USING (event_type)
    ORDER BY pt.event_type
    """,
    tags=("timeseries", "seasonality"),
)
def q284_weekly_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly seasonality strength per event type: the share of daily-
    count variance explained by day-of-week means, R² = SSB/SST (the
    one-way-ANOVA decomposition of q238 applied with day-of-week as the
    group) — quantifies how much of q213's seasonal component is really
    there, per series.

    Scale plan: reuses the memoized day grid; per-(type, dow) and
    per-type sufficient statistics are two bounded aggregations.
    Exactness: counts are integers; every S²/n term becomes half-away
    integer 1e-6 units (the q238 form, HUGEINT/DECIMAL(38,0) widened
    because S²·1e6 exceeds int64), so SSB/SST is one final half-away
    6-dp integer rational.  Day-of-week INDICES differ between engines
    (Spark 1–7 vs DuckDB 0–6) but only the GROUPING matters — indices
    never reach the output."""
    from .analytics2 import _day_grid

    d = _day_grid(spark, sf_dir).withColumnRenamed("cnt", "c")
    pd_ = d.groupBy(
        "event_type", F.dayofweek("day").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sd"),
    )
    pt = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("q"),
    )
    sb = pd_.groupBy("event_type").agg(
        F.sum(
            F.expr(
                "CAST((2*sd*sd*1000000 + nd) div (2*CAST(nd AS DECIMAL(38,0)))"
                " AS DECIMAL(38,0))"
            )
        ).alias("ssd_u")
    )
    st = "(2*s*s*1000000 + n) div (2*CAST(n AS DECIMAL(38,0)))"
    return (
        pt.join(sb, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            (
                F.expr(
                    f"(2*(ssd_u - ({st}))*1000000 + (q*1000000 - ({st})))"
                    f" div (2*(q*1000000 - ({st})))"
                ).cast("double")
                / 1_000_000
            ).alias("seasonality_r2"),
        )
        .orderBy("event_type")
    )


@query(
    "q285_pareto_coverage",
    oracle="""
    WITH cr AS (
      SELECT o_custkey AS cust,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS revc
      FROM orders GROUP BY 1
    ),
    t AS (SELECT COUNT(*) AS n, SUM(CAST(revc AS HUGEINT)) AS tot FROM cr),
    r AS (
      SELECT cust, revc,
             ROW_NUMBER() OVER (ORDER BY revc DESC, cust) AS rn,
             SUM(revc) OVER (ORDER BY revc DESC, cust
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cr
    )
    SELECT CAST(t.n AS BIGINT) AS n_customers,
           CAST(COUNT(CASE WHEN (r.cum - r.revc)*10 < t.tot*8 THEN 1 END)
                AS BIGINT) AS n_for_80pct,
           CAST((2*COUNT(CASE WHEN (r.cum - r.revc)*10 < t.tot*8
                              THEN 1 END)*1000000 + t.n) // (2*t.n)
                AS DOUBLE) / 1000000 AS share_for_80pct,
           CAST((2*SUM(CASE WHEN r.rn*100 <= t.n THEN CAST(r.revc AS HUGEINT)
                            ELSE 0 END)*1000000 + t.tot) // (2*t.tot)
                AS DOUBLE) / 1000000 AS top1pct_rev_share,
           CAST((2*SUM(CASE WHEN r.rn*10 <= t.n THEN CAST(r.revc AS HUGEINT)
                            ELSE 0 END)*1000000 + t.tot) // (2*t.tot)
                AS DOUBLE) / 1000000 AS top10pct_rev_share
    FROM r, t GROUP BY t.n, t.tot
    """,
    tags=("concentration", "ranking", "kernel"),
)
def q285_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) revenue coverage: how many customers — and what
    share of the customer base — cover 80% of total revenue, plus the
    revenue shares of the top 1% / top 10% — the threshold view of the
    concentration family (Gini/Lorenz q259 is the integral view).

    Scale plan: revenue ranking AND the running revenue total come from
    ONE prefix-kernel pass (running_totals multi-spec — the q221
    aligned-prefixes shape) over the customer aggregate; membership
    tests are exact integer cross-multiplications ((cum−rev)·10 <
    tot·8, rn·100 ≤ n — never a float threshold).  Exactness: revenue
    in integer cents end-to-end; all three shares half-away 6-dp
    integer rationals."""
    from ..operators.prefix import running_totals

    o = read_table(spark, sf_dir, "orders")
    cr = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
        ).alias("revc")
    ).withColumn("negr", -F.col("revc")).withColumn("one", F.lit(1))
    t = cr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("revc").cast("decimal(38,0)")).alias("tot"),
    )
    r = running_totals(
        cr,
        specs=[("revc", "cum"), ("one", "rn")],
        order_cols=["negr", "cust"],
    )
    dec = "CAST(revc AS DECIMAL(38,0))"
    return (
        r.crossJoin(F.broadcast(t))
        .agg(
            F.max("n").alias("nn"),
            F.max("tot").alias("tt"),
            F.sum(
                F.when((F.col("cum") - F.col("revc")) * 10 < F.col("tot") * 8, 1)
                .otherwise(0)
            ).alias("n80"),
            F.sum(
                F.when(F.col("rn") * 100 <= F.col("n"), F.expr(dec)).otherwise(
                    F.lit(0)
                )
            ).alias("r1"),
            F.sum(
                F.when(F.col("rn") * 10 <= F.col("n"), F.expr(dec)).otherwise(
                    F.lit(0)
                )
            ).alias("r10"),
        )
        .select(
            F.col("nn").cast("long").alias("n_customers"),
            F.col("n80").cast("long").alias("n_for_80pct"),
            _ha6("n80", "nn").alias("share_for_80pct"),
            _ha6("r1", "tt").alias("top1pct_rev_share"),
            _ha6("r10", "tt").alias("top10pct_rev_share"),
        )
    )


@query(
    "q286_cohort_ltv",
    oracle="""
    WITH fo AS (
      SELECT o_custkey AS cust,
             MIN(year(o_orderdate)*4 + quarter(o_orderdate) - 1) AS cq
      FROM orders GROUP BY 1
    ),
    sz AS (SELECT cq, COUNT(*) AS n_customers FROM fo GROUP BY 1),
    rev AS (
      SELECT f.cq,
             (year(o.o_orderdate)*4 + quarter(o.o_orderdate) - 1) - f.cq
               AS age_q,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                  AS HUGEINT) AS revc
      FROM orders o JOIN fo f ON f.cust = o.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cq, age_q, revc,
             SUM(revc) OVER (PARTITION BY cq ORDER BY age_q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM rev
    )
    SELECT CAST(c.cq AS INT) AS cohort_q, CAST(c.age_q AS INT) AS age_q,
           CAST(s.n_customers AS BIGINT) AS n_customers,
           CAST(c.revc AS DOUBLE) / 100 AS revenue,
           CAST((2*c.cumc*1000000 + 100*s.n_customers)
                // (200*CAST(s.n_customers AS HUGEINT)) AS DOUBLE) / 1000000
             AS cum_ltv_per_customer
    FROM cum c JOIN sz s USING (cq)
    ORDER BY cohort_q, age_q
    """,
    tags=("cohort", "revenue", "retention"),
)
def q286_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order quarter,
    revenue accumulated by cohort age in quarters, reported as
    cumulative LTV per cohort customer — the revenue companion of the
    retention matrix (q99).

    Scale plan: first-order quarter is one customer-keyed aggregation;
    the (cohort × age) rollup is bounded by the calendar squared
    (AGG_INPUT_OK class), so its cumulative window is a bounded-
    aggregate pass.  Exactness: revenue in integer cents (exact decimal
    sums); LTV per customer is a half-away 6-dp integer rational
    (cents/(100·n) dollars); quarter indices are pure integer calendar
    arithmetic identical in both engines.

    Grid budget: cents sums are widened to DECIMAL(38,0) in the expression; the quotient is per-customer cents, bounded by order totals."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    qidx = F.year("o_orderdate") * 4 + F.quarter("o_orderdate") - 1
    fo = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.min(qidx).alias("cq")
    )
    sz = fo.groupBy("cq").agg(F.count(F.lit(1)).alias("n_customers"))
    rev = (
        o.join(fo, o.o_custkey == fo.cust)
        .groupBy("cq", (qidx - F.col("cq")).alias("age_q"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100"
                " AS DECIMAL(38,0))"
            ).alias("revc")
        )
    )
    # cumulative over the bounded (cohort x age) grid
    wc = (
        Window.partitionBy("cq")
        .orderBy("age_q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.withColumn("cumc", F.sum("revc").over(wc))
    return (
        cum.join(F.broadcast(sz), "cq")
        .select(
            F.col("cq").cast("int").alias("cohort_q"),
            F.col("age_q").cast("int").alias("age_q"),
            F.col("n_customers").cast("long").alias("n_customers"),
            (F.col("revc").cast("double") / 100).alias("revenue"),
            (
                F.expr(
                    "(2*cumc*1000000 + 100*n_customers)"
                    " div (200*CAST(n_customers AS DECIMAL(38,0)))"
                ).cast("double")
                / 1_000_000
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort_q", "age_q")
    )


@query(
    "q287_user_decay_scores",
    oracle="""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    h AS (SELECT MAX(day) AS dmax FROM ud),
    s AS (
      SELECT user_id,
             SUM(CASE WHEN date_diff('day', day, h.dmax) <= 45
                 THEN CAST(cnt AS HUGEINT)
                      << (45 - date_diff('day', day, h.dmax))
                 ELSE 0 END) AS units,
             SUM(CASE WHEN date_diff('day', day, h.dmax) <= 45
                 THEN 1 ELSE 0 END) AS n_recent_days,
             SUM(cnt) AS n_events
      FROM ud, h GROUP BY 1
    )
    SELECT user_id,
           CAST(units AS DOUBLE) / 35184372088832.0 AS decayed_score,
           CAST(n_recent_days AS BIGINT) AS n_recent_days,
           CAST(n_events AS BIGINT) AS n_events
    FROM s
    ORDER BY units DESC, user_id LIMIT 100
    """,
    tags=("decay", "ranking", "feature-store"),
)
def q287_user_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-USER exponentially-decayed activity scores (one-day
    half-life, 45-day horizon), top 100 — the corpus-scale,
    high-cardinality member of the decay family: q274 ranks 5 event
    types; this ranks every user, the recency-weighted score a feature
    store maintains per entity.

    Scale plan: one (user, day) aggregation (user-keyed, map-side
    combinable), one broadcast horizon row, one user-keyed rollup, and
    a TakeOrdered top-100 — no windows, no driver loops; the dyadic
    units trick (q274) keeps every contribution an exact integer in
    2^-45 units (DECIMAL(38,0)/HUGEINT).  Ranking compares exact
    integers with user_id tie-break; the score is one correctly-rounded
    int→double conversion / exact 2^45."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    h = ud.agg(F.max("day").alias("dmax"))
    s = (
        ud.crossJoin(F.broadcast(h))
        .withColumn("age", F.datediff("dmax", "day"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("age") <= 45,
                    F.expr(
                        "CAST(cnt AS DECIMAL(38,0))"
                        " * CAST(shiftleft(CAST(1 AS BIGINT), 45 - age)"
                        " AS DECIMAL(38,0))"
                    ),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("units"),
            F.sum(F.when(F.col("age") <= 45, 1).otherwise(0)).alias(
                "n_recent_days"
            ),
            F.sum("cnt").alias("n_events"),
        )
    )
    return (
        s.orderBy(F.col("units").desc(), "user_id")
        .limit(100)
        .select(
            "user_id",
            (F.col("units").cast("double") / F.lit(35184372088832.0)).alias(
                "decayed_score"
            ),
            F.col("n_recent_days").cast("long").alias("n_recent_days"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


@query(
    "q288_peak_detection",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, c,
             LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev,
             LEAD(c) OVER (PARTITION BY event_type ORDER BY day) AS next
      FROM d
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, CAST(c AS BIGINT) AS c,
           CAST(prev AS BIGINT) AS prev, CAST(next AS BIGINT) AS next,
           CAST(c - CASE WHEN prev >= next THEN prev ELSE next END
                AS BIGINT) AS prominence
    FROM w
    WHERE prev IS NOT NULL AND next IS NOT NULL
      AND c > prev AND c > next
      AND 4*c > 5*CASE WHEN prev >= next THEN prev ELSE next END
    ORDER BY event_type, day
    """,
    tags=("timeseries", "anomaly"),
)
def q288_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection in the daily series: days whose count
    strictly exceeds both neighbors AND tops the larger neighbor by
    >25% — the spike-detection pass next to seasonal anomalies (q193)
    and change points (q216), with a magnitude gate so ordinary noise
    wobbles don't flood the report.

    Scale plan: reuses the memoized day grid; the lag/lead window runs
    over the calendar-bounded per-type grid (AGG_INPUT_OK class, the
    q213 convention).  Exactness: all comparisons are exact integer
    tests (4c > 5·max(prev,next) — cross-multiplied, never a 1.25
    float); the output is pure integers."""
    from pyspark.sql.window import Window
    from .analytics2 import _day_grid

    d = _day_grid(spark, sf_dir).withColumnRenamed("cnt", "c")
    w = Window.partitionBy("event_type").orderBy("day")
    t = d.select(
        "event_type",
        "day",
        "c",
        F.lag("c").over(w).alias("prev"),
        F.lead("c").over(w).alias("next"),
    )
    mx = F.greatest("prev", "next")
    return (
        t.where(
            F.col("prev").isNotNull()
            & F.col("next").isNotNull()
            & (F.col("c") > F.col("prev"))
            & (F.col("c") > F.col("next"))
            & (4 * F.col("c") > 5 * mx)
        )
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.col("c").cast("long").alias("c"),
            F.col("prev").cast("long").alias("prev"),
            F.col("next").cast("long").alias("next"),
            (F.col("c") - mx).cast("long").alias("prominence"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q291_binary_segmentation",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT day, cnt,
             ROW_NUMBER() OVER (ORDER BY day) AS ti,
             SUM(cnt) OVER (ORDER BY day) AS cum,
             COUNT(*) OVER () AS nd, SUM(cnt) OVER () AS tot
      FROM d
    ),
    r0 AS (
      SELECT *, ROW_NUMBER() OVER (
               ORDER BY ABS(nd*cum - ti*tot) DESC, day) AS rk
      FROM c WHERE ti < nd
    ),
    cp0 AS (SELECT ti AS cti, cum AS ccum, day AS cday,
                   ABS(nd*cum - ti*tot) AS anum, nd AS snd FROM r0 WHERE rk = 1),
    seg AS (
      SELECT c.*, CASE WHEN c.ti <= cp0.cti THEN 'L' ELSE 'R' END AS s,
             CASE WHEN c.ti <= cp0.cti THEN c.ti ELSE c.ti - cp0.cti END AS ti2,
             CASE WHEN c.ti <= cp0.cti THEN c.cum ELSE c.cum - cp0.ccum END
               AS cum2
      FROM c, cp0
    ),
    st AS (
      SELECT s, COUNT(*) AS nd2, MAX(cum2) AS tot2,
             MIN(day) AS d0, MAX(day) AS d1
      FROM seg GROUP BY 1
    ),
    r1 AS (
      SELECT g.s, g.day, st.nd2, st.d0, st.d1,
             ABS(st.nd2*g.cum2 - g.ti2*st.tot2) AS anum,
             ROW_NUMBER() OVER (PARTITION BY g.s
               ORDER BY ABS(st.nd2*g.cum2 - g.ti2*st.tot2) DESC, g.day) AS rk
      FROM seg g JOIN st USING (s) WHERE g.ti2 < st.nd2
    ),
    lv0 AS (
      SELECT 'root' AS segment, MIN(day) AS seg_start, MAX(day) AS seg_end
      FROM d
    )
    SELECT l.segment,
           CAST(l.seg_start AS VARCHAR) AS seg_start,
           CAST(l.seg_end AS VARCHAR) AS seg_end,
           CAST(cp0.cday AS VARCHAR) AS cp_day,
           CAST(cp0.snd AS BIGINT) AS n_days,
           CAST((2*cp0.anum*1000000 + cp0.snd) // (2*cp0.snd) AS DOUBLE)
             / 1000000 AS s_abs
    FROM lv0 l, cp0
    UNION ALL
    SELECT r1.s AS segment,
           CAST(r1.d0 AS VARCHAR) AS seg_start,
           CAST(r1.d1 AS VARCHAR) AS seg_end,
           CAST(r1.day AS VARCHAR) AS cp_day,
           CAST(r1.nd2 AS BIGINT) AS n_days,
           CAST((2*r1.anum*1000000 + r1.nd2) // (2*r1.nd2) AS DOUBLE)
             / 1000000 AS s_abs
    FROM r1 WHERE r1.rk = 1
    ORDER BY segment
    """,
    tags=("timeseries", "changepoint", "agg-grid-window"),
)
def q291_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change-point tree (depth 2) on the total
    daily event series: the CUSUM argmax (q216's statistic) locates the
    root change point, then recurses once into the left and right
    segments with segment-local indices/totals — the multi-change-point
    extension of q216 (three located shifts, four implied regimes).

    Scale plan: everything runs on the per-DAY aggregate grid (bounded
    by the calendar — the q216 AGG_INPUT_OK class); recursion depth is
    fixed at 2, so the plan is static.  Exactness: S_t·n = n·cum − t·tot
    is a pure integer at every level (segment-local cum/tot stay
    integers by subtraction); argmaxes tie-break on the earlier day;
    only the report divides, half-away at 6 dp."""
    from pyspark.sql.window import Window
    from .analytics2 import _day_grid

    d = (
        _day_grid(spark, sf_dir)
        .groupBy("day")
        .agg(F.sum("cnt").alias("cnt"))
    )
    wday = Window.orderBy("day")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = d.select(
        "day",
        "cnt",
        F.row_number().over(wday).alias("ti"),
        F.sum("cnt").over(wday.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.count(F.lit(1)).over(wall).alias("nd"),
        F.sum("cnt").over(wall).alias("tot"),
    ).localCheckpoint(eager=True)  # bounded grid; feeds root + both levels
    anum = F.abs(F.col("nd") * F.col("cum") - F.col("ti") * F.col("tot"))
    r0 = (
        c.where(F.col("ti") < F.col("nd"))
        .withColumn("anum", anum)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("anum").desc(), F.col("day"))
            ),
        )
    )
    cp0 = r0.where(F.col("rk") == 1).select(
        F.col("ti").alias("cti"),
        F.col("cum").alias("ccum"),
        F.col("day").alias("cday"),
        F.col("anum").alias("c_anum"),
        F.col("nd").alias("snd"),
    )
    seg = c.crossJoin(F.broadcast(cp0)).select(
        "day",
        F.when(F.col("ti") <= F.col("cti"), "L").otherwise("R").alias("s"),
        F.when(F.col("ti") <= F.col("cti"), F.col("ti"))
        .otherwise(F.col("ti") - F.col("cti"))
        .alias("ti2"),
        F.when(F.col("ti") <= F.col("cti"), F.col("cum"))
        .otherwise(F.col("cum") - F.col("ccum"))
        .alias("cum2"),
    )
    st = seg.groupBy("s").agg(
        F.count(F.lit(1)).alias("nd2"),
        F.max("cum2").alias("tot2"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    anum2 = F.abs(F.col("nd2") * F.col("cum2") - F.col("ti2") * F.col("tot2"))
    r1 = (
        seg.join(F.broadcast(st), "s")
        .where(F.col("ti2") < F.col("nd2"))
        .withColumn("anum", anum2)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("s").orderBy(
                    F.col("anum").desc(), F.col("day")
                )
            ),
        )
        .where(F.col("rk") == 1)
    )
    lv0 = d.agg(
        F.min("day").alias("seg_start"), F.max("day").alias("seg_end")
    )
    ha = lambda num, den: (  # noqa: E731
        F.expr(f"(2*{num}*1000000 + {den}) div (2*{den})").cast("double")
        / 1_000_000
    )
    root = lv0.crossJoin(F.broadcast(cp0)).select(
        F.lit("root").alias("segment"),
        F.col("seg_start").cast("string").alias("seg_start"),
        F.col("seg_end").cast("string").alias("seg_end"),
        F.col("cday").cast("string").alias("cp_day"),
        F.col("snd").cast("long").alias("n_days"),
        ha("c_anum", "snd").alias("s_abs"),
    )
    kids = r1.select(
        F.col("s").alias("segment"),
        F.col("d0").cast("string").alias("seg_start"),
        F.col("d1").cast("string").alias("seg_end"),
        F.col("day").cast("string").alias("cp_day"),
        F.col("nd2").cast("long").alias("n_days"),
        ha("anum", "nd2").alias("s_abs"),
    )
    return root.unionByName(kids).orderBy("segment")


@query(
    "q292_cuped_adjustment",
    oracle="""
    WITH b AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events
    ),
    per AS (
      SELECT user_id,
             SUM(CASE WHEN CAST(ts AS DATE) <=
                      b.d0 + CAST(date_diff('day', b.d0, b.d1) // 2 AS INT)
                 THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS x,
             SUM(CASE WHEN CAST(ts AS DATE) >
                      b.d0 + CAST(date_diff('day', b.d0, b.d1) // 2 AS INT)
                 THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS y
      FROM events, b WHERE event_type = 'purchase' GROUP BY 1
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x*y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x*x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y*y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM per
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS theta,
           round((n*syy - sy*sy) / (CAST(n AS DOUBLE)*n*n), 6)
             AS var_y_per_user,
           round((n*sxy - sx*sy)*(n*sxy - sx*sy)
                 / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6)
             AS var_reduction
    FROM s
    """,
    tags=("experimentation", "variance-reduction"),
)
def q292_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) variance
    reduction audit: split the calendar at its midpoint, treat each
    user's pre-period purchase value as the covariate X and the
    post-period value as the metric Y, and report θ = cov/var and the
    variance fraction CUPED removes (ρ²) — the A/B-testing power
    primitive next to Welch (q144) and the randomization test (q230).

    Scale plan: one user-keyed conditional aggregation (two exact
    decimal sums per user), one sufficient-statistic rollup.
    Exactness: X/Y are exact DECIMAL(18,6) sums (the dsum idiom);
    per-user products widen to DECIMAL(38,12) and sum exactly; the
    ratios assemble in doubles from identical exact inputs (plain
    6-dp round of irrationals — safe)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(
        F.expr("d0 + CAST(datediff(d1, d0) div 2 AS INT)").alias("dmid")
    )
    vd = F.col("value").cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    per = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.to_date("ts") <= F.col("dmid"), vd).otherwise(zero)
            ).alias("x"),
            F.sum(
                F.when(F.to_date("ts") > F.col("dmid"), vd).otherwise(zero)
            ).alias("y"),
        )
    )
    s = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x*y AS DECIMAL(38,12))")).cast("double").alias("sxy"),
        F.sum(F.expr("CAST(x*x AS DECIMAL(38,12))")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(y*y AS DECIMAL(38,12))")).cast("double").alias("syy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("theta"),
        F.round(
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            / (F.col("n").cast("double") * F.col("n") * F.col("n")),
            6,
        ).alias("var_y_per_user"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("var_reduction"),
    )


@query(
    "q293_second_order_markov",
    oracle="""
    WITH pe AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER w AS p1,
             LAG(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    c2 AS (
      SELECT p2, p1, event_type AS nxt, COUNT(*) AS cnt
      FROM pe WHERE p2 IS NOT NULL GROUP BY 1, 2, 3
    ),
    ctx2 AS (SELECT p2, p1, SUM(cnt) AS tot2 FROM c2 GROUP BY 1, 2),
    c1 AS (
      SELECT p1, event_type AS nxt, COUNT(*) AS cnt1
      FROM pe WHERE p1 IS NOT NULL GROUP BY 1, 2
    ),
    ctx1 AS (SELECT p1, SUM(cnt1) AS tot1 FROM c1 GROUP BY 1)
    SELECT c2.p2, c2.p1, c2.nxt AS nxt,
           CAST(c2.cnt AS BIGINT) AS cnt,
           CAST((2*c2.cnt*1000000 + x2.tot2) // (2*x2.tot2) AS DOUBLE)
             / 1000000 AS p_second_order,
           CAST((2*c1.cnt1*1000000 + x1.tot1) // (2*x1.tot1) AS DOUBLE)
             / 1000000 AS p_first_order,
           CAST((2*CAST(c2.cnt AS HUGEINT)*x1.tot1*1000000
                 + CAST(x2.tot2 AS HUGEINT)*c1.cnt1)
                // (2*CAST(x2.tot2 AS HUGEINT)*c1.cnt1) AS DOUBLE)
             / 1000000 AS lift
    FROM c2
    JOIN ctx2 x2 USING (p2, p1)
    JOIN c1 ON c1.p1 = c2.p1 AND c1.nxt = c2.nxt
    JOIN ctx1 x1 ON x1.p1 = c2.p1
    WHERE x2.tot2 >= 20
    ORDER BY p2, p1, nxt
    """,
    tags=("markov", "sessions", "sequence"),
)
def q293_second_order_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov transitions of the event stream with lift
    over the first-order model: P(next | prev2, prev1) vs
    P(next | prev1) — quantifies how much one extra step of history
    actually buys, extending the first-order chain (q176) and the
    removal-effect machinery (q236).

    Scale plan: both lag columns come from ONE high-cardinality
    per-user window pass; everything after is bounded (≤ 5³ contexts)
    hash aggregation and joins.  Exactness: probabilities and the lift
    are half-away 6-dp integer rationals (the lift cross-multiplies
    the two rationals exactly — HUGEINT/DECIMAL(38,0) widened);
    contexts below 20 observations are filtered by an integer test."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pe = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).localCheckpoint(eager=True)  # feeds both model orders
    c2 = (
        pe.where(F.col("p2").isNotNull())
        .groupBy("p2", "p1", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ctx2 = c2.groupBy("p2", "p1").agg(F.sum("cnt").alias("tot2"))
    c1 = (
        pe.where(F.col("p1").isNotNull())
        .groupBy("p1", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("cnt1"))
    )
    ctx1 = c1.groupBy("p1").agg(F.sum("cnt1").alias("tot1"))
    return (
        c2.join(F.broadcast(ctx2), ["p2", "p1"])
        .join(F.broadcast(c1), ["p1", "nxt"])
        .join(F.broadcast(ctx1), "p1")
        .where(F.col("tot2") >= 20)
        .select(
            "p2",
            "p1",
            "nxt",
            F.col("cnt").cast("long").alias("cnt"),
            _ha6("cnt", "tot2").alias("p_second_order"),
            _ha6("cnt1", "tot1").alias("p_first_order"),
            (
                F.expr(
                    "(2*CAST(cnt AS DECIMAL(38,0))*tot1*1000000"
                    " + CAST(tot2 AS DECIMAL(38,0))*cnt1)"
                    " div (2*CAST(tot2 AS DECIMAL(38,0))*cnt1)"
                ).cast("double")
                / 1_000_000
            ).alias("lift"),
        )
        .orderBy("p2", "p1", "nxt")
    )


@query(
    "q294_synthetic_ab_readout",
    oracle="""
    WITH asg AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS arm
      FROM events GROUP BY 1
    ),
    met AS (
      SELECT e.user_id, a.arm,
             SUM(CASE WHEN e.event_type = 'purchase'
                 THEN CAST(e.value AS DECIMAL(18,6)) ELSE 0 END) AS y
      FROM events e JOIN asg a USING (user_id)
      GROUP BY 1, 2
    ),
    s AS (
      SELECT arm, COUNT(*) AS n, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(y*y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM met GROUP BY 1
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN sy END) AS sy0,
             MAX(CASE WHEN arm = 1 THEN sy END) AS sy1,
             MAX(CASE WHEN arm = 0 THEN syy END) AS syy0,
             MAX(CASE WHEN arm = 1 THEN syy END) AS syy1
      FROM s
    )
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
           round(ABS(n0 - n1) / sqrt(CAST(n0 + n1 AS DOUBLE)), 6)
             AS srm_z,
           round(sy0 / n0, 6) AS mean_control,
           round(sy1 / n1, 6) AS mean_treat,
           round(sy1 / n1 - sy0 / n0, 6) AS diff,
           round((sy1 / n1 - sy0 / n0)
                 / sqrt((syy0 - sy0*sy0/n0) / (n0*(n0-1.0))
                        + (syy1 - sy1*sy1/n1) / (n1*(n1-1.0))), 6)
             AS welch_t
    FROM w
    """,
    tags=("experimentation", "ab-test", "determinism"),
)
def q294_synthetic_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B readout harness: assign every user to an arm
    by a stable md5 coin, then report the full experiment scorecard —
    sample-ratio-mismatch z (the guardrail every platform checks before
    trusting a readout), per-arm mean purchase value, the difference,
    and its Welch t — the end-to-end experimentation pass that ties
    together assignment (q68's split idiom), Welch (q144) and CUPED
    (q292).  Under a null coin the t should be noise — the readout
    machinery is what's under test, and both engines must reproduce it
    bit-for-bit.

    Scale plan: one user-keyed assignment aggregate, one user-keyed
    metric aggregate, a 2-row arm rollup pivoted to one row.
    Exactness: metric sums are exact DECIMAL(18,6) (dsum idiom),
    squares widen to DECIMAL(38,12); z and t assemble in doubles from
    identical exact inputs (sqrt correctly rounded; 6-dp round of
    irrationals — safe)."""
    ev = read_table(spark, sf_dir, "events")
    asg = ev.select("user_id").distinct().select(
        "user_id",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    vd = F.col("value").cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    met = (
        ev.join(asg, "user_id")
        .groupBy("user_id", "arm")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", vd).otherwise(zero)
            ).alias("y")
        )
    )
    s = met.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(y*y AS DECIMAL(38,12))")).cast("double").alias("syy"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "sy", "syy")
        ]
    )
    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.round(
            F.abs(F.col("n0") - F.col("n1"))
            / F.sqrt((F.col("n0") + F.col("n1")).cast("double")),
            6,
        ).alias("srm_z"),
        F.round(F.col("sy0") / F.col("n0"), 6).alias("mean_control"),
        F.round(F.col("sy1") / F.col("n1"), 6).alias("mean_treat"),
        F.round(F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0"), 6).alias(
            "diff"
        ),
        F.round(
            (F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0"))
            / F.sqrt(
                (F.col("syy0") - F.col("sy0") * F.col("sy0") / F.col("n0"))
                / (F.col("n0") * (F.col("n0") - 1.0))
                + (F.col("syy1") - F.col("sy1") * F.col("sy1") / F.col("n1"))
                / (F.col("n1") * (F.col("n1") - 1.0))
            ),
            6,
        ).alias("welch_t"),
    )


@query(
    "q295_weekly_topk_movers",
    oracle="""
    WITH wr AS (
      SELECT date_trunc('week', o.o_orderdate) AS wk, l.l_partkey AS part,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS revu
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT wk, part, revu,
             ROW_NUMBER() OVER (PARTITION BY wk
                                ORDER BY revu DESC, part) AS rnk
      FROM wr
    )
    SELECT CAST(CAST(c.wk AS DATE) AS VARCHAR) AS week,
           CAST(c.part AS BIGINT) AS part,
           CAST(c.revu AS DOUBLE) / 1000000 AS revenue,
           CAST(c.rnk AS INT) AS rnk,
           CAST(p.rnk AS INT) AS prev_rnk,
           CAST(p.rnk - c.rnk AS INT) AS rank_gain
    FROM rk c
    LEFT JOIN rk p
      ON p.part = c.part AND p.wk = c.wk - INTERVAL 7 DAY
    WHERE c.rnk <= 10
    ORDER BY week, rnk
    """,
    tags=("ranking", "trending", "kernel"),
)
def q295_weekly_topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly top-10 parts by revenue with week-over-week rank movement
    — the trending-items leaderboard (top-k per period + rank delta vs
    the previous period, NULL for new entries), extending the static
    top-k family (q09/q197) with the time axis.

    Scale plan: per-week ranks come from the distributed rank kernel
    grouped by week (operators/prefix.global_ranks — a week is a
    LOW-cardinality key, so the naive per-week ROW_NUMBER window is the
    banned single-task shape); the ranked frame is pinned once and
    serves both the current-week cut and the previous-week join (part,
    week-7)-keyed.  Exactness: revenue in exact 1e-6 integer units
    (dsum idiom × 1e6); ranks tie-break on part id."""
    from ..operators.prefix import global_ranks

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    wr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.date_trunc("week", "o_orderdate").alias("wk"),
            F.col("l_partkey").alias("part"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
            ).alias("revu")
        )
        .withColumn("negr", -F.col("revu"))
    )
    rk = global_ranks(
        wr,
        order_cols=["negr", "part"],
        group_cols=["wk"],
        rn_col="rnk",
        # the kernel's range sampler would re-run the lineitem⋈orders
        # join + aggregation a second time; one pin is cheaper (A/B'd)
        pin_input=True,
    ).localCheckpoint(eager=False)  # feeds the top-10 cut AND the prev join
    # — both branches of the one output action: LAZY pin, materialized
    # once inside that job (r13)
    cur = rk.where(F.col("rnk") <= 10).select(
        "wk", "part", "revu", F.col("rnk").alias("crnk")
    )
    prev = rk.select(
        F.expr("wk + interval 7 day").alias("wk"),
        "part",
        F.col("rnk").alias("prnk"),
    )
    return (
        cur.join(prev, ["wk", "part"], "left")
        .select(
            F.col("wk").cast("date").cast("string").alias("week"),
            F.col("part").cast("long").alias("part"),
            (F.col("revu").cast("double") / 1_000_000).alias("revenue"),
            F.col("crnk").cast("int").alias("rnk"),
            F.col("prnk").cast("int").alias("prev_rnk"),
            (F.col("prnk") - F.col("crnk")).cast("int").alias("rank_gain"),
        )
        .orderBy("week", "rnk")
    )


def _collect_bounded_groups(
    qs: DataFrame, key_col: str, required: tuple, query_name: str, max_rows: int = 8
) -> dict:
    """Driver-side collect of a quantile-kernel BOUNDARY table for the
    driver-side reshape (q296/q310) — with the two contracts the
    bare ``collect()`` left implicit (r8 advice + verdict item):

    - **bounded collect**: the frame must stay ≤ ``max_rows`` rows
      (``limit(max_rows+1)`` caps the transfer); a future group-key
      change that unbounds cardinality fails LOUDLY here instead of
      silently collecting a large frame;
    - **required groups**: a missing key (e.g. no 'purchase' rows at a
      tiny scale factor) raises a contract-named error instead of a
      bare KeyError mid-reshape.

    NOTE this executes Spark jobs inside the registered BUILDER (unlike
    every other builder, which is lazy until the driver acts) — the
    plan-only consumers note lives in plans/registry.py."""
    rows = qs.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{query_name}: boundary-table collect exceeded {max_rows} rows — "
            "group cardinality is no longer bounded; the driver-side "
            "reshape must never collect an unbounded frame"
        )
    got = {r[key_col]: r for r in rows}
    missing = [k for k in required if k not in got]
    if missing:
        raise ValueError(
            f"{query_name}: required group(s) {missing} absent from the "
            f"'{key_col}' boundary table (tiny scale factor or over-filtered "
            "input) — cannot build the driver-side reshape"
        )
    return got


@query(
    "q296_qq_deciles",
    oracle="""
    WITH q AS (
      SELECT [percentile_cont(0.1) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.2) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.3) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.4) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.5) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.6) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.7) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.8) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END), percentile_cont(0.9) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'purchase' THEN value END)] AS qps,
             [percentile_cont(0.1) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.2) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.3) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.4) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.5) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.6) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.7) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.8) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END), percentile_cont(0.9) WITHIN GROUP (ORDER BY CASE WHEN event_type = 'click' THEN value END)] AS qcs
      FROM events WHERE event_type IN ('purchase', 'click')
    )
    SELECT CAST(u.i AS INT) AS decile,
           round(CAST(qps[u.i] AS DOUBLE), 6) AS q_purchase,
           round(CAST(qcs[u.i] AS DOUBLE), 6) AS q_click,
           round(CAST(qps[u.i] AS DOUBLE) - CAST(qcs[u.i] AS DOUBLE), 6)
             AS gap
    FROM q, unnest(generate_series(1, 9)) AS u(i)
    ORDER BY decile
    """,
    tags=("percentile", "distribution", "kernel"),
)
def q296_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison of the purchase vs click value
    distributions at the nine deciles — the value-space view of
    distribution difference (the two-sample KS q239 gives the
    probability-space supremum; a QQ table is what an analyst plots).

    Scale plan: ONE distributed quantile-kernel pass grouped by event
    type delivers all nine deciles for both series (range-partition
    selection — never the in-memory percentile buffer); the join of two
    9-value rows is a broadcast formality.  Exactness: the kernel
    reproduces percentile_cont interpolation bit-for-bit on exact
    integer-valued doubles? No — `value` is a raw double column, and
    identical doubles interpolate identically (the q61 discipline);
    6-dp round of the results."""
    from ..operators.quantiles import exact_quantiles

    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    probs = {f"p{i}": i / 10.0 for i in range(1, 10)}
    qs = exact_quantiles(ev, "value", probs, ["event_type"])
    # the kernel output IS a driver-local boundary table (2 rows); the
    # 9-row reshape happens driver-side and ships back as a local
    # relation — a python-frame x python-frame broadcast join paid
    # ~6 s/run in Python-worker round-trips for two 2-row inputs (r8
    # measurement), vs ~0.1 s for the pure-JVM relation.
    rows = _collect_bounded_groups(
        qs, "event_type", ("purchase", "click"), "q296_qq_deciles"
    )
    qp, qc = rows["purchase"], rows["click"]
    t = local_frame(
        spark, [[i, qp[f"p{i}"], qc[f"p{i}"]] for i in range(1, 10)],
        "decile int, qp double, qc double",
    )
    return t.select(
        "decile",
        F.round("qp", 6).alias("q_purchase"),
        F.round("qc", 6).alias("q_click"),
        F.round(F.col("qp") - F.col("qc"), 6).alias("gap"),
    ).orderBy("decile")


@query(
    "q297_hw_backtest",
    oracle="""
    WITH RECURSIVE cnt AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1
    ),
    spine AS MATERIALIZED (
      SELECT unnest(generate_series((SELECT MIN(day) FROM cnt),
                                    (SELECT MAX(day) FROM cnt),
                                    INTERVAL 1 DAY)) AS day
    ),
    xs AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY s.day) AS idx,
             CAST(COALESCE(c.c, 0) AS DOUBLE) AS x
      FROM spine s LEFT JOIN cnt c ON c.day = CAST(s.day AS DATE)
    ),
    nn AS (SELECT MAX(idx) AS n FROM xs),
    init AS (
      SELECT SUM(CASE WHEN idx <= 7 THEN x ELSE 0 END) / 7 AS l0,
             (SUM(CASE WHEN idx BETWEEN 8 AND 14 THEN x ELSE 0 END)
              - SUM(CASE WHEN idx <= 7 THEN x ELSE 0 END)) / 49 AS b0,
             MAX(CASE WHEN idx = 1 THEN x END) AS x1,
             MAX(CASE WHEN idx = 2 THEN x END) AS x2,
             MAX(CASE WHEN idx = 3 THEN x END) AS x3,
             MAX(CASE WHEN idx = 4 THEN x END) AS x4,
             MAX(CASE WHEN idx = 5 THEN x END) AS x5,
             MAX(CASE WHEN idx = 6 THEN x END) AS x6,
             MAX(CASE WHEN idx = 7 THEN x END) AS x7
      FROM xs WHERE idx <= 14
    ),
    walk AS (
      SELECT 7 AS t, l0 AS l, b0 AS b,
             x1 - l0 AS s1, x2 - l0 AS s2, x3 - l0 AS s3, x4 - l0 AS s4,
             x5 - l0 AS s5, x6 - l0 AS s6, x7 - l0 AS s7,
             CAST(0 AS DOUBLE) AS sae, CAST(0 AS DOUBLE) AS sax,
             0 AS n_scored
      FROM init
      UNION ALL
      SELECT w.t + 1,
             0.5*(d.x - w.s1) + 0.5*(w.l + w.b),
             0.5*((0.5*(d.x - w.s1) + 0.5*(w.l + w.b)) - w.l) + 0.5*w.b,
             w.s2, w.s3, w.s4, w.s5, w.s6, w.s7,
             0.5*(d.x - (0.5*(d.x - w.s1) + 0.5*(w.l + w.b))) + 0.5*w.s1,
             CASE WHEN w.t + 1 > 14
                  THEN w.sae + ABS(d.x - (w.l + w.b + w.s1))
                  ELSE w.sae END,
             CASE WHEN w.t + 1 > 14 THEN w.sax + ABS(d.x) ELSE w.sax END,
             CASE WHEN w.t + 1 > 14 THEN w.n_scored + 1 ELSE w.n_scored END
      FROM walk w JOIN xs d ON d.idx = w.t + 1
    ),
    fin AS (SELECT w.* FROM walk w, nn WHERE w.t = nn.n),
    naive AS (
      SELECT SUM(ABS(a.x - b.x)) AS nae
      FROM xs a JOIN xs b ON b.idx = a.idx - 7 WHERE a.idx > 14
    )
    SELECT CAST(nn.n AS BIGINT) AS n_days,
           CAST(f.n_scored AS BIGINT) AS n_scored,
           round(f.sae / f.sax, 6) AS wape_hw,
           round(naive.nae / f.sax, 6) AS wape_seasonal_naive,
           round(1.0 - (f.sae / f.sax) / (naive.nae / f.sax), 6)
             AS improvement
    FROM fin f, nn, naive
    """,
    tags=("timeseries", "forecast", "eval", "kernel", "recursive"),
)
def q297_hw_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters one-step-ahead backtest vs the seasonal-naive
    baseline: WAPE of both forecasters over every day past the
    two-season init — the forecast-EVAL member that tells you whether
    q277's model earns its state (q183 scores seasonal-naive alone).

    Scale plan: same as q277 — daily aggregation + calendar spine
    distributed, the scored walk in ONE mapInPandas task
    (operators/forecast.holt_winters_backtest); the naive baseline is
    a lag-7 equi-join on the bounded grid.  Exactness: error sums
    accumulate in RECURRENCE order in both engines (the kernel and the
    recursive CTE add the identical IEEE doubles in the identical
    sequence — order-dependence is exactly why this must NOT be a
    parallel SUM); Σ|x| terms are integer-valued; final ratios are one
    divide + 6-dp round."""
    from ..operators.forecast import holt_winters_backtest

    ev = read_table(spark, sf_dir, "events")
    cnt = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    bounds = cnt.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day")
    )
    daily = spine.join(cnt, "day", "left").select(
        "day", F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("x")
    ).localCheckpoint(eager=True)  # feeds the kernel AND the naive join
    bt = holt_winters_backtest(daily, order_col="day", value_col="x")
    from pyspark.sql.window import Window

    # lag-7 naive on the bounded calendar grid (q213 exemption class)
    idx = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).alias("idx")
    )
    a = idx.where(F.col("idx") > 14).select(
        F.col("idx").alias("ia"), F.col("x").alias("xa")
    )
    b = idx.select((F.col("idx") + 7).alias("ia"), F.col("x").alias("xb"))
    naive = a.join(b, "ia").agg(
        F.sum(F.abs(F.col("xa") - F.col("xb"))).alias("nae")
    )
    return bt.crossJoin(F.broadcast(naive)).select(
        "n_days",
        "n_scored",
        F.round(F.col("sae") / F.col("sax"), 6).alias("wape_hw"),
        F.round(F.col("nae") / F.col("sax"), 6).alias("wape_seasonal_naive"),
        F.round(
            1.0 - (F.col("sae") / F.col("sax")) / (F.col("nae") / F.col("sax")),
            6,
        ).alias("improvement"),
    )


@query(
    "q298_churn_labels",
    oracle="""
    WITH b AS (
      SELECT MAX(CAST(ts AS DATE)) - 14 AS cutoff FROM events
    ),
    feat AS (
      SELECT user_id,
             COUNT(*) AS n_events_30d,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases_30d,
             date_diff('day', MAX(CAST(ts AS DATE)), b.cutoff)
               AS days_since_last,
             COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM events, b
      WHERE CAST(ts AS DATE) <= b.cutoff
        AND CAST(ts AS DATE) > b.cutoff - 30
      GROUP BY user_id, b.cutoff
    ),
    post AS (
      SELECT DISTINCT user_id FROM events, b WHERE CAST(ts AS DATE) > b.cutoff
    )
    SELECT f.user_id,
           CAST(f.n_events_30d AS BIGINT) AS n_events_30d,
           CAST(f.n_purchases_30d AS BIGINT) AS n_purchases_30d,
           CAST(f.days_since_last AS BIGINT) AS days_since_last,
           CAST(f.active_days AS BIGINT) AS active_days,
           p.user_id IS NULL AS churned
    FROM feat f LEFT JOIN post p USING (user_id)
    ORDER BY f.user_id
    """,
    tags=("ml-features", "labels", "leakage-safe"),
)
def q298_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn training-set builder: features from the 30
    days up to a cutoff (14 days before the horizon), label = no
    activity after the cutoff — the temporal label-construction pass
    every churn model needs, with the feature window strictly before
    the label window by construction (the q191 point-in-time
    discipline applied to label building).

    Scale plan: one broadcast cutoff row, one user-keyed feature
    aggregation over the filtered window, one distinct-user post-window
    scan, one user-keyed anti-ish left join.  Exactness: all features
    are integer counts/date arithmetic; the label is a null test."""
    ev = read_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("MAX(CAST(ts AS DATE)) - 14").alias("cutoff")
    )
    day = F.to_date("ts")
    feat = (
        ev.crossJoin(F.broadcast(b))
        .where((day <= F.col("cutoff")) & (day > F.expr("cutoff - 30")))
        .groupBy("user_id", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_events_30d"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases_30d"),
            F.datediff(F.col("cutoff"), F.max(day)).alias("days_since_last"),
            F.count_distinct(day).alias("active_days"),
        )
    )
    post = (
        ev.crossJoin(F.broadcast(b))
        .where(day > F.col("cutoff"))
        .select("user_id")
        .distinct()
        .withColumn("_active", F.lit(1))
    )
    return (
        feat.join(post, "user_id", "left")
        .select(
            "user_id",
            F.col("n_events_30d").cast("long").alias("n_events_30d"),
            F.col("n_purchases_30d").cast("long").alias("n_purchases_30d"),
            F.col("days_since_last").cast("long").alias("days_since_last"),
            F.col("active_days").cast("long").alias("active_days"),
            F.col("_active").isNull().alias("churned"),
        )
        .orderBy("user_id")
    )


@query(
    "q300_l_diversity",
    oracle="""
    WITH bands AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS sens
      FROM customer
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS sz, COUNT(DISTINCT sens) AS l
      FROM bands GROUP BY 1, 2
    )
    SELECT CAST(l AS INT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_rows
    FROM classes GROUP BY 1 ORDER BY 1
    """,
    tags=("dq", "privacy", "governance"),
)
def q300_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit over the same (nation, segment) quasi-
    identifier as the k-anonymity census (q206), with account-balance
    BAND as the sensitive attribute: per equivalence class, how many
    distinct sensitive values appear — a class with l = 1 leaks its
    members' attribute even when it is k-anonymous.  Reported as the
    l histogram (classes and rows per diversity level).

    Scale plan: one hash aggregation with a distinct count, one
    bounded rollup — the q206 shape plus COUNT(DISTINCT).  Exactness:
    band thresholds are exact comparisons on raw doubles (identical in
    both engines); everything else is integer counts."""
    cust = read_table(spark, sf_dir, "customer")
    bands = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("sens"),
    )
    classes = bands.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz"), F.count_distinct("sens").alias("l")
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("sz").alias("n_rows"),
        )
        .select(
            F.col("l").cast("int").alias("l"),
            F.col("n_classes").cast("long").alias("n_classes"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        .orderBy("l")
    )


_Q299_ARMS = ("click", "error", "purchase", "signup", "view")


def _q299_oracle() -> str:
    arms = _Q299_ARMS
    k = len(arms)
    piv = ",\n             ".join(
        f"COALESCE(MAX(CASE WHEN event_type = '{a}' THEN c END), 0) AS r{i}"
        for i, a in enumerate(arms, start=1)
    )
    sort_items = ", ".join(
        "{{'u': CASE WHEN w.n{i} = 0 THEN 0 ELSE 1 END,"
        " 'm': -(CAST(w.s{i} AS DOUBLE)"
        " / CASE WHEN w.n{i} = 0 THEN 1 ELSE w.n{i} END),"
        " 'i': {i}}}".format(i=i)
        for i in range(1, k + 1)
    )
    ch = (
        "(CASE WHEN d.h % 100 < 20 THEN CAST((d.h // 100) % 5 + 1 AS INT)"
        f" ELSE (list_sort([{sort_items}]))[1].i END)"
    )
    nupd = ", ".join(
        f"w.n{i} + CASE WHEN {ch} = {i} THEN 1 ELSE 0 END" for i in range(1, k + 1)
    )
    supd = ", ".join(
        f"w.s{i} + CASE WHEN {ch} = {i} THEN d.r{i} ELSE 0 END"
        for i in range(1, k + 1)
    )
    rch = " ".join(
        f"WHEN {ch} = {i} THEN d.r{i}" for i in range(1, k + 1)
    )
    vals = ", ".join(f"('{a}', {i})" for i, a in enumerate(arms, start=1))
    pull = " ".join(f"WHEN {i} THEN f.n{i}" for i in range(1, k + 1))
    rew = " ".join(f"WHEN {i} THEN f.s{i}" for i in range(1, k + 1))
    best = " UNION ALL ".join(
        f"SELECT SUM(r{i}) AS b FROM xs" for i in range(1, k + 1)
    )
    zeros_n = ", ".join(f"0 AS n{i}" for i in range(1, k + 1))
    zeros_s = ", ".join(
        f"CAST(0 AS HUGEINT) AS s{i}" for i in range(1, k + 1)
    )
    return f"""
    WITH RECURSIVE d0 AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    spine AS MATERIALIZED (
      SELECT unnest(generate_series((SELECT MIN(day) FROM d0),
                                    (SELECT MAX(day) FROM d0),
                                    INTERVAL 1 DAY)) AS day
    ),
    grid AS (
      SELECT CAST(s.day AS DATE) AS day,
             {piv}
      FROM spine s LEFT JOIN d0 ON d0.day = CAST(s.day AS DATE)
      GROUP BY 1
    ),
    xs AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS idx, *,
             CAST(('0x' || substr(md5(CAST(
               ROW_NUMBER() OVER (ORDER BY day) AS VARCHAR)), 1, 8))
               AS BIGINT) AS h
      FROM grid
    ),
    nn AS (SELECT MAX(idx) AS n FROM xs),
    walk AS (
      SELECT 0 AS t, {zeros_n}, {zeros_s}, CAST(0 AS HUGEINT) AS tot
      UNION ALL
      SELECT w.t + 1, {nupd}, {supd},
             w.tot + CASE {rch} END
      FROM walk w JOIN xs d ON d.idx = w.t + 1
    ),
    fin AS (SELECT w.* FROM walk w, nn WHERE w.t = nn.n),
    bst AS (SELECT MAX(b) AS b FROM ({best}))
    SELECT a.arm,
           CAST(CASE a.i {pull} END AS BIGINT) AS pulls,
           CAST(CASE a.i {rew} END AS BIGINT) AS total_reward,
           CASE WHEN (CASE a.i {pull} END) = 0 THEN 0.0
                ELSE CAST((2*(CASE a.i {rew} END)*1000000
                           + (CASE a.i {pull} END))
                          // (2*(CASE a.i {pull} END)) AS DOUBLE) / 1000000
           END AS mean_reward,
           CAST(f.tot AS BIGINT) AS policy_total,
           CAST(bst.b AS BIGINT) AS best_fixed_total,
           CAST(bst.b - f.tot AS BIGINT) AS regret
    FROM fin f, bst, (VALUES {vals}) AS a(arm, i)
    ORDER BY a.arm
    """


@query(
    "q299_bandit_replay",
    oracle=_q299_oracle(),
    tags=("policy", "sequential", "kernel", "recursive"),
)
def q299_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline epsilon-greedy bandit replay over the daily event grid:
    arms are the five event types, day t's reward for an arm is its
    event count that day, the policy explores on a deterministic md5
    coin (20%) and otherwise exploits the best running mean (unpulled
    arms first, ties to the lowest index) — sequential-decision POLICY
    EVALUATION as an engine operator, reporting per-arm pulls/rewards
    plus the policy's regret against the best fixed arm in hindsight.

    Scale plan: the reward grid is one distributed daily aggregation
    pivoted to arms on the calendar spine; the inherently sequential
    walk (day t's choice depends on all rewards before t) runs in ONE
    mapInPandas task (operators/policy.epsilon_greedy_replay — the
    q248 bounded-state rule), pinned cross-engine by the generated
    recursive-CTE oracle.  Exactness: pulls/rewards are exact integers;
    the exploit argmax compares (unpulled, −mean, index) where −mean is
    the identical IEEE division in both engines; means report as
    half-away 6-dp rationals."""
    from pyspark.sql.window import Window
    from ..operators.policy import epsilon_greedy_replay
    from .analytics2 import _day_grid

    d = _day_grid(spark, sf_dir)
    bounds = d.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day")
    )
    grid = (
        spine.join(d, "day", "left")
        .groupBy("day")
        .agg(
            *[
                F.coalesce(
                    F.max(
                        F.when(F.col("event_type") == a, F.col("cnt"))
                    ),
                    F.lit(0),
                ).alias(f"r{i}")
                for i, a in enumerate(_Q299_ARMS, start=1)
            ]
        )
        .localCheckpoint(eager=True)  # feeds the kernel AND best-arm agg
    )
    out = epsilon_greedy_replay(
        grid, reward_cols=[f"r{i}" for i in range(1, 6)], order_col="day"
    )
    best = grid.agg(
        F.greatest(
            *[F.sum(f"r{i}").cast("decimal(38,0)") for i in range(1, 6)]
        ).alias("b")
    )
    arm_map = F.array(*[F.lit(a) for a in _Q299_ARMS])
    return (
        out.crossJoin(F.broadcast(best))
        .select(
            F.element_at(arm_map, F.col("arm_idx")).alias("arm"),
            F.col("pulls").cast("long").alias("pulls"),
            F.col("total_reward").cast("long").alias("total_reward"),
            F.when(F.col("pulls") == 0, F.lit(0.0))
            .otherwise(
                F.expr(
                    "(2*total_reward*1000000 + pulls) div (2*CAST(pulls"
                    " AS DECIMAL(38,0)))"
                ).cast("double")
                / 1_000_000
            )
            .alias("mean_reward"),
            F.col("policy_total").cast("long").alias("policy_total"),
            F.col("b").cast("long").alias("best_fixed_total"),
            (F.col("b") - F.col("policy_total")).cast("long").alias("regret"),
        )
        .orderBy("arm")
    )


@query(
    "q301_random_projection",
    oracle="""
    WITH e AS (
      SELECT vec_id, r.i AS pos,
             CAST(floor(CAST(embedding[r.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS vm
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    sg AS (
      SELECT d.i, u.j,
             1 - 2*(CAST(('0x' || substr(md5(CAST(d.i AS VARCHAR) || ':'
                          || CAST(u.j AS VARCHAR)), 1, 8)) AS BIGINT) % 2)
               AS s
      FROM (SELECT DISTINCT pos AS i FROM e) d,
           unnest(generate_series(1, 16)) AS u(j)
    ),
    proj AS (
      SELECT e.vec_id, sg.j, SUM(sg.s * e.vm) AS pj
      FROM e JOIN sg ON sg.i = e.pos GROUP BY 1, 2
    ),
    pe AS (SELECT * FROM e WHERE vec_id < 200),
    do2 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.vm - b.vm AS HUGEINT)*(a.vm - b.vm)) AS d2
      FROM pe a JOIN pe b
        ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0 AND b.pos = a.pos
      GROUP BY 1, 2
    ),
    dp2 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.pj - b.pj AS HUGEINT)*(a.pj - b.pj)) AS p2
      FROM proj a JOIN proj b
        ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0 AND b.j = a.j
      WHERE a.vec_id < 200
      GROUP BY 1, 2
    )
    SELECT o.id_a, o.id_b,
           CAST(o.d2 AS BIGINT) AS orig_dist2_u,
           CAST(p.p2 AS BIGINT) AS proj_dist2_u,
           CASE WHEN o.d2 = 0 THEN NULL
                ELSE CAST((2*p.p2*1000000 + 16*o.d2) // (2*16*o.d2)
                          AS DOUBLE) / 1000000 END AS distortion_ratio
    FROM do2 o JOIN dp2 p USING (id_a, id_b)
    ORDER BY id_a
    """,
    tags=("embedding", "dimensionality", "ml-features"),
)
def q301_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection audit: project every
    embedding from 64 to 16 dimensions with a deterministic ±1 md5 sign
    matrix, then measure pairwise-distance distortion on 100 adjacent
    id pairs — ratio ||Rx−Ry||² / (m·||x−y||²) ≈ 1 under the JL lemma
    (E[(r·z)²] = ||z||² for ±1 rows).  The dimensionality-reduction
    primitive next to PCA (q223) and Matryoshka truncation (q171).

    Scale plan: the projection is one posexplode + broadcast join with
    the BOUNDED (64×16) sign table + one (vec, j) hash aggregation —
    no GEMM kernel needed at this output width because the fan-out is
    16, not all-pairs; the distortion audit joins only the 100 sampled
    pairs position-keyed.  Exactness: embeddings snap to the 1e-6
    integer micro grid (micro_array — THE quantization convention), so
    projections and both squared distances are exact integers
    (DECIMAL(38,0)/HUGEINT); the ratio is a half-away 6-dp rational."""
    from ..operators.ann import micro_array

    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode(micro_array(F.col("embedding"))).alias("p0", "vm")
    ).withColumn("pos", F.col("p0") + 1).drop("p0").localCheckpoint(
        eager=True
    )  # feeds the sign-table build, the projection AND the pair audit
    sg = (
        e.select(F.col("pos").alias("i"))
        .distinct()
        .select(
            "i", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("j")
        )
        .select(
            "i",
            "j",
            (
                1
                - 2
                * (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("i"), F.col("j"))),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("s"),
        )
    )
    proj = (
        e.join(F.broadcast(sg), e.pos == sg.i)
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("vm")).alias("pj"))
    )
    pe = e.where(F.col("vec_id") < 200)
    a = pe.select(F.col("vec_id").alias("id_a"), "pos", F.col("vm").alias("va"))
    b = pe.select((F.col("vec_id") - 1).alias("id_a"), "pos", F.col("vm").alias("vb"))
    do2 = (
        a.where(F.col("id_a") % 2 == 0)
        .join(b, ["id_a", "pos"])
        .groupBy("id_a")
        .agg(
            F.sum(
                F.expr("CAST(va - vb AS DECIMAL(38,0))*(va - vb)")
            ).alias("d2")
        )
    )
    pa = proj.where((F.col("vec_id") < 200) & (F.col("vec_id") % 2 == 0)).select(
        F.col("vec_id").alias("id_a"), "j", F.col("pj").alias("ja")
    )
    pb = proj.where(F.col("vec_id") < 200).select(
        (F.col("vec_id") - 1).alias("id_a"), "j", F.col("pj").alias("jb")
    )
    dp2 = (
        pa.join(pb, ["id_a", "j"])
        .groupBy("id_a")
        .agg(
            F.sum(
                F.expr("CAST(ja - jb AS DECIMAL(38,0))*(ja - jb)")
            ).alias("p2")
        )
    )
    return (
        do2.join(dp2, "id_a")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            (F.col("id_a") + 1).cast("long").alias("id_b"),
            F.col("d2").cast("long").alias("orig_dist2_u"),
            F.col("p2").cast("long").alias("proj_dist2_u"),
            F.when(F.col("d2") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.expr("(2*p2*1000000 + 16*d2) div (2*16*d2)").cast("double")
                / 1_000_000
            )
            .alias("distortion_ratio"),
        )
        .orderBy("id_a")
    )


@query(
    "q302_lsh_candidate_eval",
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
    hashed AS (
      SELECT id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
      FROM sh, (SELECT unnest(range(0, 8)) AS seed)
    ),
    sig AS (
      SELECT id, seed % 4 AS band,
             md5(CAST(seed % 4 AS VARCHAR) || '|' ||
                 MIN(CASE WHEN seed < 4 THEN h END) || '|' ||
                 MIN(CASE WHEN seed >= 4 THEN h END)) AS band_sig
      FROM hashed GROUP BY id, seed % 4
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id
    ),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT c.id_a, c.id_b
      FROM common c JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE 2*c.n_common >= sa.n + sb.n - c.n_common
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM cand) AS n_cand,
             (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM cand JOIN truth USING (id_a, id_b))
               AS tp
    )
    SELECT CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_truth AS BIGINT) AS n_truth_pairs,
           CAST(tp AS BIGINT) AS true_positives,
           {prec} AS precision,
           {rec} AS recall
    FROM m
    """.format(prec=_ha6_sql("tp", "n_cand"), rec=_ha6_sql("tp", "n_truth")),
    tags=("dedup", "lsh", "eval"),
)
def q302_lsh_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-quality evaluation: precision and recall of the
    q22 banding scheme's CANDIDATE pairs (4 bands × 2 rows over 8
    MinHash permutations) against the exact Jaccard ≥ 0.5 ground truth
    — the measurement behind the S-curve tuning story (q113 picks a
    scheme; this query says what the default scheme actually catches
    and wastes, closing the dedup-quality loop).

    Scale plan: reuses the memoized shingle table; candidates are the
    banded equi-join (O(n·bands) — the pre-verify stage, deliberately
    WITHOUT q22's exact-verify step since unverified candidates are
    the object under test); truth reuses the memoized exact pair table;
    the threshold test is the exact integer form 2·common ≥ na+nb−common
    (never a float jaccard compare).  Exactness: pure integer counts;
    precision/recall half-away 6-dp rationals."""
    from ..operators.dedup import band_signatures
    from .textops import cached_jaccard_pairs, cached_shingles

    sh = cached_shingles(spark, sf_dir)
    sig = band_signatures(sh, num_perm=8, bands=4)
    a = sig.select(F.col("id").alias("id_a"), "band", "band_sig")
    b = sig.select(F.col("id").alias("id_b"), "band", "band_sig")
    cand = (
        a.join(b, ["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)  # feeds the count AND the tp join
    )
    truth = cached_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    tp = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("tp")
    )
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(tp))
        .select(
            F.col("n_cand").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth_pairs"),
            F.col("tp").cast("long").alias("true_positives"),
            _ha6("tp", "n_cand").alias("precision"),
            _ha6("tp", "n_truth").alias("recall"),
        )
    )


_Q303_TABLES: tuple[tuple[str, str], ...] = (
    # canonical row string per table: exact-typed columns only — doubles
    # go through a DECIMAL cast first because raw double→string
    # formatting is NOT engine-portable
    ("region", "CAST(r_regionkey AS STRING) || '|' || r_name"),
    ("nation", "CAST(n_nationkey AS STRING) || '|' || n_name || '|' ||"
               " CAST(n_regionkey AS STRING)"),
    ("supplier", "CAST(s_suppkey AS STRING) || '|' || s_name || '|' ||"
                 " CAST(s_nationkey AS STRING)"),
    ("customer", "CAST(c_custkey AS STRING) || '|' || c_name || '|' ||"
                 " CAST(c_nationkey AS STRING) || '|' ||"
                 " CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING)"
                 " || '|' || c_mktsegment"),
    ("orders", "CAST(o_orderkey AS STRING) || '|' ||"
               " CAST(o_custkey AS STRING) || '|' || o_orderstatus || '|' ||"
               " CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)"
               " || '|' || CAST(CAST(o_orderdate AS DATE) AS STRING)"
               " || '|' || o_orderpriority"),
)


@query(
    "q303_table_fingerprints",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(('0x' || substr(md5({expr.replace("AS STRING", "AS VARCHAR")}), 1, 15))
                              AS BIGINT) AS HUGEINT))
                % 2305843009213693952 AS BIGINT) AS checksum
    FROM {tbl}
    """
        for tbl, expr in _Q303_TABLES
    )
    + "\nORDER BY tbl",
    tags=("dq", "reconciliation", "mergeable"),
)
def q303_table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints: per table, the row count
    plus an additive md5 checksum of a canonical row string — the
    cross-system RECONCILIATION primitive (same fingerprint ⇒ same
    multiset of rows, to hash strength) that a migration or replication
    pipeline compares between source and target without moving data.

    Scale plan: one map-side-combinable aggregation per table — the
    checksum is a plain SUM, so per-partition (or per-system) partial
    fingerprints merge by addition, exactly the property reconciliation
    at 100 TB needs (fingerprint shards, compare, drill into only the
    mismatched shard).  Exactness: canonical strings use exact-typed
    casts only (doubles through DECIMAL first — raw double→string
    formatting is not engine-portable); 15 md5 hex chars keep each term
    below 2^60 and the DECIMAL(38,0)/HUGEINT sum exact; the published
    fingerprint reduces mod 2^61 so it rides a plain BIGINT on both
    engines (merge partials first, reduce last — mod is a
    homomorphism)."""
    frames = []
    for tbl, expr in _Q303_TABLES:
        t = read_table(spark, sf_dir, tbl)
        frames.append(
            t.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.conv(
                        F.substring(F.md5(F.expr(expr)), 1, 15), 16, 10
                    ).cast("decimal(38,0)")
                ).alias("checksum"),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.expr(
                    "CAST(checksum % 2305843009213693952 AS BIGINT)"
                ).alias("checksum"),
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.orderBy("tbl")


@query(
    "q304_dedup_transitivity",
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
    p AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM common c JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
      WHERE 2*c.n_common >= sa.n + sb.n - c.n_common
    ),
    s AS (SELECT id_a AS x, id_b AS y FROM p
          UNION ALL SELECT id_b, id_a FROM p),
    w AS (
      SELECT a.y AS u, b.y AS w
      FROM s a JOIN s b ON a.x = b.x AND a.y < b.y
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM p) AS n_pairs,
             (SELECT COUNT(*) FROM w) AS n_wedges,
             (SELECT COUNT(*) FROM w JOIN p
                ON p.id_a = w.u AND p.id_b = w.w) AS n_closed
    )
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_closed AS BIGINT) AS n_closed,
           CASE WHEN n_wedges = 0 THEN NULL
                ELSE {ratio} END AS closure_ratio
    FROM m
    """.format(ratio=_ha6_sql("n_closed", "n_wedges")),
    tags=("dedup", "graph", "audit"),
)
def q304_dedup_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-duplicate graph: how often does
    (a~b, b~c) imply (a~c) at Jaccard ≥ 0.5?  Threshold dedup is NOT
    transitive — the closure ratio quantifies how much the
    connected-component clustering step (q27) glues together pairs the
    threshold itself would reject, i.e. the over-merge risk of
    cluster-based dedup.

    Scale plan: wedges enumerate on the MEMOIZED pair table (only
    above-threshold pairs — tiny by construction; never the raw
    similarity graph, the q167 lesson); closure is one pair-keyed join.
    Exactness: integer counts; ratio half-away 6-dp."""
    from .textops import cached_jaccard_pairs

    p = cached_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    s = p.select(F.col("id_a").alias("x"), F.col("id_b").alias("y")).unionAll(
        p.select(F.col("id_b").alias("x"), F.col("id_a").alias("y"))
    )
    a = s.select("x", F.col("y").alias("u"))
    b = s.select("x", F.col("y").alias("w"))
    wedges = (
        a.join(b, "x").where(F.col("u") < F.col("w")).select("u", "w")
    ).localCheckpoint(eager=True)  # feeds the count AND the closure join
    np_ = p.agg(F.count(F.lit(1)).alias("n_pairs"))
    nw = wedges.agg(F.count(F.lit(1)).alias("n_wedges"))
    ncl = wedges.join(
        p, (p.id_a == wedges.u) & (p.id_b == wedges.w)
    ).agg(F.count(F.lit(1)).alias("n_closed"))
    return (
        np_.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(ncl))
        .select(
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.col("n_closed").cast("long").alias("n_closed"),
            F.when(F.col("n_wedges") == 0, F.lit(None).cast("double"))
            .otherwise(_ha6("n_closed", "n_wedges"))
            .alias("closure_ratio"),
        )
    )


@query(
    "q305_knn_classifier_eval",
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
      SELECT query_id, true_label, label, COUNT(*) AS cnt
      FROM top GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label,
             (list_sort(list((-cnt, label))))[1][2] AS predicted
      FROM votes GROUP BY 1, 2
    )
    SELECT CAST(true_label AS INT) AS true_label,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           {acc} AS accuracy
    FROM pred GROUP BY 1 ORDER BY 1
    """.format(
        acc=_ha6_sql(
            "SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)",
            "COUNT(*)",
        )
    ),
    tags=("ann", "knn", "ml-eval"),
)
def q305_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier evaluation on the embeddings: md5-stable 80/20
    train/test split (the q249 idiom), exact cosine top-5 neighbors
    from the train split, majority-vote label (ties to the smallest
    label), per-class accuracy — the lazy-classifier eval completing
    the supervised corner next to Naive Bayes (q249) and logistic IRLS
    (q222), and a direct quality readout for the ANN machinery (if
    IVF/LSH candidates degrade, this number moves).

    Scale plan: scoring uses the blocked-GEMM brute-force kernel
    (operators/ann.brute_force_knn — per-block top-k merge, broadcast
    query matrix); votes are bounded 5-row groups aggregated by the
    sorted-list argmax (windowless, the q249 tie discipline).
    Exactness: cosine rounded 6 dp before ranking (q24 convention);
    counts exact; accuracy half-away 6-dp rational."""
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
    lab = train.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    tl = test.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        knn.join(lab, "neighbor_id")
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.element_at(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("cnt")).alias("nc"), F.col("nl")))
                ),
                1,
            )["nl"].alias("predicted")
        )
        .join(tl, "query_id")
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("n_correct").cast("long").alias("n_correct"),
            _ha6("n_correct", "n_test").alias("accuracy"),
        )
        .orderBy("true_label")
    )


@query(
    "q306_profile_similarity",
    oracle="""
    WITH h AS (
      SELECT event_type, hour(ts) AS hr, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             SUM(CAST(a.c AS HUGEINT)*b.c) AS dot
      FROM h a JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type, SUM(CAST(c AS HUGEINT)*c) AS nsq FROM h GROUP BY 1
    )
    SELECT p.type_a, p.type_b,
           round(CAST(p.dot AS DOUBLE)
                 / (sqrt(CAST(na.nsq AS DOUBLE))
                    * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cosine
    FROM p JOIN n na ON na.event_type = p.type_a
    JOIN n nb ON nb.event_type = p.type_b
    ORDER BY type_a, type_b
    """,
    tags=("timeseries", "similarity", "profile"),
)
def q306_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-profile similarity between event types: cosine of the
    24-bin hour-of-day count vectors for every type pair — "which
    metrics behave alike", the profile-clustering input that pairs with
    the lead-lag view (q273) and the concentration view (q265).

    Scale plan: one (type, hour) aggregation (bounded 5×24), one
    hour-keyed pair join, two 1-row norm rollups — everything after the
    first agg is constant-size.  Exactness: dots and norms are exact
    integers (HUGEINT/DECIMAL(38,0)); cosine assembles in doubles from
    identical exact inputs (sqrt correctly rounded, 6-dp round of an
    irrational)."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)  # bounded 5x24; feeds pairs AND norms
    a = h.select(F.col("event_type").alias("type_a"), "hr", F.col("c").alias("ca"))
    b = h.select(F.col("event_type").alias("type_b"), "hr", F.col("c").alias("cb"))
    p = (
        a.join(b, "hr")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.expr("CAST(ca AS DECIMAL(38,0))*cb")).alias("dot"))
    )
    n = h.groupBy("event_type").agg(
        F.sum(F.expr("CAST(c AS DECIMAL(38,0))*c")).alias("nsq")
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("nsq").alias("na"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("nsq").alias("nb"))
    return (
        p.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q307_catalog_growth",
    oracle="""
    WITH wp AS (
      SELECT l.l_partkey AS part,
             date_trunc('week', o.o_orderdate) AS wk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    fo AS (SELECT part, MIN(wk) AS first_wk FROM wp GROUP BY 1),
    per AS (
      SELECT wp.wk, COUNT(*) AS n_parts,
             SUM(CASE WHEN fo.first_wk = wp.wk THEN 1 ELSE 0 END)
               AS n_new_parts
      FROM wp JOIN fo USING (part) GROUP BY 1
    )
    SELECT CAST(CAST(wk AS DATE) AS VARCHAR) AS week,
           CAST(n_parts AS BIGINT) AS n_parts,
           CAST(n_new_parts AS BIGINT) AS n_new_parts,
           {share} AS new_share
    FROM per ORDER BY week
    """.format(share=_ha6_sql("n_new_parts", "n_parts")),
    tags=("catalog", "novelty", "retention"),
)
def q307_catalog_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog growth: per order week, how many distinct parts traded
    and what share of them are NEW (first week they ever appear) — the
    entity-level novelty curve (q281 scores text novelty per document;
    this is the dimensional-catalog twin every marketplace tracks).

    Scale plan: one (part, week) distinct aggregation, one part-keyed
    first-occurrence aggregation joined back part-keyed, one bounded
    per-week rollup.  Exactness: integer counts; share half-away 6-dp."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    wp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_trunc("week", "o_orderdate").alias("wk"),
        )
        .agg(F.lit(1).alias("_x"))
        .drop("_x")
        .localCheckpoint(eager=True)  # feeds first-occurrence AND the rollup
    )
    fo = wp.groupBy("part").agg(F.min("wk").alias("first_wk"))
    # r12: no part-keyed join back — n_new_parts(wk) is just the
    # first-occurrence table grouped by first_wk, so the |parts×weeks|
    # join collapses into a bounded week⋈week join of two aggregates
    # (guide §2.4: one less full shuffle of wp).  Every week in wp
    # appears in the per-week rollup, so the left join + coalesce(0)
    # publishes the identical zero-new weeks.
    per_wk = wp.groupBy("wk").agg(F.count(F.lit(1)).alias("n_parts"))
    new_wk = fo.groupBy(F.col("first_wk").alias("wk")).agg(
        F.count(F.lit(1)).alias("nn")
    )
    return (
        per_wk.join(F.broadcast(new_wk), "wk", "left")
        .select(
            "wk",
            "n_parts",
            F.coalesce("nn", F.lit(0)).alias("n_new_parts"),
        )
        .select(
            F.col("wk").cast("date").cast("string").alias("week"),
            F.col("n_parts").cast("long").alias("n_parts"),
            F.col("n_new_parts").cast("long").alias("n_new_parts"),
            _ha6("n_new_parts", "n_parts").alias("new_share"),
        )
        .orderBy("week")
    )


@query(
    "q308_gzip_quality",
    oracle=None,  # zlib has no SQL twin — rows-only; pinned by
    # tests/test_round8_ops.py (known-ratio anchors + ordering property)
    tags=("training-data", "quality", "rows-only"),
)
def q308_gzip_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip compression-ratio quality signal per source:
    compressed_bytes / raw_bytes of each document (zlib level 6),
    aggregated per source — the cheap redundancy detector real LLM
    curation pipelines use (highly compressible ⇒ templated/repetitive
    text; near-1 ⇒ high-entropy noise): the streaming-friendly
    complement of the repetition score (q92) and Gopher rules (q204).

    Scale plan: ONE Arrow-batched pandas UDF computes ratios (zlib is
    C-speed; bytes never leave the executor), then a per-source hash
    aggregation.  Rows-only by necessity — no SQL engine exposes a
    deterministic compressor — so the behavior tests pin known anchors:
    repeated text compresses below 0.2, the md5-hex high-entropy anchor
    stays above 0.5, and ratios are scale-invariant on duplication."""
    from ..functions.text import gzip_ratio_udf

    gz_ratio = gzip_ratio_udf()
    docs = read_table(spark, sf_dir, "documents")
    r = docs.select(
        "source", gz_ratio(F.col("text")).alias("ratio")
    ).where(F.col("ratio").isNotNull())
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ratio"), 6).alias("avg_ratio"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
        )
        .orderBy("source")
    )


_Q309_FEATURES: tuple[tuple[str, str, str], ...] = (
    ("events.value", "events", "value"),
    ("lineitem.l_discount", "lineitem", "l_discount"),
    ("lineitem.l_quantity", "lineitem", "l_quantity"),
    ("lineitem.l_tax", "lineitem", "l_tax"),
    ("orders.o_totalprice", "orders", "o_totalprice"),
)


@query(
    "q309_feature_screening",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS feature,
           CAST(COUNT({col}) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST((2*COUNT(DISTINCT {col})*1000000 + COUNT({col}))
                // (2*COUNT({col})) AS DOUBLE) / 1000000 AS distinct_ratio,
           CAST(COUNT({col})
                  * SUM(CAST(CAST(floor({col}*1000 + 0.5) AS BIGINT)
                             AS HUGEINT)
                        * CAST(floor({col}*1000 + 0.5) AS BIGINT))
                - SUM(CAST(CAST(floor({col}*1000 + 0.5) AS BIGINT)
                           AS HUGEINT))
                  * SUM(CAST(CAST(floor({col}*1000 + 0.5) AS BIGINT)
                             AS HUGEINT)) AS VARCHAR)
             AS n2_variance_mu,
           COUNT(DISTINCT {col}) <= 1 AS near_zero_variance
    FROM {tbl}
    """
        for name, tbl, col in _Q309_FEATURES
    )
    + "\nORDER BY feature",
    tags=("ml-features", "screening", "profiling"),
)
def q309_feature_screening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-screening pass over candidate numeric model inputs:
    count, distinct cardinality, distinct ratio, and the (n²-scaled)
    variance n·Σx² − (Σx)², flagging near-zero-variance features — the
    pre-training screen every feature pipeline runs before fitting
    (constant features waste encoders and break standardization, the
    q202 step downstream).

    Scale plan: one hash aggregation per feature (map-side combinable,
    the exact-moment shape of q137/q144); the union of 1-row frames is
    driver-free.  Exactness: moments via exact DECIMAL sums (dsum
    idiom, squares widened to DECIMAL(38,12)); the n²-variance is an
    EXACT INTEGER on the 1e-3 value grid (every screened feature is
    ≤3-dp by construction; floor(x·1e3+0.5) is the micro_array snap),
    published as a decimal STRING because its magnitude outruns both
    the int64 range and double ULP — and because DuckDB's
    DECIMAL(38,12)→DOUBLE cast is NOT correctly rounded past 2^53
    scaled units (found live here: 51213411.000000000000 casts to
    ...411.00000001); distinct
    ratio is a half-away integer rational."""
    frames = []
    for name, tbl, col in _Q309_FEATURES:
        t = read_table(spark, sf_dir, tbl)
        u = f"CAST(floor({col}*1000 + 0.5) AS BIGINT)"
        agg = t.agg(
            F.count(F.col(col)).alias("n"),
            F.count_distinct(F.col(col)).alias("nd"),
            F.sum(F.expr(f"CAST({u} AS DECIMAL(38,0))")).alias("s"),
            F.sum(F.expr(f"CAST({u} AS DECIMAL(38,0)) * {u}")).alias("q"),
        )
        frames.append(
            agg.select(
                F.lit(name).alias("feature"),
                F.col("n").cast("long").alias("n"),
                F.col("nd").cast("long").alias("n_distinct"),
                _ha6("nd", "n").alias("distinct_ratio"),
                F.expr("CAST(n*q - s*s AS STRING)").alias(
                    "n2_variance_mu"
                ),
                (F.col("nd") <= 1).alias("near_zero_variance"),
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.orderBy("feature")


@query(
    "q310_binning_drift",
    oracle="""
    WITH b AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events
    ),
    lab AS (
      SELECT value,
             CAST(ts AS DATE) <=
               b.d0 + CAST(date_diff('day', b.d0, b.d1) // 2 AS INT)
               AS first_half
      FROM events, b WHERE value IS NOT NULL
    ),
    q AS (
      SELECT
        [percentile_cont(0.1) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.2) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.3) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.4) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.5) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.6) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.7) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.8) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END),
         percentile_cont(0.9) WITHIN GROUP (ORDER BY CASE WHEN first_half THEN value END)]
          AS q1,
        [percentile_cont(0.1) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.2) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.3) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.4) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.5) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.6) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.7) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.8) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END),
         percentile_cont(0.9) WITHIN GROUP (ORDER BY CASE WHEN NOT first_half THEN value END)]
          AS q2
      FROM lab
    )
    SELECT CAST(u.i AS INT) AS decile,
           round(CAST(q1[u.i] AS DOUBLE), 6) AS q_first_half,
           round(CAST(q2[u.i] AS DOUBLE), 6) AS q_second_half,
           round(CAST(q2[u.i] AS DOUBLE) - CAST(q1[u.i] AS DOUBLE), 6)
             AS shift
    FROM q, unnest(generate_series(1, 9)) AS u(i)
    ORDER BY decile
    """,
    tags=("percentile", "drift", "kernel"),
)
def q310_binning_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-boundary drift: the nine decile edges of `value`
    computed on the first vs second half of the calendar — whether a
    model's equi-frequency bins (q146) trained on old data still bin
    new data correctly, the boundary-space drift view next to PSI
    (q149, fixed-bin mass drift) and embedding drift (q174).

    Scale plan: ONE quantile-kernel pass grouped by the half flag
    (boolean group key — two groups of unbounded size, exactly the
    kernel's regime); the 9-row reshape is the q296 driver-side local
    relation.  Exactness: identical-double interpolation (q61),
    6-dp round.

    Grid budget: datediff div 2 on calendar-day integers - tiny."""
    from ..operators.quantiles import exact_quantiles

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(
        F.expr("d0 + CAST(datediff(d1, d0) div 2 AS INT)").alias("dmid")
    )
    lab = ev.crossJoin(F.broadcast(b)).select(
        "value",
        F.when(F.to_date("ts") <= F.col("dmid"), "first")
        .otherwise("second")
        .alias("half"),
    )
    probs = {f"p{i}": i / 10.0 for i in range(1, 10)}
    qs = exact_quantiles(lab, "value", probs, ["half"])
    rows = _collect_bounded_groups(
        qs, "half", ("first", "second"), "q310_binning_drift"
    )
    q1, q2 = rows["first"], rows["second"]
    t = local_frame(
        spark, [[i, q1[f"p{i}"], q2[f"p{i}"]] for i in range(1, 10)],
        "decile int, a double, b double",
    )
    return t.select(
        "decile",
        F.round("a", 6).alias("q_first_half"),
        F.round("b", 6).alias("q_second_half"),
        F.round(F.col("b") - F.col("a"), 6).alias("shift"),
    ).orderBy("decile")


@query(
    "q311_journey_shapes",
    oracle="""
    WITH pe AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    shapes AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY rn) AS shape
      FROM pe WHERE rn <= 8 GROUP BY 1
    ),
    census AS (
      SELECT shape, COUNT(*) AS n_users FROM shapes GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS nu, COUNT(DISTINCT shape) FROM shapes)
    SELECT c.shape, CAST(c.n_users AS BIGINT) AS n_users,
           {share} AS share
    FROM census c, tot t
    ORDER BY c.n_users DESC, c.shape LIMIT 20
    """.format(share=_ha6_sql("c.n_users", "t.nu")),
    tags=("sessions", "sequence", "census"),
)
def q311_journey_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey-shape census: each user's first eight events collapse to
    a compact shape string (first letter per event type, in order);
    report the twenty most common shapes with their user share — the
    exploratory "what do journeys look like" census that motivates the
    Markov models (q176/q236/q293): those fit transitions, this counts
    whole paths.

    Scale plan: one high-cardinality per-user window pass (rn ≤ 8 cap
    bounds every shape string), one shape census aggregation, a
    TakeOrdered top-20.  Determinism: the shape string is an ORDERED
    aggregation in both engines (array_sort of (rn, letter) structs in
    Spark, string_agg ORDER BY rn in DuckDB); event letters are unique
    per type (c/e/p/s/v)."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pe = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("ltr"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 8)
    shapes = pe.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "ltr"))),
                lambda s: s["ltr"],
            ),
            "",
        ).alias("shape")
    )
    census = shapes.groupBy("shape").agg(F.count(F.lit(1)).alias("n_users"))
    tot = shapes.agg(F.count(F.lit(1)).alias("nu"))
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            "shape",
            F.col("n_users").cast("long").alias("n_users"),
            _ha6("n_users", "nu").alias("share"),
        )
        .orderBy(F.col("n_users").desc(), "shape")
        .limit(20)
    )


def _q312_rho_sql(suffix: str) -> str:
    """Position of the first 1-bit (from the MSB of a 24-bit suffix),
    as pure integer comparisons — engine-portable, no log2/bit_length:
    rho = 1 for suffix >= 2^23, ..., 24 for suffix = 1, 25 for 0."""
    branches = " ".join(
        f"WHEN {suffix} >= {1 << (23 - r + 1)} THEN {r}"
        for r in range(1, 25)
    )
    return f"CASE {branches} ELSE 25 END"


@query(
    "q312_hll_oracled",
    oracle=f"""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events GROUP BY user_id
    ),
    reg AS (
      SELECT (hv // 16777216) % 256 AS j,
             MAX({_q312_rho_sql("hv % 16777216")}) AS m
      FROM h GROUP BY 1
    ),
    full_reg AS (
      SELECT u.j, COALESCE(reg.m, 0) AS m
      FROM (SELECT unnest(generate_series(0, 255)) AS j) u
      LEFT JOIN reg ON reg.j = u.j
    ),
    s AS (
      SELECT SUM(1.0 / (CAST(1 AS BIGINT) << m)) AS z,
             COUNT(CASE WHEN m > 0 THEN 1 END) AS hit
      FROM full_reg
    ),
    ex AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
    est AS (
      SELECT s.hit,
             CASE WHEN 0.7213 / (1.0 + 1.079 / 256) * 65536 / s.z
                       <= 2.5 * 256 AND s.hit < 256
                  THEN 256.0 * ln(256.0 / (256 - s.hit))
                  ELSE 0.7213 / (1.0 + 1.079 / 256) * 65536 / s.z END AS e
      FROM s
    )
    SELECT CAST(ex.n AS BIGINT) AS n_exact,
           CAST(est.hit AS BIGINT) AS registers_hit,
           round(est.e, 6) AS hll_estimate,
           round(ABS(est.e - ex.n) / ex.n, 6) AS rel_err
    FROM est, ex
    """,
    tags=("sketch", "cardinality", "mergeable"),
)
def q312_hll_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-ORACLED HyperLogLog: 256 md5-derived registers estimate the
    distinct user count, audited against the exact distinct — unlike
    q173 (Spark's built-in HLL sketch, rows-only by necessity), every
    register here is a deterministic integer in BOTH engines, so the
    driver's hash gate pins the whole sketch, not just its tolerance.

    Scale plan: register assignment is ONE map-side-combinable MAX
    aggregation over 256 groups (mergeable by register-wise max — the
    HLL union property); rho comes from pure integer comparisons
    (24-branch CASE — no log2, no bit_length, both engine-portable and
    exact).  Exactness: every 2^-M term is an exact dyadic
    (1 / (1 << M), never pow()); 256 terms spanning 2^0..2^-25 sum
    EXACTLY in a double (25+8 bits < 53), so Z is order-independent and
    bit-identical; the estimate is one exact-input division, 6-dp
    rounded.  The standard
    small-range correction (linear counting m·ln(m/V) when the raw
    estimate ≤ 2.5m) IS applied: its ln takes an exact small rational
    and feeds a 6-dp round of an O(m)-magnitude value, where a 1-ulp
    libm gap is ~1e-13 — round-safe, unlike the per-term ln sums the
    module rule bans.

    Grid budget: hv < 2^32 (8 md5 hex digits); div 2^24 only shrinks."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.select("user_id").distinct().select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv")
    )
    reg = h.groupBy(F.expr("(hv div 16777216) % 256").alias("j")).agg(
        F.expr(f"MAX({_q312_rho_sql('hv % 16777216')})").alias("m")
    )
    full_reg = (
        spark.range(0, 256)
        .select(F.col("id").alias("j"))
        .join(F.broadcast(reg), "j", "left")
        .select(F.coalesce(F.col("m"), F.lit(0)).alias("m"))
    )
    s = full_reg.agg(
        F.sum(F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE)")).alias("z"),
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("hit"),
    )
    ex = ev.agg(F.count_distinct("user_id").alias("n"))
    raw = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / 256) * 65536 / F.col("z")
    est = F.when(
        (raw <= 2.5 * 256) & (F.col("hit") < 256),
        256.0 * F.log(256.0 / (256 - F.col("hit"))),
    ).otherwise(raw)
    return s.crossJoin(F.broadcast(ex)).select(
        F.col("n").cast("long").alias("n_exact"),
        F.col("hit").cast("long").alias("registers_hit"),
        F.round(est, 6).alias("hll_estimate"),
        F.round(F.abs(est - F.col("n")) / F.col("n"), 6).alias("rel_err"),
    )


@query(
    "q313_engagement_profile",
    oracle="""
    WITH per AS (
      SELECT user_id, COUNT(*) AS n_events,
             COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM events GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           {mean} AS mean_events,
           round(CAST(percentile_cont(0.5)
                 WITHIN GROUP (ORDER BY CAST(n_events AS DOUBLE))
                 AS DOUBLE), 6) AS p50_events,
           round(CAST(percentile_cont(0.9)
                 WITHIN GROUP (ORDER BY CAST(n_events AS DOUBLE))
                 AS DOUBLE), 6) AS p90_events,
           round(CAST(percentile_cont(0.99)
                 WITHIN GROUP (ORDER BY CAST(n_events AS DOUBLE))
                 AS DOUBLE), 6) AS p99_events,
           {md} AS mean_active_days
    FROM per
    """.format(
        mean=_ha6_sql("SUM(n_events)", "COUNT(*)"),
        md=_ha6_sql("SUM(active_days)", "COUNT(*)"),
    ),
    tags=("engagement", "percentile", "kernel"),
)
def q313_engagement_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement profile: user count, mean events per user,
    the p50/p90/p99 of the per-user event-count distribution, and mean
    active days — the heavy-tail engagement summary every product
    review starts from (the per-user twin of the per-day dispersion
    q264).

    Scale plan: one user-keyed aggregation; the global quantiles run
    through the distributed kernel (a single unbounded group — exactly
    its regime), the means are exact integer rationals.  Exactness:
    integer-valued doubles interpolate identically (q61); half-away
    6-dp rationals elsewhere."""
    from ..operators.quantiles import exact_quantiles

    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.to_date("ts")).alias("active_days"),
    ).localCheckpoint(eager=True)  # feeds the rollup AND the kernel
    qs = exact_quantiles(
        per.select(F.col("n_events").cast("double").alias("ne")),
        "ne",
        {"p50_events": 0.5, "p90_events": 0.9, "p99_events": 0.99},
    )
    t = per.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("se"),
        F.sum("active_days").alias("sd"),
    )
    return t.crossJoin(F.broadcast(qs)).select(
        F.col("n_users").cast("long").alias("n_users"),
        _ha6("se", "n_users").alias("mean_events"),
        F.round("p50_events", 6).alias("p50_events"),
        F.round("p90_events", 6).alias("p90_events"),
        F.round("p99_events", 6).alias("p99_events"),
        _ha6("sd", "n_users").alias("mean_active_days"),
    )
