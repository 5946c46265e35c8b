"""Text-analytics, deduplication and similarity-search queries.

The training-data-pipeline surface: language ID, quality scoring, token
counting, fingerprinting over ``documents``; exact / n-gram-Jaccard /
MinHash-LSH / SimHash dedup; embedding ANN over ``embeddings``.  Each
query pairs the DataFrame-operator implementation (cyber_etl_spark.
operators / functions) with a DuckDB oracle that reproduces the md5-based
hashing bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import EN_STOPWORDS, punct_ratio, stopword_ratio, tokens
from ..operators.ann import brute_force_knn, lsh_bucket_candidates
from ..operators.dedup import (
    exact_duplicate_mapping,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    simhash_neardup_pairs,
)
from ..session import artifact
from ..sources import read_table
from .registry import query

_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def cached_shingles(spark: SparkSession, sf_dir: str):
    """One materialized shingle table per (session, dataset): shared by
    the Jaccard, MinHash-LSH and clustering queries."""
    from ..operators.dedup import shingle_sets

    return artifact(
        spark, sf_dir, "shingles",
        lambda: shingle_sets(read_table(spark, sf_dir, "documents")),
    )


def cached_kmeans(
    spark: SparkSession, sf_dir: str, n_cells: int, iters: int
):
    """(vecs_pinned, cents): ONE deterministic Lloyd training per
    (session, dataset, scheme) over the embeddings table — q125's
    SemDeDup cells, q323's clustering eval and the 16-cell IVF family
    (q40/q166/q212) all train the IDENTICAL centroids (same micro-grid,
    same seed pick), so per-query retraining was duplicate work (the
    q375 catalog-routing rule applied to clustering artifacts)."""
    from ..operators.ann import _kmeans_core, _quantized_vecs


    def build():
        emb = read_table(spark, sf_dir, "embeddings")
        vecs = _quantized_vecs(emb, "vec_id", "embedding").localCheckpoint(
            eager=True
        )
        return vecs, _kmeans_core(vecs, n_cells, iters)

    return artifact(spark, sf_dir, "kmeans", build, n_cells, iters)


def cached_ivf_index(
    spark: SparkSession, sf_dir: str, n_cells: int = 16, iters: int = 2
):
    """(centroids, assignments) for the trained IVF coarse quantizer —
    the in-session twin of the persisted-index lifecycle (build once,
    every consumer probes it).  Values are identical to a per-query
    ``ivf_assign(emb, n_cells)`` (same kmeans_fit path)."""
    from ..operators.ann import nearest_centroid_assign


    def build():
        vecs, cents = cached_kmeans(spark, sf_dir, n_cells, iters)
        assign = nearest_centroid_assign(vecs, cents).localCheckpoint(
            eager=True
        )
        return cents, assign

    return artifact(spark, sf_dir, "ivfidx", build, n_cells, iters)


def cached_lsh_pairs(spark: SparkSession, sf_dir: str):
    """MinHash-LSH verified pair table (q22's scheme, threshold 0.5),
    materialized once per (session, dataset).  Because a document's
    shingle set — hence its signatures and its pairwise Jaccard — is
    independent of which OTHER documents exist, the LSH pairs of any
    document SUBSET are exactly this table restricted to ids in the
    subset; q109 exploits that instead of re-running the banding."""
    return artifact(
        spark, sf_dir, "lsh05",
        lambda: minhash_lsh_pairs(
            read_table(spark, sf_dir, "documents"),
            threshold=0.5,
            num_perm=8,
            bands=4,
            shingles_df=cached_shingles(spark, sf_dir),
        ).localCheckpoint(eager=True),
    )


def cached_jaccard_pairs(spark: SparkSession, sf_dir: str):
    """Exact Jaccard ≥ 0.5 pair table, materialized once per (session,
    dataset) — q21 reports it, q27 clusters it, q49/q50 anti-join it.
    The pair table is the natural shared intermediate of a dedup pass
    (production pipelines persist it); the pinned copy is tiny (only
    pairs above threshold survive)."""
    return artifact(
        spark, sf_dir, "pairs05",
        lambda: jaccard_pairs(
            read_table(spark, sf_dir, "documents"),
            threshold=0.5,
            shingles_df=cached_shingles(spark, sf_dir),
        ).localCheckpoint(eager=True),
    )

def _md5_fraction(col: str):
    """Uniform [0,1) fraction from the md5 of a stable id — the single
    Spark-side implementation of the deterministic-sampling idiom
    (q68/q108/q109); the oracle twin is
    CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 8)) AS BIGINT) / 2^32."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        / F.lit(4294967296.0)
    )


# DuckDB fragments shared by the dedup oracles --------------------------------

_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)-1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
  )
),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id)
"""

_JACCARD_FROM_COMMON = """
SELECT c.id_a, c.id_b,
       round(CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.id_a = sa.id
JOIN sizes sb ON c.id_b = sb.id
"""


# ---------------------------------------------------------------------------
# Text analytics over documents
# ---------------------------------------------------------------------------

@query(
    "q16_doc_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(CASE WHEN len(toks) > 0
                 THEN len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x))) / len(toks)
                 ELSE 0.0 END, 6) AS stop_ratio,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio
    FROM t
    """,
    tags=("text", "quality"),
)
def q16_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (length/punctuation/stopword ratios) as
    pure column expressions — the scalable form of the reference's
    row-wise text cleaning metrics (data_integration.ipynb:1554 cell 27)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(stopword_ratio(toks), 6).alias("stop_ratio"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


@query(
    "q17_token_stats",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS sub_tokens
    FROM documents
    """,
    tags=("text", "tokens"),
)
def q17_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (runs of letters / digits / single other chars), both JVM-side."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).cast("long").alias("sub_tokens"),
    )


@query(
    "q18_lang_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), pred AS (
      SELECT lang,
             CASE WHEN len(toks) > 0
                   AND len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x))) / len(toks) >= 0.1
                  THEN 'en-like' ELSE 'other' END AS pred_lang
      FROM t
    )
    SELECT lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY lang, pred_lang
    """,
    tags=("text", "langid"),
)
def q18_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit ratio) × declared lang —
    a confusion-matrix rollup.  The heuristic is deterministic n-gram
    scoring, the scalable stand-in for a model-based classifier."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    pred = (
        F.when(
            (F.size(toks) > 0) & (stopword_ratio(toks) >= 0.1), F.lit("en-like")
        ).otherwise(F.lit("other"))
    ).alias("pred_lang")
    return docs.select("lang", pred).groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q19_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fingerprint
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def q19_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set — the canonical-form dedup key (bag-of-words variant of the
    reference's normalize-then-match pipeline, alerts/parse_alert.ipynb:7474)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "q20_dedup_exact",
    oracle="""
    SELECT d.doc_id AS id, c.canonical_id
    FROM documents d
    JOIN (SELECT text, MIN(doc_id) AS canonical_id FROM documents GROUP BY text) c
      ON d.text = c.text
    """,
    tags=("dedup", "U2"),
)
def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as canonical-id mapping (hash groupBy on full text)."""
    return exact_duplicate_mapping(read_table(spark, sf_dir, "documents"))


@query(
    "q21_neardup_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT * FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.5
    """,
    tags=("dedup", "J7", "M4"),
)
def q21_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-Jaccard near-dup pairs (threshold 0.5) via
    inverted-index self-join — the sound, distributed replacement for the
    reference's pruned O(n·m) loop (alerts/cpe_product.ipynb:514-520)."""
    df = cached_jaccard_pairs(spark, sf_dir)
    return df.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "q22_neardup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
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
      JOIN cand ON a.id = cand.id_a AND b.id = cand.id_b
      GROUP BY 1, 2
    )
    SELECT * FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.5
    """,
    tags=("dedup", "minhash", "lsh"),
)
def q22_neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 md5 permutations) + banded LSH (4 bands × 2 rows)
    candidates, exact-verified at Jaccard ≥ 0.5.  Candidate shuffle is
    O(n·bands) — the 100 TB-scale dedup path.  The DuckDB oracle replays
    the identical signature scheme, so both engines agree exactly
    (including which sub-threshold-probability pairs LSH recall misses)."""
    df = cached_lsh_pairs(spark, sf_dir)
    return df.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "q113_neardup_lsh_tuned",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
      FROM sh, (SELECT unnest(range(0, 12)) AS seed)
    ),
    sig AS (
      SELECT id, seed % 4 AS band,
             md5(CAST(seed % 4 AS VARCHAR) || '|' ||
                 MIN(CASE WHEN seed < 4 THEN h END) || '|' ||
                 MIN(CASE WHEN seed >= 4 AND seed < 8 THEN h END) || '|' ||
                 MIN(CASE WHEN seed >= 8 THEN h END)) AS band_sig
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
      JOIN cand ON a.id = cand.id_a AND b.id = cand.id_b
      GROUP BY 1, 2
    )
    SELECT * FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.6
    """,
    tags=("dedup", "minhash", "lsh", "tuned"),
)
def q113_neardup_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22's MinHash-LSH at a NON-default operating point: 12 permutations
    / 4 bands (3 rows per band) and threshold 0.6 — a sharper S-curve
    knee (candidate probability j³ per band vs j² at the default), the
    way production dedup tunes precision/recall.  Exercises the
    generalized ``band_signatures`` fold (any rows-per-band, still one
    groupBy); the oracle replays the 3-row band fold literally, so both
    engines agree bit-for-bit on which pairs the scheme recalls."""
    df = minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"),
        threshold=0.6,
        num_perm=12,
        bands=4,
        shingles_df=cached_shingles(spark, sf_dir),
    )
    return df.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "q104_neardup_stop_shingle",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)-1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks
      )
    ),
    shdf AS (SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT s.id, s.shingle FROM sh0 s JOIN shdf d ON s.shingle = d.shingle
           WHERE d.df <= 4),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT * FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.5
    """,
    tags=("dedup", "stop-shingle", "skew"),
)
def q104_neardup_stop_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21's exact Jaccard with the PRODUCTION skew guard on: shingles
    appearing in more than 4 documents (boilerplate — the hot posting
    lists that dominate the inverted-index shuffle on a real corpus) are
    dropped from the shingle space before the join, and Jaccard is
    computed consistently over the filtered sets.  The oracle applies the
    identical document-frequency cap in a CTE, proving the
    ``max_shingle_df`` path end-to-end the way q102/q103 proved the
    salted-agg/join operators."""
    docs = read_table(spark, sf_dir, "documents")
    df = jaccard_pairs(
        docs,
        threshold=0.5,
        shingles_df=cached_shingles(spark, sf_dir),
        max_shingle_df=4,
    )
    return df.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _side_sig_cte(tag: str, pred: str) -> str:
    """Per-side shingle+signature CTEs for the incremental-LSH oracle —
    the same scheme as q22's, parameterized by a document filter."""
    return f"""
    toks{tag} AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents WHERE {pred}
    ),
    sh{tag} AS (
      SELECT DISTINCT doc_id AS id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)-1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks{tag}
      )
    ),
    sizes{tag} AS (SELECT id, COUNT(*) AS n FROM sh{tag} GROUP BY id),
    hashed{tag} AS (
      SELECT id, seed, md5(CAST(seed AS VARCHAR) || ':' || shingle) AS h
      FROM sh{tag}, (SELECT unnest(range(0, 8)) AS seed)
    ),
    sig{tag} AS (
      SELECT id, seed % 4 AS band,
             md5(CAST(seed % 4 AS VARCHAR) || '|' ||
                 MIN(CASE WHEN seed < 4 THEN h END) || '|' ||
                 MIN(CASE WHEN seed >= 4 THEN h END)) AS band_sig
      FROM hashed{tag} GROUP BY id, seed % 4
    )"""


@query(
    "q106_incremental_dedup",
    oracle=f"""
    WITH {_side_sig_cte("N", "doc_id % 10 = 0")},
    {_side_sig_cte("C", "doc_id % 10 <> 0")},
    cand AS (
      SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
      FROM sigN a JOIN sigC b
        ON a.band = b.band AND a.band_sig = b.band_sig
    ),
    common AS (
      SELECT n.id AS id_new, c.id AS id_corpus, COUNT(*) AS n_common
      FROM shN n JOIN shC c ON n.shingle = c.shingle
      JOIN cand ON n.id = cand.id_new AND c.id = cand.id_corpus
      GROUP BY 1, 2
    )
    SELECT id_new, id_corpus, jaccard FROM (
      SELECT cm.id_new, cm.id_corpus,
             round(CAST(cm.n_common AS DOUBLE) / (sa.n + sb.n - cm.n_common), 6)
               AS jaccard
      FROM common cm
      JOIN sizesN sa ON cm.id_new = sa.id
      JOIN sizesC sb ON cm.id_corpus = sb.id
    ) WHERE jaccard >= 0.5
    """,
    tags=("dedup", "lsh", "incremental"),
)
def q106_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: every 10th document plays the NEW crawl
    batch, the rest the historical corpus — asymmetric LSH
    (operators/dedup.minhash_lsh_pairs_incremental): both sides signed
    with the same seeded permutations, candidates from one
    (band, band_sig) equi-join, exact-verified candidate-first.  The
    corpus is never paired with itself — the shape a production pipeline
    runs per crawl batch at 100 TB."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    # both sides are slices of one shared, already-materialized shingle
    # build — no document is re-shingled for this query
    sh = cached_shingles(spark, sf_dir)
    df = minhash_lsh_pairs_incremental(
        new,
        corpus,
        threshold=0.5,
        shingles_new=sh.where(F.col("id") % 10 == 0),
        shingles_corpus=sh.where(F.col("id") % 10 != 0),
    )
    return df.select("id_new", "id_corpus", F.round("jaccard", 6).alias("jaccard"))


@query(
    "q23_neardup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    tc AS (SELECT id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT token FROM tc),
    bits AS (
      SELECT token, j,
             CAST(floor((strpos('0123456789abcdef',
                                substr(md5(token), CAST(floor(j / 4) AS INT) + 1, 1)) - 1)
                        / pow(2, j % 4)) AS BIGINT) % 2 AS bit
      FROM vocab, (SELECT unnest(range(0, 60)) AS j)
    ),
    contrib AS (SELECT id, j, cnt * (2 * bit - 1) AS w FROM tc JOIN bits USING (token)),
    signs AS (
      SELECT id, j, CASE WHEN SUM(w) >= 0 THEN 1 ELSE 0 END AS s
      FROM contrib GROUP BY 1, 2
    ),
    fp AS (
      SELECT id, CAST(SUM(s * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
      FROM signs GROUP BY 1
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "simhash"),
)
def q23_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (60-bit, token-frequency weighted) near-dup pairs at
    Hamming ≤ 3.  The Spark plan generates candidates by banding the
    fingerprint into 4 segments (pigeonhole-exact for hamming ≤ 3) —
    equi-join economics; the oracle brute-forces the tiny sf0.01 corpus."""
    docs = read_table(spark, sf_dir, "documents")
    df = simhash_neardup_pairs(docs, max_hamming=3, bands=4)
    return df.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query(
    "q24_knn_bruteforce",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
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
    tags=("ann", "knn"),
)
def q24_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 20 query vectors against the whole corpus:
    broadcast the query side, JVM-side zip_with/aggregate dot products,
    per-query window rank.  Scores rounded to 1e-6 to absorb last-ulp
    engine differences before ranking."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return brute_force_knn(emb, queries, k=10)


def _lsh_oracle(dim: int = 64, n_planes: int = 8, bands: int = 4, seed: int = 42) -> str:
    """Replay the random-hyperplane LSH scheme in DuckDB: the plane
    vectors are fixed literals (operators/ann._plane_literals, rounded to
    6 dp, so repr() round-trips to bit-identical doubles in both engines),
    the sign-bit band join and the exact re-rank are plain SQL."""
    from ..operators.ann import _plane_literals

    planes = _plane_literals(dim, n_planes, seed)
    bpb = n_planes // bands

    def arr(p: list) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"

    bit_exprs = ",\n             ".join(
        f"CASE WHEN list_dot_product(v, {arr(p)}) >= 0 THEN 1 ELSE 0 END AS b{j}"
        for j, p in enumerate(planes)
    )
    band_union = "\n      UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        + " + ".join(f"{2 ** k} * b{b * bpb + k}" for k in range(bpb))
        + " AS val FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
      SELECT id, {bit_exprs}
      FROM c
    ),
    bands AS (
      {band_union}
    ),
    cand AS (
      SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id
      FROM bands qb JOIN bands cb ON qb.band = cb.band AND qb.val = cb.val
      WHERE qb.id < 20 AND qb.id <> cb.id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(q.v, n.v), 6) AS cosine
      FROM cand JOIN c q ON q.id = cand.query_id
      JOIN c n ON n.id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """


@query("q25_knn_lsh", oracle=_lsh_oracle(), tags=("ann", "lsh"))
def q25_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets + exact re-rank of candidates
    only — cosine is computed solely for bucket-sharing pairs, so the
    scoring cost scales with candidate count, not corpus × queries.

    Oracle: the plane constants are deterministic literals, so DuckDB
    replays the identical sign-bit banding, candidate join, and re-rank —
    both engines agree exactly, including which pairs LSH recall misses."""
    from pyspark.sql.window import Window

    from ..functions.vectors import cosine_similarity, to_double_array

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    cand = lsh_bucket_candidates(emb, queries, n_planes=8, bands=4)
    qv = queries.select(
        F.col("vec_id").alias("query_id"), to_double_array(F.col("embedding")).alias("qv")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"), to_double_array(F.col("embedding")).alias("cv")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 10).drop("rn")
    )


@query(
    "q39_neardup_embedding",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
    """,
    tags=("dedup", "ann", "embedding"),
)
def q39_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4) — the semantic
    dedup modality.  Exact all-pairs at test scale; the LSH-bucketed
    variant (operators.ann.lsh_bucket_candidates) is the 100 TB path."""
    from ..operators.ann import cosine_neardup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.4)


_KM_ASSIGN_TPL = """{name} AS (
  SELECT id, cell FROM (
    SELECT vecs.id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY vecs.id
             ORDER BY round(list_cosine_similarity(vecs.v, c.cv), 6) DESC,
                      c.cell ASC) AS rn
    FROM vecs CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""


def _lloyd_ctes(n_cells: int, iters: int, dim: int) -> list[str]:
    """Chained CTEs replaying operators.ann._kmeans_core exactly:
    micro-grid quantized vectors, seed centroids = first n_cells by id,
    per-iteration (assign → integer-mean sums → new centroids with
    empty-cell carry-over).  The final centroid table is ``cents{iters}``
    and the final assignment CTE is appended by the caller via
    ``_KM_ASSIGN_TPL``.  Shared by the q125 SemDeDup oracle and the q40
    trained-IVF oracle."""
    steps = [
        "base AS (SELECT vec_id AS id, list_transform(embedding::DOUBLE[],"
        " x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm FROM embeddings)",
        "vecs AS (SELECT id, vm, list_transform(vm, m -> m / 1000000.0) AS v FROM base)",
        f"cents0 AS (SELECT id AS cell, v AS cv FROM vecs ORDER BY id LIMIT {n_cells})",
    ]
    for i in range(iters):
        steps.append(_KM_ASSIGN_TPL.format(name=f"assign{i}", cents=f"cents{i}"))
        steps.append(
            f"""sums{i + 1} AS (
  SELECT a.cell, u.pos,
         CAST(floor(SUM(vecs.vm[u.pos + 1]) / COUNT(*) + 0.5) AS BIGINT) AS cmicro
  FROM assign{i} a JOIN vecs ON vecs.id = a.id
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS pos) u
  GROUP BY a.cell, u.pos
)"""
        )
        steps.append(
            f"newc{i + 1} AS (SELECT cell, list(cmicro / 1000000.0 ORDER BY pos)"
            f" AS cv FROM sums{i + 1} GROUP BY cell)"
        )
        steps.append(
            f"""cents{i + 1} AS (
  SELECT c.cell, COALESCE(n.cv, c.cv) AS cv
  FROM cents{i} c LEFT JOIN newc{i + 1} n USING (cell)
)"""
        )
    return steps


def _semantic_dedup_oracle(
    n_cells: int = 8, iters: int = 2, threshold: float = 0.4, dim: int = 64
) -> str:
    """Unroll the fixed-iteration Lloyd k-means + within-cell dedup into
    chained CTEs (the iterative-algorithm oracle convention).  Centroid
    means run on the exact 1e-6 integer grid in BOTH engines, so shuffle
    order cannot perturb them; ``dim`` is the fixture embedding width
    (the Spark builder is dim-agnostic via posexplode)."""
    steps = _lloyd_ctes(n_cells, iters, dim)
    steps.append(_KM_ASSIGN_TPL.format(name="afinal", cents=f"cents{iters}"))
    steps.append(
        f"""dropped AS (
  SELECT DISTINCT b.id AS id
  FROM afinal a JOIN afinal b ON a.cell = b.cell AND a.id < b.id
  JOIN vecs va ON va.id = a.id JOIN vecs vb ON vb.id = b.id
  WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= {threshold}
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + "\nSELECT a.id AS vec_id, a.cell FROM afinal a"
        + " WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id = a.id)"
    )


def _ivf_oracle(
    n_cells: int = 16, iters: int = 2, nprobe: int = 4, k: int = 10, dim: int = 64
) -> str:
    """Trained-centroid IVF kNN oracle: the q125 Lloyd unroll for the
    index structure (centroids + cell assignment on the quantized grid),
    then probe selection and candidate re-rank on the RAW double vectors
    — exactly what operators.ann.ivf_knn computes with the default
    ``train_iters`` index."""
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
        """scored AS (
  SELECT p.query_id, a.id AS neighbor_id,
         round(list_cosine_similarity(q.qv, r.rv), 6) AS cosine
  FROM probes p
  JOIN afinal a ON a.cell = p.cell
  JOIN q ON q.query_id = p.query_id
  JOIN raw r ON r.id = a.id
  WHERE a.id <> p.query_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}"""
    )



@query(
    "q40_knn_ivf",
    oracle=_ivf_oracle(n_cells=16, iters=2, nprobe=4, k=10),
    tags=("ann", "ivf"),
)
def q40_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (16 TRAINED cells, nprobe=4) for 20 query vectors.

    Centroids are 2 Lloyd iterations of deterministic k-means (micro-grid
    integer means — operators.ann.kmeans_fit), the ivf_assign default
    since r6: cell balance reflects the data, not data order.
    Deterministic end-to-end: seeds are the first 16 vectors by id
    (TakeOrderedAndProject, not a global window), assignment and probe
    ranking tie-break on (sim desc, cell asc), so the DuckDB oracle
    replays the identical training, cell structure and re-rank."""
    from ..operators.ann import ivf_knn

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return ivf_knn(
        emb,
        queries,
        k=10,
        nprobe=4,
        index=cached_ivf_index(spark, sf_dir, n_cells=16, iters=2),
    )


@query(
    "q49_dedup_survivors",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (SELECT id_a, id_b FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.5),
    dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    tags=("dedup", "pipeline"),
)
def q49_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dedup: drop every doc that near-duplicates
    (Jaccard ≥ 0.5) a lower-id doc — the keep-canonical policy of a
    training-data pipeline.  Anti-join against the pair graph's higher
    ids; min-id canonical rule makes the survivor set deterministic."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = cached_jaccard_pairs(spark, sf_dir)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id", "lang", "source")


@query(
    "q50_corpus_prep",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (SELECT id_a, id_b FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.5),
    dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
    t AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    )
    SELECT doc_id, lang, len(toks) AS n_tokens,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
    FROM t WHERE len(toks) >= 30
    """,
    tags=("dedup", "text", "pipeline"),
)
def q50_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full training-data prep in one plan: near-dup removal (q49 policy)
    → length/quality gate (≥30 tokens) → tokenize + fingerprint — the
    operator composition a 100 TB corpus pass actually runs, expressed as
    a single Catalyst-optimized DataFrame chain."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = cached_jaccard_pairs(spark, sf_dir)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    toks = tokens(F.col("text"))
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.size(toks).cast("long").alias("n_tokens"),
            F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
                "fingerprint"
            ),
        )
        .where(F.col("n_tokens") >= 30)
    )


@query(
    "q56_token_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, i AS chunk_id,
           array_to_string(toks[(i * 50 + 1):((i + 1) * 50)], ' ') AS chunk_text,
           len(toks[(i * 50 + 1):((i + 1) * 50)]) AS chunk_tokens
    FROM t, unnest(range(0, CAST(ceil(len(toks) / 50.0) AS INT))) AS u(i)
    WHERE len(toks) > 0
    """,
    tags=("text", "chunking", "pipeline"),
)
def q56_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into 50-token
    windows with stable (doc_id, chunk_id) keys — the tokenize→chunk step
    every LLM training-data pipeline runs before packing.  Pure array
    expressions: sequence → transform(slice) → posexplode, no Python."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    chunks = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(toks) / F.lit(50.0)).cast("int") - 1),
        lambda i: F.slice(toks, i * 50 + 1, 50),
    )
    return (
        docs.select("doc_id", chunks.alias("chunks"))
        .where(F.size("chunks") > 0)
        .select("doc_id", F.posexplode("chunks").alias("chunk_id", "c"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join("c", " ").alias("chunk_text"),
            F.size("c").cast("long").alias("chunk_tokens"),
        )
    )


@query(
    "q67_bm25",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    avgdl AS (
      SELECT CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
    ),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks
      WHERE token IN ('spark', 'hash', 'vector') GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token), n_docs
    )
    SELECT tf.doc_id,
           round(SUM(idf.idf * tf.tf * 2.2 /
                     (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))), 6)
             AS bm25
    FROM tf JOIN idf USING (token) JOIN dl USING (doc_id), avgdl
    GROUP BY tf.doc_id
    """,
    tags=("text", "search", "bm25"),
)
def q67_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) keyword scoring for the fixed query
    {spark, hash, vector} — the keyword-search modality of a training-data
    pipeline.  Per-term stats (df, idf) are tiny aggregates the planner
    broadcasts; the doc-side tf table is the only large operand, touched
    once.  avgdl uses the exact-decimal mean so the score is
    shuffle-order-independent."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = dl.agg(
        F.expr("CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)").alias("avgdl")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        toks.where(F.col("token").isin("spark", "hash", "vector"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("token", F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"))
    )
    scored = (
        tf.join(F.broadcast(idf), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            (
                F.col("idf") * F.col("tf") * F.lit(2.2)
                / (F.col("tf") + F.lit(1.2) * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(F.round(F.sum("s"), 6).alias("bm25"))


@query(
    "q68_train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 10 < 8
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
    tags=("text", "sampling", "split"),
)
def q68_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test split by hashing the stable doc id
    (md5 — never Spark's murmur hash, which the oracle can't reproduce).
    Hash-based splits survive reruns and late-arriving data at 100 TB,
    unlike randomSplit whose assignment depends on partitioning."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 10
    return docs.select(
        "doc_id",
        F.when(bucket < 8, "train").otherwise("test").alias("split"),
    )


@query(
    "q69_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
    tags=("text", "sampling", "stratified"),
)
def q69_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 20 docs per language, ordered by a
    content-independent md5 of the id (pseudo-random but reproducible
    across engines and reruns; doc_id tiebreak keeps it total).  The
    windowed top-k form pushes down: only k rows per stratum survive the
    shuffle."""
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@query(
    "q108_mixture_sample",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    totals AS (SELECT lang, SUM(n_tokens) AS t FROM tok GROUP BY lang),
    budget AS (SELECT MIN(t) AS b FROM totals),
    rates AS (
      SELECT lang, CAST((SELECT b FROM budget) AS DOUBLE) / t AS rate FROM totals
    )
    SELECT tok.doc_id, tok.lang, tok.n_tokens
    FROM tok JOIN rates ON tok.lang = rates.lang
    WHERE CAST(('0x' || substr(md5(CAST(tok.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < rates.rate
    """,
    tags=("text", "sampling", "mixture"),
)
def q108_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-balancing — the data-mixing step of a
    training pipeline: token totals per language are leveled down to the
    smallest language's budget by hash-sampling each language at rate
    budget/total.  md5-fraction of the doc id (q68's idiom) makes the
    keep decision reproducible across engines, reruns and late data —
    the properties `sample()`/randomSplit can't give at 100 TB.  Plan:
    one scan feeds both the per-lang totals (tiny agg, broadcast back as
    rates) and the filter — no second pass logic, no driver loop."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    totals = tok.groupBy("lang").agg(F.sum("n_tokens").alias("t"))
    budget = totals.agg(F.min("t").alias("b"))
    rates = totals.crossJoin(F.broadcast(budget)).select(
        "lang", (F.col("b").cast("double") / F.col("t")).alias("rate")
    )
    frac = _md5_fraction("doc_id")
    return (
        tok.join(F.broadcast(rates), "lang")
        .where(frac < F.col("rate"))
        .select("doc_id", "lang", "n_tokens")
    )


@query(
    "q109_curation_pipeline",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    q AS (
      SELECT * FROM t
      WHERE len(toks) >= 25
        AND (CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text)
             ELSE 0.0 END) <= 0.3
    ),
    canon AS (SELECT text, MIN(doc_id) AS keep_id FROM q GROUP BY text),
    ex AS (
      SELECT q.doc_id, q.lang, q.text, len(q.toks) AS n_tokens
      FROM q JOIN canon ON q.text = canon.text AND q.doc_id = canon.keep_id
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t2.toks)-1),
                      i -> t2.toks[i] || ' ' || t2.toks[i+1] || ' ' || t2.toks[i+2]))
                 AS shingle
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM ex) t2
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
      JOIN cand ON a.id = cand.id_a AND b.id = cand.id_b
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM common c JOIN sizes sa ON c.id_a = sa.id JOIN sizes sb ON c.id_b = sb.id
      WHERE CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common) >= 0.5
    ),
    nd AS (
      SELECT * FROM ex WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    ),
    totals AS (SELECT lang, SUM(n_tokens) AS tt FROM nd GROUP BY lang),
    rates AS (
      SELECT lang, CAST((SELECT MIN(tt) FROM totals) AS DOUBLE) / tt AS rate
      FROM totals
    )
    SELECT nd.doc_id, nd.lang, CAST(nd.n_tokens AS BIGINT) AS n_tokens
    FROM nd JOIN rates ON nd.lang = rates.lang
    WHERE CAST(('0x' || substr(md5(CAST(nd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < rates.rate
    """,
    tags=("text", "pipeline", "dedup", "sampling"),
)
def q109_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-curation pipeline as ONE declarative query —
    quality gate (≥25 tokens, punct ≤ 0.3) → exact dedup (min-id
    canonical per text) → near-dup removal (MinHash LSH, q22's scheme,
    drop the higher id) → language mixture re-balancing (q108's
    md5-fraction sampler).  Every stage is a composition already proven
    individually (q16/q20/q22/q108); chaining them in one plan lets
    Catalyst pipeline the scans and reuse the session shingle cache —
    the shape a user runs nightly over the full corpus."""
    from ..functions.text import tokens as _toks

    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(_toks(F.col("text"))).cast("long")
    punct = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace("text", "[A-Za-z0-9\\s]", "")) / F.length("text"),
    ).otherwise(F.lit(0.0))
    quality = docs.where((n_tok >= 25) & (punct <= 0.3)).select(
        "doc_id", "lang", "text", n_tok.alias("n_tokens")
    )
    canon = quality.groupBy("text").agg(F.min("doc_id").alias("keep_id"))
    exact = (
        quality.join(canon, "text")
        .where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "text", "n_tokens")
    )
    # near-dup LSH over the survivors: a doc's shingles/signatures/pair
    # scores don't depend on which other docs exist, so the survivor
    # set's LSH pairs are exactly the cached full-corpus pair table
    # restricted to surviving ids on BOTH sides
    ids = exact.select(F.col("doc_id").alias("id"))
    pairs = (
        cached_lsh_pairs(spark, sf_dir)
        .join(ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
    )
    nd = exact.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    totals = nd.groupBy("lang").agg(F.sum("n_tokens").alias("tt"))
    budget = totals.agg(F.min("tt").alias("b"))
    rates = totals.crossJoin(F.broadcast(budget)).select(
        "lang", (F.col("b").cast("double") / F.col("tt")).alias("rate")
    )
    frac = _md5_fraction("doc_id")
    return (
        nd.join(F.broadcast(rates), "lang")
        .where(frac < F.col("rate"))
        .select("doc_id", "lang", "n_tokens")
    )


@query(
    "q73_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(encode(text)::VARCHAR) AS content_md5,
           CAST(floor(octet_length(encode(text)) / 256) AS INT) AS size_bucket
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def q73_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column metadata extraction — the multimodal plumbing
    as an oracled query: content is carried as ``binary``, and a
    mapInPandas batch extractor computes size, digest and a size bucket
    (stand-ins for image decode / feature extraction, whose Spark-side
    shape is identical; see operators/multimodal.py for the decode
    stubs).  The oracle recomputes the same metadata from the utf-8
    bytes in SQL."""
    import hashlib

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = read_table(spark, sf_dir, "documents")
    binary = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    out_schema = StructType(
        [
            StructField("doc_id", docs.schema["doc_id"].dataType),
            StructField("n_bytes", LongType()),
            StructField("content_md5", StringType()),
            StructField("size_bucket", IntegerType()),
        ]
    )

    def extract(batches):
        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": content.map(len).astype("int64"),
                    "content_md5": content.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                    "size_bucket": (content.map(len) // 256).astype("int32"),
                }
            )

    return binary.mapInPandas(extract, schema=out_schema)


@query(
    "q74_vector_stats",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
             AS l2_norm,
           round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS mean_val,
           round(list_max(embedding::DOUBLE[]), 6) AS max_val
    FROM embeddings
    """,
    tags=("vector", "higher-order"),
)
def q74_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row vector statistics via higher-order array functions
    (transform/aggregate/array_max) — the JVM-side column-expression
    surface for embedding columns.  Both engines fold the array in
    element order, so the doubles agree bit-for-bit before rounding.
    (All-pairs math goes through the Arrow GEMM kernel instead —
    see cosine_neardup_pairs; folds are for per-row shapes.)"""
    from ..functions.vectors import dot, to_double_array

    emb = read_table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.round(F.sqrt(dot(v, v)), 6).alias("l2_norm"),
        F.round(total / F.size(v), 6).alias("mean_val"),
        F.round(F.array_max(v), 6).alias("max_val"),
    )


@query(
    "q76_pii_redaction",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or +1-555-01' || CAST(doc_id % 100 AS VARCHAR)
               AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9][0-9()\-\s]{4,}[0-9]', '<PHONE>', 'g') AS clean_text,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails
    FROM aug
    """,
    tags=("text", "pii", "redaction"),
)
def q76_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails, phone numbers) as regexp_replace chains —
    the redaction pass of a training-data pipeline (reference analogue:
    the neattext email/phone cleaning, F16, data_integration.ipynb:1554).
    The synthetic corpus carries no PII, so both engines inject the same
    deterministic contact strings first, then redact them — the operator
    chain under test is the redaction itself."""
    docs = read_table(spark, sf_dir, "documents")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+?[0-9][0-9()\-\s]{4,}[0-9]"
    aug = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("clean_text"),
        F.size(F.expr(f"regexp_extract_all(text, '{email_re}', 0)")).cast(
            "bigint"
        ).alias("n_emails"),
    )


@query(
    "q77_bigram_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
               AS bg
      FROM t
    ),
    c12 AS (SELECT bg, COUNT(*) AS c12 FROM bi GROUP BY bg),
    c1 AS (SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS c1
           FROM bi GROUP BY 1)
    SELECT bi.doc_id,
           round(CAST(SUM(CAST(round(ln(CAST(c12.c12 AS DOUBLE) / c1.c1), 6)
                               AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob,
           COUNT(*) AS n_bigrams
    FROM bi
    JOIN c12 USING (bg)
    JOIN c1 ON string_split(bi.bg, ' ')[1] = c1.w1
    GROUP BY bi.doc_id
    """,
    tags=("text", "quality", "lm"),
)
def q77_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document
    (mean MLE log-probability of its bigram instances) — the statistical
    quality-scoring modality next to q16's surface ratios.  Counts are
    corpus-wide aggregates the planner broadcasts back onto the bigram
    stream; per-bigram logprobs are rounded then decimal-summed so the
    per-doc mean is shuffle-order-independent."""
    from ..functions.text import shingles, tokens

    docs = read_table(spark, sf_dir, "documents")
    # pinned: the exploded bigram stream feeds THREE consumers (bigram
    # counts, unigram counts, the scored join) and Spark has no
    # cross-consumer CSE — each re-ran the full-text tokenize+shingle
    # (the q249/q374 shared-fan-out pin rule)
    bi = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 2)).alias("bg")
    ).localCheckpoint(eager=True)
    c12 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = (
        bi.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # c12/c1 are corpus-wide count tables that scale with the corpus
    # vocabulary — the planner broadcasts them while its size estimate is
    # small, but forcing it would be a 100 TB OOM; co-shuffling on the
    # bigram key is the correct plan at scale (both sides derive from the
    # same exploded stream).
    scored = (
        bi.join(c12, "bg")
        .join(c1, F.substring_index(F.col("bg"), " ", 1) == F.col("w1"))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("c12").cast("double") / F.col("c1")), 6
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.expr(
            "round(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)"
        ).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


@query(
    "q78_vocab_build",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    tc AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token)
    SELECT token, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
             AS token_id
    FROM tc
    """,
    tags=("text", "tokenizer", "vocab"),
)
def q78_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: corpus token frequencies with
    dense ids assigned by (freq desc, token) — deterministic across
    engines and runs.  The global window runs on the POST-aggregation
    table (|vocab| rows, not |tokens|), which is the only place a
    single-partition window is acceptable at 100 TB."""
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("token")
    )
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return tc.select(
        "token", "freq", F.row_number().over(w).cast("bigint").alias("token_id")
    )


@query(
    "q91_decontamination",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 3),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4])) AS gram
      FROM t
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
    train AS (SELECT doc_id, gram FROM g WHERE doc_id >= 20)
    SELECT doc_id,
           COUNT(DISTINCT gram) AS n_contaminated_grams
    FROM train JOIN bench USING (gram)
    GROUP BY doc_id
    """,
    tags=("text", "dedup", "decontamination"),
)
def q91_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 5-gram with
    the benchmark set (doc_id < 20 stands in for an eval suite), with
    the count of distinct leaked grams — the train/test-overlap scrub
    every LLM data pipeline runs.  The benchmark gram set is tiny
    relative to the corpus → broadcast semi-style join; the corpus side
    streams through one explode+join, no pairwise comparison."""
    from ..functions.text import shingles, tokens

    docs = read_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 5)).alias("gram")
    )
    bench = grams.where(F.col("doc_id") < 20).select("gram").distinct()
    train = grams.where(F.col("doc_id") >= 20)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
    )


@query(
    "q92_repetition_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM t
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(DISTINCT gram) AS n_distinct,
           round(1.0 - CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6)
             AS repetition_ratio
    FROM g GROUP BY doc_id
    """,
    tags=("text", "quality", "repetition"),
)
def q92_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: 1 − distinct/total 3-grams — the
    boilerplate/loop detector of a corpus quality pass (high ratio =
    TEMPLATED/degenerate text).  One explode + one two-level aggregate;
    the count-distinct is per-doc so it partial-aggregates cleanly."""
    from ..functions.text import shingles, tokens

    docs = read_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 3)).alias("gram")
    )
    return g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("gram").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("gram").cast("double") / F.count(F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


@query(
    "q119_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             CAST(c.n_common AS DOUBLE) / sa.n AS ca,
             CAST(c.n_common AS DOUBLE) / sb.n AS cb
      FROM common c
      JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
    )
    SELECT id_a, id_b, round(ca, 6) AS contain_a, round(cb, 6) AS contain_b
    FROM scored WHERE greatest(ca, cb) >= 0.7
    """,
    tags=("dedup", "containment"),
)
def q119_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-subset pairs (|A∩B|/|A| ≥ 0.7 either
    direction) — the dedup signal Jaccard misses on boilerplate-wrapped
    supersets (operators/dedup.containment_pairs).  Shares the memoized
    shingle table with the Jaccard/LSH family; threshold applies to the
    UNrounded ratio, rounding is output-only."""
    from ..operators.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents")
    sh = cached_shingles(spark, sf_dir)
    pairs = containment_pairs(docs, shingles_df=sh, threshold=0.7)
    return pairs.select(
        "id_a",
        "id_b",
        F.round("contain_a", 6).alias("contain_a"),
        F.round("contain_b", 6).alias("contain_b"),
    )


_PII_PAYLOAD_SQL = """
payload AS (
  SELECT doc_id,
         'contact ' || source || '-' || CAST(doc_id AS VARCHAR)
         || '@corp.example.com from 192.168.'
         || CAST(doc_id % 256 AS VARCHAR) || '.'
         || CAST((doc_id * 7) % 256 AS VARCHAR)
         || ' call '
         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         || lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0') || '-'
         || lpad(CAST((doc_id * 9) % 10000 AS VARCHAR), 4, '0')
         || ' ' || substr(text, 1, 40) AS s
  FROM documents)
"""


@query(
    "q120_pii_redaction",
    oracle=f"""
    WITH {_PII_PAYLOAD_SQL.strip()}
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(s,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
               '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[IP]', 'g'),
             '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(s, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS INT) AS n_ip,
           CAST(len(regexp_extract_all(s, '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS INT) AS n_phone
    FROM payload
    """,
    tags=("text", "pii", "curation"),
)
def q120_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + audit counts (functions/pii.py) over a payload
    column derived deterministically from the documents table (the
    synthetic corpus contains no organic PII, so the query plants one
    email/IP/phone per row from key arithmetic — both engines derive the
    identical string, then the gate diffs the redacted text
    byte-for-byte).  All JVM-side regexp expressions; no UDF."""
    from ..functions.pii import pii_counts, redact_pii

    docs = read_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit("contact "),
        F.col("source"),
        F.lit("-"),
        F.col("doc_id").cast("string"),
        F.lit("@corp.example.com from 192.168."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" call "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 3) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 9) % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.substring("text", 1, 40),
    )
    base = docs.select("doc_id", payload.alias("s"))
    counts = pii_counts(F.col("s"))
    return base.select(
        "doc_id",
        redact_pii(F.col("s")).alias("redacted"),
        *[c.alias(name) for name, c in counts.items()],
    )


@query(
    "q125_semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    tags=("dedup", "ann", "embedding", "kmeans"),
)
def q125_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): Lloyd k-means
    over the embedding column (exact integer-grid centroid means — see
    operators.ann.kmeans_fit), then within-cell cosine pairs via the
    blocked-GEMM core, dropping every doc with a smaller-id in-cell
    neighbor at cosine ≥ 0.4.  Output: surviving (vec_id, cell).

    Scale: pair scoring is O(Σ|cell|²) not O(n²); a skewed cell
    hash-splits into bounded block rows sized off the LARGEST cell."""
    from ..operators.ann import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        threshold=0.4,
        prebuilt=cached_kmeans(spark, sf_dir, n_cells=8, iters=2),
    )


from ..operators.bpe import (  # noqa: E402
    bpe_compression_curve,
    bpe_merges,
    bpe_oracle_sql,
    curve_from_tables,
    merges_from_bests,
)

def _bpe_rounds(spark: SparkSession, sf_dir: str, num_merges: int = 4) -> tuple:
    """One cached BPE merge-rounds run per (session, dataset): the learn
    (q131), curve (q136) and tokenize (q145) queries all consume the
    same checkpointed loop artifacts — a trained tokenizer is a persisted
    artifact, not a per-query recomputation."""
    from ..operators.bpe import _merge_rounds, _word_table


    def build():
        docs = read_table(spark, sf_dir, "documents")
        words = _word_table(docs, "text", keep_token=True).localCheckpoint(eager=True)
        return _merge_rounds(words, num_merges, keep_last_words=True)

    return artifact(spark, sf_dir, "bpe", build, num_merges)


@query(
    "q131_bpe_merges",
    oracle=bpe_oracle_sql(4),
    tags=("text", "tokenizer", "bpe"),
)
def q131_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (operators/bpe.py): learn the
    first 4 merge rules from corpus token statistics — Sennrich
    ``learn_bpe`` re-expressed as per-round DataFrame aggregation over
    the distinct-word table, greedy merges as left-to-right ``replace``
    over a delimiter-encoded symbol string.  The oracle replays the loop
    as unrolled CTE rounds; ties break (freq desc, left, right) so the
    learned rules are engine- and partitioning-independent."""
    return merges_from_bests(_bpe_rounds(spark, sf_dir, 4)[0])


@query(
    "q132_hybrid_rrf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    avgdl AS (
      SELECT CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
    ),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks
      WHERE token IN ('spark', 'hash', 'vector') GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token), n_docs
    ),
    bm AS (
      SELECT tf.doc_id,
             round(SUM(idf.idf * tf.tf * 2.2 /
                       (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))), 6)
               AS bm25
      FROM tf JOIN idf USING (token) JOIN dl USING (doc_id), avgdl
      GROUP BY tf.doc_id
    ),
    qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
      FROM embeddings, qv
    ),
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
    r2 AS (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r FROM cos),
    fused AS (
      SELECT doc_id,
             round(COALESCE(1.0 / (60 + r1.r), 0) + COALESCE(1.0 / (60 + r2.r), 0), 6)
               AS rrf
      FROM r1 FULL OUTER JOIN r2 USING (doc_id)
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    tags=("text", "search", "hybrid", "rrf"),
)
def q132_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the q67 BM25
    keyword ranking and an embedding-cosine ranking against one query
    vector — the standard fusion step of a RAG / retrieval pipeline.
    Each modality ranks independently (row_number over its rounded
    score, doc_id tie-break), fusion is a FULL OUTER join so a doc found
    by only one modality still scores 1/(60+rank).

    Scale: both rank windows run on POST-aggregation tables (BM25
    matches; one score per corpus vector), not the token explosion; the
    query vector is a broadcast 1-row table; top-20 is a TakeOrdered
    cut.  For many-query batches the cosine side generalizes to the
    q24/q40 kNN operators; the fusion join shape is unchanged."""
    from pyspark.sql.window import Window

    bm = q67_bm25(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (nrm("v") * nrm("qv")), 6).alias("cosine"),
        )
    )
    r1 = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("r1"),
    )
    r2 = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "doc_id"))
        .alias("r2"),
    )
    fused = r1.join(r2, "doc_id", "full").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60 + F.col("r1")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r2")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(20)


@query(
    "q133_quantized_knn",
    oracle="""
    WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sc AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM c0
    ),
    cq AS (
      SELECT vec_id AS neighbor_id,
             list_transform(v, x -> CAST(greatest(-127, floor(x / scale)) AS INT) * scale) AS cv
      FROM sc WHERE scale > 0
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM c0 WHERE vec_id < 5),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q, cq WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    tags=("ann", "knn", "quantization"),
)
def q133_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance kNN over an int8-quantized corpus
    (operators/ann.scalar_quantize_int8): corpus vectors compress 8× to
    int8 codes + one scale, full-precision queries score against the
    dequantized codes through the same blocked-GEMM top-k plan as q24.
    The compression arithmetic (floor(x/scale), scale = max|x|/127) is
    elementwise-deterministic, so both engines build identical codes."""
    from ..operators.ann import scalar_quantize_int8

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = scalar_quantize_int8(emb).select(
        F.col("id").alias("vec_id"), F.col("dequant").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_knn(corpus, queries, k=5)


@query(
    "q136_bpe_compression",
    oracle=bpe_oracle_sql(4, curve=True),
    tags=("text", "tokenizer", "bpe"),
)
def q136_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply/compression curve (operators/bpe.bpe_compression_curve):
    total corpus symbols after each of the 4 learned merges (step 0 =
    raw characters) — each round drops by the chosen pair's
    non-overlapping occurrence count, the quantity a tokenizer team
    tracks to pick vocabulary size."""
    return curve_from_tables(_bpe_rounds(spark, sf_dir, 4)[1])




def _positional_shingles(spark: SparkSession, sf_dir: str, n: int = 8):
    """Shared artifact of the span family (q139/q152 detect / q140 cut):
    the positional n-gram table (doc_id, n_tokens, pos, shingle) and its
    per-shingle (owner, df) aggregate, each checkpointed once per
    (session, dataset, n) — the same persisted-projection policy as the
    shingle sets.  ``n`` is the span granularity knob (r5
    verdict item 7): smaller n = finer, more aggressive span detection."""
    from ..functions.text import shingles as _sh


    def build():
        docs = read_table(spark, sf_dir, "documents")
        toks = F.filter(F.split("text", " "), lambda x: x != "")
        pos = docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.posexplode(_sh(toks, n)).alias("p0", "shingle"),
        ).select(
            "doc_id", "n_tokens", (F.col("p0") + 1).cast("long").alias("pos"), "shingle"
        ).localCheckpoint(eager=True)
        own = pos.groupBy("shingle").agg(
            F.min("doc_id").alias("owner"), F.countDistinct("doc_id").alias("df")
        ).localCheckpoint(eager=True)
        return pos, own

    return artifact(spark, sf_dir, "pos", build, n)


def repeated_spans(
    spark: SparkSession, sf_dir: str, n: int = 8, min_span: int | None = None
) -> DataFrame:
    """Cross-document repeated-span detection, parameterized on the
    n-gram granularity and a minimum reported span length (tokens).
    Spans are maximal islands of positions whose n-gram occurs in
    another document (gaps > n break a span); islands covering fewer
    than ``min_span`` tokens are dropped (default min_span = n, a
    no-op).  Longer min_span can only REMOVE spans — pinned by a
    monotonicity test."""
    from pyspark.sql.window import Window

    if min_span is None:
        min_span = n
    if min_span < n:
        raise ValueError(f"min_span {min_span} below shingle width {n}")
    pos, own = _positional_shingles(spark, sf_dir, n)
    m = (
        pos.join(own.where(F.col("df") >= 2).select("shingle"), "shingle")
        .select("doc_id", "n_tokens", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagp = F.lag("pos").over(w)
    fl = m.withColumn(
        "f", F.when(lagp.isNull() | (F.col("pos") - lagp > n), 1).otherwise(0)
    )
    isl = fl.withColumn(
        "island",
        F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    sp = isl.groupBy("doc_id", "island").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.min("pos").alias("p0"),
        F.max("pos").alias("p1"),
    ).where(F.col("p1") - F.col("p0") + n >= min_span)
    return sp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("p1") - F.col("p0") + n).alias("covered_tokens"),
        F.min("n_tokens").alias("n_tokens"),
        F.round(
            F.sum(F.col("p1") - F.col("p0") + n).cast("double") / F.min("n_tokens"), 6
        ).alias("covered_frac"),
    )


def _spans_oracle(n: int, min_span: int) -> str:
    """DuckDB twin of :func:`repeated_spans` for any (n, min_span)."""
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, len(t) AS n_tokens, e.p AS pos, e.g AS shingle FROM (
        SELECT doc_id, t,
               unnest(list_transform(range(1, len(t) - {n - 2}),
                 i -> {{'p': i, 'g': {gram}}})) AS e
        FROM t)
    ),
    shared AS (
      SELECT shingle FROM pos GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    m AS (SELECT doc_id, n_tokens, pos FROM pos JOIN shared USING (shingle)),
    fl AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {n}
                  THEN 1 ELSE 0 END AS f
      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, n_tokens, pos,
             SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS island
      FROM fl
    ),
    sp AS (
      SELECT doc_id, island, MIN(n_tokens) AS n_tokens,
             MIN(pos) AS p0, MAX(pos) AS p1
      FROM isl GROUP BY doc_id, island
      HAVING MAX(pos) - MIN(pos) + {n} >= {min_span}
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(p1 - p0 + {n}) AS BIGINT) AS covered_tokens,
           MIN(n_tokens) AS n_tokens,
           round(CAST(SUM(p1 - p0 + {n}) AS DOUBLE) / MIN(n_tokens), 6)
             AS covered_frac
    FROM sp GROUP BY doc_id
    """


@query(
    "q139_repeated_spans",
    oracle=_spans_oracle(8, 8),
    tags=("dedup", "text", "spans"),
)
def q139_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN detection — the exact-substring dedup
    signal (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better"): positions whose 8-gram also occurs in ANOTHER
    document are merged into maximal covered spans (gaps > 8 tokens break
    a span), reported per doc as span count + covered-token fraction.
    Production pipelines CUT these spans; the q92 repetition score only
    sees within-doc repeats, so this is the missing cross-doc axis.
    Parameterized core: :func:`repeated_spans` (q152 runs a non-default
    granularity).

    Plan: positional shingle explode → shared-shingle semi-join (the
    inverted index; hot boilerplate shingles are groupBy keys, AQE-skew
    safe) → q75-style gaps-and-islands windows partitioned by doc.
    Everything shuffles on doc_id or shingle — no pair blowup, no
    driver state."""
    return repeated_spans(spark, sf_dir, n=8, min_span=8)


@query(
    "q152_repeated_spans_coarse",
    oracle=_spans_oracle(5, 12),
    tags=("dedup", "text", "spans", "tuned"),
)
def q152_repeated_spans_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-default span scheme (r5 verdict item 7, the q113 pattern
    applied to spans): FINER 5-gram shingles — more positions match, so
    detection is more aggressive — but only spans covering >= 12 tokens
    are reported, suppressing short incidental overlaps.  Same builder
    and oracle generator as q139, different (n, min_span)."""
    return repeated_spans(spark, sf_dir, n=5, min_span=12)


@query(
    "q140_span_cut",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, e.p AS pos, e.g AS shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                 i -> {'p': i,
                       'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                            t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                            t[i+6] || ' ' || t[i+7]})) AS e
        FROM t)
    ),
    own AS (
      SELECT shingle, MIN(doc_id) AS owner, COUNT(DISTINCT doc_id) AS df
      FROM pos GROUP BY shingle
    ),
    cut AS (
      SELECT p.doc_id, p.pos FROM pos p JOIN own o USING (shingle)
      WHERE o.df >= 2 AND p.doc_id > o.owner
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + u AS q
      FROM cut, (SELECT unnest(range(0, 8)) AS u)
    ),
    tokpos AS (
      SELECT doc_id, e.q AS q, e.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) + 1),
                 i -> {'q': i, 'tok': t[i]})) AS e
        FROM t)
    ),
    kept AS (
      SELECT doc_id, q, tok FROM tokpos ANTI JOIN cov USING (doc_id, q)
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY q) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(agg.clean_text, '') AS clean_text
    FROM t LEFT JOIN agg USING (doc_id)
    """,
    tags=("dedup", "text", "spans", "curation"),
)
def q140_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup CUT (the operation q139 only measures):
    every token covered by an 8-gram that also appears in a smaller-id
    document is removed, and the text is rebuilt from the surviving
    tokens — the Lee et al. 2022 rewrite where one global copy of each
    repeated span survives (the min-doc owner keeps its tokens;
    ownership per SHINGLE, so overlapping claims resolve identically in
    both engines).

    Plan: positional shingles → per-shingle (owner, df) aggregate →
    covered-position expansion (≤ 8 rows per cut position, explode of a
    constant sequence) → anti-join against the token-position table →
    ordered reassembly via array_sort(collect_list(struct)).  Shuffles
    key on shingle or doc_id only; reassembly aggregates |tokens| rows
    to |docs| rows."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("toks"))
    pos, own = _positional_shingles(spark, sf_dir)
    cut = (
        pos.join(own, "shingle")
        .where((F.col("df") >= 2) & (F.col("doc_id") > F.col("owner")))
        .select("doc_id", "pos")
    )
    cov = cut.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("q")
    ).distinct()
    tokpos = base.select(
        "doc_id", F.posexplode("toks").alias("q0", "tok")
    ).select("doc_id", (F.col("q0") + 1).cast("long").alias("q"), "tok")
    kept = tokpos.join(cov, ["doc_id", "q"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("q", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


@query(
    "q142_temperature_mixture",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    totals AS (SELECT lang, SUM(n_tokens) AS t FROM tok GROUP BY lang),
    z AS (SELECT SUM(sqrt(t)) AS z, SUM(t) AS grand FROM totals),
    rates AS (
      SELECT lang,
             round(LEAST(1.0,
               (0.5 * grand) * (sqrt(t) / z) / t), 9) AS rate
      FROM totals, z
    )
    SELECT tok.doc_id, tok.lang, tok.n_tokens
    FROM tok JOIN rates ON tok.lang = rates.lang
    WHERE CAST(('0x' || substr(md5(CAST(tok.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < rates.rate
    """,
    tags=("text", "sampling", "mixture", "temperature"),
)
def q142_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (α = 0.5, the GPT-3/PaLM data
    recipe): language l's share of the token budget is t_l^α / Σ t^α —
    up-weighting low-resource languages relative to proportional
    sampling without flattening to uniform (q108 is the α→limit that
    levels everything to the minimum).  Budget = half the corpus; keep
    rate per lang = min(1, budget·share/t), rounded to 1e-9 in BOTH
    engines so a last-ulp drift in the tiny per-lang aggregate can
    never flip a keep decision.  Same md5-fraction keep idiom and same
    one-scan plan as q108."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    totals = tok.groupBy("lang").agg(F.sum("n_tokens").alias("t"))
    z = totals.agg(
        F.sum(F.sqrt("t")).alias("z"), F.sum("t").alias("grand")
    )
    rates = totals.crossJoin(F.broadcast(z)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                (0.5 * F.col("grand")) * (F.sqrt("t") / F.col("z")) / F.col("t"),
            ),
            9,
        ).alias("rate"),
    )
    frac = _md5_fraction("doc_id")
    return (
        tok.join(F.broadcast(rates), "lang")
        .where(frac < F.col("rate"))
        .select("doc_id", "lang", "n_tokens")
    )


@query(
    "q143_langid_eval",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), pred AS (
      SELECT lang = 'en' AS actual,
             (len(toks) > 0
              AND len(list_filter(toks, x -> list_contains({{stops}}, x)))
                  / len(toks) >= 0.1) AS predicted
      FROM t
    ), cm AS (
      SELECT CAST(SUM(CASE WHEN actual AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN NOT actual AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN actual AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN NOT actual AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM pred
    )
    SELECT tp, fp, fn, tn,
           round(tp / nullif(CAST(tp + fp AS DOUBLE), 0.0), 6) AS precision_en,
           round(tp / nullif(CAST(tp + fn AS DOUBLE), 0.0), 6) AS recall_en,
           round(2.0 * tp / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0), 6) AS f1_en
    FROM cm
    """.replace("{stops}", _STOPS_SQL),
    tags=("text", "langid", "evaluation"),
)
def q143_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine classifier evaluation: precision / recall / F1 of the
    q18 stopword-ratio language detector against the labeled ``lang``
    column (binary en-detection) — the model-eval rollup a curation
    pipeline runs when it tunes a filter heuristic against a labeled
    sample.  Integer confusion counts, exact; ratios assemble in
    identical double arithmetic, zero-denominator → NULL."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    pred = docs.select(
        (F.col("lang") == "en").alias("actual"),
        ((F.size(toks) > 0) & (stopword_ratio(toks) >= 0.1)).alias("predicted"),
    )
    cm = pred.agg(
        F.sum(F.when(F.col("actual") & F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(~F.col("actual") & F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("actual") & ~F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("actual") & ~F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round(
            F.col("tp") / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0)), 6
        ).alias("precision_en"),
        F.round(
            F.col("tp") / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)), 6
        ).alias("recall_en"),
        F.round(
            2.0 * F.col("tp")
            / F.nullif((2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"), F.lit(0.0)),
            6,
        ).alias("f1_en"),
    )


@query(
    "q145_bpe_tokenize",
    oracle=bpe_oracle_sql(4, carry_token=True)
    + """,
    symv AS (
      SELECT symbol, SUM(cnt) AS freq FROM (
        SELECT cnt, unnest(string_split(trim(repr, '¦'), '¦¦')) AS symbol
        FROM w4)
      GROUP BY symbol),
    vocab AS (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY freq DESC, symbol) AS BIGINT)
               AS sym_id
      FROM symv),
    toksym AS (
      SELECT token, e.sp AS sp, e.sym AS symbol FROM (
        SELECT token,
               unnest(list_transform(range(1, len(s) + 1),
                      i -> {'sp': i, 'sym': s[i]})) AS e
        FROM (SELECT token, string_split(trim(repr, '¦'), '¦¦') AS s FROM w4))),
    tokids AS (
      SELECT token, list(sym_id ORDER BY sp) AS ids
      FROM toksym JOIN vocab USING (symbol) GROUP BY token),
    dt AS (
      SELECT doc_id, e.tp AS tp, e.tok AS token FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) + 1),
                      i -> {'tp': i, 'tok': t[i]})) AS e
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents WHERE doc_id < 50))),
    flatids AS (
      SELECT doc_id, flatten(list(ids ORDER BY tp)) AS flat
      FROM dt JOIN tokids USING (token) GROUP BY doc_id)
    SELECT doc_id, CAST(len(flat) AS BIGINT) AS n_bpe_tokens,
           md5(array_to_string(list_transform(flat, x -> CAST(x AS VARCHAR)), ','))
             AS ids_md5
    FROM flatids
    """,
    tags=("text", "tokenizer", "bpe"),
)
def q145_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization to dense ids — the endpoint of the learn → apply
    chain: symbols of the merged word table get (freq desc, symbol)
    dense ids, every corpus token maps to its ordered symbol-id
    sequence, and each document flattens to one id stream in token
    order.  Emitted as (doc_id, n_bpe_tokens, md5-of-id-sequence) for
    the first 50 docs so the oracle hash pins every id and its position
    without shipping megabyte arrays through the comparator.

    Scale: the id mapping is |vocab|-sized (broadcastable); documents
    join it token-wise and reassemble per doc — the same ordered
    collect_list(struct) reassembly as q140's span cut."""
    from pyspark.sql.window import Window

    _, tables = _bpe_rounds(spark, sf_dir, 4)
    final = tables[-1]  # (repr, cnt, token)
    syms = F.split(F.expr("trim(BOTH '¦' FROM repr)"), "¦¦")
    vocab = (
        final.select("cnt", F.explode(syms).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("freq"))
        .select(
            "symbol",
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), "symbol"))
            .cast("long")
            .alias("sym_id"),
        )
    )
    tokids = (
        final.select("token", F.posexplode(syms).alias("sp", "symbol"))
        .join(vocab, "symbol")
        .groupBy("token")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sp", "sym_id"))),
                lambda s: s["sym_id"],
            ).alias("ids")
        )
    )
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    dt = docs.select("doc_id", F.posexplode(toks).alias("tp", "token"))
    flat = (
        dt.join(tokids, "token")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "ids"))),
                    lambda s: s["ids"],
                )
            ).alias("flat")
        )
    )
    return flat.select(
        "doc_id",
        F.size("flat").cast("long").alias("n_bpe_tokens"),
        F.md5(
            F.concat_ws(",", F.transform("flat", lambda x: x.cast("string")))
        ).alias("ids_md5"),
    )


from ..operators.bpe import byte_bpe_merges, byte_bpe_oracle_sql  # noqa: E402


@query(
    "q150_byte_bpe_merges",
    oracle=byte_bpe_oracle_sql(4),
    tags=("text", "tokenizer", "bpe", "byte-level"),
)
def q150_byte_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE merge training (GPT-2 shape, Radford et al. 2019):
    regex pre-tokenization (lookahead-free so Java regex and RE2 agree —
    leading space glued to letter/digit/punct runs) and merges over the
    UTF-8 byte alphabet rendered as hex symbols, so any string is
    representable from a 256-symbol base vocabulary.  Same distributed
    merge loop as q131 — distributed pair counts with map-side combine,
    broadcast 1-row argmax per round, checkpointed word-table rewrites —
    only the alphabet and pre-tokenizer differ (operators/bpe.py
    byte_word_table).  Output: the first 4 learned byte merges."""
    docs = read_table(spark, sf_dir, "documents")
    return byte_bpe_merges(docs, num_merges=4)


@query(
    "q151_domain_curation",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, text,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             (CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / length(text)
              ELSE 0.0 END) AS punct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, text, n_tokens,
             round((1.0 - punct) * (least(n_tokens, 100) / 100.0), 6) AS score
      FROM t
    ),
    canon AS (
      SELECT source, text, MIN(doc_id) AS keep_id
      FROM scored GROUP BY source, text
    ),
    ex AS (
      SELECT s.doc_id, s.source, s.n_tokens, s.score
      FROM scored s JOIN canon c
        ON s.source = c.source AND s.text = c.text AND s.doc_id = c.keep_id
    ),
    b AS (
      SELECT source,
             round(quantile_cont(score, 0.25), 6) AS t1,
             round(quantile_cont(score, 0.75), 6) AS t2
      FROM ex GROUP BY source
    ),
    bucketed AS (
      SELECT ex.source, ex.doc_id, ex.n_tokens,
             CASE WHEN score <= t1 THEN 'tail'
                  WHEN score <= t2 THEN 'middle'
                  ELSE 'head' END AS bucket
      FROM ex JOIN b USING (source)
    ),
    kept AS (
      SELECT * FROM bucketed
      WHERE bucket <> 'tail'
         OR CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 < 0.2
    )
    SELECT source, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source, bucket
    """,
    tags=("text", "curation", "quality", "sampling", "ccnet"),
)
def q151_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped per-DOMAIN curation (Wenzek et al. 2020): quality
    bucketing runs WITHIN each source, so a uniformly weaker domain
    still contributes its best documents instead of being wiped out by
    a global threshold — the curation dimension q109's global pipeline
    lacks (r5 verdict item 6).

    Stages: per-domain exact dedup (duplicates collapse within a
    source, min-id canonical — the same text in two sources survives
    in both, the per-domain scope), a pure-expression quality score
    (non-punctuation ratio × capped token count), per-source head /
    middle / tail buckets at the exact 25/75 score quantiles (the
    distributed selection kernel — operators/quantiles.py — never a
    per-group buffer), head+middle kept, tail hash-sampled at 20% with
    the md5-fraction idiom so every keep decision is reproducible
    across engines, reruns and late data.  Output: kept doc and token
    counts per (source, bucket)."""
    from ..operators.quantiles import exact_quantiles

    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    punct = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace("text", "[A-Za-z0-9\\s]", "")) / F.length("text"),
    ).otherwise(F.lit(0.0))
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        n_tok.alias("n_tokens"),
        F.round(
            (F.lit(1.0) - punct) * (F.least(n_tok, F.lit(100)) / F.lit(100.0)), 6
        ).alias("score"),
    )
    canon = scored.groupBy("source", "text").agg(F.min("doc_id").alias("keep_id"))
    # pin the dedup survivors: the quantile kernel's sampling pass +
    # shuffle and the bucketing join would each re-run the scan +
    # dedup self-join (q130's multi-pass rule; A/B 2.44→1.96 s
    # min-of-4 at sf0.1, 2 fewer source scans at any scale)
    ex = (
        scored.join(canon, ["source", "text"])
        .where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "source", "n_tokens", "score")
    ).localCheckpoint(eager=True)
    b = exact_quantiles(ex, "score", {"t1": 0.25, "t2": 0.75}, ["source"]).select(
        "source", F.round("t1", 6).alias("t1"), F.round("t2", 6).alias("t2")
    )
    bucketed = ex.join(F.broadcast(b), "source").select(
        "source",
        "doc_id",
        "n_tokens",
        F.when(F.col("score") <= F.col("t1"), "tail")
        .when(F.col("score") <= F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )
    kept = bucketed.where(
        (F.col("bucket") != "tail") | (_md5_fraction("doc_id") < F.lit(0.2))
    )
    return kept.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )


@query(
    "q153_weighted_median_length",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    pos AS (SELECT source, n_tokens FROM t WHERE n_tokens > 0),
    tot AS (SELECT source, SUM(n_tokens) AS w FROM pos GROUP BY source),
    c AS (
      SELECT pos.source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY pos.source ORDER BY n_tokens
                                 ROWS UNBOUNDED PRECEDING) AS cw,
             tot.w AS w
      FROM pos JOIN tot USING (source)
    )
    SELECT source, CAST(MIN(n_tokens) AS BIGINT) AS wmedian_tokens
    FROM c WHERE cw >= 0.5 * w GROUP BY source
    """,
    tags=("text", "quantile", "weighted", "stats"),
)
def q153_weighted_median_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted median document length per source: the doc length
    at which half of a source's TOKENS live in shorter-or-equal docs —
    the statistic that tells a curation team where the corpus mass (not
    the doc count) sits, which drives packing/chunking decisions.

    Weighted lower-quantile semantics (smallest value whose running
    weight reaches p·W, weights = token counts, integral so every
    running sum is exact in doubles) via the distributed selection
    kernel's weighted mode (operators/quantiles.py) — per-partition
    memory; the oracle replays it as a window cumsum threshold."""
    from ..operators.quantiles import exact_quantiles

    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    t = docs.select("source", n_tok.alias("n_tokens"))
    wm = exact_quantiles(
        t, "n_tokens", {"wm": 0.5}, ["source"], weight_col="n_tokens"
    )
    return wm.select("source", F.col("wm").cast("long").alias("wmedian_tokens"))


@query(
    "q158_image_phash_dedup",
    oracle=None,  # DCT perceptual hashing has no SQL-expressible twin;
    # rows-only gate + crafted-pixel behavior tests (test_multimodal)
    tags=("multimodal", "dedup", "phash", "image"),
)
def q158_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dup pairs end to end: a deterministic
    256-image corpus (16 sha-expanded base patterns, each instance
    perturbed by 0–3 per-doc pixel edits) is rendered to REAL 32×32
    grayscale PNGs (stdlib encoder), then pHash (DCT low-frequency
    signature) + banded Hamming join
    (operators/multimodal.phash_neardup_pairs).  Images sharing a base
    pattern land at small Hamming distance, different patterns stay far
    — the visual-modality twin of q23's SimHash text dedup.  Rows-only:
    DCT hashing has no SQL twin; the pixel-level semantics are pinned by
    behavior tests (test_multimodal).

    Scale: hashing is one mapInPandas pass (bytes stay on executors);
    candidates come from the 8×8-bit banded equi-join (exact for
    Hamming ≤ 7), O(n·bands) shuffle — never an all-pairs join."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..operators.multimodal import _png_encode_pixels, phash_neardup_pairs

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 256)
    )

    out_schema = StructType(
        [
            StructField("doc_id", docs.schema["doc_id"].dataType),
            StructField("content", BinaryType()),
        ]
    )

    def render(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from ..operators.multimodal import sha256_stream

        n = 32 * 32

        def pattern(seed: str) -> np.ndarray:
            return np.frombuffer(sha256_stream(seed.encode(), n), dtype=np.uint8).copy()

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                img = pattern(f"base{did % 16}")
                # 0-3 deterministic pixel edits per doc
                edit_seed = hashlib.sha256(f"noise{did}".encode()).digest()
                for j in range(did % 4):
                    pos = int.from_bytes(edit_seed[2 * j : 2 * j + 2], "big") % n
                    img[pos] ^= 0xFF
                out.append(
                    _png_encode_pixels(img.reshape(32, 32, 1), color_type=0)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": out})

    images = docs.mapInPandas(render, out_schema)
    return phash_neardup_pairs(images, id_col="doc_id", max_hamming=7, bands=8)


@query(
    "q159_audio_fp_dedup",
    oracle=None,  # FFT spectral hashing has no SQL twin; rows-only gate
    # + crafted-waveform behavior tests (test_multimodal)
    tags=("multimodal", "dedup", "audio", "fingerprint"),
)
def q159_audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-fingerprint AUDIO near-dup pairs end to end: a
    deterministic 256-clip corpus (16 base 3-tone chords, each
    instance overlaid with 0–3 units of low-amplitude sha-stream noise)
    rendered to REAL 16-bit PCM WAVs (stdlib writer), then the 64-bit
    band-energy fingerprint + banded Hamming join
    (operators/multimodal.audio_neardup_pairs) — the audio member of
    the modality-dedup family (q23 text SimHash, q158 image pHash).
    Clips sharing a chord pair at Hamming 0-3; different chords occupy
    disjoint band sets (Hamming >= 6), past the max_hamming=3 gate.

    Scale: fingerprinting is one mapInPandas pass; candidates come from
    the banded equi-join, O(n·bands) shuffle — never all-pairs."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..operators.multimodal import (
        _wav_encode_pcm16,
        audio_neardup_pairs,
        sha256_stream,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 256)
    )
    out_schema = StructType(
        [
            StructField("doc_id", docs.schema["doc_id"].dataType),
            StructField("content", BinaryType()),
        ]
    )

    def render(batches):
        import numpy as np
        import pandas as pd

        from ..operators.multimodal import audio_band_edges

        n, rate = 4096, 16000
        t = np.arange(n) / rate
        # chord b = 3 tones at the CENTERS of fingerprint bands
        # {8+b, 24+b, 40+b} (audio_band_edges is the fingerprint's own
        # band map): distinct chords occupy disjoint hot-band sets, so
        # cross-chord Hamming is >= 6 while same-chord noisy copies
        # stay at 0-3 — separated by the max_hamming=3 gate below
        edges = audio_band_edges(n // 2 + 1, 64)
        centers = np.sqrt(edges[:-1] * edges[1:]) * rate / n
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                b = did % 16
                clip = sum(
                    9000.0 * np.sin(2 * np.pi * centers[8 + b + 16 * j] * t)
                    for j in range(3)
                )
                lvl = did % 4
                if lvl:
                    noise = np.frombuffer(
                        sha256_stream(f"anoise{did}".encode(), 2 * n), dtype="<i2"
                    ).astype(np.float64)
                    clip = clip + noise * (lvl / 256.0)
                out.append(_wav_encode_pcm16(clip, rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": out})

    clips = docs.mapInPandas(render, out_schema)
    return audio_neardup_pairs(clips, id_col="doc_id", max_hamming=3, bands=4)


@query(
    "q148_split_leakage",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))), ' '))
               AS fingerprint,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT te.doc_id AS test_doc_id,
           COUNT(*) AS n_train_dups,
           MIN(tr.doc_id) AS example_train_doc_id
    FROM fp te JOIN fp tr
      ON te.fingerprint = tr.fingerprint
     AND te.split = 'test' AND tr.split = 'train'
    GROUP BY te.doc_id
    """,
    tags=("text", "split", "decontamination", "evaluation"),
)
def q148_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split leakage audit: test-split documents whose
    bag-of-words fingerprint (q19) also appears in the train split of
    the SAME deterministic split as q68 — the eval-hygiene check that
    catches duplicate documents straddling a split (the within-corpus
    counterpart of q91's external-benchmark decontamination).  Join keys
    are md5 fingerprints — uniform, skew-free; output is one row per
    leaked test doc with its duplicate count and a deterministic
    example train doc."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 10
    fp = docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
        F.when(bucket < 8, "train").otherwise("test").alias("split"),
    )
    # single pass instead of a fingerprint self-join: one groupBy folds
    # both splits' stats per fingerprint (collect_list skips the nulls
    # the when() emits for the other split), so the corpus is scanned
    # and fingerprinted ONCE — the self-join form re-ran the tokenize +
    # sort + md5 projection per side.
    per_fp = fp.groupBy("fingerprint").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "n_train_dups"
        ),
        F.min(F.when(F.col("split") == "train", F.col("doc_id"))).alias(
            "example_train_doc_id"
        ),
        F.collect_list(F.when(F.col("split") == "test", F.col("doc_id"))).alias(
            "test_ids"
        ),
    )
    return (
        per_fp.where((F.col("n_train_dups") > 0) & (F.size("test_ids") > 0))
        .select(
            F.explode("test_ids").alias("test_doc_id"),
            "n_train_dups",
            "example_train_doc_id",
        )
    )


@query(
    "q160_training_blocks",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    pos AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
      FROM t WHERE n_tokens > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(ceil(SUM(n_tokens) / 512.0) AS BIGINT) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN CAST(floor(start_off / 512) AS BIGINT)
                          <> CAST(floor((start_off + n_tokens - 1) / 512) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
           round(((SUM(n_tokens) - 1) % 512 + 1) / 512.0, 6) AS last_fill
    FROM pos GROUP BY source
    """,
    tags=("text", "packing", "training"),
)
def q160_training_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk TRAINING-BLOCK packing audit (the GPT-style
    batching scheme: documents are concatenated in a deterministic
    order and split into fixed 512-token blocks): per source, how many
    blocks the corpus packs into, how many documents straddle a block
    boundary (and therefore get split across training sequences), and
    how full the final block is.  Order is md5(doc_id) — pseudo-random
    but rerun-stable, the q69 idiom — so the packing is reproducible.

    Plan: the per-source running offset (the packing position of every
    document) comes from the distributed prefix-sum kernel
    (operators/prefix.running_total): range-partition by
    (source, md5, doc_id) → tiny per-(partition, source) partial sums →
    broadcast offset table → partition-local cumsum.  A plain
    ``Window.partitionBy("source")`` cumsum would funnel each source's
    ENTIRE corpus through one window task (the r6 verdict's
    single-reducer finding); the kernel keeps per-task memory at one
    range-partition regardless of how few sources exist.  First-fit bin
    packing is inherently sequential — that variant belongs to
    applyInPandasWithState, not batch SQL."""
    from ..operators.prefix import running_total

    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    t = docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_ord"),
    ).where(F.col("n_tokens") > 0)
    pos = running_total(
        t, "n_tokens", ["_ord", "doc_id"], ["source"], out_col="_run",
        pin_input=True,  # tokenize once, not in the range-sampling pass too
    ).withColumn("start_off", F.col("_run") - F.col("n_tokens"))
    straddle = F.when(
        F.floor(F.col("start_off") / 512).cast("long")
        != F.floor((F.col("start_off") + F.col("n_tokens") - 1) / 512).cast("long"),
        1,
    ).otherwise(0)
    return pos.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.ceil(F.sum("n_tokens") / 512.0).cast("long").alias("n_blocks"),
        F.sum(straddle).cast("long").alias("n_straddlers"),
        F.round(((F.sum("n_tokens") - 1) % 512 + 1) / 512.0, 6).alias("last_fill"),
    )


def _planted_fingerprints(
    spark: SparkSession,
    sf_dir: str,
    base_seed: str,
    flip_seed: str,
    n_flip_mod: int,
    max_doc_id: int = 1024,
) -> DataFrame:
    """Deterministic 64-bit fingerprint table over ``documents`` doc_ids:
    16 md5-derived base signatures (full signed-64 range, so ~half are
    NEGATIVE — the sign-proof banding path), each doc perturbed by
    ``doc_id % n_flip_mod`` single-bit flips at md5-derived positions
    (< 63, so ``1 << pos`` never overflows).  Every step is native
    integer/string arithmetic expressible identically in DuckDB —
    the SQL-twin fingerprint source for the pair-stage oracles
    (q163/q164), which pin the BANDED Hamming join against a
    brute-force all-pairs oracle (the r6 verdict's item 2: the join +
    verify stage is where the subtle bugs live — the r6 sign-banding
    fix was exactly there — and it IS SQL-expressible even though the
    DCT/FFT fingerprinting of q158/q159 is not)."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < max_doc_id)
    )
    bmd = F.md5(F.concat(F.lit(base_seed), (F.col("doc_id") % 16).cast("string")))
    hb = F.conv(F.substring(bmd, 1, 8), 16, 10).cast("long")
    lb = F.conv(F.substring(bmd, 9, 8), 16, 10).cast("long")
    h0 = (
        hb - F.when(hb >= F.lit(2**31), F.lit(2**32)).otherwise(F.lit(0))
    ) * F.lit(2**32) + lb
    fmd = F.md5(F.concat(F.lit(flip_seed), F.col("doc_id").cast("string")))
    t = docs.select(
        "doc_id",
        h0.alias("h0"),
        (F.col("doc_id") % n_flip_mod).alias("m"),
        *[
            (F.conv(F.substring(fmd, 2 * j + 1, 2), 16, 10).cast("long") % 63).alias(
                f"p{j}"
            )
            for j in range(n_flip_mod - 1)
        ],
    )
    h = "h0"
    for j in range(n_flip_mod - 1):
        h = (
            f"({h} ^ IF(m > {j}, "
            f"shiftleft(CAST(1 AS BIGINT), CAST(p{j} AS INT)), CAST(0 AS BIGINT)))"
        )
    return t.select(F.col("doc_id").alias("id"), F.expr(h).alias("phash"))


def _pair_stage_oracle(flips: int, base_seed: str, flip_seed: str, h: int) -> str:
    """Brute-force all-pairs DuckDB twin of the banded Hamming join over
    the planted fingerprint table — the banded join is EXACT for
    hamming <= bands-1, so its result must equal the O(n²) scan."""
    flip_cols = ",\n             ".join(
        f"CAST('0x' || substr(md5('{flip_seed}' || CAST(doc_id AS VARCHAR)),"
        f" {2 * j + 1}, 2) AS BIGINT) % 63 AS p{j}"
        for j in range(flips)
    )
    hexpr = "(hb - CASE WHEN hb >= 2147483648 THEN 4294967296 ELSE 0 END)" \
        " * 4294967296 + lb"
    for j in range(flips):
        hexpr = (
            f"xor({hexpr}, CASE WHEN m > {j} THEN (CAST(1 AS BIGINT) << p{j})"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return f"""
    WITH seeded AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('{base_seed}' || CAST(doc_id % 16 AS VARCHAR)), 1, 8) AS BIGINT) AS hb,
             CAST('0x' || substr(md5('{base_seed}' || CAST(doc_id % 16 AS VARCHAR)), 9, 8) AS BIGINT) AS lb,
             doc_id % {flips + 1} AS m,
             {flip_cols}
      FROM documents WHERE doc_id < 1024
    ),
    fp AS (SELECT doc_id, {hexpr} AS h FROM seeded)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h, b.h)) <= {h}
    """


@query(
    "q163_phash_pair_stage",
    oracle=_pair_stage_oracle(3, "pb", "pf", 7),
    tags=("multimodal", "dedup", "phash", "pair-stage"),
)
def q163_phash_pair_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded Hamming JOIN stage of image pHash dedup (q158) under
    the full hash oracle: 8 bands × 8 bits, max_hamming=7 (the exact
    regime), over a deterministic planted fingerprint table both
    engines derive from md5 arithmetic.  DuckDB brute-forces all pairs;
    the banded pigeonhole join must produce the identical pair set —
    including across NEGATIVE hashes, the sign-proof
    shiftrightunsigned+mask path the r6 review fixed.

    Scale: the Spark side is the production O(n·bands) shuffle; the
    O(n²) scan exists only inside the oracle at sf0.01."""
    from ..operators.multimodal import phash_pairs_from_fingerprints

    fp = _planted_fingerprints(spark, sf_dir, "pb", "pf", 4)
    return phash_pairs_from_fingerprints(fp, max_hamming=7, bands=8)


@query(
    "q164_audio_pair_stage",
    oracle=_pair_stage_oracle(1, "ab", "af", 3),
    tags=("multimodal", "dedup", "audio", "pair-stage"),
)
def q164_audio_pair_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded join stage of audio fingerprint dedup (q159) under the
    hash oracle: 4 bands × 16 bits, max_hamming=3 — the wide-segment
    configuration q159 runs (16-bit masks exercise a different
    segment-width path than q163's 8-bit bands).  Fingerprints are a
    differently-seeded planted table with ≤1 flip per doc, so same-base
    pairs sit at Hamming ≤ 2 and survive the tighter gate."""
    from ..operators.multimodal import phash_pairs_from_fingerprints

    fp = _planted_fingerprints(spark, sf_dir, "ab", "af", 2)
    return phash_pairs_from_fingerprints(fp, max_hamming=3, bands=4)


@query(
    "q165_video_phash_dedup",
    oracle=None,  # frame DCT hashing has no SQL twin (like q158/q159);
    # the banded PAIR stage is oracled by q163/q164 over the shared
    # phash_pairs_from_fingerprints, and frame-sampling/majority
    # semantics are pinned by behavior tests (test_multimodal)
    tags=("multimodal", "dedup", "video", "phash"),
)
def q165_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup pairs end to end — the last member of the modality
    dedup family (q23 text, q158 image, q159 audio): a deterministic
    256-video corpus (16 base scenes of 24 FAKEVID frames — a dominant
    scene frame with a scene change every 6th frame — each copy
    perturbed by 0–3 frame replacements) is fingerprinted by sampling
    every 2nd frame, pHashing each frame's pixel grid, and
    majority-voting the 64 bits per video
    (operators/multimodal.video_neardup_pairs).  Copies of a base scene
    COLLAPSE to Hamming 0 — the majority vote is exactly that stable
    under ≤3 replaced frames (pinned by test_multimodal) — while
    different scenes diverge to ~32 bits, far past the gate; the
    intermediate 1..7 regime of the shared banded join is hash-gated by
    q163/q164.

    Scale: fingerprinting is one mapInPandas pass over the video bytes
    (frames never leave the executors, state is one 64-entry bit-count
    per video); candidates come from the shared banded equi-join —
    O(n·bands) shuffle, never all-pairs — whose join/verify logic is
    hash-gated by q163/q164."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from ..operators.multimodal import video_neardup_pairs

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 256)
    )
    out_schema = StructType(
        [
            StructField("doc_id", docs.schema["doc_id"].dataType),
            StructField("content", BinaryType()),
        ]
    )

    def render(batches):
        import hashlib

        import pandas as pd

        n_frames = 24
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                b = did % 16
                base = hashlib.sha256(f"vscene{b}".encode()).digest()[:16]
                frames = []
                for i in range(n_frames):
                    if i % 6 == 5:  # scene change every 6th frame
                        frames.append(
                            hashlib.sha256(f"vcut{b}:{i}".encode()).digest()[:16]
                        )
                    else:
                        frames.append(base)
                # 0-3 deterministic frame replacements per copy
                for j in range(did % 4):
                    pos = (
                        int.from_bytes(
                            hashlib.sha256(f"vnoise{did}:{j}".encode()).digest()[:2],
                            "big",
                        )
                        % n_frames
                    )
                    frames[pos] = hashlib.sha256(
                        f"vrepl{did}:{j}".encode()
                    ).digest()[:16]
                out.append(
                    f"FAKEVID|{n_frames}|24|".encode() + b"".join(frames)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": out})

    videos = docs.mapInPandas(render, out_schema)
    return video_neardup_pairs(
        videos, id_col="doc_id", max_hamming=7, bands=8, every_n=2
    )


def _ivf_cell_audit_oracle(n_cells: int = 16, iters: int = 2, dim: int = 64) -> str:
    """Replay the q40 Lloyd index build, then the skew report as plain
    SQL over the k-row cell-count table: window aggregates in ONE
    select (never scalar subqueries — the CTE re-inlining trap,
    CLAUDE.md)."""
    steps = _lloyd_ctes(n_cells, iters, dim)
    steps.append(_KM_ASSIGN_TPL.format(name="afinal", cents=f"cents{iters}"))
    steps.append(
        "cellcnt AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors"
        " FROM afinal GROUP BY cell)"
    )
    return (
        "WITH "
        + ",\n".join(steps)
        + """
SELECT cell, n_vectors,
       round(n_vectors / CAST(SUM(n_vectors) OVER () AS DOUBLE), 6) AS share,
       round(n_vectors * COUNT(*) OVER ()
             / CAST(SUM(n_vectors) OVER () AS DOUBLE), 6) AS ratio,
       round(MAX(n_vectors) OVER () * COUNT(*) OVER ()
             / CAST(SUM(n_vectors) OVER () AS DOUBLE), 6) AS max_ratio,
       round(MIN(n_vectors) OVER () * COUNT(*) OVER ()
             / CAST(SUM(n_vectors) OVER () AS DOUBLE), 6) AS min_ratio
FROM cellcnt"""
    )


@query(
    "q166_ivf_cell_audit",
    oracle=_ivf_cell_audit_oracle(n_cells=16, iters=2),
    tags=("ann", "ivf", "maintenance"),
)
def q166_ivf_cell_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance audit (operators/ann.ivf_cell_stats): build
    the q40 trained index (16 cells, 2 Lloyd iterations, deterministic
    micro-grid means) and report per-cell balance — count, corpus
    share, balance ratio (n·k/total; 1.0 = perfect), and the
    table-wide max/min ratios every row carries so one glance gives an
    operator the worst-cell skew.  This is the drift monitor the
    ivf_index_append path documents: appended batches never reassign
    the standing corpus, so cell balance decays between rebuilds and
    THIS query is the retrain trigger (the baseline/drift variant is
    exercised in the append lifecycle test).

    Scale: one column-pruned groupBy over assignment ids + a broadcast
    1-row totals crossJoin; output is k rows.  No window touches the
    data."""
    from ..operators.ann import ivf_cell_stats

    _, assign = cached_ivf_index(spark, sf_dir, n_cells=16, iters=2)
    return ivf_cell_stats(assign)


@query(
    "q170_pmi_collocations",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
               AS bg
      FROM t
    ),
    c12 AS (SELECT bg, COUNT(*) AS c12 FROM bi GROUP BY bg),
    c1 AS (SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS c1
           FROM bi GROUP BY 1),
    c2 AS (SELECT string_split(bg, ' ')[2] AS w2, COUNT(*) AS c2
           FROM bi GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM bi)
    SELECT c12.bg AS bigram, c12.c12 AS n_pair,
           round(ln((CAST(c12.c12 AS DOUBLE) * nn.n)
                    / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 6) AS pmi
    FROM c12
    JOIN c1 ON string_split(c12.bg, ' ')[1] = c1.w1
    JOIN c2 ON string_split(c12.bg, ' ')[2] = c2.w2
    CROSS JOIN nn
    WHERE c12.c12 >= 5
    ORDER BY pmi DESC, bigram
    LIMIT 50
    """,
    tags=("text", "collocation", "pmi"),
)
def q170_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent-token pairs by pointwise
    mutual information (min support 5) — the phrase-detection pass a
    tokenizer/curation pipeline runs to find multi-word units worth
    merging.  PMI = ln(c12·N / (c1·c2)) with the left/right marginal
    convention (c1 = w1-as-left count, c2 = w2-as-right count); the
    identical double-arithmetic shape in both engines and a
    (pmi desc, bigram) tie-break make the top-50 deterministic.

    Scale: the count tables co-shuffle on the bigram/word keys (all
    derive from one exploded stream — the q77 plan family); the final
    top-50 is TakeOrderedAndProject, never a global sort."""
    from ..functions.text import shingles, tokens

    docs = read_table(spark, sf_dir, "documents")
    bi = docs.select(F.explode(shingles(tokens(F.col("text")), 2)).alias("bg"))
    c12 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = (
        bi.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    c2 = (
        bi.select(F.substring_index("bg", " ", -1).alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    nn = bi.agg(F.count(F.lit(1)).alias("n"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") * F.col("n"))
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        6,
    )
    return (
        c12.where(F.col("c12") >= 5)
        .join(c1, F.substring_index(F.col("bg"), " ", 1) == F.col("w1"))
        .join(c2, F.substring_index(F.col("bg"), " ", -1) == F.col("w2"))
        .crossJoin(F.broadcast(nn))
        .select(F.col("bg").alias("bigram"), F.col("c12").alias("n_pair"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(50)
    )


@query(
    "q171_matryoshka_fidelity",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nf
      FROM v
    ),
    k AS (SELECT unnest([8, 16, 32]) AS k),
    fid AS (
      SELECT k.k, n.vec_id,
             round(sqrt(list_sum(list_transform(n.v[1:k.k], x -> x * x)))
                   / n.nf, 6) AS fid
      FROM n CROSS JOIN k
      WHERE n.nf > 0
    )
    SELECT k,
           COUNT(*) AS n_vectors,
           round(CAST(SUM(CAST(fid AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_fidelity,
           round(MIN(fid), 6) AS min_fidelity
    FROM fid GROUP BY k
    """,
    tags=("vector", "matryoshka", "training"),
)
def q171_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: how much L2 mass the first k of 64
    embedding dimensions retain (fidelity = ‖v[:k]‖/‖v‖) for k ∈
    {8,16,32} — the evaluation a pipeline runs before storing truncated
    MRL embeddings to cut ANN index footprint.  Per-row folds run in
    index order in BOTH engines (the q74 convention), per-vector
    fidelity is rounded then decimal-summed, so the corpus mean is
    shuffle-order-independent.

    Scale: one scan, per-row arithmetic, 3-row broadcast dimension
    crossJoin, k-row output."""
    from ..functions.vectors import to_double_array

    emb = read_table(spark, sf_dir, "embeddings")
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("k")
    )
    v = to_double_array(F.col("embedding"))
    n = emb.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nf"),
    ).where(F.col("nf") > 0)
    fid = n.crossJoin(F.broadcast(ks)).select(
        "k",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.slice("v", F.lit(1), F.col("k")),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            )
            / F.col("nf"),
            6,
        ).alias("fid"),
    )
    return fid.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr(
            "round(CAST(SUM(CAST(fid AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)"
        ).alias("avg_fidelity"),
        F.round(F.min("fid"), 6).alias("min_fidelity"),
    )


@query(
    "q172_padding_waste",
    oracle="""
    WITH t AS (
      SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT n_tokens,
             CAST(power(2, ceil(ln(CAST(n_tokens AS DOUBLE)) / ln(2.0)))
                  AS BIGINT) AS b0
      FROM t WHERE n_tokens > 0
    ),
    f1 AS (
      SELECT n_tokens,
             CASE WHEN b0 / 2 >= n_tokens THEN b0 // 2 ELSE b0 END AS b1
      FROM g
    ),
    b AS (
      SELECT n_tokens,
             CASE WHEN b1 < n_tokens THEN b1 * 2 ELSE b1 END AS bucket
      FROM f1
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           round(1.0 - CAST(SUM(n_tokens) AS DOUBLE) / (COUNT(*) * bucket), 6)
             AS waste
    FROM b GROUP BY bucket
    """,
    tags=("text", "batching", "training"),
)
def q172_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: documents grouped into power-of-2
    token-length buckets (the dynamic-batching layout inference and
    padded training use) and, per bucket, how many tokens are real vs
    padding when every sequence pads to the bucket ceiling — the
    complement of q160's concat-and-chunk audit (packing wastes nothing
    but splits documents; padding preserves documents but burns
    ceil−len tokens each).

    Bucket = 2^ceil(log2(n)), but the log is only a GUESS: a 1-ulp
    ln() difference between engines would flip the bucket at exact
    powers of two, so the guess is corrected by exact integer
    comparisons (halve if the half still fits, double if it doesn't) —
    float error becomes harmless, the hash cannot drift.  Counts and
    token sums are integers; only the final waste ratio is a double.

    Scale: one scan + one hash aggregate on a ~log-many-valued key."""
    docs = read_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    b0 = F.pow(
        F.lit(2.0),
        F.ceil(F.log(F.col("n_tokens").cast("double")) / F.log(F.lit(2.0))),
    ).cast("long")
    g = (
        docs.select(n_tok.alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
        .select("n_tokens", b0.alias("b0"))
    )
    b1 = F.when(
        F.col("b0") / 2 >= F.col("n_tokens"), F.floor(F.col("b0") / 2).cast("long")
    ).otherwise(F.col("b0"))
    b = g.select("n_tokens", b1.alias("b1")).select(
        "n_tokens",
        F.when(F.col("b1") < F.col("n_tokens"), F.col("b1") * 2)
        .otherwise(F.col("b1"))
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket")).cast("long").alias("padded_tokens"),
        F.round(
            1.0
            - F.sum("n_tokens").cast("double")
            / (F.count(F.lit(1)) * F.col("bucket")),
            6,
        ).alias("waste"),
    )


@query(
    "q174_embedding_drift",
    oracle="""
    WITH base AS (
      SELECT label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
      FROM embeddings
    ),
    pos AS (
      SELECT label, u.pos, vm[u.pos + 1] AS m
      FROM base CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) u
    ),
    lm AS (
      SELECT label, pos,
             CAST(floor(SUM(m) / COUNT(*) + 0.5) AS BIGINT) AS cm
      FROM pos GROUP BY label, pos
    ),
    gm AS (
      SELECT pos, CAST(floor(SUM(m) / COUNT(*) + 0.5) AS BIGINT) AS gv
      FROM pos GROUP BY pos
    ),
    n AS (SELECT label, COUNT(*) AS n_vectors FROM base GROUP BY label)
    SELECT l.label, ANY_VALUE(n.n_vectors) AS n_vectors,
           round(CAST(SUM(CAST(l.cm * g.gv AS HUGEINT)) AS DOUBLE)
                 / (sqrt(CAST(SUM(CAST(l.cm * l.cm AS HUGEINT)) AS DOUBLE))
                    * sqrt(CAST(SUM(CAST(g.gv * g.gv AS HUGEINT)) AS DOUBLE))),
                 6) AS cos_to_corpus
    FROM lm l JOIN gm g USING (pos) JOIN n USING (label)
    GROUP BY l.label
    """,
    tags=("vector", "drift", "monitoring"),
)
def q174_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding DRIFT monitor: cosine between each label's
    centroid and the corpus centroid — the distribution-shift check a
    pipeline runs when a new data slice lands (low cosine = the slice
    points somewhere new; the vector-space sibling of q149's PSI).

    Centroids live on the 1e-6 integer micro-grid (the q125/q40 Lloyd
    convention: floor(sum/count + 0.5) of micro units), so dot products
    and norms are exact integer sums (DECIMAL(38,0)/HUGEINT) in both
    engines and only the final cosine is a double.

    Scale: posexplode → two keyed aggregates ((label, pos) and (pos))
    → a 64·|labels|-row join; the raw vectors are touched once."""
    from ..functions.vectors import to_double_array

    emb = read_table(spark, sf_dir, "embeddings")
    vm = F.transform(
        to_double_array(F.col("embedding")),
        lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("long"),
    )
    pos = emb.select("label", F.posexplode(vm).alias("pos", "m"))
    lm = pos.groupBy("label", "pos").agg(
        F.floor(F.sum("m") / F.count(F.lit(1)) + 0.5).cast("long").alias("cm")
    )
    gm = pos.groupBy("pos").agg(
        F.floor(F.sum("m") / F.count(F.lit(1)) + 0.5).cast("long").alias("gv")
    )
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        lm.join(F.broadcast(gm), "pos")
        .groupBy("label")
        .agg(
            F.sum(dec(F.col("cm") * F.col("gv"))).alias("sxy"),
            F.sum(dec(F.col("cm") * F.col("cm"))).alias("sxx"),
            F.sum(dec(F.col("gv") * F.col("gv"))).alias("syy"),
        )
        .join(F.broadcast(n), "label")
        .select(
            "label",
            "n_vectors",
            F.round(
                F.col("sxy").cast("double")
                / (
                    F.sqrt(F.col("sxx").cast("double"))
                    * F.sqrt(F.col("syy").cast("double"))
                ),
                6,
            ).alias("cos_to_corpus"),
        )
    )


@query(
    "q177_prefix_filter_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           round(CAST(c.n_common AS DOUBLE)
                 / (sa.n + sb.n - c.n_common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE round(CAST(c.n_common AS DOUBLE)
                / (sa.n + sb.n - c.n_common), 6) >= 0.5
    """,
    tags=("dedup", "similarity", "prefix-filter"),
)
def q177_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-Jaccard >= 0.5 pairs via PREFIX FILTERING
    (operators/similarity.prefix_filter_jaccard_pairs) — the exact
    ppjoin-style scale plan: each document indexes only its
    |x| - ceil(t|x|) + 1 globally-RAREST shingles, candidates come from
    the rare-prefix equi-join, and candidate-first verification
    computes true Jaccard.  The oracle is the brute-force all-shingle
    self-join, so the hash gate proves the prefix filter loses NO pair
    — a guaranteed-lossless alternative to the probabilistic MinHash
    banding of q22 over the same set definition (3-word shingles, the
    q49/q50 family), and the third physical strategy for this logical
    operator in the registry (inverted index, LSH bands, prefix
    filter)."""
    from ..operators.similarity import prefix_filter_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, threshold=0.5, shingles_df=cached_shingles(spark, sf_dir)
    )


@query(
    "q178_pareto_frontier",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                                x -> x <> ''))) AS DOUBLE)
             / len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS diversity
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ),
    m AS (
      SELECT doc_id, n_tokens, diversity,
             MAX(diversity) OVER (
               ORDER BY n_tokens DESC, diversity DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mprev
      FROM t
    )
    SELECT doc_id, n_tokens, round(diversity, 6) AS diversity
    FROM m WHERE mprev IS NULL OR diversity > mprev
    """,
    tags=("skyline", "pareto", "curation"),
)
def q178_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PARETO FRONTIER (skyline) of the corpus over (token count,
    lexical diversity) — the multi-objective curation cut "no other
    document is both longer AND more diverse": classic skyline, done
    with the sort-based algorithm at distributed scale.  After a total
    order on (n_tokens desc, diversity desc, doc_id), a document is on
    the frontier iff its diversity exceeds the EXCLUSIVE prefix max —
    which comes from the prefix kernel's running_max
    (operators/prefix.py), because the naive form is a single-task
    GLOBAL window over the whole corpus (the q63/q160 hazard class,
    global edition).  Equal-objective duplicates keep only the smallest
    doc_id (the tie order makes later copies fail the strict test).

    diversity = distinct/total tokens — a ratio of exact integers, so
    the sort key is bit-identical across engines."""
    from ..operators.prefix import running_max

    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "diversity"
        ),
    ).where(F.col("n_tokens") > 0)
    t = t.select(
        "doc_id",
        "n_tokens",
        "diversity",
        (-F.col("n_tokens")).alias("_o1"),
        (-F.col("diversity")).alias("_o2"),
    )
    m = running_max(
        t,
        "diversity",
        ["_o1", "_o2", "doc_id"],
        out_col="_m",
        inclusive=False,
        pin_input=True,  # tokenize once, not again in the range sampler
    )
    return m.where(F.col("_m").isNull() | (F.col("diversity") > F.col("_m"))).select(
        "doc_id", "n_tokens", F.round("diversity", 6).alias("diversity")
    )


# ---- DSIR importance-weight data selection (q402) ---------------------------

# engine-shared arithmetic text (the q339 _DL_LEVELS discipline): the
# per-bucket log importance ratio and its 1e-12 sign-aware half-away
# snap are ONE string consumed by both the Spark selectExpr and the
# DuckDB oracle, so both engines run identical IEEE ops on identical
# integer inputs (ln on the same double is the same double on one
# libm; the snap then erases any residual representation concern).
_DSIR_B = 64  # hashed feature buckets
_DSIR_X = (
    "ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + {B} AS DOUBLE))"
    " - ln(CAST(sc + 1 AS DOUBLE) / CAST(ss + {B} AS DOUBLE))"
).format(B=_DSIR_B)
_DSIR_LAM12 = (
    f"CASE WHEN ({_DSIR_X}) >= 0"
    f" THEN CAST(floor(({_DSIR_X}) * 1000000000000 + 0.5) AS BIGINT)"
    f" ELSE CAST(ceil(({_DSIR_X}) * 1000000000000 - 0.5) AS BIGINT) END"
)


@query(
    "q402_dsir_selection",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    shb AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(shingle), 1, 13)) AS BIGINT)
               % {_DSIR_B} AS b
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(t)-1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks
      )
    ),
    spine AS (SELECT unnest(range({_DSIR_B})) AS b),
    tcnt AS (SELECT b, COUNT(*) AS c FROM shb WHERE lang = 'en' GROUP BY b),
    scnt AS (SELECT b, COUNT(*) AS c FROM shb GROUP BY b),
    tot AS (
      SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt,
             COUNT(*) AS ss
      FROM shb
    ),
    lam AS (
      SELECT b, {_DSIR_LAM12} AS lam12
      FROM (
        SELECT spine.b, COALESCE(tcnt.c, 0) AS tc, COALESCE(scnt.c, 0) AS sc,
               tot.tt, tot.ss
        FROM spine LEFT JOIN tcnt ON spine.b = tcnt.b
                   LEFT JOIN scnt ON spine.b = scnt.b
                   CROSS JOIN tot
      )
    ),
    docb AS (SELECT doc_id, b, COUNT(*) AS cb FROM shb GROUP BY doc_id, b),
    docw AS (
      SELECT doc_id, SUM(cb * lam12) AS w
      FROM docb JOIN lam ON docb.b = lam.b GROUP BY doc_id
    )
    SELECT d.doc_id, d.source, d.lang,
           CAST(COALESCE(w.w, 0) AS BIGINT) AS w12
    FROM documents d LEFT JOIN docw w ON d.doc_id = w.doc_id
    ORDER BY w12 DESC, d.doc_id
    LIMIT 20
    """,
    tags=("llm-data", "selection", "dsir"),
)
def q402_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    its hashed-n-gram importance ratio against a target slice — here
    feature = 3-word shingle (the q22/q49 term-space rule; unigrams
    degenerate on this corpus, q261 lesson) hashed into 64 buckets,
    target = the lang='en' slice, source = the whole corpus — and keep
    the top-k.  Per-bucket log ratio λ_b = ln p̂_t(b) − ln p̂_s(b)
    (Laplace-smoothed), per-doc weight = Σ_b c_b(doc)·λ_b; DSIR's
    Gumbel-resampling step is replaced by deterministic top-k (rank by
    weight, doc_id tie-break) so the gate stays exact.

    Scale plan: two map-side-combinable bucket-count aggregates (64-row
    results), a 64-row λ table broadcast onto the per-(doc, bucket)
    count table, one per-doc sum — linear scans, bounded state, no
    all-pairs anything; exactly the shape DSIR runs at corpus scale.
    The shingle fan-out is the standard explode (at 100 TB it rides the
    same scan the dedup family already pays, and the two count tables
    could come straight from the stats catalog's ew kind).

    Determinism: λ snapped per bucket to the 1e-12 integer grid
    (sign-aware half-away, the q346 ln-increment rule) via arithmetic
    text SHARED verbatim with the oracle; doc weights are then pure
    integer sums (|λ12| ≲ 5e12 × c_b ≤ shingles/doc ~2e2 × 64 buckets
    ≈ 6e16 — int64-safe to ~3e4 shingles/doc)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    from ..functions.text import shingles

    # measured A/B (sf0.1, interleaved min-of-3, quiet box): spreading the
    # single-split scan before the fan-out (the q230 rule) is a WASH here
    # (0.87 s both ways — the zip-based shingle transform is cheap enough
    # that one core keeps up at this corpus size); keep the shuffle-free
    # form, which also avoids shipping full text bodies
    sh = docs.select(
        "doc_id",
        "lang",
        F.explode(shingles(tokens(F.col("text")))).alias("shingle"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"CAST(conv(substr(md5(shingle), 1, 13), 16, 10) AS BIGINT)"
            f" % {_DSIR_B}"
        ).alias("b"),
    )
    sh = sh.localCheckpoint(eager=True)  # feeds 3 aggregates (r7 multi-consumer rule)
    tcnt = sh.where(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("tc")
    )
    scnt = sh.groupBy("b").agg(F.count(F.lit(1)).alias("sc"))
    tot = sh.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
        F.count(F.lit(1)).alias("ss"),
    )
    spine = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    lam = (
        spine.join(tcnt, "b", "left")
        .join(scnt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "b",
            f"COALESCE(tc, 0) AS tc",
            f"COALESCE(sc, 0) AS sc",
            "tt",
            "ss",
        )
        .selectExpr("b", f"{_DSIR_LAM12} AS lam12")
    )
    docb = sh.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cb"))
    docw = (
        docb.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cb") * F.col("lam12")).alias("w"))
    )
    return (
        docs.select("doc_id", "source", "lang")
        .join(docw, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            F.coalesce(F.col("w"), F.lit(0)).cast("long").alias("w12"),
        )
        .orderBy(F.col("w12").desc(), "doc_id")
        .limit(20)
    )
