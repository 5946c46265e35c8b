"""Entity resolution — SURVEY.md M2/M3 (data_integration.ipynb cells
38-49; alerts/parse_alert.ipynb cells 48-53).

The reference uses the `dedupe` library: active-learning logistic
regression + hierarchical clustering with per-type hand-tuned thresholds
(ORG 0.6, PERSON 0.79, GPE 0.55, PRODUCT 0.64).  That is stochastic and
driver-bound; per SURVEY §7.3 hard part 2 we define a *deterministic*
spec with the same pipeline shape:

    normalize → candidate pairs (token-Jaccard join, the blocking step) →
    threshold → connected components → cluster id = min member id →
    best label per cluster (per-group argmax) → mention weights

Every stage is a distributed DataFrame op; clustering is the same
connected-components operator the graph layer ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.strings import normalize_entity
from ..graph.algorithms import connected_components
from ..operators.similarity import char_ngram_jaccard_join, token_jaccard_join
from ..session import local_frame

# deterministic stand-ins for the reference's per-type thresholds
DEFAULT_THRESHOLDS = {"ORG": 0.6, "PERSON": 0.75, "GPE": 0.55, "PRODUCT": 0.6}

# character-3-gram Jaccard thresholds for the morphological edge source
# (validated against the reference's labeled ner_training_* pairs in
# tests/test_golden_fixtures.py; tighter for short PERSON handles where
# trigram overlap is noisy)
CHAR_THRESHOLDS = {"ORG": 0.6, "PERSON": 0.75, "GPE": 0.6, "PRODUCT": 0.6}


def _stem_key(norm_col: F.Column) -> F.Column:
    """Order-insensitive plural-stripped token key: 'cyber security
    centres' and 'security centre cyber' share one key.  A naive
    trailing-s stem — deliberately conservative (no Porter suffix
    machinery), because the key is an EXACT-merge block: false stems
    merge clusters irreversibly."""
    toks = F.split(norm_col, " ")
    stemmed = F.transform(toks, lambda t: F.regexp_replace(t, "s$", ""))
    return F.array_join(F.array_sort(F.array_distinct(stemmed)), " ")


def resolve_entities(
    mentions: DataFrame,
    id_col: str = "mention_id",
    label_col: str = "label",
    type_col: str = "type",
    thresholds: dict[str, float] | None = None,
    default_threshold: float = 0.6,
    char_thresholds: dict[str, float] | None = None,
    default_char_threshold: float = 0.6,
    morph_edges: bool = True,
) -> DataFrame:
    """→ (mention_id, label, type, norm, cluster_id).

    ``cluster_id`` is the smallest mention id in the connected component
    of the similarity graph *within each NER type* (types never merge,
    matching the reference's per-type dedupe runs).

    Three deterministic edge sources per type, unioned before the
    connected-components closure (together the stand-in for the
    reference dedupe library's learned string distances, validated
    against its labeled ner_training_* pairs in
    tests/test_golden_fixtures.py):

    1. whole-token Jaccard ≥ per-type threshold (the blocking join);
    2. character-3-gram Jaccard ≥ per-type char threshold — catches
       morphological variants ('centre'/'centres', 'kimsuky'/'kimsukys')
       invisible to token sets;
    3. exact match on the plural-stripped sorted token key (stem block).

    2 and 3 toggle off together via ``morph_edges=False`` (the pre-r5
    token-only behavior).
    """
    thresholds = thresholds or DEFAULT_THRESHOLDS
    char_thresholds = char_thresholds or CHAR_THRESHOLDS
    norm = mentions.select(
        F.col(id_col).alias("mention_id"),
        F.col(label_col).alias("label"),
        F.col(type_col).alias("type"),
        normalize_entity(F.col(label_col)).alias("norm"),
    )

    def type_edges(sub: DataFrame, thr: float, char_thr: float) -> list[DataFrame]:
        out = [
            token_jaccard_join(
                sub, sub, "mention_id", "norm", "mention_id", "norm", threshold=thr
            )
            .where(F.col("l_id") < F.col("r_id"))
            .select("l_id", "r_id")
        ]
        if morph_edges:
            out.append(
                char_ngram_jaccard_join(
                    sub, sub, "mention_id", "norm", "mention_id", "norm", char_thr
                )
                .where(F.col("l_id") < F.col("r_id"))
                .select("l_id", "r_id")
            )
            keyed = sub.select("mention_id", _stem_key(F.col("norm")).alias("skey"))
            a, b = keyed.alias("a"), keyed.alias("b")
            out.append(
                a.join(
                    b,
                    (F.col("a.skey") == F.col("b.skey"))
                    & (F.col("a.mention_id") < F.col("b.mention_id")),
                ).select(
                    F.col("a.mention_id").alias("l_id"),
                    F.col("b.mention_id").alias("r_id"),
                )
            )
        return out

    # identical normal forms always merge (exact block), regardless of type
    # threshold; similarity pairs add the fuzzy edges per type.
    per_type = []
    for t, thr in thresholds.items():
        sub = norm.where(F.col("type") == t)
        per_type.extend(type_edges(sub, thr, char_thresholds.get(t, default_char_threshold)))
    other = norm.join(
        F.broadcast(
            local_frame(
                norm.sparkSession, [[t] for t in thresholds], "type string"
            )
        ),
        "type",
        "left_anti",
    )
    per_type.extend(type_edges(other, default_threshold, default_char_threshold))

    edges = per_type[0]
    for p in per_type[1:]:
        edges = edges.unionByName(p)
    # guard: never merge across types (joins above are type-local already,
    # but keep the invariant explicit against future blocking changes)
    comp = connected_components(
        edges.select(F.col("l_id").alias("src"), F.col("r_id").alias("dst"))
    )
    return (
        norm.join(comp, norm.mention_id == comp.id, "left")
        .select(
            "mention_id",
            "label",
            "type",
            "norm",
            F.coalesce(F.col("component"), F.col("mention_id")).alias("cluster_id"),
        )
    )


def best_labels(resolved: DataFrame) -> DataFrame:
    """Most frequent raw label per cluster (ties → lexicographically
    smallest) — the reference's value_counts + idxmax "best label"
    (SURVEY A2/A3, data_integration.ipynb:2637 cell 48) as one window."""
    counts = resolved.groupBy("cluster_id", "label").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("freq"), F.asc("label"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("label").alias("best_label"), "freq")
    )


def mention_weights(
    resolved: DataFrame, doc_col: str = "alert_id"
) -> DataFrame:
    """(doc, best_label, type, weight) — MENTIONED edge weights
    (data_integration.ipynb:2783 cell 49: groupby().size())."""
    labeled = resolved.join(best_labels(resolved).select("cluster_id", "best_label"), "cluster_id")
    return labeled.groupBy(doc_col, "best_label", "type").agg(
        F.count(F.lit(1)).alias("weight")
    )
