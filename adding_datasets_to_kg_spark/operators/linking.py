"""Entity linking + triple emission over detected mentions.

Transcript-domain analog of the reference's ID resolution + edge emission:
- candidate scoring / best-pick  ← Node Normalizer best-match semantics
  (/root/reference/src/midas/normalize.py:29-37): each mention resolves to
  exactly one entity id; ties broken deterministically.
- triple vocabulary (north_star): turn-mentions-entity,
  gene-associated_with-disease (convert_data.py:79-82 predicate),
  variant-observed_in-cohort, plus variant→gene consequence edges
  (convert_data.py:113-117; util.py:38-49).

Scale notes: linking is broadcast joins against dictionary tables + one
window (rank over score) partitioned by (conv_id, turn_idx, token_pos) —
narrow partitions, no skew. Co-occurrence edges join mentions to mentions
WITHIN a turn (self-join on conv_id+turn_idx) — bounded fan-out per turn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.curie import consequence_predicate
from ..sources.kgx import conform_edges

INFORES = "infores:transcripts"


def link_best_candidate(mentions: DataFrame) -> DataFrame:
    """Pick one entity per (conv_id, turn_idx, token_pos): longest surface
    form wins, then lexicographic entity_id — pure, order-independent.
    Returns (conv_id, turn_idx, entity_id, entity_type, token_pos).

    Implemented as a hash aggregate (min_by over the (-length, entity_id)
    sort key) rather than a row_number window: same semantics, but partial
    aggregation runs map-side and no per-partition sort is needed — the
    window variant was a full sort of the mention stream.

    ``mentions`` carry the surface form's length as ``term_len``, not the
    term string: the tiebreak needs only the length, so the aggregate's
    shuffle and per-group min_by buffer carry 4 bytes instead of the term.
    Catalyst cannot prune a field INSIDE min_by's struct payload, so the
    narrowing is the caller's explicit projection — made BEFORE an upstream
    repartition (see plans.pipeline.extract_linked_mentions)."""
    key = F.struct(
        (-F.col("term_len")).alias("neg_len"), F.col("entity_id").alias("eid")
    )
    best = F.min_by(F.struct("entity_id", "entity_type"), key).alias("_best")
    return (
        mentions.groupBy("conv_id", "turn_idx", "token_pos")
        .agg(best)
        .select(
            "conv_id",
            "turn_idx",
            "_best.entity_id",
            "_best.entity_type",
            "token_pos",
        )
    )


def turn_uri(conv_id: F.Column, turn_idx: F.Column) -> F.Column:
    return F.concat(F.lit("TURN:"), conv_id, F.lit("#"), turn_idx.cast("string"))


def emit_mention_triples(linked: DataFrame) -> DataFrame:
    """turn-mentions-entity triples, one per linked mention occurrence.

    NOT deduped here — and not in the pipeline either: when ``linked`` is
    distinct on (conv_id, turn_idx, entity_id) (the pipeline guarantees it),
    the (TURN:conv#turn, mentions, entity) key is unique by construction.
    This family is the bulk of the triple stream (one row per mention
    occurrence, corpus-proportional), so exempting it from the post-union
    dedup removes the largest all-unique-keys shuffle in the job; the other
    families (corpus-many rows collapsing to dictionary-few triples) keep
    their dedup, where partial aggregation actually reduces data."""
    return conform_edges(
        linked.select(
            turn_uri(F.col("conv_id"), F.col("turn_idx")).alias("subject"),
            F.lit("biolink:mentions").alias("predicate"),
            F.col("entity_id").alias("object"),
            F.lit(INFORES).alias("primary_knowledge_source"),
        )
    )


def emit_gene_disease_triples(
    linked: DataFrame, disease_lexicon: DataFrame
) -> DataFrame:
    """gene-associated_with-disease: a disease mention and its lexicon-backed
    associated gene co-mentioned in the SAME turn.

    disease_lexicon(name, disease_id, assoc_gene_id) is the DisGeNet-style
    dictionary (FIXTURES.md §2.2); predicate per convert_data.py:80.
    """
    diseases = linked.filter(F.col("entity_type") == "disease").select(
        "conv_id", "turn_idx", F.col("entity_id").alias("disease_id")
    )
    genes = linked.filter(F.col("entity_type") == "gene").select(
        "conv_id", "turn_idx", F.col("entity_id").alias("gene_id")
    )
    assoc = F.broadcast(
        disease_lexicon.filter(F.col("assoc_gene_id").isNotNull())
        .select("disease_id", "assoc_gene_id")
        .distinct()
    )
    pairs = (
        diseases.join(genes, ["conv_id", "turn_idx"])
        .join(
            assoc,
            (diseases.disease_id == assoc.disease_id)
            & (genes.gene_id == assoc.assoc_gene_id),
            "inner",
        )
    )
    return conform_edges(
        pairs.select(
            F.col("gene_id").alias("subject"),
            F.lit("biolink:gene_associated_with_condition").alias("predicate"),
            diseases.disease_id.alias("object"),
            F.lit(INFORES).alias("primary_knowledge_source"),
        )
    )


def emit_variant_cohort_triples(linked: DataFrame) -> DataFrame:
    """variant-observed_in-cohort: variant mentioned anywhere in a
    conversation → edge to the conversation-as-cohort node."""
    return conform_edges(
        linked.filter(F.col("entity_type") == "variant")
        .select(
            F.col("entity_id").alias("subject"),
            F.lit("biolink:observed_in").alias("predicate"),
            F.concat(F.lit("COHORT:"), F.col("conv_id")).alias("object"),
            F.lit(INFORES).alias("primary_knowledge_source"),
        )
    )


def emit_variant_gene_triples(
    linked: DataFrame, variant_lexicon: DataFrame
) -> DataFrame:
    """variant→gene consequence edges (convert_data.py:113-117 parity):
    predicate decoded from the lexicon's SO consequence term."""
    vl = F.broadcast(
        variant_lexicon.select(
            F.coalesce(
                F.col("caid"),
                F.when(
                    F.col("hgvs").startswith("HGVS:"), F.col("hgvs")
                ).otherwise(F.concat(F.lit("HGVS:"), F.col("hgvs"))),
            ).alias("entity_id"),
            F.col("gene_id").alias("vl_gene_id"),
            F.col("consequence").alias("vl_consequence"),
        )
        # deterministic row per variant id: a lexicon may carry several
        # rows per caid (per-rsid, per-transcript); dropDuplicates on the
        # subset key would keep an arbitrary one
        .groupBy("entity_id")
        .agg(F.min(F.struct("vl_gene_id", "vl_consequence")).alias("_m"))
        .select("entity_id", F.col("_m.vl_gene_id").alias("vl_gene_id"),
                F.col("_m.vl_consequence").alias("vl_consequence"))
    )
    # No pre-join distinct: the broadcast join is cheap per-row and the
    # union-level dedup collapses duplicates in the same shuffle that dedups
    # every other family.
    variants = linked.filter(F.col("entity_type") == "variant").select("entity_id")
    return conform_edges(
        variants.join(vl, "entity_id")
        .filter(F.col("vl_gene_id").isNotNull())
        .select(
            F.col("entity_id").alias("subject"),
            consequence_predicate(F.col("vl_consequence")).alias("predicate"),
            F.col("vl_gene_id").alias("object"),
            F.lit(INFORES).alias("primary_knowledge_source"),
            F.create_map(
                F.lit("most_severe_consequence"), F.col("vl_consequence")
            ).alias("properties"),
        )
    )
