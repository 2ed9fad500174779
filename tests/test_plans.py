"""Plan-quality regression guards: the properties BENCH.md claims about the
physical plans, asserted so a refactor can't silently lose them.

These read ``explain("formatted")`` output — stable plan-node names, not
timings, so they are immune to this sandbox's CPU noise.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_and_projection_reach_the_parquet_scan(spark):
    """P1/P2/P6: predicate pushdown + column pruning (the 'free if
    declarative' Catalyst work SURVEY §4.1 relies on)."""
    plan = plan_of(entry_mod.queries()["p_project_filter"](spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for f in ["IsNotNull(o_totalprice)", "IsNotNull(o_custkey)", "Not(EqualTo(o_orderstatus,))"]:
        assert f in pushed, pushed
    # pruned read schema: only the 3 projected + filtered columns, not o_orderdate etc.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderdate" not in read_schema and "o_totalprice" in read_schema


def test_dictionary_joins_broadcast(spark):
    """J4: dimension tables must plan as BroadcastHashJoin, never SMJ."""
    plan = plan_of(entry_mod.queries()["j_broadcast_lookup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash64",
     "dedup_embedding_cosine"],
)
def test_dedup_candidate_generation_is_equijoin(spark, name):
    """The 100 TB invariant: no cartesian products anywhere in the dedup
    family — candidates always meet through an equi-join."""
    plan = plan_of(entry_mod.queries()[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mention_scan_udf_single_evaluation(spark):
    """The pandas-UDF mention scan must appear exactly once in the plan —
    Catalyst duplicating ArrowEvalPython under explode's pushed filter was
    a measured 2× regression (operators/mention.py)."""
    plan = plan_of(entry_mod.queries()["kg_mentions_docs"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") <= 1


@pytest.mark.parametrize("redistinct", [True, False])
def test_mention_stream_shuffles_exactly_once(spark, redistinct):
    """The flagship pipeline optimization (plans/pipeline.py
    extract_linked_mentions): one explicit conv_id repartition placed after
    the UDF serves the link aggregate AND the distinct — the whole mention
    stream must plan exactly ONE shuffle exchange (term_len projected below
    the repartition must not defeat the satisfies check). A caller that
    re-applies a distinct over the lean columns must not add a second
    exchange either: the conv_id partitioning already satisfies it."""
    import re

    from adding_datasets_to_kg_spark.datagen import transcripts as dg
    from adding_datasets_to_kg_spark.plans.pipeline import Lexicons, extract_linked_mentions

    lex = Lexicons(
        gene=dg.gene_lexicon_df(spark),
        disease=dg.disease_lexicon_df(spark),
        variant=dg.variant_lexicon_df(spark),
    )
    t = spark.createDataFrame(dg.generate_corpus(5, seed=1), dg.TRANSCRIPT_SCHEMA)
    linked = extract_linked_mentions(t, lex)
    if redistinct:
        linked = linked.select("conv_id", "turn_idx", "entity_id", "entity_type").dropDuplicates()
    plan = plan_of(linked)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan


def test_emit_mention_family_bypasses_dedup_shuffle(spark):
    """emit_triples must NOT shuffle the mention family (unique by
    construction): the corpus-proportional mention branch plans ZERO
    exchanges, and unioning it into emit_triples adds no exchange beyond
    what the collapsible families' branch (co-mention join + lexicon
    aggregates + their one dedup) already plans."""
    import re

    from pyspark.sql import functions as F

    from adding_datasets_to_kg_spark.datagen import transcripts as dg
    from adding_datasets_to_kg_spark.operators.linking import (
        emit_gene_disease_triples,
        emit_mention_triples,
        emit_variant_cohort_triples,
        emit_variant_gene_triples,
    )
    from adding_datasets_to_kg_spark.plans.pipeline import (
        Lexicons,
        emit_triples,
        extract_linked_mentions,
    )

    def n_exchanges(df):
        return len(re.findall(r"^\(\d+\) Exchange", plan_of(df), flags=re.M))

    lex = Lexicons(
        gene=dg.gene_lexicon_df(spark),
        disease=dg.disease_lexicon_df(spark),
        variant=dg.variant_lexicon_df(spark),
    )
    t = spark.createDataFrame(dg.generate_corpus(5, seed=1), dg.TRANSCRIPT_SCHEMA)
    linked = extract_linked_mentions(t, lex).localCheckpoint(eager=True)
    assert n_exchanges(emit_mention_triples(linked)) == 0

    dedupable = (
        emit_gene_disease_triples(linked, lex.disease)
        .unionByName(emit_variant_cohort_triples(linked))
        .unionByName(emit_variant_gene_triples(linked, lex.variant), allowMissingColumns=True)
    ).dropDuplicates(["subject", "predicate", "object"])
    assert n_exchanges(emit_triples(linked, lex)) == n_exchanges(dedupable)


def test_therapy_enrich_plan_no_cross_join(spark):
    """enrich_therapy_ids (the corpus ⟕ exact-map ⟕ fallback chain): the
    canonical-key equi-join formulation must never degrade to a cartesian/
    BNLJ, and the corpus-influenced fallback map carries NO forced broadcast
    hint — the optimized logical plan may only hint the dictionary-contract
    keyed/token maps (2 hints); AQE picks the fallback strategy from runtime
    stats."""
    df = entry_mod.queries()["etl_therapy_enrich"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [l for l in logical.splitlines() if "Join " in l]
    hinted = [l for l in joins if "strategy=broadcast" in l]
    # 4 joins: exact-map ⟕ (hinted), token-map ⋈ (hinted), anti vs exact-map
    # (hinted) — all dictionary-contract — and the fallback ⟕, which must
    # stay UNhinted so AQE sizes it from runtime stats.
    assert len(joins) == 4 and len(hinted) == 3, f"join hints drifted:\n{joins}"
    unhinted = [l for l in joins if "strategy=broadcast" not in l]
    assert len(unhinted) == 1 and "LeftOuter" in unhinted[0], unhinted
