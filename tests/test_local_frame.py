"""Driver-built tables stay in the JVM: ``session.local_frame`` builds a
``LocalRelation`` (scans start no Python worker), and every package-side
table over driver rows goes through it."""

import ast
import pathlib

import pytest

from adding_datasets_to_kg_spark.datagen import transcripts as dg
from adding_datasets_to_kg_spark.operators.canonicalize import connected_components
from adding_datasets_to_kg_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "adding_datasets_to_kg_spark"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


NESTED = (
    "id string not null, name string, category array<string>, "
    "properties map<string,string>, n int, score double"
)


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("a", None, 1), (None, "b", None), ("c", "d", 3)], "x string, y string, n int"),
        ([], "x string, y string, n int"),
        (
            [
                ("i", "n1", ["gene", None], {"k": "v", "e": None}, 7, 0.5),
                ("j", None, None, None, None, None),
                ("k", "", [], {}, -1, float("-inf")),
            ],
            NESTED,
        ),
        ([], NESTED),
    ],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _analyzed(got) == "LocalRelation"


def test_local_frame_past_threshold_stays_in_jvm(spark):
    """Past the session's local-relation threshold (1 MiB) the rows become
    Spark's RDD of Arrow batches: still no Python RDD in the lineage."""
    rows = [(f"NCBIGene:{i}", f"NCBIGene:{i - i % 3}") for i in range(50_000)]
    big = local_frame(spark, rows, "id string, canonical_id string")
    plan = big._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert "PythonRDD" not in plan.rdd().toDebugString()
    assert big.count() == 50_000
    assert big.filter("id = 'NCBIGene:49999'").collect()[0]["canonical_id"] == "NCBIGene:49998"
    pickled = spark.createDataFrame(rows[:10], "id string, canonical_id string")
    assert "PythonRDD" in pickled._jdf.queryExecution().analyzed().rdd().toDebugString()


def test_local_frame_accepts_struct_schema(spark):
    got = local_frame(spark, [], dg.TRANSCRIPT_SCHEMA)
    assert got.schema == dg.TRANSCRIPT_SCHEMA
    assert got.count() == 0


@pytest.mark.parametrize(
    "build",
    [
        dg.gene_lexicon_df,
        dg.disease_lexicon_df,
        dg.variant_lexicon_df,
        dg.id_equivalences_df,
        dg.predicate_map_df,
    ],
)
def test_fixture_lexicons_are_local_relations(spark, build):
    df = build(spark)
    assert _analyzed(df) == "LocalRelation"
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_driver_connected_components_is_local_relation(spark):
    edges = dg.id_equivalences_df(spark)
    labels = connected_components(edges)
    assert _analyzed(labels) == "LocalRelation"
    assert labels.count() > 0
    empty = connected_components(edges.limit(0))
    assert _analyzed(empty) == "LocalRelation"
    assert empty.columns == ["id", "canonical_id"] and empty.count() == 0


def test_no_create_dataframe_outside_local_frame():
    """Package code never calls createDataFrame directly: a list argument
    would build a Python-pickled RDD scan."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        allowed = set()
        if path.name == "session.py":  # the one sanctioned call site
            fn = next(
                n for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        offenders += [
            f"{path.relative_to(PACKAGE)}:{i}"
            for i, line in enumerate(src.splitlines(), 1)
            if "createDataFrame(" in line and i not in allowed
        ]
    assert offenders == []
