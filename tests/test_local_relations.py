"""Driver-built tables are JVM local relations, never Python-row scans.

``session.local_df`` ships driver rows as one Arrow table that plans as a
``LocalTableScan``; ``spark.createDataFrame(<list>)`` plans a ``Scan
ExistingRDD`` over a ``PythonRDD`` and starts Python workers on every
scan. These tests pin the helper's schema contract, the absence of
``PythonRDD`` lineage in the plans that used to carry one, the
single-pass small path of ``connected_components``, and a source guard
that keeps new list-built tables out of the library.
"""

import ast
import os

import pytest

from search_spark import datagen
from search_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
)
from search_spark.session import local_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scans(node, out):
    """Collect the ``Scan ExistingRDD`` nodes of a physical plan, walking
    into adaptive plans, query stages (broadcast sides included), reused
    exchanges and subqueries."""
    kind = node.getClass().getSimpleName()
    if kind == "RDDScanExec":
        out.append(node)
    nested = [node.children(), node.innerChildren()]
    if kind == "AdaptiveSparkPlanExec":
        _scans(node.executedPlan(), out)
    elif kind.endswith("QueryStageExec"):
        _scans(node.plan(), out)
    elif kind == "ReusedExchangeExec":
        _scans(node.child(), out)
    for seq in nested:
        for i in range(seq.size()):
            _scans(seq.apply(i), out)
    return out


def _python_rdd_lineage(df) -> list[str]:
    """Lineages in ``df``'s plan that hold a ``PythonRDD``: the
    ``toRdd`` lineage, plus every RDD scan anywhere in the executed
    plan (broadcast sides are separate jobs, so ``toRdd`` alone does not
    show them)."""
    qe = df._jdf.queryExecution()
    found = [s for s in [qe.toRdd().toDebugString()] if "PythonRDD" in s]
    for scan in _scans(qe.executedPlan(), []):
        lineage = scan.rdd().toDebugString()
        if "PythonRDD" in lineage:
            found.append(lineage)
    return found


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- local_df contract ---------------------------------------------------------

def test_local_df_plans_local_table_scan_with_declared_schema(spark):
    df = local_df(
        spark,
        [("a", 1, [1.5, None]), (None, None, None)],
        "s string, n bigint, v array<double>",
    )
    assert df.schema.simpleString() == "struct<s:string,n:bigint,v:array<double>>"
    assert "LocalTableScan" in _plan(df)
    assert [tuple(r) for r in df.collect()] == [
        ("a", 1, [1.5, None]), (None, None, None),
    ]
    assert not _python_rdd_lineage(df)


def test_local_df_empty_rows_keep_schema(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("w_start", T.TimestampType()),
         T.StructField("n", T.LongType())]
    )
    df = local_df(spark, [], schema)
    assert df.schema == schema
    assert "LocalTableScan" in _plan(df)
    assert df.collect() == []


def test_local_df_rejects_ragged_rows_and_wrong_types(spark):
    with pytest.raises(ValueError, match="2 fields"):
        local_df(spark, [("a",)], "s string, n bigint")
    with pytest.raises(Exception):
        local_df(spark, [(1,)], "s string")


# --- no PythonRDD in the former list-built plans -------------------------------

def test_mine_texts_has_no_python_rdd(spark):
    from search_spark.surfaces import mine_texts

    out = mine_texts(spark, ["Insulin helps Diabetes."])
    assert out.count() > 0
    assert not _python_rdd_lineage(out)


def test_bound_subject_property_path_has_no_python_rdd(spark):
    from search_spark.operators.sparql import sparql_select

    triples = spark.range(1).selectExpr(
        "explode(array("
        "named_struct('subj', 'a', 'pred', 'p', 'obj', 'b'),"
        "named_struct('subj', 'b', 'pred', 'q', 'obj', 'c'),"
        "named_struct('subj', 'x', 'pred', 'p', 'obj', 'y'))) AS t"
    ).select("t.*")
    out = sparql_select(triples, "SELECT ?o WHERE { <a> <p>/<q> ?o . }")
    assert [r.o for r in out.collect()] == ["c"]
    assert not _python_rdd_lineage(out)


def test_build_triples_has_no_python_rdd(spark):
    from search_spark.pipeline import build_triples

    pages = datagen.generate_web_pages(spark, 6, seed=11)
    out = build_triples(spark, pages)
    assert out.count() > 0
    assert not _python_rdd_lineage(out)


# --- connected_components: single-pass small path ------------------------------

_CC_EDGES = [
    ("b", "a"), ("a", "b"), ("b", "a"),   # duplicate + reversed
    ("c", "b"), ("d", "c"),               # chain onto a
    ("x", "y"), ("y", "x"),
    ("loop", "loop"),                     # only edge is a self-loop
    ("z", "z"), ("z", "x"),               # self-loop on a linked node
    ("solo", None),                       # NULL endpoint
    (None, "y"),
]


def _components(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: (t[0] is None, t)
    )


def test_cc_small_path_matches_distributed(spark):
    edges = spark.createDataFrame(_CC_EDGES, "src string, dst string")
    small = connected_components(edges)
    forced = connected_components(edges, local_threshold=0)
    assert "LocalTableScan" in _plan(small)
    assert _components(small) == _components(forced)
    got = dict(_components(small))
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
        "loop": "loop", "solo": "solo", None: None,
    }
    assert [(f.name, f.dataType) for f in small.schema] == [
        (f.name, f.dataType) for f in forced.schema
    ]


def test_cc_threshold_counts_distinct_raw_edges(spark):
    # 3 distinct raw edges, 2 canonical ones: a threshold of 2 must take
    # the distributed path and still give the same mapping
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "b")],
        "src string, dst string",
    )
    at_2 = connected_components(edges, local_threshold=2)
    at_3 = connected_components(edges, local_threshold=3)
    assert "LocalTableScan" not in _plan(at_2)
    assert "LocalTableScan" in _plan(at_3)
    assert _components(at_2) == _components(at_3) == [
        ("a", "a"), ("b", "a"), ("c", "a"),
    ]


def test_canonical_mapping_unchanged_on_datagen_corpus(spark, monkeypatch):
    from search_spark.operators import canonicalize
    from search_spark.operators.linking import link_stage
    from search_spark.operators.ner import ner_stage
    from search_spark.operators.segment import segment_stage
    from search_spark.extraction.extract import extract_stage

    pages = datagen.generate_web_pages(spark, 12, seed=42)
    mentions = ner_stage(
        segment_stage(extract_stage(pages)), datagen.GAZETTEER_FLAT
    ).persist()
    concepts = datagen.concepts_df(spark)
    linked = link_stage(mentions, concepts)
    small = _components(canonical_mapping(linked, concepts))
    real_cc = canonicalize.connected_components
    monkeypatch.setattr(
        canonicalize,
        "connected_components",
        lambda e: real_cc(e, local_threshold=0),
    )
    forced = _components(canonicalize.canonical_mapping(linked, concepts))
    mentions.unpersist()
    assert small == forced
    assert len(small) > 10
    # concept ids that share an alias collapse onto one representative
    assert len({c for _, c in small}) < len(small)


# --- source guard ---------------------------------------------------------------

def _create_dataframe_calls(path: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``.createDataFrame(`` call."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    calls = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                calls.append((child.lineno, name))
            visit(child, name)

    visit(tree, None)
    return calls


def test_no_list_built_tables_outside_local_df():
    files = [os.path.join(REPO, "tools", "cli.py")]
    for root, _dirs, names in os.walk(os.path.join(REPO, "search_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    offenders = []
    for path in sorted(files):
        rel = os.path.relpath(path, REPO)
        if rel == os.path.join("search_spark", "queries.py"):
            continue  # registry fixtures
        for line, func in _create_dataframe_calls(path):
            if rel == os.path.join("search_spark", "session.py") and (
                func == "local_df"
            ):
                continue
            offenders.append(f"{rel}:{line}")
    assert not offenders, (
        "driver-built tables must go through session.local_df: "
        + ", ".join(offenders)
    )
