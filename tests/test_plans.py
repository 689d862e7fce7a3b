"""Physical-plan audits: the optimizations we rely on must be visible in
the executed plan, not assumed.

Checks (SURVEY.md §4 — what Catalyst must give us for free):
  * filter pushdown into the parquet scan (`PushedFilters`),
  * column pruning at the scan (`ReadSchema` carries only needed columns),
  * broadcast hash joins where a tiny dimension is joined,
  * left-semi strategy for the filter-pushup shape,
  * whole-stage codegen around JVM-side expression pipelines.
"""

from __future__ import annotations

import contextlib
import io

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    from search_spark.queries import QUERIES

    df = QUERIES["sentence_filter"].spark(spark, SF_DIR)
    plan = plan_of(df)
    # lang equality must reach the scan (the case-folded text matches are
    # not pushed as StringContains, so they are not asserted on)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(lang,en)" in pushed[0].replace(" ", "")
    # projection pruned: html-sized columns never read (documents table has
    # doc_id,text,lang,source,n_chars; we select doc_id,n_chars + filters)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "source" not in read_schema[0]


def test_gazetteer_join_is_broadcast(spark):
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["kg_doc_mentions"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_strategy(spark):
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["semi_join_orders"].spark(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_topk_becomes_take_ordered(spark):
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["topk_similar"].spark(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_jvm_pipeline(spark):
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["token_stats"].spark(spark, SF_DIR))
    # formatted mode tags codegen stages as "[codegen id : N]"
    assert "codegen id" in plan


def test_segment_stage_has_no_python_operator(spark):
    from search_spark import datagen
    from search_spark.extraction.extract import extract_stage
    from search_spark.operators.segment import segment_stage

    pages = datagen.generate_web_pages(spark, 5, seed=42)
    paragraphs = extract_stage(pages)
    # segmentation itself must add no python boundary beyond extract's
    seg_plan = plan_of(segment_stage(paragraphs))
    assert seg_plan.count("MapInPandas") == plan_of(paragraphs).count(
        "MapInPandas"
    )


def test_relation_pair_join_is_broadcast(spark):
    from search_spark import datagen
    from search_spark.extraction.extract import extract_stage
    from search_spark.operators.ner import ner_stage
    from search_spark.operators.relations import relation_stage
    from search_spark.operators.segment import segment_stage

    pages = datagen.generate_web_pages(spark, 5, seed=42)
    mentions = ner_stage(
        segment_stage(extract_stage(pages)), datagen.GAZETTEER_FLAT
    )
    plan = plan_of(
        relation_stage(mentions, datagen.relation_pairs_df(spark))
    )
    assert "BroadcastHashJoin" in plan


def test_neardup_queries_have_no_cross_join(spark):
    # VERDICT r01 item 4: the exact near-dup verifiers must run on
    # banded/bucketed candidates — no cartesian product anywhere
    from search_spark.queries import QUERIES

    for name in ("ngram_jaccard", "embedding_neardup"):
        plan = plan_of(QUERIES[name].spark(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # ivf_search's non-equi joins are all request/cell-sized broadcasts:
    # the n_cells-row centroid-array table (twice: query-cell branch +
    # corpus-assignment branch) and the single-row query vector — the
    # corpus side must never cartesian against anything non-tiny
    plan = plan_of(QUERIES["ivf_search"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # formatted explain lists each operator twice (tree + detail section):
    # count operator instances via the detail headers "(N) <op>"
    import re

    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert n_bnlj <= 3, plan


def test_articles_semi_filter_uses_semi_join(spark):
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["articles_semi_filter"].spark(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_topic_rules_is_pure_codegen(spark):
    # rule evaluation is F.exists over array columns — no UDF, no join
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["topic_rules"].spark(spark, SF_DIR))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan


def test_hash_split_is_pure_projection(spark):
    # split assignment must be a narrow codegen map over the scan:
    # no shuffle, no UDF — membership computable at read time
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["split_train_holdout"].spark(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan


def test_stratified_sample_single_stratum_shuffle(spark):
    # one hash-partition exchange on the stratum key feeds the window
    # (with a pre-shuffle WindowGroupLimit pruning each map partition to
    # its local top-k); nothing else shuffles and no UDF appears
    import re

    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["stratified_sample"].spark(spark, SF_DIR))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Window" in plan


def test_snapshot_diff_uses_anti_joins_no_cartesian(spark):
    # each diff direction is a hash-partitioned left-anti on the triple
    # key; no cartesian, no UDF — the canonical incremental-delta shape
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["kg_snapshot_diff"].spark(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_vocab_coverage_topk_before_window(spark):
    # the global-sort limit (TakeOrderedAndProject) must run before the
    # cumulative window, so the single-partition WindowExec sees only k
    # rows, never the vocabulary; count agg keeps a partial (map-side) stage
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["vocab_coverage"].spark(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # formatted plans print root-first: Window (consumer) above the
    # TakeOrderedAndProject (producer) proves the limit feeds the window
    assert "Window" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert "partial_count" in plan


def test_ngram_novelty_shuffles_on_shingle_only(spark):
    # shingle agg + join-back both hash-partition on the shingle key (the
    # dedup-family shard unit); no UDF, no cartesian
    from search_spark.queries import QUERIES

    plan = plan_of(QUERIES["ngram_novelty"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "hashpartitioning(shingle" in plan


def test_no_cartesian_product_anywhere_in_registry(spark):
    """Registry-wide guarantee behind the README claim: no query plans a
    CartesianProduct at sf0.001. (Broadcast nested-loop joins of 1-row /
    sketch-sized sides are legitimate and not flagged here.)"""
    from search_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    offenders = []
    for name, q in QUERIES.items():
        plan = plan_of(q.spark(spark, sf))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_tpch_join_queries_plan_shapes(spark):
    """Q3: dim filter broadcast + TakeOrdered top-k (no full sort);
    Q5: the nation/region dim chain broadcasts, no cartesian."""
    from search_spark.queries import QUERIES

    q3 = plan_of(
        QUERIES["tpch_shipping_priority"].spark(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert "TakeOrderedAndProject" in q3
    assert "BroadcastHashJoin" in q3
    assert "CartesianProduct" not in q3
    q5 = plan_of(
        QUERIES["tpch_local_supplier_volume"].spark(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert "BroadcastHashJoin" in q5
    assert "CartesianProduct" not in q5


def test_delete_matching_rewrite_is_anti_join(spark, tmp_path):
    """SnapshotTable.delete_matching rewrites each snapshot via a LEFT
    ANTI equi-join on the key columns — never a cartesian, never a
    driver-side collect — and deletes exactly the matching rows."""
    from search_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "kg"))
    t.append(spark.createDataFrame(
        [(f"s{i}", "p", f"o{i % 7}", "g", f"http://{i % 11}")
         for i in range(200)],
        "subj string, pred string, obj string, prov string, url string",
    ))
    keys = t.load().filter("obj = 'o3'").select("subj", "pred", "obj")
    # the same per-snapshot plan delete_matching builds internally
    ck = keys.distinct().localCheckpoint(eager=True)
    snap = spark.read.parquet(f"{t.root}/data/snapshot=1")
    plan = plan_of(
        snap.join(ck, on=["subj", "pred", "obj"], how="left_anti")
    )
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan

    n_match = keys.count()
    assert t.delete_matching(keys) == n_match
    assert t.load().filter("obj = 'o3'").count() == 0
    assert t.load().count() == 200 - n_match


def test_sparql_dataset_clause_filters_before_join(spark):
    # FROM <g> must compile to a prov filter at/under the scan of every
    # pattern — the active-dataset restriction is a pushable predicate,
    # never a post-join filter (partition-prunable on a prov-partitioned
    # store)
    from search_spark.operators.sparql import sparql_query

    t = spark.createDataFrame(
        [("a", "p", "b", "g1"), ("b", "p", "c", "g2")],
        "subj string, pred string, obj string, prov string",
    )
    df = sparql_query(
        t, "SELECT ?x ?y FROM <g1> WHERE { ?x <p> ?z . ?z <p> ?y }"
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # both pattern scans carry the graph-membership predicate: the
    # filters sit below the join (formatted explain lists Filter nodes
    # before the join in each subtree)
    import re

    joins = re.findall(r"\(\d+\) (?:Broadcast|Sort|Shuffled)\w*Join", plan)
    filters = re.findall(r"\(\d+\) Filter", plan)
    assert joins and len(filters) >= 2


def test_sparql_bnpl_expansion_has_no_cartesian(spark):
    from search_spark.operators.sparql import sparql_query

    t = spark.createDataFrame(
        [("a", "p", "b", None), ("b", "q", "c", None)],
        "subj string, pred string, obj string, prov string",
    )
    df = sparql_query(
        t, 'SELECT ?x WHERE { ?x <p> [ <q> "c" ] }'
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
