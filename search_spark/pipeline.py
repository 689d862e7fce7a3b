"""End-to-end knowledge-graph construction pipeline.

web_pages ──extract──▶ paragraphs ──segment──▶ sentences ──ner──▶ mentions
   ──relations──▶ relation rows ──link──▶ linked mentions
   ──canonicalize──▶ canonical ids ──materialize──▶ triples (+ lineage)

Each stage is a pure DataFrame → DataFrame function (individually tested);
this module only wires them, applies the scale knobs (repartition by url
hash before the heavy UDF stages, salted/bucketed write) and records
lineage + throughput metrics. Reference lifecycle analogue: SURVEY.md §3.1
(the Luigi DAG collapses into one lazy lineage) and §3.2 (the mining-cache
job becomes stage scheduling).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_spark import checkpoints, datagen
from search_spark.caching import register, release_intermediates
from search_spark.extraction.extract import extract_stage
from search_spark.io.snapshots import SnapshotTable
from search_spark.operators.canonicalize import canonical_mapping
from search_spark.operators.linking import link_stage
from search_spark.operators.ner import ner_stage
from search_spark.operators.relations import relation_stage
from search_spark.operators.segment import segment_stage
from search_spark.operators.triples import specs_stage, triples_stage


@dataclass
class PipelineConfig:
    patterns: list[tuple[str, str]] = field(
        default_factory=lambda: [
            (t, e) for e, ts in datagen.GAZETTEER.items() for t in ts
        ]
    )
    english_only: bool = True
    max_mentions_per_sentence: int = 50
    # model-per-entity-type registry (reference: model-{etype} naming):
    # when set, NER runs ner_stage_multi over this dict instead of the
    # flat `patterns` gazetteer
    models: dict | None = None
    # (subj_type, obj_type) → REModel registry (reference:
    # models_relations, mining/pipeline.py:131-156): when set, relation
    # scoring runs the batched predict_probs contract via remodel_scorer
    # (annotated sentences + per-class probabilities) instead of the
    # JVM-side StartWithTheSameLetter default
    re_models: dict | None = None
    link: bool = True
    canonicalize: bool = True
    embedding_dim: int = 64
    # repartition width for the UDF stages; None → leave to AQE
    udf_partitions: int | None = None
    # batched model pass over sentence windows (operators/ner_scoring.py —
    # the transformer slot); off by default so rule-path oracles/tests see
    # the identical mention stream, on for production-profile benchmarks
    ner_scoring: bool = False
    # Exchange between the extract UDF and the segment/NER UDF. Without it
    # the scan→extract→segment→NER chain is one narrow task pipeline, so
    # every task holds TWO live python workers (extract + NER streaming
    # concurrently) — at high core counts that doubles python-process
    # pressure and thrashes; the shuffle also rebalances skewed extract
    # output (one giant document no longer serializes a downstream task)
    # and co-locates paragraphs by url for everything downstream.
    rebalance_after_extract: bool = True
    # also mine structured data (web tables, JSON-LD blocks) from the same
    # pages and union the triples into the output, tagged via
    # ontology_source ('webtable' / 'jsonld') with NULL NER-only columns.
    # Off by default: the text path's contracts/oracles see an identical
    # stream; on, the KG fuses running text with the structured sources.
    structured_sources: bool = False
    # inverse-functional predicates for an optional post-build sameAs
    # merge: subjects sharing a value under any of these predicates are
    # closed into equivalence classes (operators/blocking.ifp_candidates →
    # canonicalize.sameas_components) and every triple's subj/obj is
    # rewritten to the class representative, schema- and row-preserving
    # (canonicalize.sameas_apply). None (default) = no merge — the text
    # path's oracles/contracts see an identical stream.
    merge_sameas_preds: list[str] | None = None
    # blocking purge bound for the sameAs merge (hot shared values fan out
    # |group|^2 pairs; keys larger than this are dropped, same default as
    # ifp_candidates)
    sameas_max_group: int = 50
    # run the TRAINED linear artifacts (models/*.parquet — see
    # tools/train_linear_models.py) through the model slots: the mention
    # stream gains a learned confidence `score` via a broadcast join of
    # the NER weight table (JVM dot product + sigmoid, no UDF), and —
    # unless an explicit re_models registry is given — relation scoring
    # runs the trained LinearREModel under the batched predict_probs
    # contract (Arrow path) instead of the JVM rule. Off by default so
    # the rule-path oracles see the identical stream.
    learned_models: bool = False


def build_triples(
    spark: SparkSession,
    web_pages: DataFrame,
    config: PipelineConfig | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Build the full plan web_pages → triples.

    Mostly lazy; when linking/canonicalization is enabled the expensive
    persisted intermediates (mentions, resolved forms, canonical mapping)
    are materialized eagerly as sequential barriers — the in-job analogue
    of the inter-stage Iceberg checkpoints `run_to_snapshot` provides —
    because the linking plan embeds the mention subtree in both its main
    path and broadcast subqueries, and racing those on an unpopulated
    cache convoys on cache locks (observed 6-8× slowdowns at high core
    counts).
    """
    cfg = config or PipelineConfig()

    pages = web_pages
    if cfg.udf_partitions:
        # spread documents across executors by url hash *before* the
        # parse/NER UDF stages so no single long document serializes a task
        pages = pages.repartition(cfg.udf_partitions, F.col("url"))

    paragraphs = extract_stage(pages, english_only=cfg.english_only)
    if cfg.rebalance_after_extract:
        width = cfg.udf_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        paragraphs = paragraphs.repartition(width, F.col("url"))
    sentences = segment_stage(paragraphs)
    # mentions feed three consumers (relations, SPECS rows, linking); persist
    # so the parse/segment/NER UDF chain — the expensive part — runs once.
    # (At cluster scale the equivalent is the inter-stage Iceberg checkpoint
    # that run_to_snapshot provides; in-memory persistence is the in-job form.)
    if cfg.models is not None:
        from search_spark.operators.ner import ner_stage_multi

        raw_mentions = ner_stage_multi(sentences, cfg.models)
    else:
        raw_mentions = ner_stage(
            sentences, cfg.patterns, with_scores=cfg.ner_scoring
        )
    if cfg.learned_models:
        # learned mention confidence: sentence text joins back on (the
        # co-partitioned) sentence key, then one broadcast join of the
        # 1-row weight table + codegen dot/sigmoid — no Python
        from search_spark.operators import linear_models as lm

        key = ["url", "uid", "ppos", "spos"]
        w = lm.weights_row(spark, lm.NER_WEIGHTS_PARQUET, lm.NER_FEATURES)
        raw_mentions = lm.score_mentions_linear(
            raw_mentions.drop("score").join(
                sentences.select(*key, "text"), on=key
            ),
            w,
            score_col="score",
        ).drop("text")
    mentions = register(raw_mentions.persist())
    if cfg.link:
        # materialization barrier: the linking plan embeds this subtree both
        # in its main path and inside a broadcast subquery, and the
        # canonicalization loop adds eager checkpoint jobs on top — launched
        # concurrently they convoy on the cache locks of the still-uncached
        # UDF chain (observed 6-8× slowdown at local[32]). One count = one
        # clean pass; every later consumer reads the cache.
        mentions.count()
    scorer = None
    re_models = cfg.re_models
    if re_models is None and cfg.learned_models:
        from search_spark.operators.linear_models import linear_re_registry

        re_models = linear_re_registry()
    if re_models is not None:
        from search_spark.operators.relations import remodel_scorer

        scorer = remodel_scorer(re_models, sentences)
    relations = relation_stage(
        mentions,
        datagen.relation_pairs_df(spark),
        max_per_sentence=cfg.max_mentions_per_sentence,
        scorer=scorer,
    )
    specs = specs_stage(mentions, relations, datagen.mining_schema_df(spark))

    if cfg.link:
        concepts = datagen.concepts_df(spark, cfg.embedding_dim)
        # link_stage's own barrier fills the link-score histogram (the
        # north-rule per-run metric) when a metrics dict is passed
        linked = link_stage(
            mentions, concepts, dim=cfg.embedding_dim, metrics_out=metrics_out
        )
        if cfg.canonicalize:
            # consumed twice (subj/obj side) — materialized once so the two
            # join exchanges don't race on the uncached CC output
            mapping = register(canonical_mapping(linked, concepts).persist())
        else:
            mapping = linked.filter(F.col("concept_id").isNotNull()).select(
                F.lower("mention").alias("form"),
                F.col("concept_id").alias("canonical_id"),
            ).distinct()
        n_mapping = mapping.count()
        # The mapping is distinct-surface-form-sized: tiny for an
        # ontology-linked subset, 10^8-10^9 rows of open-web mention
        # vocabulary. The broadcast hint is GATED on the measured count
        # (the barrier above) vs the session's own broadcast threshold
        # (joins.maybe_broadcast): small vocabulary → hint, zero shuffle
        # of the large specs stream; large vocabulary → no hint, AQE plans
        # the partitioned join. tests/test_round3_fixes.py drives the
        # non-broadcastable path end-to-end.
        from search_spark.joins import maybe_broadcast

        subj_map = maybe_broadcast(
            mapping.select(
                F.col("form").alias("_subj_form"),
                F.col("canonical_id").alias("subj_canonical"),
            ),
            n_mapping,
        )
        obj_map = maybe_broadcast(
            mapping.select(
                F.col("form").alias("_obj_form"),
                F.col("canonical_id").alias("obj_canonical"),
            ),
            n_mapping,
        )
        specs = (
            specs.withColumn("_subj_form", F.lower(F.col("entity")))
            .withColumn("_obj_form", F.lower(F.col("property_value")))
            .join(subj_map, on="_subj_form", how="left")
            .join(obj_map, on="_obj_form", how="left")
            .drop("_subj_form", "_obj_form")
        )

    out = triples_stage(specs)
    if cfg.structured_sources:
        from search_spark.operators.jsonld import jsonld_triples
        from search_spark.operators.metatags import meta_triples
        from search_spark.operators.microdata import microdata_triples
        from search_spark.operators.webtables import webtable_triples

        def _tag(df: DataFrame, source: str) -> DataFrame:
            return df.select(
                "subj",
                "pred",
                "obj",
                "prov",
                F.lit(source).alias("ontology_source"),
                # prov is url#<locator> for the block-level extractors and
                # the bare url for page-level ones (meta tags)
                F.coalesce(
                    F.nullif(
                        F.regexp_extract("prov", "^(.*)#", 1), F.lit("")
                    ),
                    F.col("prov"),
                ).alias("url"),
            )

        structured = (
            _tag(webtable_triples(web_pages), "webtable")
            .unionByName(_tag(jsonld_triples(web_pages), "jsonld"))
            .unionByName(_tag(microdata_triples(web_pages), "microdata"))
            .unionByName(_tag(meta_triples(web_pages), "meta"))
        )
        out = out.unionByName(structured, allowMissingColumns=True)
    if cfg.merge_sameas_preds:
        from search_spark.operators.blocking import ifp_candidates
        from search_spark.operators.canonicalize import (
            sameas_apply,
            sameas_components,
        )

        pairs = (
            ifp_candidates(
                out.select("subj", "pred", "obj"),
                cfg.merge_sameas_preds,
                max_group=cfg.sameas_max_group,
            )
            .select("a", "b")
            .distinct()
        )
        out = sameas_apply(out, sameas_components(pairs))
    return out


def _codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles the driver JVM has run so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def run_to_snapshot(
    spark: SparkSession,
    web_pages: DataFrame,
    output_root: str,
    config: PipelineConfig | None = None,
    n_buckets: int = 64,
) -> dict:
    """Run the pipeline into a snapshot table with resume + lineage.

    Already-processed urls (committed snapshots) are skipped via a
    **left-anti join** — the reference's Luigi ``complete()`` /
    H5-unpopulated-rows resume (SURVEY.md §2.11) in one declarative op.
    Returns the metrics dict (docs/sec, triples/sec, mentions/doc) that the
    north rule requires per run. ``codegen_compiles`` is the number of
    Janino compiles the driver JVM ran during the call (Spark's
    ``CodegenMetrics``); in local mode that includes the compiles of
    tasks, on a cluster only the driver's. It is near 0 when an earlier
    call in the session already compiled the same plan shapes and the
    codegen cache kept them. It is not written to lineage.
    """
    compiles0 = _codegen_compiles(spark)
    table = SnapshotTable(spark, output_root, n_buckets=n_buckets)
    done = table.processed_urls()
    todo = web_pages
    if done is not None:
        todo = web_pages.join(done, on="url", how="left_anti")
    # the batch is read three times (this count, the mentions barrier and
    # the processed/ write): a lazy checkpoint that the count materializes
    # runs the page scan and the resume anti-join once
    todo = todo.transform(checkpoints.chain(eager=False))

    n_docs = todo.count()
    if n_docs == 0:
        return {"resumed": True, "n_docs": 0, "n_triples": 0}

    t0 = time.time()
    stage_metrics: dict = {}
    triples = build_triples(spark, todo, config, metrics_out=stage_metrics)
    # single action: the snapshot write; all metrics come from append's one
    # read-back of the (much smaller) written output, never from re-running
    # the pipeline
    info = table.append(
        triples,
        extra_metrics=stage_metrics,
        processed_keys=todo.select("url"),
        count_where={"n_mentions": F.col("pred") == "has_type"},
    )
    wall = time.time() - t0
    # the snapshot is on disk — the persisted in-job intermediates (mentions,
    # forms, mapping) are dead weight from here on; release them so repeated
    # runs in one session don't accumulate cached blocks until eviction
    release_intermediates()
    n_mentions = info.counts["n_mentions"]
    metrics = {
        "resumed": done is not None,
        "n_docs": n_docs,
        "n_triples": info.n_rows,
        "n_mentions": n_mentions,
        "wall_seconds": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 2),
        "triples_per_sec": round(info.n_rows / wall, 2),
        "mentions_per_doc": round(n_mentions / n_docs, 3),
        "snapshot_id": info.snapshot_id,
        "codegen_compiles": _codegen_compiles(spark) - compiles0,
        **stage_metrics,
    }
    return metrics


def redo_entity_type(
    spark: SparkSession,
    web_pages: DataFrame,
    output_root: str,
    entity_type: str,
    config: PipelineConfig | None = None,
    n_buckets: int = 64,
) -> dict:
    """Delete-then-repopulate one entity type — the reference's
    idempotent-restart path (``CreateMiningCache``: ``DELETE FROM target
    WHERE entity_type = :etype`` then re-mine, mining_cache.py:291-302).

    All committed triples of ``entity_type`` are removed (copy-on-write
    snapshot rewrite), then the corpus is re-mined and **only** that
    type's rows append as a new snapshot — other types' rows are neither
    duplicated nor touched, and the anti-join resume bookkeeping
    (processed urls) stays valid.
    """
    table = SnapshotTable(spark, output_root, n_buckets=n_buckets)
    n_deleted = table.delete_where(F.col("entity_type") == entity_type)
    triples = build_triples(spark, web_pages, config).filter(
        F.col("entity_type") == entity_type
    )
    info = table.append(
        triples,
        extra_metrics={"redo_entity_type": entity_type, "n_deleted": n_deleted},
    )
    release_intermediates()
    return {
        "entity_type": entity_type,
        "n_deleted": n_deleted,
        "n_repopulated": info.n_rows,
        "snapshot_id": info.snapshot_id,
    }
