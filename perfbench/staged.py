"""Stage-by-stage replays of ``pipeline.run_to_snapshot`` and
``surfaces.mine_texts`` for the traced run.

The engine runs each of them as a few fused Spark jobs, so one layer's work
cannot be told from the next. Here the same stage functions are called in
the same order with the same arguments (``PipelineConfig()`` defaults), but
each stage's output is materialized inside that layer's span, so spans do
not overlap and every job belongs to one layer. The replay gives up the
stage fusion the engine would have done; the traced run reports the
difference as its tracing overhead. The outputs are checked exactly like
the untraced run's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import checks
from search_spark import datagen
from search_spark.caching import release_intermediates
from search_spark.extraction.extract import extract_stage
from search_spark.io.snapshots import SnapshotTable
from search_spark.joins import maybe_broadcast
from search_spark.operators.canonicalize import canonical_mapping
from search_spark.operators.linking import link_stage
from search_spark.operators.ner import ner_stage
from search_spark.operators.relations import (
    SENTENCE_KEY,
    cap_mentions_per_sentence,
    relation_stage,
)
from search_spark.operators.segment import segment_stage
from search_spark.operators.triples import SPECS, specs_stage, triples_stage
from search_spark.pipeline import PipelineConfig


class _Pins:
    """Materialized stage outputs of one replay, released at its end.

    A stage output is pinned with ``localCheckpoint``: persisted, forced
    and cut from its lineage. With plain ``persist`` every later stage's
    plan still holds all earlier stages, and matching those deep plans
    against the cache costs seconds of driver time per stage: a warm
    32-doc batch took ~30 s that way, against ~12 s for the engine's own
    ``run_to_snapshot`` and ~12 s for this replay.
    """

    def __init__(self):
        self.dfs: list[DataFrame] = []

    def force(self, df: DataFrame, span: dict) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        self.dfs.append(df)
        span["rows_out"] = span.get("rows_out", 0) + df.count()
        return df

    def release(self) -> None:
        for df in self.dfs:
            df.unpersist()
        self.dfs.clear()


def _ratio(span: dict, name: str, num: float, den: float) -> None:
    span.setdefault("ratios", {})[name] = num / den if den else 0.0


def _co_sentence_pairs(mentions: DataFrame, cap: int) -> int:
    """Ordered pairs of distinct mentions sharing a sentence: the pairs the
    relation self-join considers before the type filter."""
    row = (
        cap_mentions_per_sentence(mentions, cap)
        .groupBy(*SENTENCE_KEY)
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1)).alias("pairs"))
        .collect()[0]
    )
    return int(row["pairs"] or 0)


def _segment_relations(tracer, pins, paragraphs, cfg):
    """segment → ner → relations, shared by both replays."""
    spark = paragraphs.sparkSession
    with tracer.span("segment") as s:
        sentences = pins.force(segment_stage(paragraphs), s)
    with tracer.span("probe:segment"):
        good = sentences.filter(~F.col("is_bad")).count()
        _ratio(s, "good_ratio", good, s["rows_out"])
    with tracer.span("ner") as s:
        mentions = pins.force(ner_stage(sentences, cfg.patterns), s)
    with tracer.span("relations") as s:
        relations = pins.force(
            relation_stage(
                mentions,
                datagen.relation_pairs_df(spark),
                max_per_sentence=cfg.max_mentions_per_sentence,
            ),
            s,
        )
    with tracer.span("probe:relations"):
        pairs = _co_sentence_pairs(mentions, cfg.max_mentions_per_sentence)
        _ratio(s, "keep_ratio", s["rows_out"], pairs)
    return mentions, relations


def run_to_snapshot(tracer, spark, web_pages: DataFrame, output_root: str,
                    n_buckets: int = 64) -> dict:
    """``pipeline.run_to_snapshot`` with the default config, one span per
    layer. Returns the same keys the tests of the result read."""
    cfg = PipelineConfig()
    pins = _Pins()
    table = SnapshotTable(spark, output_root, n_buckets=n_buckets)
    with tracer.span("snapshots.processed") as s:
        done = table.processed_urls()
        todo = web_pages
        if done is not None:
            todo = web_pages.join(done, on="url", how="left_anti")
        todo = pins.force(todo, s)
    n_docs = s["rows_out"]
    if n_docs == 0:
        pins.release()
        return {"resumed": True, "n_docs": 0, "n_triples": 0}

    with tracer.span("extraction") as s:
        width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        paragraphs = pins.force(
            extract_stage(todo, english_only=cfg.english_only).repartition(
                width, F.col("url")
            ),
            s,
        )
    mentions, relations = _segment_relations(tracer, pins, paragraphs, cfg)
    with tracer.span("triples.specs") as s:
        specs = pins.force(
            specs_stage(mentions, relations, datagen.mining_schema_df(spark)),
            s,
        )
    stage_metrics: dict = {}
    with tracer.span("linking") as s:
        concepts = datagen.concepts_df(spark, cfg.embedding_dim)
        linked = pins.force(
            link_stage(mentions, concepts, dim=cfg.embedding_dim), s
        )
        rows = (
            linked.filter(F.col("link_score").isNotNull())
            .groupBy(F.floor(F.col("link_score") * 10).cast("int").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        stage_metrics["link_score_histogram"] = {
            f"{r['b'] / 10:.1f}": r["n"] for r in sorted(rows, key=lambda r: r["b"])
        }
    with tracer.span("probe:linking"):
        forms = linked.select(
            F.lower("mention").alias("form"), "link_score"
        ).distinct()
        n_forms = forms.select("form").distinct().count()
        n_exact = forms.filter(F.col("link_score") == 1.0).count()
        _ratio(s, "exact_ratio", n_exact, n_forms)
    with tracer.span("canonicalize") as s:
        mapping = pins.force(canonical_mapping(linked, concepts), s)
        n_mapping = s["rows_out"]
    with tracer.span("canonicalize") as s:
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
        specs = pins.force(
            specs.withColumn("_subj_form", F.lower(F.col("entity")))
            .withColumn("_obj_form", F.lower(F.col("property_value")))
            .join(subj_map, on="_subj_form", how="left")
            .join(obj_map, on="_obj_form", how="left")
            .drop("_subj_form", "_obj_form"),
            s,
        )
    with tracer.span("triples.materialize") as s:
        out = pins.force(triples_stage(specs), s)
    with tracer.span("snapshots.append") as s:
        info = table.append(
            out,
            extra_metrics=stage_metrics,
            processed_keys=todo.select("url"),
        )
        s["rows_out"] = info.n_rows
        files, size = checks.parquet_files(
            f"{table.root}/data/snapshot={info.snapshot_id}"
        )
        pfiles, _ = checks.parquet_files(
            f"{table.root}/processed/snapshot={info.snapshot_id}"
        )
        s.setdefault("ratios", {}).update(
            files_written=files + pfiles,
            bytes_per_triple=size / info.n_rows if info.n_rows else 0.0,
        )
    pins.release()
    release_intermediates()
    with tracer.span("snapshots.readback") as s:
        written = spark.read.parquet(
            f"{table.root}/data/snapshot={info.snapshot_id}"
        )
        n_mentions = written.filter(F.col("pred") == "has_type").count()
        s["rows_out"] = n_mentions
    return {
        "n_docs": n_docs,
        "n_triples": info.n_rows,
        "n_mentions": n_mentions,
        "snapshot_id": info.snapshot_id,
    }


def mine_texts(tracer, spark, texts: list[str]) -> list:
    """``surfaces.mine_texts`` with segment, ner and relations forced in
    their own spans; returns the collected SPECS rows."""
    cfg = PipelineConfig()
    pins = _Pins()
    with tracer.span("surfaces"):
        with tracer.span("surfaces.compile"):
            rows = [
                (f"text://{i}", f"text://{i}", 0, "", t)
                for i, t in enumerate(texts)
            ]
            paragraphs = spark.createDataFrame(
                rows, ["url", "uid", "ppos", "section", "text"]
            )
        mentions, relations = _segment_relations(tracer, pins, paragraphs, cfg)
        with tracer.span("surfaces.exec") as s:
            out = (
                specs_stage(mentions, relations, datagen.mining_schema_df(spark))
                .select(*SPECS)
                .orderBy("paper_id", "start_char")
                .collect()
            )
            s["rows_out"] = len(out)
    pins.release()
    return out
