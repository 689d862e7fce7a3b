"""SentenceFilter builder: predicate chain + article-level semi-join pushup
(sql.py:387-718 analogue) over the real parsed pipeline tables."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from search_spark import datagen
from search_spark.extraction.extract import extract_stage
from search_spark.operators.segment import segment_stage
from search_spark.operators.sentence_filter import SentenceFilter


@pytest.fixture(scope="module")
def tables(spark):
    pages = datagen.generate_web_pages(spark, 30, seed=21, partitions=2)
    sentences = segment_stage(
        extract_stage(pages, english_only=False)
    ).cache()
    # article-level metadata keyed by url (deterministic synthetic values —
    # the parsed-metadata path is covered by extraction/metadata tests)
    articles = (
        pages.select("url", "lang")
        .withColumn("is_english", F.col("lang") == "en")
        .withColumn(
            "journal",
            F.when(F.crc32("url") % 3 == 0, F.lit(None)).otherwise(
                F.concat(F.lit("J"), (F.crc32("url") % 5).cast("string"))
            ),
        )
        .withColumn(
            "publish_time",
            F.date_add(
                F.lit("2018-06-01").cast("date"),
                (F.crc32("url") % 2000).cast("int"),
            ),
        )
        .cache()
    )
    yield sentences, articles
    sentences.unpersist()
    articles.unpersist()


def test_filter_chain_matches_manual_plan(spark, tables):
    sentences, articles = tables
    flt = (
        SentenceFilter()
        .discard_bad()
        .require_english()
        .require_journal()
        .date_range(2019, 2022)
        .include_text("the")
        .exclude_text("variance")
    )
    got = flt.apply(sentences, articles)

    keys = articles.filter(
        F.col("is_english")
        & F.col("journal").isNotNull()
        & (F.col("publish_time") >= "2019-01-01")
        & (F.col("publish_time") <= "2022-12-31")
    ).select("url")
    expected = (
        sentences.filter(~F.col("is_bad"))
        .filter(F.lower("text").contains("the"))
        .filter(~F.lower("text").contains("variance"))
        .join(keys, on="url", how="left_semi")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )
    assert 0 < got.count() < sentences.count()


def test_article_predicates_without_articles_raises(tables):
    sentences, _ = tables
    with pytest.raises(ValueError):
        SentenceFilter().require_journal().apply(sentences, None)


def test_restrict_ids_composite_key(spark, tables):
    sentences, _ = tables
    ids = sentences.select("url", "ppos", "spos").limit(7)
    got = SentenceFilter().restrict_to(ids).apply(sentences)
    assert got.count() == 7


def test_plan_uses_semi_join_and_pushes_sentence_filters(tables):
    sentences, articles = tables
    df = (
        SentenceFilter()
        .discard_bad()
        .require_journal()
        .apply(sentences, articles)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "LeftSemi" in plan


def test_parsed_metadata_filter_end_to_end(spark):
    """Real article-level predicates over REAL parsed metadata: the
    multiformat corpus flows through articles_stage (title/authors/ids/
    journal extraction) and extract_stage_multi (paragraphs); a
    journal-IS-NOT-NULL SentenceFilter then keeps exactly the PubMed-format
    documents' sentences (only that format carries a journal)."""
    from search_spark.extraction.metadata import articles_stage
    from search_spark.extraction.parsers import extract_stage_multi
    from search_spark.operators.segment import segment_stage
    from search_spark.queries import multiformat_fixture_rows

    pages = spark.createDataFrame(
        multiformat_fixture_rows(), ["url", "source_format", "html"]
    )
    articles = articles_stage(pages)
    sentences = segment_stage(extract_stage_multi(pages, english_only=False))
    kept = (
        SentenceFilter()
        .require_journal()
        .apply(sentences, articles)
        .select("url")
        .distinct()
        .collect()
    )
    kept_urls = {r["url"] for r in kept}
    pubmed_urls = {
        url for url, fmt, _ in multiformat_fixture_rows()
        if fmt == "pubmed_xml"
    }
    assert kept_urls == pubmed_urls


def test_lineage_carries_link_score_histogram(spark, tmp_path):
    from search_spark import datagen
    from search_spark.io.snapshots import SnapshotTable
    from search_spark.pipeline import run_to_snapshot

    root = str(tmp_path / "t")
    pages = datagen.generate_web_pages(spark, 12, seed=9, partitions=2)
    metrics = run_to_snapshot(spark, pages, root)
    hist = metrics["link_score_histogram"]
    assert sum(hist.values()) > 0
    # exact-alias links score 1.0 → bucket "1.0" must dominate on the
    # gazetteer corpus (every mention surface is a concept alias)
    assert max(hist, key=hist.get) == "1.0"
    # and the histogram is persisted in the snapshot lineage
    lineage = SnapshotTable(spark, root).lineage()
    assert lineage[0]["extra"]["link_score_histogram"] == hist


def test_link_stage_histogram_equals_histogram_of_linked(spark):
    """The histogram link_stage takes from its resolved-forms barrier (sum
    of per-form mention counts) equals the per-mention histogram of its
    output, with kNN-scored forms and repeated mixed-case forms mixed in."""
    from search_spark.operators.linking import link_stage
    from search_spark.operators.ner import ner_stage

    pages = datagen.generate_web_pages(spark, 12, seed=9, partitions=2)
    mentions = ner_stage(
        segment_stage(extract_stage(pages)), datagen.GAZETTEER_FLAT
    )
    extra = spark.createDataFrame(
        [
            ("u9", "id9", 0, 0, "S", 0, 5, form, "CHEMICAL")
            for form in ["zzz-unknown", "ZZZ-Unknown", "zzz-unknown",
                         "Glucoze", "dextrose", "Dextrose", "qq"]
        ],
        mentions.schema,
    )
    mentions = mentions.unionByName(extra).persist()
    metrics: dict = {}
    linked = link_stage(mentions, datagen.concepts_df(spark), metrics_out=metrics)
    rows = (
        linked.filter(F.col("link_score").isNotNull())
        .groupBy(F.floor(F.col("link_score") * 10).cast("int").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected = {
        f"{r['b'] / 10:.1f}": r["n"] for r in sorted(rows, key=lambda r: r["b"])
    }
    mentions.unpersist()
    assert metrics["link_score_histogram"] == expected
    assert len(expected) > 1
    assert sum(expected.values()) == linked.count()
