"""The reference's serving surfaces as engine library calls.

BlueBrain/Search exposes four user surfaces (SURVEY.md §3.3): the corpus
pipeline (``bbs_database run`` → here ``pipeline.run_to_snapshot`` /
``tools/run_pipeline.py``), mining-on-demand (``POST /text`` on the mining
server), embedding computation (``compute_embeddings``), and semantic
search (``POST /`` on the search server). This module provides the last
three as plain DataFrame functions — no Flask, no HTTP; a thin CLI lives
in ``tools/cli.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_spark import datagen
from search_spark.operators.linking import embed_text_column
from search_spark.operators.ner import ner_stage
from search_spark.operators.relations import relation_stage
from search_spark.operators.search import semantic_topk
from search_spark.operators.segment import segment_stage
from search_spark.operators.triples import SPECS, specs_stage
from search_spark.session import local_df


def mine_texts(
    spark: SparkSession,
    texts: list[str],
    patterns: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Mining-on-demand: ad-hoc texts → SPECS mining rows.

    Reference analogue: ``POST /text`` (server/mining_server.py:70-139) —
    run the NER/relation pipeline synchronously over request texts and
    return the 10 canonical SPECS columns (mining/pipeline.py:25-36),
    ordered like the mining cache (``paper_id``, ``start_char``). Each
    request text is one single-paragraph document keyed ``text://{i}``.
    """
    patterns = patterns or datagen.GAZETTEER_FLAT
    rows = [
        (f"text://{i}", f"text://{i}", 0, "", t)
        for i, t in enumerate(texts)
    ]
    paragraphs = local_df(
        spark,
        rows,
        "url string, uid string, ppos bigint, section string, text string",
    )
    sentences = segment_stage(paragraphs)
    mentions = ner_stage(sentences, patterns)
    relations = relation_stage(mentions, datagen.relation_pairs_df(spark))
    specs = specs_stage(mentions, relations, datagen.mining_schema_df(spark))
    return specs.select(*SPECS).orderBy("paper_id", "start_char")


def compute_embeddings(
    sentences: DataFrame, text_col: str = "text", dim: int = 64,
    model=None,
) -> DataFrame:
    """Embed a sentence table — the ``compute_embeddings`` entrypoint
    (embedding_models.py:240-296) minus the H5 side-file: the embedding is
    a co-located ``array<float>`` column (SURVEY.md §1.1). ``model``
    accepts any EmbeddingModel implementation (hash-embed default,
    ``TfidfEmbeddingModel``, …) — the reference's ``get_embedding_model``
    dispatch (embedding_models.py:300-338)."""
    return embed_text_column(sentences, text_col, "embedding", dim, model)


def search_sentences(
    sentences_with_emb: DataFrame,
    query_text: str,
    k: int = 10,
    deprioritize_text: str | None = None,
    strength: str = "None",
    dim: int = 64,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Semantic search over an embedded sentence table — the search-server
    lifecycle (search.py:64-288): embed the query (and the optional
    deprioritization text, combined per the reference's weight table),
    score cosine JVM-side, return the hydrated top-k with scores.
    """
    from search_spark.operators.linking import hash_embed

    id_cols = id_cols or ["url", "ppos", "spos"]
    q_vec = hash_embed(query_text, dim)
    d_vec = (
        hash_embed(deprioritize_text, dim)
        if deprioritize_text is not None
        else None
    )
    with_id = sentences_with_emb.withColumn(
        "_sid", F.concat_ws("\x1f", *id_cols)
    )
    topk = semantic_topk(
        with_id.select("_sid", "embedding"),
        q_vec,
        k=k,
        id_col="_sid",
        deprioritize_vec=d_vec,
        strength=strength,
    )
    return (
        F.broadcast(topk)
        .join(with_id, on="_sid")
        .drop("_sid", "embedding")
        .orderBy(F.desc("score"), *id_cols)
    )


def search_articles(
    sentences_with_emb: DataFrame,
    query_text: str,
    k_articles: int = 5,
    article_col: str = "url",
    dim: int = 64,
) -> DataFrame:
    """Article-granularity search (search.py:268-288): rank articles by
    their best sentence's similarity, return the top-k articles with their
    best score and best sentence — ``groupBy(article).agg(max(sim))`` +
    TakeOrdered instead of the reference's full sort + driver-side
    distinct-scan accumulation."""
    from search_spark.operators.linking import cosine_col, hash_embed

    q = F.array(*[F.lit(float(x)) for x in hash_embed(query_text, dim)])
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = sentences_with_emb.select(
        article_col,
        F.col("text").alias("best_sentence"),
        F.round(cosine_col(ed, q), 4).alias("score"),
    )
    best = scored.groupBy(article_col).agg(
        F.max(F.struct("score", "best_sentence")).alias("b")
    )
    return (
        best.select(
            article_col,
            F.col("b.score").alias("best_score"),
            F.col("b.best_sentence").alias("best_sentence"),
        )
        .orderBy(F.desc("best_score"), F.asc(article_col))
        .limit(k_articles)
    )
