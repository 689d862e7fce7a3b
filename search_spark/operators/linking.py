"""Stage 5 — ontology entity linking.

Reference analogue: the ``ontology_source`` association
(server/mining_server.py:300-308) plus semantic similarity scoring the way
the search engine scores sentences — query vector · embedding matrix, top-k
(search.py:205-262). The north star pins the architecture: *"approximate-kNN
over precomputed embedding shards broadcast-joined to candidate mentions"*.

Design (scale-first):

1. **Dedup before scoring.** Mentions repeat enormously at corpus scale
   (head entities by construction); we link *distinct surface forms*
   (``groupBy`` on the lowercased form, keeping each form's mention count),
   then broadcast the tiny resolved mapping back onto the mention stream. At
   10^12 docs the distinct surface-form set is many orders of magnitude
   smaller than the mention set.
2. **Exact alias match first** (broadcast join on the exploded alias table) —
   free and precise.
3. **kNN fallback** for unmatched forms: embed the surface form (the sandbox
   embedder is a deterministic hash-embedding — the reference's
   ``SklearnVectorizer`` slot, embedding_models.py:171-237), broadcast the
   concept embedding shard, score cosine **JVM-side** via
   ``F.zip_with``/``F.aggregate`` (no Python in the scoring join), take the
   arg-max concept per form with a single ``max(struct(score, id))``
   aggregation (no window, no second shuffle).

Embeddings are ``array<float>`` columns co-located with rows — the
reference's positional HDF5 side-file (utils.py:198-492) is unnecessary in a
columnar engine (SURVEY.md §1.1).
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def hash_embed(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic unit-norm pseudo-embedding of a string.

    Mean of per-token vectors; each token's vector is drawn from a PCG64
    generator seeded by the token's md5 — stable across processes, platforms
    and runs (the determinism contract the reference pins with
    ``langdetect.DetectorFactory.seed = 0``, cord_19.py:478).
    """
    tokens = text.lower().split() or [""]
    acc = np.zeros(dim, dtype=np.float64)
    for tok in tokens:
        seed = int.from_bytes(
            hashlib.md5(tok.encode("utf-8")).digest()[:8], "little"
        )
        acc += np.random.Generator(np.random.PCG64(seed)).standard_normal(dim)
    acc /= len(tokens)
    norm = math.sqrt(float(acc @ acc))
    if norm > 0:
        acc /= norm
    return [float(x) for x in acc]


class HashEmbedModel:
    """Default EmbeddingModel: the deterministic hash-embedding."""

    dtype = T.FloatType()

    def __init__(self, dim: int = DEFAULT_DIM):
        self.dim = dim

    def embed_many(self, texts) -> list[list[float]]:
        return [hash_embed(t, self.dim) for t in texts]


def embed_text_column(
    df: DataFrame, text_col: str, out_col: str = "embedding",
    dim: int = DEFAULT_DIM, model=None,
) -> DataFrame:
    """Arrow-batched embedding of a text column — the EmbeddingModel slot
    (embedding_models.py:36-111).

    ``model`` is any object with ``dim``, ``dtype`` (Spark element type)
    and ``embed_many(list[str]) -> list[list[float]]`` — the reference's
    ``EmbeddingModel.embed_many`` contract. The model object is captured in
    the UDF closure, so its fitted state (e.g. a TF-IDF vocabulary) ships
    to executors once per task via the task broadcast — the distributed
    form of the reference loading a pickled ``SklearnVectorizer``
    checkpoint per worker (embedding_models.py:171-237). Default:
    :class:`HashEmbedModel`.
    """
    model = model or HashEmbedModel(dim)
    schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.ArrayType(model.dtype), False)]
    )

    def _embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = model.embed_many(list(pdf[text_col]))
            yield pdf

    return df.mapInPandas(_embed, schema=schema)


def cosine_col(a: str | F.Column, b: str | F.Column) -> F.Column:
    """JVM-side cosine similarity of two array<float> columns.

    ``zip_with`` + ``aggregate`` keep the dot products inside codegen —
    no UDF in the kNN hot join.
    """
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (norm_a * norm_b)


def link_stage(
    mentions: DataFrame,
    concepts: DataFrame,
    dim: int = DEFAULT_DIM,
    min_score: float = 0.35,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Attach ``(concept_id, link_score)`` to every mention.

    Returns the mentions DataFrame with ``concept_id`` (nullable) and
    ``link_score`` columns. When ``metrics_out`` is given, its
    ``link_score_histogram`` key receives the per-mention counts of
    non-null link scores in 0.1-wide buckets, computed by the same job
    that materializes the resolved forms.
    """
    # Distinct surface forms are consumed three times (exact match, anti-join,
    # kNN) — persist so the mention stream (and everything upstream of it) is
    # scanned exactly once. The form set is tiny relative to mentions by
    # construction (dedup-before-scoring is the point of this design). Each
    # form carries its mention count ``n`` (same shuffle as a dedup) so the
    # per-mention score histogram never re-reads the mention stream.
    from search_spark.caching import register

    forms = register(
        mentions.groupBy(F.lower(F.col("mention")).alias("form"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )

    # --- path 1: exact alias match (broadcast) ---------------------------
    aliases = concepts.select(
        "concept_id", F.explode("aliases").alias("alias")
    ).select("concept_id", F.lower(F.col("alias")).alias("form"))
    exact = (
        forms.join(F.broadcast(aliases), on="form", how="inner")
        .groupBy("form", "n")
        .agg(F.min("concept_id").alias("concept_id"))  # deterministic on dup aliases
        .withColumn("link_score", F.lit(1.0))
    )

    # --- path 2: kNN fallback over the broadcast embedding shard ---------
    unmatched = forms.join(exact.select("form"), on="form", how="left_anti")
    embedded = embed_text_column(unmatched, "form", "q_emb", dim)
    shard = concepts.select(
        F.col("concept_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    scored = embedded.join(F.broadcast(shard)).withColumn(
        "score", cosine_col("q_emb", "c_emb")
    )
    knn = (
        scored.groupBy("form", "n")
        .agg(F.max(F.struct("score", "c_id")).alias("best"))
        .select(
            "form",
            "n",
            F.when(F.col("best.score") >= min_score, F.col("best.c_id"))
            .alias("concept_id"),
            F.col("best.score").alias("link_score"),
        )
    )

    # The resolved form table is distinct-surface-form-sized — usually
    # tiny, but at open-web scale the mention vocabulary outgrows any
    # broadcast threshold. Like the canonical-mapping join (pipeline.py),
    # the hint is gated on the measured count vs the session threshold
    # (joins.maybe_broadcast): hinting a small side skips the map-side
    # shuffle write of the big mention stream entirely; a large side
    # falls back to the partitioned join. Persisted + eagerly
    # materialized: the downstream consumers (canonicalization edges, the
    # mention join) would otherwise recompute both linking paths
    # concurrently and convoy on the forms/mentions cache locks.
    from search_spark.joins import maybe_broadcast

    resolved = register(exact.unionByName(knn).persist())
    # the materializing barrier: one grouped collect by score bucket gives
    # both the resolved count and the per-mention score histogram
    buckets = (
        resolved.groupBy(
            F.floor(F.col("link_score") * 10).cast("int").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("forms"), F.sum("n").alias("mentions"))
        .collect()
    )
    n_resolved = sum(r["forms"] for r in buckets)
    if metrics_out is not None:
        scored = [r for r in buckets if r["b"] is not None]
        metrics_out["link_score_histogram"] = {
            f"{r['b'] / 10:.1f}": r["mentions"]
            for r in sorted(scored, key=lambda r: r["b"])
        }
    return mentions.withColumn(
        "form", F.lower(F.col("mention"))
    ).join(
        maybe_broadcast(resolved.drop("n"), n_resolved), on="form", how="left"
    ).drop("form")
