"""Pattern bootstrap (DIPRE/Snowball) — induce relation patterns from seeds.

The classic web-scale relation bootstrap (Brin, "Extracting Patterns and
Relations from the WWW", 1998): given a small set of seed ``(subj, obj)``
facts, find the textual contexts that connect them in the corpus, keep the
contexts supported by several *distinct* seeds (the DIPRE confidence
filter — one prolific page can't mint a pattern), then apply those
patterns corpus-wide to harvest new pairs.  This is how a KG constructor
grows text extraction from a structured nucleus (e.g. web-table/JSON-LD
triples as seeds) without any labeled data.

Spark shape — every stage is joins + hash aggregations:

* :func:`pair_contexts` — the mention-pair self-join keyed on ``doc_id``
  (never cross-document; same discipline as relation_stage) with the
  token-window guard bounding fan-out, then one equi-join back to the
  token table to assemble the middle context via an ordered
  ``collect_list`` (no array slicing — identical semantics to the
  oracle's ordered ``string_agg``).
* :func:`induce_patterns` — support = ``countDistinct(subj, obj)`` over
  seed-matching contexts, map-side partial-aggregated; deterministic
  top-k by (support, occurrences, pattern) — pattern is the group key, so
  the order is total and the cut is stable.
* :func:`apply_patterns` — pattern table joins the context stream (top-k
  sized → AQE broadcast, unhinted), seeds anti-joined out.

Skew: hot mentions pair with everything near them, but the pair join is
(doc_id)-local and window-bounded; pattern keys are near-uniform middles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_spark.session import local_df


def pair_contexts(
    tokens: DataFrame, mentions: DataFrame, window: int = 4
) -> DataFrame:
    """Ordered same-document mention pairs with their middle token context.

    ``tokens`` is ``(doc_id, tpos, tok)``; ``mentions`` is
    ``(doc_id, tpos, mention, …)``.  Returns one row per pair occurrence:
    ``(doc_id, a_tpos, b_tpos, subj, obj, middle)`` where ``middle`` is
    the space-joined tokens strictly between the two mentions ('' when
    adjacent).
    """
    a = mentions.select(
        "doc_id",
        F.col("tpos").alias("a_tpos"),
        F.col("mention").alias("subj"),
    )
    b = mentions.select(
        "doc_id",
        F.col("tpos").alias("b_tpos"),
        F.col("mention").alias("obj"),
    )
    pairs = a.join(b, on="doc_id").filter(
        (F.col("b_tpos") - F.col("a_tpos") >= 1)
        & (F.col("b_tpos") - F.col("a_tpos") <= window)
    )
    # middle positions span at most window-1 slots, so enumerate them and
    # equi-join tokens on (doc_id, tpos) — a range join (equi doc_id +
    # tpos-between post-filter) pairs every token of a doc with every
    # pair of the doc before filtering: per-doc quadratic, and a skew
    # hazard on long documents at web scale.  explode_outer keeps
    # adjacent pairs (no middle) as a single null-position row.
    mid_pos = pairs.withColumn(
        "m_tpos",
        F.explode_outer(
            F.when(
                F.col("b_tpos") - F.col("a_tpos") > 1,
                F.sequence(F.col("a_tpos") + 1, F.col("b_tpos") - 1),
            )
        ),
    )
    t = tokens.select(
        "doc_id",
        F.col("tpos").alias("m_tpos"),
        F.col("tok").alias("m_tok"),
    )
    mid_toks = mid_pos.join(t, on=["doc_id", "m_tpos"], how="left").select(
        "doc_id", "a_tpos", "b_tpos", "subj", "obj", "m_tpos", "m_tok"
    )
    return mid_toks.groupBy("doc_id", "a_tpos", "b_tpos", "subj", "obj").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("m_tok").isNotNull(),
                            F.struct("m_tpos", "m_tok"),
                        )
                    )
                ),
                lambda s: s["m_tok"],
            ),
            " ",
        ).alias("middle")
    )


def induce_patterns(
    contexts: DataFrame,
    seeds: DataFrame,
    min_support: int = 2,
    top_k: int = 10,
) -> DataFrame:
    """Patterns (middle contexts) connecting ≥ ``min_support`` distinct
    seed pairs, top-k by (support, occurrences, pattern)."""
    seeded = contexts.join(seeds, on=["subj", "obj"], how="left_semi")
    return (
        seeded.groupBy("middle")
        .agg(
            F.countDistinct("subj", "obj").alias("support"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("support") >= min_support)
        .orderBy(F.desc("support"), F.desc("n_occ"), F.asc("middle"))
        .limit(top_k)
        .select(
            F.col("middle").alias("pattern"),
            F.col("support").cast("long").alias("support"),
            F.col("n_occ").cast("long").alias("n_occ"),
        )
    )


def apply_patterns(
    contexts: DataFrame, patterns: DataFrame, seeds: DataFrame
) -> DataFrame:
    """Harvest non-seed pairs matched by induced patterns.

    Returns ``(subj, obj, pattern, n_occ)`` — one row per new pair per
    matching pattern with its occurrence count.
    """
    matched = contexts.join(
        patterns.select(F.col("pattern").alias("middle")), on="middle"
    )
    fresh = matched.join(seeds, on=["subj", "obj"], how="left_anti")
    return fresh.groupBy("subj", "obj", "middle").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    ).select("subj", "obj", F.col("middle").alias("pattern"), "n_occ")


def bootstrap_round(
    tokens: DataFrame,
    mentions: DataFrame,
    seeds: DataFrame,
    window: int = 4,
    min_support: int = 2,
    top_k: int = 10,
) -> DataFrame:
    """One full DIPRE round: contexts → patterns → harvested pairs."""
    contexts = pair_contexts(tokens, mentions, window)
    patterns = induce_patterns(contexts, seeds, min_support, top_k)
    return apply_patterns(contexts, patterns, seeds)


def bootstrap_iterate(
    tokens: DataFrame,
    mentions: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
    window: int = 4,
    min_support: int = 2,
    top_k: int = 10,
    contexts: DataFrame | None = None,
) -> DataFrame:
    """Iterative Snowball: each round's harvest joins the seed set for the
    next round's pattern induction.

    Returns ``(subj, obj, round)`` — the round (1-based) at which each new
    pair was first harvested; rounds are disjoint by construction (the
    growing seed set is anti-joined out), so no min-round pass is needed.
    Patterns are re-induced per round against the grown seeds — the loop
    is monotone (seed set only grows), so an early exit on an empty
    harvest equals the fixed unroll, same discipline as the property-path
    and forward-chain fixpoints.  The context table is computed once and
    cached; per-round state (the seed set) is pair-vocabulary sized.

    Pass a precomputed (ideally cached) ``contexts`` frame when the caller
    already built the pair-context table — e.g. to derive the seed set
    from it — so the mention self-join + token join subtree runs once, not
    once per consumer.
    """
    if contexts is None:
        contexts = pair_contexts(tokens, mentions, window).cache()
    cur_seeds = seeds.select("subj", "obj").distinct().cache()
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        patterns = induce_patterns(contexts, cur_seeds, min_support, top_k)
        new_pairs = (
            apply_patterns(contexts, patterns, cur_seeds)
            .select("subj", "obj")
            .distinct()
            .withColumn("round", F.lit(r).cast("long"))
            .cache()
        )
        if new_pairs.isEmpty():
            break
        out = new_pairs if out is None else out.unionByName(new_pairs)
        cur_seeds = cur_seeds.unionByName(
            new_pairs.select("subj", "obj")
        ).cache()
    if out is None:
        return local_df(
            tokens.sparkSession, [], "subj string, obj string, round long"
        )
    return out
