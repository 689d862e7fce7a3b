"""Graph analytics over the materialized triple table.

The reference stops at materializing ``(subj, pred, obj, prov)`` rows into
the mining cache (``database/mining_cache.py``); any downstream analysis
happens ad hoc in notebooks. A KG constructor at web scale needs the first
round of graph diagnostics to be engine-native — hub detection (degree),
global importance (PageRank), and neighborhood expansion (two-hop) — so
they are implemented here as pure DataFrame compositions:

* :func:`entity_degrees` — one shuffle per direction, map-side partial
  aggregation absorbs head-entity skew (the hot keys are exactly the hub
  entities this query exists to find).
* :func:`pagerank` — the classic iterative rank computation expressed as a
  per-iteration join-aggregate plan; lineage is truncated with
  ``checkpoints.truncate`` (strategy-switchable: localCheckpoint or
    reliable file checkpoint — see search_spark/checkpoints.py) each round (same discipline as the large-star/
  small-star connected-components loop in ``canonicalize.py``). Dangling
  mass is carried as a 1-row aggregate broadcast into the rank update —
  no scalar ever round-trips through the driver.
* :func:`two_hop` — edge-table self-join on the hop key; the join shuffles
  on ``dst``/``src`` (hash-partitioned co-location) and the path-count
  aggregation partial-combines before the final shuffle.

At 10^12-document scale the edge table is huge but these plans keep the
right shape: degree and path counts are partial-aggregated, PageRank's
per-iteration state is one row per *entity* (vocabulary-sized, far smaller
than the edge table), and the only broadcast is the 1-row dangling-mass
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_spark.checkpoints import chain as _ckpt
from search_spark.session import local_df


def entity_degrees(edges: DataFrame) -> DataFrame:
    """Weighted in/out degree + distinct-neighbor counts per entity.

    ``edges`` is the relation-instance table (one row per extracted
    relation, column ``src``/``dst``): counts are provenance-weighted,
    ``*_neighbors`` collapse to the distinct adjacent vertex set.
    """
    out = edges.groupBy(F.col("src").alias("entity")).agg(
        F.count(F.lit(1)).alias("out_edges"),
        F.countDistinct("dst").alias("out_neighbors"),
    )
    in_ = edges.groupBy(F.col("dst").alias("entity")).agg(
        F.count(F.lit(1)).alias("in_edges"),
        F.countDistinct("src").alias("in_neighbors"),
    )
    return (
        out.join(in_, on="entity", how="full")
        .fillna(0, ["out_edges", "out_neighbors", "in_edges", "in_neighbors"])
    )


# below this many distinct edges the graph collects to the driver — the
# same adaptive principle as connected_components' union-find fallback
# (canonicalize.py): entity vocabularies are usually tiny even when the
# corpus is not, and 10 driver-loop rounds of Spark jobs cost far more
# than a numpy power iteration on a small graph
LOCAL_PR_THRESHOLD = 100_000

# iteration state is one (entity, rank) row ≈ 64 B Tungsten-encoded;
# ~2M rows per partition keeps each state partition near 128 MB
STATE_ROWS_PER_PARTITION = 2_000_000

_PR_SCHEMA = "entity string, rank double"


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 1,
    local_threshold: int = LOCAL_PR_THRESHOLD,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the distinct edge set of ``(src, dst)`` rows.

    Standard formulation with uniform teleport and dangling-mass
    redistribution::

        rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + D/N)

    where ``D`` is the total rank held by dangling vertices (no
    out-edges). Ranks always sum to 1. Returns ``(entity, rank)``.

    Edge sets at or below ``local_threshold`` skip the iterative loop and
    power-iterate on the driver (identical math, double precision); set
    ``0`` to force the distributed path. Distributed: the per-iteration
    state is one double per vertex — vocabulary-sized, far smaller than
    the edge table — partitioned by :data:`STATE_ROWS_PER_PARTITION` and
    size-gate-broadcast (``joins.maybe_broadcast``) into the contribution
    join so the *edge table never reshuffles* when the state fits the
    session's broadcast threshold. The dangling total is a 1-row
    aggregate joined via broadcast-nested-loop; lineage is truncated with
    ``checkpoints.truncate`` every ``checkpoint_every`` rounds. Nothing except
    the O(1) vocabulary count crosses the driver.

    ``init_ranks`` warm-starts the iteration (incremental recompute after
    an edge-batch append): vertices present in ``init_ranks`` keep their
    previous rank, new vertices start at ``1/N``, and the vector is
    renormalized to sum 1 before iterating. Vertices in ``init_ranks``
    that no longer appear in ``edges`` are dropped.
    """
    from search_spark.joins import maybe_broadcast

    spark = edges.sparkSession
    # lazy checkpoint: the count is the one job that materializes it
    e = edges.select("src", "dst").distinct().transform(_ckpt(eager=False))
    n_edges = e.count()
    if n_edges == 0:
        return local_df(spark, [], _PR_SCHEMA)
    if n_edges <= local_threshold:
        init_rows = init_ranks.collect() if init_ranks is not None else None
        return _pagerank_local(spark, e.collect(), n_iter, damping,
                               init_rows=init_rows)

    nodes = (
        e.select(F.col("src").alias("entity"))
        .unionByName(e.select(F.col("dst").alias("entity")))
        .distinct()
    )
    n_nodes = nodes.count()
    state_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        -(-n_nodes // STATE_ROWS_PER_PARTITION),
    )
    # When the state vector fits the broadcast threshold, every round's
    # join is map-side and partitioning is irrelevant — skip the upfront
    # repartitions (they cost 2-3 edge shuffles, ~3x the whole loop at
    # small sizes). When it does NOT fit, align every loop-invariant
    # table (edges on src, nodes/has_out on entity) on ONE hash
    # partitioning of width state_parts: both sides of each round's join
    # are then clustered on their join key at the same width, so
    # EnsureRequirements inserts NO exchange on the cached sides and a
    # round's shuffle traffic is STATE-sized (ranks + partial-aggregated
    # contributions), never edge-sized. Both truncation strategies preserve the
    # physical partitioning (LogicalRDD carries it), so the property
    # survives the per-round lineage truncation. Measured at 12M edges,
    # local[32]: 72 -> 53 s for 8 rounds (-26%), identical ranks.
    big_state = (
        maybe_broadcast(nodes, n_nodes) is nodes  # gate declined the hint
    )
    if big_state:
        nodes = nodes.repartition(state_parts, "entity")
    nodes = nodes.persist()
    nodes.count()  # materialize (partitioned) cache
    outdeg = e.groupBy(F.col("src").alias("entity")).agg(
        F.count(F.lit(1)).alias("od")
    )
    # (src, dst, od): out-degree denormalized onto the edge once, up front
    e_od = e.join(
        maybe_broadcast(
            outdeg.withColumnRenamed("entity", "src"), n_nodes
        ),
        on="src",
    )
    if big_state:
        e_od = e_od.repartition(state_parts, "src")
    e_od = e_od.persist()
    e_od.count()
    # loop-invariant: vertices with out-edges, co-partitioned with state
    has_out = outdeg.select("entity")
    if big_state:
        has_out = has_out.repartition(state_parts, "entity").persist()
        has_out.count()

    if init_ranks is None:
        # nodes is already hash(entity, state_parts)-partitioned
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    else:
        # warm start: previous rank where known, 1/N for new vertices,
        # renormalized with a 1-row broadcast total (state stays one
        # double per vertex; the previous vector is vocabulary-sized so
        # the gate-broadcast join never reshuffles the node table)
        warm = (
            nodes.join(
                maybe_broadcast(
                    init_ranks.withColumnRenamed("rank", "prev"), n_nodes
                ),
                on="entity",
                how="left",
            )
            .select(
                "entity",
                F.coalesce(F.col("prev"), F.lit(1.0 / n_nodes)).alias("r0"),
            )
        )
        total = warm.agg(F.sum("r0").alias("t"))
        ranks = (
            warm.crossJoin(F.broadcast(total))
            .select("entity", (F.col("r0") / F.col("t")).alias("rank"))
            .repartition(state_parts, "entity")
        )
    for i in range(n_iter):
        contrib = (
            e_od.join(
                maybe_broadcast(ranks, n_nodes),
                e_od["src"] == ranks["entity"],
            )
            .select("dst", (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            ranks.join(
                maybe_broadcast(has_out, n_nodes),
                on="entity",
                how="left_anti",
            )
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            nodes.join(
                maybe_broadcast(
                    contrib.withColumnRenamed("dst", "entity"), n_nodes
                ),
                on="entity",
                how="left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "entity",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / n_nodes
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.transform(_ckpt(eager=False))
    return ranks


def _pagerank_local(spark, edge_rows, n_iter: int, damping: float,
                    init_rows=None):
    """Driver power iteration — same math as the distributed loop."""
    import numpy as np

    pairs = [(r["src"], r["dst"]) for r in edge_rows]
    names = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {n: i for i, n in enumerate(names)}
    n = len(names)
    out = np.zeros(n)
    for u, _ in pairs:
        out[idx[u]] += 1.0
    if init_rows is not None:
        prev = {row["entity"]: row["rank"] for row in init_rows}
        r = np.array([prev.get(name, 1.0 / n) for name in names])
        r = r / r.sum()
    else:
        r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1.0 - damping) / n)
        nxt += damping * r[out == 0.0].sum() / n
        for u, v in pairs:
            nxt[idx[v]] += damping * r[idx[u]] / out[idx[u]]
        r = nxt
    return local_df(
        spark, [(name, float(r[idx[name]])) for name in names], _PR_SCHEMA
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 1,
    local_threshold: int = LOCAL_PR_THRESHOLD,
) -> DataFrame:
    """PageRank with teleport restricted to a seed set — the standard
    graph-relatedness measure ("how close is every entity to THESE
    entities").

    ``rank'(v) = (1-d)·tele(v) + d·(Σ_{u→v} rank(u)/outdeg(u) +
    D·tele(v))`` where ``tele(v) = 1/|S|`` for seeds, else 0, and the
    dangling mass ``D`` also returns to the seeds. Ranks sum to 1;
    vertices unreachable from the seed set get exactly 0. The plan is
    the same join-aggregate loop as :func:`pagerank` (vocabulary-sized
    state, gate-broadcast joins, per-round ``checkpoints.truncate``); small
    graphs short-circuit to a driver power iteration with identical
    double math. Returns ``(entity, rank)``.
    """
    from search_spark.joins import maybe_broadcast

    spark = edges.sparkSession
    # lazy checkpoint: the count is the one job that materializes it
    e = edges.select("src", "dst").distinct().transform(_ckpt(eager=False))
    n_edges = e.count()
    if n_edges == 0:
        return local_df(spark, [], _PR_SCHEMA)
    seed_col = seeds.columns[0]
    seed_set = seeds.select(
        F.col(seed_col).alias("entity")
    ).distinct()
    if n_edges <= local_threshold:
        return _ppr_local(
            spark,
            e.collect(),
            [r["entity"] for r in seed_set.collect()],
            n_iter,
            damping,
        )

    nodes = (
        e.select(F.col("src").alias("entity"))
        .unionByName(e.select(F.col("dst").alias("entity")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    state_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        -(-n_nodes // STATE_ROWS_PER_PARTITION),
    )
    # same gated co-partitioning as pagerank(): when the rank vector
    # cannot broadcast, align edges/tele/has_out on one hash
    # partitioning so the per-round joins never reshuffle the cached
    # edge table (see pagerank() for the measured effect)
    big_state = maybe_broadcast(nodes, n_nodes) is nodes
    n_seeds = seed_set.join(nodes, on="entity", how="left_semi").count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is in the graph")
    outdeg = e.groupBy(F.col("src").alias("entity")).agg(
        F.count(F.lit(1)).alias("od")
    )
    e_od = e.join(
        maybe_broadcast(outdeg.withColumnRenamed("entity", "src"), n_nodes),
        on="src",
    )
    if big_state:
        e_od = e_od.repartition(state_parts, "src")
    e_od = e_od.persist()
    e_od.count()

    tele = (
        nodes.join(
            maybe_broadcast(
                seed_set.withColumn("__s", F.lit(1)), n_nodes
            ),
            on="entity",
            how="left",
        )
        .select(
            "entity",
            F.when(F.col("__s").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("tele"),
        )
        .repartition(state_parts, "entity")
        .persist()
    )
    tele.count()
    ranks = tele.select("entity", F.col("tele").alias("rank"))
    has_out = outdeg.select("entity")
    if big_state:
        has_out = has_out.repartition(state_parts, "entity").persist()
        has_out.count()
    for i in range(n_iter):
        contrib = (
            e_od.join(
                maybe_broadcast(ranks, n_nodes),
                e_od["src"] == ranks["entity"],
            )
            .select("dst", (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = ranks.join(
            maybe_broadcast(has_out, n_nodes), on="entity", how="left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        ranks = (
            tele.join(
                maybe_broadcast(
                    contrib.withColumnRenamed("dst", "entity"), n_nodes
                ),
                on="entity",
                how="left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "entity",
                (
                    F.lit(1.0 - damping) * F.col("tele")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") * F.col("tele")
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.transform(_ckpt(eager=False))
    return ranks


def _ppr_local(spark, edge_rows, seed_list, n_iter: int, damping: float):
    """Driver power iteration with seed teleport — same double math."""
    import numpy as np

    pairs = [(r["src"], r["dst"]) for r in edge_rows]
    names = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {n: i for i, n in enumerate(names)}
    n = len(names)
    seeds = [s for s in set(seed_list) if s in idx]
    if not seeds:
        raise ValueError("personalized_pagerank: no seed is in the graph")
    out = np.zeros(n)
    for u, _ in pairs:
        out[idx[u]] += 1.0
    tele = np.zeros(n)
    for s in seeds:
        tele[idx[s]] = 1.0 / len(seeds)
    r = tele.copy()
    for _ in range(n_iter):
        nxt = (1.0 - damping) * tele
        nxt = nxt + damping * r[out == 0.0].sum() * tele
        for u, v in pairs:
            nxt[idx[v]] += damping * r[idx[u]] / out[idx[u]]
        r = nxt
    return local_df(
        spark, [(name, float(r[idx[name]])) for name in names], _PR_SCHEMA
    )


def incremental_pagerank(
    batches: list[DataFrame],
    n_iter_per_batch: int = 4,
    damping: float = 0.85,
    local_threshold: int = LOCAL_PR_THRESHOLD,
) -> DataFrame:
    """PageRank maintained across successive edge-batch appends.

    The batch-ingest shape of a KG constructor: each micro-batch appends
    relation edges, and the rank vector is *recomputed warm* instead of
    cold — batch ``i`` runs ``n_iter_per_batch`` iterations over the
    cumulative distinct edge set, initialized from batch ``i-1``'s final
    ranks (new vertices at ``1/N``, renormalized). Because the stationary
    distribution of the grown graph is close to the previous one, a
    handful of warm iterations replaces a full cold run — the standard
    restart trick for evolving-graph PageRank.

    Semantics are deterministic (fixed iteration counts, no convergence
    test) so the whole schedule is expressible as an unrolled SQL oracle.
    Returns the final ``(entity, rank)`` vector.
    """
    if not batches:
        raise ValueError("incremental_pagerank needs at least one batch")
    acc: DataFrame | None = None
    ranks: DataFrame | None = None
    for batch in batches:
        e = batch.select("src", "dst")
        acc = e if acc is None else acc.unionByName(e)
        ranks = pagerank(
            acc,
            n_iter=n_iter_per_batch,
            damping=damping,
            local_threshold=local_threshold,
            init_ranks=ranks,
        )
        # truncate lineage between batches: the rank vector is
        # vocabulary-sized, the cumulative edge plan is not
        ranks = ranks.transform(_ckpt(eager=True))
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts over the undirected
    simple graph induced by ``(src, dst)``.

    Degree-ordered wedge join (the classic MapReduce triangle-counting
    formulation): every undirected edge is directed from its lower-
    ``(degree, id)`` endpoint to the higher one, wedges are enumerated at
    the lowest-ranked vertex of each triangle, and the wedge is closed
    with one more join against the ordered edge set. Orienting by degree
    bounds the per-vertex wedge fan-out by min-degree² — a head entity of
    degree ``d`` only expands ``d²`` wedges when *both* of a wedge's far
    endpoints out-rank it, which is exactly the skew guard a web-scale
    co-occurrence graph needs. The triangle set is orientation-invariant,
    so the lexicographically-ordered SQL oracle checks the same counts.

    Returns ``(entity, n_triangles)`` for vertices in ≥1 triangle.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(_ckpt(eager=True))
    )
    deg = (
        und.select(F.col("u").alias("entity"))
        .unionByName(und.select(F.col("v").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # degree is vocabulary-sized; AQE converts these joins to broadcast
    # when it fits (no hard hint — same gate discipline as the pipeline)
    ed = und.join(
        deg.select(F.col("entity").alias("u"), F.col("d").alias("du")), "u"
    ).join(
        deg.select(F.col("entity").alias("v"), F.col("d").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    eo = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).transform(_ckpt(eager=True))
    # triangle with rank order a < b < c appears exactly once:
    # eo(a,b) ⋈ eo(b,c) closed by eo(a,c)
    wedge = eo.join(
        eo.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tri = wedge.join(eo.select("a", F.col("b").alias("c")), ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("entity"))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def link_prediction(
    edges: DataFrame,
    hub_cap: int = 64,
    min_common: int = 2,
    weight_mult: float | None = 1.0,
) -> DataFrame:
    """Adamic-Adar / common-neighbor link prediction over the undirected
    graph induced by ``(src, dst)`` — the alias-suggestion pass a
    KG builder runs after canonicalization to surface entity pairs that
    are never co-mentioned but share many contexts.

    The raw co-occurrence multigraph of a web corpus is near-complete
    over the head vocabulary (every frequent pair co-occurs somewhere),
    which leaves nothing to predict; real KG builders therefore predict
    on the strong-association subgraph. With ``weight_mult`` set, pairs
    are first weighted by co-occurrence count and only pairs with
    ``count ≥ weight_mult × mean(count)`` are kept as edges — the mean
    is a 1-row aggregate broadcast into the filter, never a driver
    round-trip. Pass ``weight_mult=None`` to predict on the unweighted
    simple graph.

    Wedges are enumerated at the shared neighbor ``z`` (one self-join of
    the symmetric neighbor table on ``z``), each contributing
    ``1/ln(deg(z))`` to the pair score (Adamic & Adar 2003). Two scale
    guards keep the wedge fan-out bounded on a web-scale co-occurrence
    graph: (1) neighbors with ``deg(z) > hub_cap`` are skipped — a
    degree-10⁶ stop-entity contributes ~0 signal at ``1/ln(d)`` but d²
    wedge rows, so dropping it changes ranking noise only; (2) the pair
    aggregate partial-combines map-side before the (a, b) shuffle.
    Already-connected pairs are removed with an anti-join against the
    distinct edge set, and only pairs with ``≥ min_common`` shared
    neighbors survive, so output is candidate-sized, not pair-sized.

    Returns ``(a, b, n_common, aa_score, jaccard)`` with ``a < b``.
    """
    wund = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if weight_mult is not None:
        mean_w = wund.agg(F.avg("c").alias("mean_c"))
        wund = wund.crossJoin(F.broadcast(mean_w)).filter(
            F.col("c") >= F.lit(weight_mult) * F.col("mean_c")
        )
    und = wund.select("u", "v").transform(
        _ckpt(eager=True)  # reused: neighbors, degrees, anti-join
    )
    nbr = und.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        und.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = nbr.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    # degree table is vocabulary-sized; AQE broadcasts it when it fits
    # (no hard hint — same gate discipline as the pipeline)
    nbr_ok = nbr.join(deg.filter(F.col("d") <= hub_cap), "z")
    wedges = nbr_ok.select("z", "d", F.col("x").alias("a")).join(
        nbr_ok.select("z", F.col("x").alias("b")), "z"
    ).filter(F.col("a") < F.col("b"))
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.lit(1.0) / F.log("d")).alias("aa"),
    ).filter(F.col("n_common") >= min_common)
    cand = scored.join(
        und.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("z").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("z").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round("aa", 4).alias("aa_score"),
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


def random_walks(
    edges: DataFrame, n_walks: int = 2, walk_len: int = 4
) -> DataFrame:
    """Deterministic random-walk corpus over the undirected simple graph
    induced by ``(src, dst)`` — stage 1 of DeepWalk/node2vec-style KG
    embedding training (Perozzi et al. 2014): every entity seeds
    ``n_walks`` walks of ``walk_len`` steps, and the walk rows are the
    skip-gram training corpus.

    Next-hop selection is *derandomized* the same way the sampling ops
    are (``sampling.py``): from node ``v`` at step ``k`` of walk ``w``,
    the walk moves to the neighbor ``x`` minimizing
    ``md5(seed:walk_no:step:x)`` — uniform over neighbors, reproducible
    across runs/engines, and expressible as a ``min_by`` aggregate, so
    the whole walk is a join-aggregate plan with zero UDF and no RNG
    state. Per step: one shuffle to join the frontier against the
    adjacency list (hash-partitioned on the current node) and one to
    regroup per walk. Walk state stays one row per (seed, walk_no) —
    vocabulary×n_walks-sized, never edge-sized — and the adjacency list
    is checkpointed once and reused by every step. Symmetric adjacency
    means every seeded node has ≥1 neighbor: walks never dead-end.

    Returns ``(entity, walk_no, step, node)`` — step 0 is the seed.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nbr = (
        und.select(F.col("u").alias("z"), F.col("v").alias("x"))
        .unionByName(und.select(F.col("v").alias("z"), F.col("u").alias("x")))
        .transform(_ckpt(eager=True))  # reused by every step's join
    )
    cur = (
        nbr.select(F.col("z").alias("entity"))
        .distinct()
        .select(
            "entity",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_walks - 1))
            ).alias("walk_no"),
            F.col("entity").alias("node"),
        )
    )
    frames = [cur.select("entity", "walk_no", F.lit(0).alias("step"), "node")]
    for k in range(1, walk_len + 1):
        cur = (
            cur.join(nbr, cur["node"] == nbr["z"])
            .groupBy("entity", "walk_no")
            .agg(
                F.min_by(
                    "x",
                    F.md5(
                        F.concat_ws(
                            ":", "entity", "walk_no", F.lit(k), "x"
                        )
                    ),
                ).alias("node")
            )
        )
        frames.append(
            cur.select("entity", "walk_no", F.lit(k).alias("step"), "node")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def node2vec_walks(
    edges: DataFrame,
    n_walks: int = 2,
    walk_len: int = 4,
    ret_w: int = 1,
    common_w: int = 4,
    other_w: int = 1,
) -> DataFrame:
    """Second-order biased random walks (node2vec, Grover & Leskovec
    2016) over the undirected simple graph — the BFS/DFS-interpolating
    variant of :func:`random_walks`. From ``(prev, cur)`` the candidate
    next hop ``x`` weighs ``ret_w`` when ``x == prev`` (the 1/p return
    bias), ``common_w`` when ``x`` is also a neighbor of ``prev`` (the
    distance-1 triangle-closing bias), else ``other_w`` (the 1/q
    exploration bias); the first hop is uniform (no prev).

    The weighted choice is *derandomized and exactly proportional*:
    each candidate is replicated ``w`` times (small integer weights, a
    bounded ``explode(sequence(...))``) and the md5-argmin over
    ``seed:walk:step:x:replica`` picks the winner — iid-uniform hashes
    make each replica equally likely to carry the minimum, so
    ``P(x wins) = w_x / Σw`` exactly, with no RNG state and identical
    traces across runs, partitionings, and engines. Per step: one join
    against the adjacency list on the current node, one keyed left join
    against the same list on ``(prev, x)`` for the triangle flag, one
    walk-keyed ``min_by`` aggregate — walk state stays one row per
    (seed, walk_no), adjacency is checkpointed once.

    Returns ``(entity, walk_no, step, node)`` — step 0 is the seed.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nbr = (
        und.select(F.col("u").alias("z"), F.col("v").alias("x"))
        .unionByName(und.select(F.col("v").alias("z"), F.col("u").alias("x")))
        .transform(_ckpt(eager=True))
    )
    cur = (
        nbr.select(F.col("z").alias("entity"))
        .distinct()
        .select(
            "entity",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_walks - 1))
            ).alias("walk_no"),
            F.lit(None).cast("string").alias("prev"),
            F.col("entity").alias("node"),
        )
    )
    frames = [cur.select("entity", "walk_no", F.lit(0).alias("step"), "node")]
    for k in range(1, walk_len + 1):
        cand = cur.join(nbr, cur["node"] == nbr["z"]).select(
            "entity", "walk_no", "prev", "node", "x"
        )
        tri = nbr.select(
            F.col("z").alias("prev"), F.col("x"), F.lit(1).alias("is_tri")
        )
        cand = cand.join(tri, ["prev", "x"], "left").select(
            "entity",
            "walk_no",
            "node",
            "x",
            F.when(F.col("prev").isNull(), F.lit(1))
            .when(F.col("x") == F.col("prev"), F.lit(ret_w))
            .when(F.col("is_tri").isNotNull(), F.lit(common_w))
            .otherwise(F.lit(other_w))
            .alias("w"),
        )
        nxt = (
            # drop zero-weight candidates BEFORE the explode: Spark's
            # sequence(1, 0) is the descending [1, 0], not empty, so an
            # unguarded explode would resurrect a weight-0 candidate
            cand.filter(F.col("w") >= 1)
            .select(
                "entity",
                "walk_no",
                "node",
                "x",
                F.explode(F.sequence(F.lit(1), F.col("w"))).alias("rep"),
            )
            .groupBy("entity", "walk_no")
            .agg(
                F.min_by(
                    "x",
                    F.md5(
                        F.concat_ws(
                            ":", "entity", "walk_no", F.lit(k), "x", "rep"
                        )
                    ),
                ).alias("nx"),
                F.first("node").alias("node_prev"),
            )
        )
        cur = nxt.select(
            "entity",
            "walk_no",
            F.col("node_prev").alias("prev"),
            F.col("nx").alias("node"),
        )
        frames.append(
            cur.select("entity", "walk_no", F.lit(k).alias("step"), "node")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _hits_local(spark, edge_rows, n_iter: int) -> DataFrame:
    """Driver coupled power iteration — same math as the distributed
    loop (raw sums over the distinct edge set, L2 normalization, zeros
    for vertices with no in/out edges)."""
    import numpy as np

    pairs = sorted({(r["src"], r["dst"]) for r in edge_rows})
    names = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {n: i for i, n in enumerate(names)}
    n = len(names)
    A = np.zeros((n, n))
    for u, v in pairs:
        A[idx[u], idx[v]] = 1.0
    a = np.ones(n)
    h = np.ones(n)
    for _ in range(n_iter):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    return local_df(
        spark,
        [
            (names[i], round(float(a[i]), 6), round(float(h[i]), 6))
            for i in range(n)
        ],
        "entity string, authority double, hub double",
    )


def hits(
    edges: DataFrame,
    n_iter: int = 8,
    ckpt_every: int = 1,
    local_threshold: int = LOCAL_PR_THRESHOLD,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the distinct
    directed edge set — the complement diagnostic to PageRank for a KG:
    authorities are the entities many relation sources point at, hubs
    the entities that point at many authorities (in a subject→object
    triple graph: frequent-object vs frequent-subject importance).

    Classic coupled power iteration: ``a ← Σ h(src)`` over in-edges,
    ``h ← Σ a(dst)`` over out-edges, each L2-normalized. Every update
    is a join-aggregate on the edge key with map-side partial combine;
    each normalizer is a 1-row aggregate broadcast into the update (no
    driver round-trip); per-iteration state is one row per entity
    (vocabulary-sized). Lineage is truncated per round with
    ``checkpoints.truncate`` — same loop discipline as :func:`pagerank`.

    Returns ``(entity, authority, hub)`` rounded to 6 dp.
    """
    de = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # reused 2× per iteration; the count below materializes it
        .transform(_ckpt(eager=False))
    )
    # same adaptive gate as pagerank: entity vocabularies are usually
    # tiny even when the corpus is not, and 8 rounds of paired Spark
    # jobs cost far more than one driver matvec loop; set 0 to force
    # the distributed path (stress-tested in tests)
    spark = edges.sparkSession
    n_edges = de.count()
    if n_edges == 0:
        return local_df(
            spark, [], "entity string, authority double, hub double"
        )
    if n_edges <= local_threshold:
        return _hits_local(spark, de.collect(), n_iter)
    nodes = (
        de.select(F.col("src").alias("entity"))
        .unionByName(de.select(F.col("dst").alias("entity")))
        .distinct()
        .transform(_ckpt(eager=True))
    )
    auth = nodes.select("entity", F.lit(1.0).alias("a"))
    hub = nodes.select("entity", F.lit(1.0).alias("h"))
    for it in range(n_iter):
        # lineage-truncation cadence: each iteration adds two
        # join-aggregate layers; each checkpoint barrier costs a job.
        # Measured at sf0.1: every-1 beats every-2 (Catalyst re-analysis
        # of the deeper plan costs more than the extra barriers), so the
        # default stays 1; the knob exists for giant graphs where the
        # barrier job dominates instead
        ckpt = it % ckpt_every == ckpt_every - 1 or it == n_iter - 1
        raw_a = (
            de.join(hub.withColumnRenamed("entity", "src"), "src")
            .groupBy(F.col("dst").alias("entity"))
            .agg(F.sum("h").alias("s"))
        )
        a_full = nodes.join(raw_a, "entity", "left").select(
            "entity", F.coalesce("s", F.lit(0.0)).alias("s")
        )
        norm_a = a_full.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
        auth = a_full.crossJoin(F.broadcast(norm_a)).select(
            "entity", (F.col("s") / F.col("n")).alias("a")
        )
        if ckpt:
            auth = auth.transform(_ckpt(eager=True))
        raw_h = (
            de.join(auth.withColumnRenamed("entity", "dst"), "dst")
            .groupBy(F.col("src").alias("entity"))
            .agg(F.sum("a").alias("s"))
        )
        h_full = nodes.join(raw_h, "entity", "left").select(
            "entity", F.coalesce("s", F.lit(0.0)).alias("s")
        )
        norm_h = h_full.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
        hub = h_full.crossJoin(F.broadcast(norm_h)).select(
            "entity", (F.col("s") / F.col("n")).alias("h")
        )
        if ckpt:
            hub = hub.transform(_ckpt(eager=True))
    return (
        auth.join(hub, "entity")
        .select(
            "entity",
            F.round("a", 6).alias("authority"),
            F.round("h", 6).alias("hub"),
        )
    )


def _lpa_local(spark, adj_rows, node_names, n_iter: int) -> DataFrame:
    """Driver synchronous LPA — same update rule as the distributed
    loop (adopt the most-held neighbor label, ties to the smallest).
    ``node_names`` carries the full vertex set — a vertex whose only
    edges are self-loops has no adjacency rows but keeps its own label."""
    adj: dict[str, set] = {}
    nodes = set(node_names)
    for r in adj_rows:
        adj.setdefault(r["entity"], set()).add(r["nbr"])
    labels = {n: n for n in nodes}
    for _ in range(n_iter):
        nxt = {}
        for n in nodes:
            nbrs = adj.get(n)
            if not nbrs:
                nxt[n] = labels[n]
                continue
            counts: dict[str, int] = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            top = max(counts.values())
            nxt[n] = min(la for la, c in counts.items() if c == top)
        labels = nxt
    return local_df(
        spark, sorted(labels.items()), "entity string, community string"
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    checkpoint: bool = True,
    local_threshold: int = LOCAL_PR_THRESHOLD,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA).

    Undirected simple graph induced by ``(src, dst)``: every vertex
    starts labeled with itself; each round it adopts the label held by
    the most of its neighbors, ties broken by the smallest label. A
    fixed iteration count plus the deterministic tie-break makes the
    result exactly reproducible (and expressible as an unrolled SQL
    oracle) — the usual LPA caveat of update-order dependence only
    applies to the *asynchronous* variant.

    Per-round plan: adjacency ⋈ labels on the neighbor key, count per
    (vertex, label) with map-side partial aggregation (absorbing hub
    skew — a head entity's million neighbor rows combine per label
    before the shuffle), then a single ``min(struct(-count, label))``
    aggregate picks the winner without a window sort. State is one
    (entity, label) row per vertex — vocabulary-sized, like PageRank's
    rank vector — so ``joins.maybe_broadcast`` keeps the adjacency
    table from reshuffling whenever the label vector fits the broadcast
    threshold; lineage truncates per round with ``checkpoints.truncate``.

    Returns ``(entity, community)`` for every vertex of the edge set;
    vertices with no non-self neighbor keep their own label.
    """
    from search_spark.joins import maybe_broadcast

    adj = (
        edges.select(F.col("src").alias("entity"), F.col("dst").alias("nbr"))
        .unionByName(
            edges.select(
                F.col("dst").alias("entity"), F.col("src").alias("nbr")
            )
        )
        .filter(F.col("entity") != F.col("nbr"))
        .distinct()
        .transform(_ckpt(eager=True))
    )
    nodes = (
        edges.select(F.col("src").alias("entity"))
        .unionByName(edges.select(F.col("dst").alias("entity")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()  # also materializes the persist
    # same adaptive gate as pagerank/hits, sized on the adjacency rows
    # (what a fallback actually collects): below the threshold the
    # n_iter × (join + two aggregates + checkpoint) job train costs far
    # more than one driver dict loop; 0 forces the distributed path
    if local_threshold > 0 and adj.count() <= local_threshold:
        adj_rows = adj.collect()
        node_names = [r["entity"] for r in nodes.collect()]
        nodes.unpersist()
        return _lpa_local(
            edges.sparkSession, adj_rows, node_names, n_iter
        )
    labels = nodes.withColumn("label", F.col("entity"))
    for _ in range(n_iter):
        votes = (
            adj.join(
                maybe_broadcast(
                    labels.select(
                        F.col("entity").alias("nbr"), "label"
                    ),
                    n_nodes,
                ),
                on="nbr",
            )
            .groupBy("entity", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = votes.groupBy("entity").agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("b")
        )
        labels = (
            nodes.join(
                maybe_broadcast(
                    best.select("entity", F.col("b.label").alias("new")),
                    n_nodes,
                ),
                on="entity",
                how="left",
            )
            .select(
                "entity",
                F.coalesce(F.col("new"), F.col("entity")).alias("label"),
            )
        )
        # per-round lineage truncation; ``checkpoint=False`` keeps the
        # full (linear-depth) plan inspectable for plan audits
        if checkpoint:
            labels = labels.transform(_ckpt(eager=False))
    if checkpoint:
        nodes.unpersist()
    return labels.select("entity", F.col("label").alias("community"))


def kcore_peel(
    edges: DataFrame, k: int = 3, n_rounds: int = 4
) -> DataFrame:
    """Dense-subgraph extraction by iterative k-core peeling.

    Each round removes vertices with degree < ``k`` from the undirected
    simple graph and recomputes degrees on the survivors; a fixed round
    count keeps the result deterministic and SQL-expressible (the exact
    k-core is the fixpoint — rounds converge monotonically toward it
    from above, and on real co-occurrence graphs a handful of rounds is
    at the fixpoint). Returns the surviving ``(entity, degree)``.

    Per-round plan: one degree aggregation (map-side partial combine)
    plus two semi-joins restricting the edge set to surviving endpoints
    — all hash-partitioned on the vertex key; the edge set only ever
    shrinks, and lineage truncates per round (``checkpoints.truncate``).
    """
    alive = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(_ckpt(eager=True))
    )

    def _degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("entity"))
            .unionByName(e.select(F.col("v").alias("entity")))
            .groupBy("entity")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    for _ in range(n_rounds):
        keep = _degrees(alive).filter(F.col("degree") >= k)
        alive = (
            alive.join(
                keep.select(F.col("entity").alias("u")),
                on="u",
                how="left_semi",
            )
            .join(
                keep.select(F.col("entity").alias("v")),
                on="v",
                how="left_semi",
            )
            .transform(_ckpt(eager=False))
        )
    return _degrees(alive)


def two_hop(edges: DataFrame) -> DataFrame:
    """Distinct-edge two-hop reachability with path counts.

    Self-join of the distinct edge set on the hop vertex; rows with
    ``src == dst`` (cycles back to the origin) are excluded, matching the
    usual neighborhood semantics. Returns ``(src, dst, n_paths)``.
    """
    e = edges.select("src", "dst").distinct()
    hop1 = e.select(F.col("src"), F.col("dst").alias("mid"))
    hop2 = e.select(F.col("src").alias("mid"), F.col("dst"))
    return (
        hop1.join(hop2, on="mid")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


#: largest ``max_hops`` the BFS family accepts. ``landmark_closeness``
#: sums the integer ``lcm(1..max_hops) / dist`` per landmark; at 15 the
#: lcm is 360,360, so every term and any realistic landmark sum stays an
#: exact integer in the double division and the long accumulator.
MAX_BFS_HOPS = 15


def _check_max_hops(max_hops: int) -> None:
    if not 1 <= max_hops <= MAX_BFS_HOPS:
        raise ValueError(
            f"max_hops must be in 1..{MAX_BFS_HOPS}, got {max_hops}"
        )


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Directed BFS hop distance from a seed set, bounded at ``max_hops``.

    ``seeds`` is a one-column DataFrame of starting entities. Returns
    ``(entity, dist)`` for every vertex reachable within ``max_hops``
    directed hops (seeds at distance 0); unreachable vertices are absent.

    Per-round plan: the previous round's frontier (rows first discovered
    at ``k-1``) joins the distinct edge set on ``src`` to propose
    distance-``k`` rows, then a min-aggregate over (old ∪ proposed) keeps
    first-discovery distances. State is one int per *reached* vertex —
    vocabulary-sized — while the edge table is hash-partitioned on ``src``
    once and persisted, so each round reuses its shuffle instead of
    rescanning; lineage truncates per round (``checkpoints.truncate``), the
    same loop discipline as :func:`pagerank` and the connected-components
    canonicalizer. Expanding only the newly-discovered frontier keeps the
    per-round join |frontier| × outdeg, not |reached| × outdeg.

    Raises ``ValueError`` unless ``1 <= max_hops <= MAX_BFS_HOPS``.
    """
    _check_max_hops(max_hops)
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition("src")
        .persist()
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("entity"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .transform(_ckpt(eager=True))
    )
    for k in range(1, max_hops + 1):
        frontier = dist.filter(F.col("dist") == k - 1).select(
            F.col("entity").alias("src")
        )
        reached = e.join(frontier, on="src").select(
            F.col("dst").alias("entity"), F.lit(k).alias("dist")
        )
        final = k == max_hops
        dist = (
            dist.unionByName(reached)
            .groupBy("entity")
            .agg(F.min("dist").alias("dist"))
            # the last round materializes eagerly so the returned plan no
            # longer references the edge cache being unpersisted below
            .transform(_ckpt(eager=final))
        )
    e.unpersist()
    return dist.select("entity", F.col("dist").cast("int").alias("dist"))


def multi_source_bfs(
    edges: DataFrame, landmarks: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Labeled BFS from every landmark at once: hop distances keyed by
    ``(landmark, entity)``, bounded at ``max_hops``.

    ``landmarks`` is a one-column DataFrame of starting entities; each
    runs its own BFS, but all of them share ONE per-round frontier⋈edges
    join — the landmark label just rides along in the state, so k
    landmarks cost one loop, not k loops. Same loop discipline as
    :func:`bfs_distances`: the edge table is hash-partitioned on ``src``
    once and persisted (every round reuses its shuffle), the state is
    one int per *(landmark, reached vertex)* pair — k × vocabulary-sized
    at worst, still far smaller than the edge table — and lineage
    truncates per round via ``checkpoints.truncate``. Only the newly
    discovered frontier expands, keeping each round's join
    |frontier| × outdeg.

    Returns ``(landmark, entity, dist)`` for every vertex reachable
    within ``max_hops`` directed hops of each landmark (the landmark
    itself at distance 0). Raises ``ValueError`` unless
    ``1 <= max_hops <= MAX_BFS_HOPS``.
    """
    _check_max_hops(max_hops)
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition("src")
        .persist()
    )
    dist = (
        landmarks.select(F.col(landmarks.columns[0]).alias("landmark"))
        .distinct()
        .select("landmark", F.col("landmark").alias("entity"))
        .withColumn("dist", F.lit(0))
        .transform(_ckpt(eager=True))
    )
    for k in range(1, max_hops + 1):
        frontier = dist.filter(F.col("dist") == k - 1).select(
            "landmark", F.col("entity").alias("src")
        )
        reached = e.join(frontier, on="src").select(
            "landmark", F.col("dst").alias("entity"), F.lit(k).alias("dist")
        )
        final = k == max_hops
        dist = (
            dist.unionByName(reached)
            .groupBy("landmark", "entity")
            .agg(F.min("dist").alias("dist"))
            # eager on the last round: the returned plan must not
            # reference the edge cache unpersisted below
            .transform(_ckpt(eager=final))
        )
    e.unpersist()
    return dist.select(
        "landmark", "entity", F.col("dist").cast("int").alias("dist")
    )


def select_landmarks(edges: DataFrame, n_landmarks: int) -> DataFrame:
    """The ``n_landmarks`` highest-out-degree vertices (distinct-neighbor
    degree, ties by entity name ascending — deterministic). orderBy +
    limit compiles to ``TakeOrderedAndProject`` over the
    partial-aggregated degree table: a per-partition top-k merged on the
    driver, never a full global sort."""
    deg = (
        edges.select("src", "dst")
        .distinct()
        .groupBy(F.col("src").alias("entity"))
        .agg(F.count(F.lit(1)).alias("od"))
    )
    return (
        deg.orderBy(F.col("od").desc(), F.col("entity").asc())
        .limit(n_landmarks)
        .select("entity")
    )


def landmark_closeness(
    edges: DataFrame, n_landmarks: int = 8, max_hops: int = 4
) -> DataFrame:
    """Approximate harmonic closeness centrality from degree-chosen
    landmarks — the standard sampled estimator when exact all-pairs
    closeness (O(V·E)) is out of reach at web scale.

    Landmarks are the ``n_landmarks`` highest-out-degree vertices
    (distinct-neighbor degree; ties broken by entity name ascending, so
    selection is deterministic on both engines). One
    :func:`multi_source_bfs` pass computes ``dist(L, v)`` for every
    landmark L, and each vertex's inbound harmonic score is::

        harmonic(v) = Σ_L 1 / dist(L, v)        (dist > 0)

    rounded to 6 dp. Vertices reached by no landmark (beyond
    ``max_hops`` of all of them) are absent, like unreachable vertices
    in :func:`bfs_distances`. Returns
    ``(entity, n_reached, harmonic)`` where ``n_reached`` counts
    landmarks that reach the vertex in 1..max_hops hops.

    Scale shape: the landmark dim is a ``TakeOrderedAndProject`` over
    the partial-aggregated degree table (top-k, never a full sort), the
    BFS state is n_landmarks × vocabulary at worst, and the final
    per-entity aggregate partial-combines. Nothing is driver-side.

    Numeric determinism: the harmonic sum accumulates the INTEGER
    ``lcm(1..max_hops) / dist`` per landmark (exact — every dist
    divides the lcm) and divides once at the end, so the result is
    bit-identical regardless of partial-aggregation order and across
    engines; a float ``Σ 1/dist`` would be summation-order-dependent.
    That argument holds only for ``1 <= max_hops <= MAX_BFS_HOPS``;
    anything else raises ``ValueError``.
    """
    from math import lcm

    _check_max_hops(max_hops)
    unit = lcm(*range(1, max_hops + 1))
    lmk = select_landmarks(edges, n_landmarks)
    d = multi_source_bfs(edges, lmk, max_hops=max_hops)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_reached"),
            F.round(
                F.sum((F.lit(unit) / F.col("dist")).cast("long"))
                / F.lit(float(unit)),
                6,
            ).alias("harmonic"),
        )
    )


def wl_role_labels(
    edges: DataFrame, rounds: int = 2, signature: str = "sorted"
) -> DataFrame:
    """Weisfeiler–Leman role discovery: structural-equivalence classes
    after ``rounds`` of neighborhood-label refinement over the directed
    multigraph — the classic primitive behind KG schema induction and
    role mining (two entities share a role iff their r-hop neighborhood
    *shapes* agree, edge multiplicities included).

    Refinement starts uniform and each round rewrites every vertex
    label as::

        md5(lab(v) | in-multiset signature | out-multiset signature)

    where each piece is a neighbor's ``lab(u):n`` with ``n`` the
    (src, dst) edge-instance count. Two signature constructions:

    * ``signature="sorted"`` (default, the ORACLE form):
      ``sort_array(collect_list(...))`` concatenation — deterministic
      under any partition order and byte-identical to a DuckDB
      ``string_agg(... ORDER BY ...)`` mirror. Its cost is the
      materialized neighbor array: a HUB vertex's signature is
      O(degree) — fine at vocabulary scale, a straggler/memory hazard
      on a head-skewed web graph.
    * ``signature="hashsum"`` (the SCALE form): the multiset folds to
      ``Σ xxhash64(piece)`` accumulated in decimal(38,0) (exact — the
      same order-independent fingerprint discipline as the CC
      convergence check, canonicalize.py) rendered as its decimal
      string. Per-vertex state is O(1) regardless of degree, the
      aggregate partial-combines, and hub skew collapses into partial
      sums. Classes agree with ``sorted`` up to hash collisions: a
      single 64-bit xxhash sum has a birthday bound of about 2^32, so
      among n distinct signatures some pair collides with probability
      about n²/2^65, and a silent class merge becomes likely near 2^32
      (about 4·10^9) distinct signatures. Agreement is asserted on
      random graphs in tests.

    Per round: two joins of the label state onto the counted edge table
    (in- and out-direction) + two partial-combined signature aggregates
    + one assembly join — all keyed on entity/src/dst, state one short
    string per vertex (vocabulary-sized). The counted edge table is
    computed once and persisted; lineage truncates per round. Returns
    ``(entity, role, class_size)`` where ``class_size`` is the number
    of entities sharing the final label.
    """
    if signature not in ("sorted", "hashsum"):
        raise ValueError(f"unknown signature mode: {signature!r}")
    ecnt = (
        edges.select("src", "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    nodes = (
        ecnt.select(F.col("src").alias("entity"))
        .unionByName(ecnt.select(F.col("dst").alias("entity")))
        .distinct()
    )
    lab = nodes.withColumn("lab", F.lit("")).transform(_ckpt(eager=True))

    def _sig(col):
        if signature == "sorted":
            return F.concat_ws(",", F.sort_array(F.collect_list(col)))
        return F.sum(
            F.xxhash64(col).cast("decimal(38,0)")
        ).cast("string")

    for _ in range(rounds):
        piece = F.concat_ws(":", F.col("lab"), F.col("n"))
        in_sig = (
            ecnt.join(lab.withColumnRenamed("entity", "src"), on="src")
            .groupBy(F.col("dst").alias("entity"))
            .agg(_sig(piece).alias("in_sig"))
        )
        out_sig = (
            ecnt.join(lab.withColumnRenamed("entity", "dst"), on="dst")
            .groupBy(F.col("src").alias("entity"))
            .agg(_sig(piece).alias("out_sig"))
        )
        lab = (
            lab.join(in_sig, on="entity", how="left")
            .join(out_sig, on="entity", how="left")
            .select(
                "entity",
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("lab"),
                        F.coalesce("in_sig", F.lit("")),
                        F.coalesce("out_sig", F.lit("")),
                    )
                ).alias("lab"),
            )
            .transform(_ckpt(eager=False))
        )
    sizes = lab.groupBy("lab").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    out = lab.join(sizes, on="lab").select(
        "entity", F.col("lab").alias("role"), "class_size"
    ).transform(_ckpt(eager=True))
    ecnt.unpersist()
    return out
