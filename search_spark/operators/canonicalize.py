"""Stage 6 — canonicalization via distributed connected components.

Entities that share an ontology concept or an alias must collapse to one
canonical id before triples materialize. The alias/similarity graph is an
edge DataFrame; components are computed with the **alternating
large-star / small-star** algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14 — the algorithm GraphFrames/GraphX use for
`connectedComponents`), implemented directly over DataFrame ops:

  * ``large_star``: every node points its larger neighbors at the minimum of
    its neighborhood (including itself);
  * ``small_star``: every node points its not-larger neighbors (and itself)
    at that minimum;
  * iterate until the edge multiset stops changing. Each iteration ends in
    ``checkpoints.truncate`` (strategy-switchable: localCheckpoint or
    reliable file checkpoint — see search_spark/checkpoints.py) to cut the growing lineage (SURVEY.md §7.3).

Node ids are strings; ``min`` is lexicographic, which is a total order —
all that convergence needs. The reference has no distributed equivalent
(its canonical ids are whatever the ontology says); this is the scale piece
the north rule adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_spark.checkpoints import chain as _ckpt
from search_spark.session import local_df


def _symmetrize(edges: DataFrame) -> DataFrame:
    a, b = edges.columns[0], edges.columns[1]
    fwd = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    rev = edges.select(F.col(b).alias("u"), F.col(a).alias("v"))
    return fwd.unionByName(rev).filter(F.col("u") != F.col("v")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    # Neighborhoods are over the *undirected* graph → symmetrize first
    # (every iteration — the star steps emit directed edges).
    sym = _symmetrize(edges)
    # m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    # operate on canonical direction u ≥ v; m = min(Γ≤(u) ∪ {u});
    # emit (x, m) for x ∈ Γ≤(u) ∪ {u}, x ≠ m
    canon = sym.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = canon.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    nbrs = canon.join(mins, on="u").select(
        F.col("v").alias("x"), F.col("m").alias("m")
    )
    selfs = mins.select(F.col("u").alias("x"), F.col("m").alias("m"))
    return (
        nbrs.unionByName(selfs)
        .filter(F.col("x") != F.col("m"))
        .select(F.col("x").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


_EDGES_PER_PARTITION = 2_000_000


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive hash-sum) of a distinct edge set — one tiny
    aggregation job on already-checkpointed data."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a sum of int64 hashes overflows long
        # under ANSI mode; decimal has 38 digits of headroom
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_components(edge_rows: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find with min-representative semantics — exactly
    the partition + representative the distributed loop converges to."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


LOCAL_CC_THRESHOLD = 100_000


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    local_threshold: int = LOCAL_CC_THRESHOLD,
) -> DataFrame:
    """Compute components of an undirected string-id edge list.

    Parameters
    ----------
    edges
        DataFrame with columns ``src``, ``dst``.
    local_threshold
        The distinct raw ``(src, dst)`` edges are checkpointed once and
        counted. At or below this count the iterative loop is skipped:
        the edges collect from that checkpoint and a driver union-find
        computes the identical mapping in one pass (same adaptive
        principle as AQE's broadcast-join conversion — an alias graph of
        distinct surface forms is usually tiny even when the corpus is
        not). The result is then a local relation built from the driver
        rows, so the node set is never derived again. Set ``0`` to force
        the distributed path.

    Returns
    -------
    DataFrame ``(id, component)`` — every node that appears in any edge,
    mapped to its component representative (the lexicographic minimum).
    A node whose only edges are self-loops maps to itself; a NULL
    endpoint is one ``(NULL, NULL)`` row and links nothing.

    The distributed path: each iteration materializes via
    ``checkpoints.truncate`` (cuts lineage) and the loop's shuffle width adapts
    to the live edge count — a billion-edge alias graph gets hundreds of
    partitions, the sandbox's tiny graph gets one, so driver-loop overhead
    stays proportional to the data. Convergence test: (count, hash-sum)
    fingerprint of the checkpointed edge set — one cheap agg job per
    iteration instead of two ``exceptAll`` plans; an (astronomically
    unlikely) hash collision is caught by the exact ``exceptAll``
    confirmation run once at apparent convergence.
    """
    spark = edges.sparkSession
    # lazy checkpoint: the gate's count is the job that materializes it
    raw = edges.select("src", "dst").distinct().transform(_ckpt(eager=False))
    nodes = (
        raw.select(F.col("src").alias("id"))
        .unionByName(raw.select(F.col("dst").alias("id")))
        .distinct()
    )
    if raw.count() <= local_threshold:
        # tiny edge set → one driver pass replaces ~4 iterations × ~6
        # Spark jobs each; the mapping ships back as a LocalTableScan
        ids: set = set()
        links = []
        for src, dst in raw.collect():
            ids.update((src, dst))
            # the distributed path drops self-loops and NULL endpoints
            # in _symmetrize (u != v is never true for a NULL)
            if src is not None and dst is not None and src != dst:
                links.append((src, dst))
        comp = _local_components(links)
        rows = [(x, comp.get(x, x)) for x in sorted(ids - {None})]
        if None in ids:
            rows.append((None, None))
        t = nodes.schema["id"].dataType.simpleString()
        return local_df(spark, rows, f"id {t}, component {t}")
    # canonical (greater → smaller) direction; the star steps re-symmetrize.
    # eager=False + fingerprint fuses truncation and convergence check
    # into ONE action: the fingerprint aggregate is the job that
    # materializes the checkpoint (VERDICT r4 item 6 — jobs/round is
    # what bounds small-graph iterative efficiency).
    cur = (
        _symmetrize(raw)
        .filter(F.col("u") > F.col("v"))
        .transform(_ckpt(eager=False))
    )
    n_cur, h_cur = _fingerprint(cur)
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Width is scoped per-DataFrame (explicit repartition after each
    # checkpoint) rather than by mutating the session-global shuffle conf —
    # a concurrent query on the same session must never inherit a narrowed
    # width. The intermediate groupBy/join exchanges inside the star steps
    # still plan at session width, but AQE partition coalescing (enabled in
    # session.get_spark) collapses them at runtime for tiny edge sets.
    p = max(1, min(width, -(-n_cur // _EDGES_PER_PARTITION)))
    if p < width:
        cur = cur.repartition(p).transform(_ckpt(eager=True))
    for _ in range(max_iterations):
        after_large = _large_star(cur)
        # small-star output is always (greater → smaller), like `cur`;
        # lazy truncation — the fingerprint below is the round's single
        # materializing action (checkpoint persists inside that job)
        after_small = (
            _small_star(after_large).repartition(p).transform(
                _ckpt(eager=False)
            )
            if p < width
            else _small_star(after_large).transform(_ckpt(eager=False))
        )
        n_new, h_new = _fingerprint(after_small)
        if (n_new, h_new) == (n_cur, h_cur):
            # hash says stable → confirm exactly once
            if (
                after_small.exceptAll(cur).isEmpty()
                and cur.exceptAll(after_small).isEmpty()
            ):
                cur = after_small
                break
        cur = after_small
        n_cur, h_cur = n_new, h_new
    # after convergence every edge is (node → its component min)
    mapping = cur.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), "component"
    )
    return (
        nodes.join(mapping, on="id", how="left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def canonical_mapping(
    linked_mentions: DataFrame, concepts: DataFrame
) -> DataFrame:
    """Build the surface-form → canonical-id mapping.

    Edges:
      * surface form → linked concept_id (from the linking stage),
      * concept ↔ concept for concepts sharing a lowercased alias
        (FIXTURES.md §4 — the merge cases for canonicalization).

    Returns ``(form, canonical_id)`` — small (distinct forms), meant to be
    broadcast onto the triple stream.
    """
    form_edges = (
        linked_mentions.filter(F.col("concept_id").isNotNull())
        .select(
            F.lower(F.col("mention")).alias("src"),
            F.col("concept_id").alias("dst"),
        )
        .distinct()
    )
    alias_pairs = concepts.select(
        "concept_id", F.explode("aliases").alias("alias")
    ).select("concept_id", F.lower(F.col("alias")).alias("alias"))
    a1 = alias_pairs.withColumnRenamed("concept_id", "src")
    a2 = alias_pairs.withColumnRenamed("concept_id", "dst")
    concept_edges = (
        a1.join(a2, on="alias")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    comps = connected_components(form_edges.unionByName(concept_edges))
    return comps.select(F.col("id").alias("form"), F.col("component").alias("canonical_id"))


def sameas_components(
    sameas: DataFrame,
    max_iterations: int = 25,
    local_threshold: int = LOCAL_CC_THRESHOLD,
) -> DataFrame:
    """Close pairwise ``(a, b)`` sameAs links into equivalence classes:
    ``(node, component)`` with the lexicographic minimum as
    representative (components run on the sameAs node set ≪ triples)."""
    edges = sameas.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comps = connected_components(edges, max_iterations, local_threshold)
    return comps.select(F.col("id").alias("node"), "component")


def sameas_apply(df: DataFrame, components: DataFrame) -> DataFrame:
    """Rewrite ``subj``/``obj`` through a ``(node, component)`` mapping,
    preserving every other column and the row count — the
    schema-preserving form the snapshot pipeline uses (provenance rows
    survive the merge; aggregation is the caller's choice). The mapping
    join is count-gated for broadcast: an open-web-sized equivalence set
    falls back to AQE's strategy instead of a forced driver OOM."""
    from search_spark.joins import maybe_broadcast

    mapping = maybe_broadcast(components, components.count())
    others = [c for c in df.columns if c not in ("subj", "obj")]
    out = df.join(
        mapping.select(
            F.col("node").alias("subj"), F.col("component").alias("_srep")
        ),
        on="subj",
        how="left",
    ).join(
        mapping.select(
            F.col("node").alias("obj"), F.col("component").alias("_orep")
        ),
        on="obj",
        how="left",
    )
    return out.select(
        F.coalesce("_srep", "subj").alias("subj"),
        F.coalesce("_orep", "obj").alias("obj"),
        *others,
    ).select(df.columns)


def sameas_rewrite(
    triples: DataFrame,
    sameas: DataFrame,
    max_iterations: int = 25,
    local_threshold: int = LOCAL_CC_THRESHOLD,
) -> DataFrame:
    """Consolidate a KG through an owl:sameAs equivalence set.

    The last step of entity resolution: after identity inference produces
    pairwise ``sameAs`` links (``(a, b)`` columns — e.g. the output of
    :func:`search_spark.operators.blocking.ifp_candidates`), close them
    into equivalence classes and rewrite every triple's subject and object
    to the class representative (lexicographic minimum), merging the
    records. The reference keeps one row per entity after canonicalization
    (SURVEY §2: canonicalization stage); this operator is that merge
    expressed for arbitrary (subj, pred, obj) graphs.

    Returns ``(subj, pred, obj, n_sources)`` — distinct rewritten facts;
    ``n_sources`` counts the distinct *original* subjects asserting the
    fact, the provenance weight fusion uses downstream.

    Scale shape: components run on the sameAs node set (≪ triples); the
    node→rep mapping joins onto the triple stream twice with a
    count-gated broadcast hint — at web scale an oversized mapping falls
    back to AQE's choice instead of a forced driver OOM.
    """
    comps = sameas_components(sameas, max_iterations, local_threshold)
    t = triples.select(
        "subj", "pred", "obj", F.col("subj").alias("orig_subj")
    )
    return (
        sameas_apply(t, comps)
        .groupBy("subj", "pred", "obj")
        .agg(F.count_distinct("orig_subj").cast("int").alias("n_sources"))
    )
