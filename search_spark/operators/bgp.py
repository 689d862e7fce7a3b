"""Basic-graph-pattern (SPARQL-style) matching over the triple table.

The reference materializes ``(subj, pred, obj, prov)`` rows into its mining
cache (``database/mining_cache.py``) and leaves querying to hand-written
SQL in notebooks. A KG engine needs declarative conjunctive queries over
those triples — the SPARQL basic graph pattern: a list of triple patterns
whose terms are either constants or shared variables, answered by the set
of variable bindings satisfying every pattern.

Spark-first formulation: each triple pattern becomes one scan of the triple
table with its constant terms applied as filters (Catalyst pushes them into
the parquet scan) and its variable terms projected under the variable
name; patterns then inner-join left-to-right on whichever variables they
share with the patterns already joined. Per-pattern ``distinct`` runs
before the join (set semantics over the triple graph — provenance rows
collapse) so the partial-aggregated dedup shuffle shrinks each side before
the join shuffle, and AQE turns selective patterns (constant-bound ones)
into broadcast sides at runtime.

At scale the plan holds: no pattern is ever cross-joined (a pattern that
shares no variable with the accumulated bindings raises — cartesian BGPs
are a query bug, not a physical strategy), each join hash-partitions on
bound variables, and constant filters prune at the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_spark.checkpoints import chain as _ckpt

_POSITIONS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _pattern_scan(
    triples: DataFrame,
    pattern: Sequence[str],
    graph_var: str | None = None,
) -> DataFrame:
    """One triple pattern → filtered scan projecting its variable columns.

    With ``graph_var``, the input carries a graph-label column of that
    name (see :func:`match_bgp`); every scan projects it, so it joins
    like a variable every pattern shares — SPARQL's same-graph rule.
    """
    if len(pattern) != 3:
        raise ValueError(f"triple pattern must have 3 terms, got {pattern!r}")
    scan = triples
    proj: dict[str, str] = {}  # var name -> triple column
    for col, term in zip(_POSITIONS, pattern):
        if _is_var(term):
            var = term[1:]
            if not var:
                raise ValueError(f"empty variable name in {pattern!r}")
            if var in proj:
                # repeated variable inside one pattern, e.g. (?x, p, ?x)
                scan = scan.filter(F.col(proj[var]) == F.col(col))
            else:
                proj[var] = col
        else:
            scan = scan.filter(F.col(col) == F.lit(term))
    if graph_var is not None:
        if graph_var in proj:
            # (?g, p, ?g)-style reuse of the graph variable inside the
            # pattern: graph label must equal that term
            scan = scan.filter(F.col(proj[graph_var]) == F.col(graph_var))
        else:
            proj[graph_var] = graph_var
    if not proj:
        raise ValueError(f"pattern {pattern!r} binds no variables")
    return scan.select(
        *[F.col(src).alias(var) for var, src in proj.items()]
    ).distinct()


def _shared_vars(scan: DataFrame, bound: list[str], pattern) -> list[str]:
    shared = [c for c in scan.columns if c in bound]
    if not shared:
        raise ValueError(
            f"pattern {tuple(pattern)!r} shares no variable with "
            f"already-bound {bound} — cartesian BGPs are not supported"
        )
    return shared


def order_patterns(
    patterns: Sequence[Sequence[str]],
    pred_counts: dict[str, int],
    total: int,
) -> list[Sequence[str]]:
    """Greedy selectivity-based join order for a BGP.

    Classic textbook heuristic: estimate each pattern's cardinality from
    the predicate's triple count (``total`` when the predicate is a
    variable), discounted 10× per additional bound constant, then start
    from the cheapest pattern and repeatedly append the cheapest pattern
    *connected* to the variables bound so far (disconnected patterns are
    deferred, preserving the no-cartesian property; if the BGP itself is
    disconnected the remaining patterns are appended in estimate order
    and :func:`match_bgp` raises as usual). Ties break on the original
    position, so the order is deterministic.
    """

    def estimate(p: Sequence[str]) -> float:
        s, pred, o = p
        est = float(pred_counts.get(pred, 0) if not _is_var(pred) else total)
        for term in (s, o):
            if not _is_var(term):
                est /= 10.0
        return est

    ranked = sorted(
        range(len(patterns)), key=lambda i: (estimate(patterns[i]), i)
    )
    chosen: list[int] = []
    bound: set[str] = set()
    remaining = list(ranked)
    while remaining:
        nxt = next(
            (
                i
                for i in remaining
                if bound
                & {t[1:] for t in patterns[i] if _is_var(t)}
            ),
            None,
        )
        if nxt is None:
            # disconnected BGP — keep estimate order and let match_bgp
            # raise its usual no-cartesian error
            nxt = remaining[0]
        chosen.append(nxt)
        remaining.remove(nxt)
        bound |= {t[1:] for t in patterns[nxt] if _is_var(t)}
    return [patterns[i] for i in chosen]


def _connect_order(patterns: Sequence[Sequence[str]]) -> list:
    """Stable greedy reordering so every pattern joins on a variable it
    shares with those before it whenever the BGP's variable graph is
    connected — a valid SPARQL BGP need not be written join-connected
    in order (blank-node property lists routinely aren't). Inner joins
    commute, so this changes the plan, never the answer; a genuinely
    disconnected BGP passes through and the join loop raises its usual
    cartesian error."""
    remaining = list(patterns)
    ordered = [remaining.pop(0)]
    bound = {t[1:] for t in ordered[0] if _is_var(t)}
    while remaining:
        for i, pat in enumerate(remaining):
            if any(_is_var(t) and t[1:] in bound for t in pat):
                ordered.append(remaining.pop(i))
                bound |= {t[1:] for t in pat if _is_var(t)}
                break
        else:
            ordered.extend(remaining)
            break
    return ordered


def match_bgp(
    triples: DataFrame,
    patterns: Sequence[Sequence[str]],
    optional: Sequence[Sequence[str]] = (),
    not_exists: Sequence[Sequence[str]] = (),
    optimize: bool = False,
    graph_var: str | None = None,
) -> DataFrame:
    """Match a conjunction of triple patterns; one column per variable.

    ``triples`` needs columns ``subj, pred, obj`` (extra columns such as
    ``prov`` are ignored). Each pattern is a ``(subj, pred, obj)`` triple
    of terms; terms starting with ``?`` are variables, anything else is a
    constant. Returns the DISTINCT bindings of all variables, columns in
    order of first appearance across the patterns.

    ``graph_var`` implements SPARQL's ``GRAPH ?g { ... }``: the triple
    DataFrame's ``prov`` column (the engine's graph label, NULL for the
    default graph) is projected onto every pattern scan under that
    variable name. Named-graph quads only (``prov IS NOT NULL``), and
    because every scan then shares the variable, the joins enforce the
    same-graph rule — all patterns of the block match within one graph
    per binding of ``?g`` — with no per-graph loop and no extra shuffle
    beyond the ordinary variable joins.

    ``optional`` patterns are SPARQL ``OPTIONAL { ... }`` blocks of one
    pattern each: left-joined on the variables they share with the
    bindings so far, their new variables NULL where unmatched. They may
    chain (a later optional may join on a variable a previous one bound);
    the join is plain equality, so a NULL introduced by an earlier
    optional never matches.

    ``not_exists`` patterns are SPARQL ``FILTER NOT EXISTS { ... }``:
    bindings with at least one match are dropped (anti-join on the shared
    variables; the pattern's other variables are existential). Applied
    after all required and optional patterns, per SPARQL evaluation order.

    Patterns must form a connected variable graph (in any written
    order — a stable greedy pass join-connects them first, seeded on
    the first pattern): a disconnected BGP is a cartesian product, and
    raises instead of silently building one.

    ``optimize=True`` reorders the required patterns by estimated
    selectivity before joining (:func:`order_patterns`); the statistics
    are one predicate-count aggregate over the triples — a
    predicate-vocabulary-sized collect, the RDF-store equivalent of table
    statistics. Results are order-independent (inner joins commute), so
    this only changes the plan, never the answer; output columns still
    follow the *caller's* pattern order.
    """
    if not patterns:
        raise ValueError("empty basic graph pattern")
    if graph_var is not None:
        if "prov" not in triples.columns:
            raise ValueError(
                "graph_var needs a 'prov' column on the triple DataFrame "
                "(the engine's graph label)"
            )
        base = (
            triples.filter(F.col("prov").isNotNull())
            .select("subj", "pred", "obj", F.col("prov").alias(graph_var))
        )
    else:
        base = triples.select("subj", "pred", "obj")
    caller_vars = ([graph_var] if graph_var is not None else []) + [
        t[1:]
        for pattern in list(patterns) + list(optional)
        for t in pattern
        if _is_var(t) and t[1:]
    ]
    if optimize:
        stats = base.groupBy("pred").count().collect()
        pred_counts = {r["pred"]: r["count"] for r in stats}
        patterns = order_patterns(
            patterns, pred_counts, sum(pred_counts.values())
        )
    patterns = _connect_order(patterns)
    out = _pattern_scan(base, patterns[0], graph_var)
    bound = list(out.columns)
    for pattern in patterns[1:]:
        scan = _pattern_scan(base, pattern, graph_var)
        out = out.join(scan, on=_shared_vars(scan, bound, pattern), how="inner")
        bound += [c for c in scan.columns if c not in bound]
    for pattern in optional:
        scan = _pattern_scan(base, pattern, graph_var)
        out = out.join(scan, on=_shared_vars(scan, bound, pattern), how="left")
        bound += [c for c in scan.columns if c not in bound]
    for pattern in not_exists:
        scan = _pattern_scan(base, pattern, graph_var)
        shared = _shared_vars(scan, bound, pattern)
        # other vars in the pattern are existential — anti on shared only
        out = out.join(scan.select(*shared), on=shared, how="left_anti")
    # joins (and optimize's reordering) shuffle columns around; restore
    # the caller's first-appearance order, dedup bindings
    order = []
    for v in caller_vars:
        if v not in order and v in bound:
            order.append(v)
    return out.select(*order).distinct()


def construct(
    triples: DataFrame,
    patterns: Sequence[Sequence[str]],
    template: Sequence[Sequence[str]],
    optional: Sequence[Sequence[str]] = (),
    not_exists: Sequence[Sequence[str]] = (),
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: match a BGP, emit templated triples.

    Every binding of ``patterns`` (plus ``optional``/``not_exists``, see
    :func:`match_bgp`) instantiates each ``(subj, pred, obj)`` entry of
    ``template`` — terms starting with ``?`` substitute the bound
    variable, anything else is a constant. Returns the DISTINCT derived
    ``(subj, pred, obj)`` rows. Bindings where a template variable is
    NULL (possible via ``optional``) are dropped, matching SPARQL's
    incomplete-instantiation rule.
    """
    bindings = match_bgp(
        triples, patterns, optional=optional, not_exists=not_exists
    )
    return instantiate_template(bindings, template)


def instantiate_template(
    bindings: DataFrame, template: Sequence[Sequence[str]]
) -> DataFrame:
    """Instantiate a CONSTRUCT template over precomputed bindings (one
    column per variable) — the second half of :func:`construct`, exposed
    so callers that post-filter bindings (the SPARQL compiler's FILTER
    clauses) reuse the same instantiation rules."""
    bound = set(bindings.columns)
    outs = []
    for entry in template:
        if len(entry) != 3:
            raise ValueError(f"template entry must have 3 terms: {entry!r}")
        cols = []
        guards = []
        for col, term in zip(_POSITIONS, entry):
            if _is_var(term):
                var = term[1:]
                if var not in bound:
                    raise ValueError(
                        f"template variable ?{var} is not bound by the BGP"
                    )
                cols.append(F.col(var).alias(col))
                guards.append(F.col(var).isNotNull())
            else:
                cols.append(F.lit(term).alias(col))
        one = bindings
        for g in guards:
            one = one.filter(g)
        outs.append(one.select(*cols))
    if not outs:
        raise ValueError("empty CONSTRUCT template")
    out = outs[0]
    for other in outs[1:]:
        out = out.unionByName(other)
    return out.distinct()


def forward_chain(
    triples: DataFrame,
    rules: Sequence[tuple[Sequence[Sequence[str]], Sequence[Sequence[str]]]],
    max_rounds: int = 5,
) -> DataFrame:
    """Apply CONSTRUCT rules to a bounded fixpoint (RDFS-lite inference).

    ``rules`` is a list of ``(patterns, template)`` pairs. Each round
    evaluates every rule against the *current* triple set (base plus
    everything derived so far) and unions in the new triples; iteration
    stops when a round derives nothing new or after ``max_rounds``.
    Because the rules are monotone, a run that reaches fixpoint early is
    identical to one that executes all rounds — the unrolled-CTE oracle
    relies on exactly this.

    Per-round state is the distinct triple set: lineage truncates with a
    lazy ``checkpoints.truncate`` (strategy-switchable: localCheckpoint or
    reliable file checkpoint — see search_spark/checkpoints.py) (the same loop discipline as
    connected-components and PageRank) and the convergence check is one
    count per round — a scalar, not a collect of the data — which is
    also the job that materializes the round's checkpoint.

    Returns the closed triple set ``(subj, pred, obj)``.
    """
    # lazy checkpoints: each round's count is the one job that
    # materializes that round's state
    current = triples.select("subj", "pred", "obj").distinct().transform(
        _ckpt(eager=False)
    )
    n = current.count()
    for _ in range(max_rounds):
        derived = None
        for patterns, template in rules:
            d = construct(current, patterns, template)
            derived = d if derived is None else derived.unionByName(d)
        if derived is None:
            break
        current = (
            current.unionByName(derived)
            .distinct()
            .transform(_ckpt(eager=False))
        )
        n_new = current.count()
        if n_new == n:
            break
        n = n_new
    return current


def ask(
    triples: DataFrame,
    patterns: Sequence[Sequence[str]],
    optional: Sequence[Sequence[str]] = (),
    not_exists: Sequence[Sequence[str]] = (),
) -> bool:
    """SPARQL ``ASK``: does the BGP have at least one solution?

    Evaluates :func:`match_bgp` under a LIMIT 1 — Spark's LocalLimit
    short-circuits each partition at the first row, so the scan stops as
    soon as any binding exists instead of materializing the solution set.
    """
    bindings = match_bgp(
        triples, patterns, optional=optional, not_exists=not_exists
    )
    return bindings.limit(1).count() > 0


def describe(triples: DataFrame, resource: str) -> DataFrame:
    """SPARQL ``DESCRIBE``: every triple mentioning ``resource``.

    One scan with an OR-of-equalities predicate (subj, pred, or obj equals
    the resource) — pushed to the parquet reader as a single filter, no
    join, no shuffle. Extra columns (``prov``, ``url``) pass through so
    the description keeps its provenance.
    """
    r = F.lit(resource)
    return triples.filter(
        (F.col("subj") == r) | (F.col("pred") == r) | (F.col("obj") == r)
    )


def describe_bound(triples: DataFrame, resources: DataFrame) -> DataFrame:
    """SPARQL ``DESCRIBE ?v WHERE { ... }``: every triple mentioning any
    resource in the (one-column) bound set.

    Three position-wise *equi* semi-joins unioned and de-duplicated —
    never an OR-join (which Catalyst can only nested-loop) and never a
    driver-side collect of the resource list. The resource set is a
    WHERE-restricted entity list, usually small, so AQE broadcasts each
    semi-join; at worst they are shuffled hash joins. A triple matched in
    more than one position collapses to one row (set semantics — this
    also collapses pre-existing duplicate provenance rows, same as every
    other binding surface in this module).
    """
    r = resources.select(
        F.col(resources.columns[0]).alias("__r")
    ).distinct()
    parts = [
        triples.join(r, on=triples[c] == r["__r"], how="left_semi")
        for c in ("subj", "pred", "obj")
    ]
    return parts[0].unionByName(parts[1]).unionByName(parts[2]) \
        .dropDuplicates()
