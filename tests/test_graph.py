"""Graph analytics over the triple table (operators/graph.py).

The reference materializes triples and leaves graph analysis to notebooks;
these operators make hub detection, PageRank, and two-hop expansion
engine-native. Ground truth: numpy power iteration (pagerank) and
hand-computed adjacency facts (degrees, two-hop).
"""

import math
import numpy as np
import pytest

from search_spark.operators.graph import (
    entity_degrees,
    incremental_pagerank,
    pagerank,
    triangle_counts,
    two_hop,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


# deterministic digraph: 8 nodes, cycles, a dangling sink, parallel paths
EDGE_SET = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"),
    ("d", "e"), ("e", "a"), ("e", "f"), ("f", "g"), ("g", "e"),
    ("b", "h"),  # h is dangling (no out-edges)
    ("a", "d"), ("d", "b"),
]


def _numpy_pagerank(edges, n_iter=10, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in set(edges):
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1 - d) / n)
        dangling = r[out == 0].sum()
        nxt += d * dangling / n
        for u, v in set(edges):
            nxt[idx[v]] += d * r[idx[u]] / out[idx[u]]
        r = nxt
    return dict(zip(nodes, r))


@pytest.mark.parametrize("local_threshold", [100_000, 0])
def test_pagerank_matches_numpy_power_iteration(spark, local_threshold):
    """local_threshold=0 forces the distributed join-aggregate loop; the
    default takes the driver fallback — both must match the independent
    numpy power iteration exactly (same double math)."""
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(
            _edges_df(spark, EDGE_SET),
            n_iter=10,
            local_threshold=local_threshold,
        ).collect()
    }
    want = _numpy_pagerank(EDGE_SET, n_iter=10)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_empty_edges(spark):
    df = _edges_df(spark, [("a", "b")]).filter("src = 'zzz'")
    assert pagerank(df).collect() == []


def test_pagerank_duplicate_edges_collapse(spark):
    # the operator works on the *distinct* edge set: multigraph input
    # must give identical ranks
    once = {
        r["entity"]: r["rank"]
        for r in pagerank(_edges_df(spark, EDGE_SET), n_iter=5).collect()
    }
    dup = {
        r["entity"]: r["rank"]
        for r in pagerank(
            _edges_df(spark, EDGE_SET + EDGE_SET), n_iter=5
        ).collect()
    }
    for k in once:
        assert dup[k] == pytest.approx(once[k], abs=1e-12)


def _numpy_warm_pagerank(edges, init, n_iter, d=0.85):
    """Warm-started power iteration: previous rank where known, 1/N for
    new vertices, renormalized — the init contract of
    pagerank(init_ranks=...)."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in set(edges):
        out[idx[u]] += 1
    r = np.array([init.get(name, 1.0 / n) for name in nodes])
    r = r / r.sum()
    for _ in range(n_iter):
        nxt = np.full(n, (1 - d) / n)
        nxt += d * r[out == 0].sum() / n
        for u, v in set(edges):
            nxt[idx[v]] += d * r[idx[u]] / out[idx[u]]
        r = nxt
    return dict(zip(nodes, r))


# second batch grows the graph: new vertices i, j and new edges between
# existing ones
EDGE_BATCH_2 = [
    ("h", "i"), ("i", "j"), ("j", "a"), ("b", "i"), ("c", "f"),
]


@pytest.mark.parametrize("local_threshold", [100_000, 0])
def test_incremental_pagerank_warm_start(spark, local_threshold):
    """Two-batch incremental recompute: batch 2 must warm-start from
    batch 1's final ranks (new vertices at 1/N, renormalized). Both the
    driver fallback and the distributed join loop must match the numpy
    simulation of the same schedule."""
    got = {
        r["entity"]: r["rank"]
        for r in incremental_pagerank(
            [_edges_df(spark, EDGE_SET), _edges_df(spark, EDGE_BATCH_2)],
            n_iter_per_batch=3,
            local_threshold=local_threshold,
        ).collect()
    }
    stage1 = _numpy_pagerank(EDGE_SET, n_iter=3)
    want = _numpy_warm_pagerank(
        EDGE_SET + EDGE_BATCH_2, stage1, n_iter=3
    )
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_incremental_single_batch_equals_cold_start(spark):
    cold = {
        r["entity"]: r["rank"]
        for r in pagerank(_edges_df(spark, EDGE_SET), n_iter=4).collect()
    }
    inc = {
        r["entity"]: r["rank"]
        for r in incremental_pagerank(
            [_edges_df(spark, EDGE_SET)], n_iter_per_batch=4
        ).collect()
    }
    for k in cold:
        assert inc[k] == pytest.approx(cold[k], abs=1e-12)


def test_triangle_counts_known_graph(spark):
    # triangles: {a,b,c} and {b,c,d}; reversed duplicate ("b","a") and a
    # multigraph repeat must collapse; (d,e) closes no triangle
    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("c", "d"),
        ("b", "a"), ("a", "b"), ("d", "e"),
    ]
    got = {
        r["entity"]: r["n_triangles"]
        for r in triangle_counts(_edges_df(spark, edges)).collect()
    }
    assert got == {"a": 1, "b": 2, "c": 2, "d": 1}


def test_triangle_counts_no_triangles(spark):
    # a path graph has wedges but no closures
    got = triangle_counts(
        _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    ).collect()
    assert got == []


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangle_counts_random_graphs_vs_bruteforce(spark, seed):
    """Randomized check of the degree-ordered wedge join against an
    itertools brute force over the canonical undirected simple graph
    (self-loops dropped, duplicates/reversals collapsed)."""
    import random
    from itertools import combinations

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(14)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
    ]
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    want: dict[str, int] = {}
    verts = sorted({v for e in und for v in e})
    for a, b, c in combinations(verts, 3):
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    got = {
        r["entity"]: r["n_triangles"]
        for r in triangle_counts(_edges_df(spark, edges)).collect()
    }
    assert got == want


def test_entity_degrees_weighted_and_distinct(spark):
    # b->c twice (weighted 2, distinct 1); d has in-edges only
    rows = {
        r["entity"]: r
        for r in entity_degrees(
            _edges_df(
                spark, [("b", "c"), ("b", "c"), ("b", "d"), ("c", "d")]
            )
        ).collect()
    }
    assert rows["b"]["out_edges"] == 3 and rows["b"]["out_neighbors"] == 2
    assert rows["b"]["in_edges"] == 0 and rows["b"]["in_neighbors"] == 0
    assert rows["c"]["in_edges"] == 2 and rows["c"]["in_neighbors"] == 1
    assert rows["d"]["in_edges"] == 2 and rows["d"]["in_neighbors"] == 2


def test_two_hop_counts_paths_and_excludes_cycles(spark):
    # a->b->c and a->d->c: two paths a=>c; a->b->a excluded (src == dst)
    got = {
        (r["src"], r["dst"]): r["n_paths"]
        for r in two_hop(
            _edges_df(
                spark,
                [("a", "b"), ("b", "c"), ("a", "d"), ("d", "c"), ("b", "a")],
            )
        ).collect()
    }
    # a=>c via b and via d (2 paths); b=>d via a; a->b->a and b->a->b are
    # cycles back to the origin and excluded; c has no out-edges
    assert got == {("a", "c"): 2, ("b", "d"): 1}


def test_graph_query_plans_are_jvm_only(spark):
    from search_spark.queries import QUERIES
    from tests.test_plans import plan_of

    for name in ["kg_entity_degree", "kg_two_hop", "kg_triangles"]:
        plan = plan_of(QUERIES[name].spark(spark, "/root/testdata/sf0.001"))
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
        assert "CartesianProduct" not in plan
        assert "partial" in plan.lower() or "HashAggregate" in plan


def test_label_propagation_plan_is_jvm_only(spark):
    """The per-round LPA plan (checkpointing disabled so lineage stays
    inspectable) must be pure JVM join-aggregate — no Python eval, no
    cartesian, partial aggregation present for the vote counts."""
    from search_spark.operators.graph import label_propagation
    from search_spark.queries import _kg_edge_instances
    from tests.test_plans import plan_of

    out = label_propagation(
        _kg_edge_instances(spark, "/root/testdata/sf0.001"),
        n_iter=2,
        checkpoint=False,
        local_threshold=0,  # force the distributed loop under audit
    )
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan


def _python_lpa(pairs, n_iter):
    """Independent synchronous-LPA ground truth (dict-of-sets)."""
    adj = {}
    nodes = set()
    for u, v in pairs:
        nodes.update((u, v))
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    labels = {n: n for n in nodes}
    for _ in range(n_iter):
        nxt = {}
        for n in nodes:
            nbrs = adj.get(n)
            if not nbrs:
                nxt[n] = labels[n]
                continue
            counts = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            # tie-break: max count, then MIN label
            top = max(counts.values())
            nxt[n] = min(l for l, c in counts.items() if c == top)
        labels = nxt
    return labels


@pytest.mark.parametrize("local_threshold", [100_000, 0])
def test_label_propagation_two_cliques_with_bridge(spark, local_threshold):
    from search_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: LPA should settle each
    # triangle on its own minimum label (threshold 0 forces the
    # distributed join-aggregate loop; the default takes the driver
    # fallback — identical labels)
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("c", "x"),
    ]
    got = {
        r["entity"]: r["community"]
        for r in label_propagation(
            _edges_df(spark, pairs), n_iter=4,
            local_threshold=local_threshold,
        ).collect()
    }
    assert got == _python_lpa(pairs, 4)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["y"] == got["z"]


def test_label_propagation_isolated_self_loop_keeps_own_label(spark):
    from search_spark.operators.graph import label_propagation

    pairs = [("s", "s"), ("a", "b")]
    got = {
        r["entity"]: r["community"]
        for r in label_propagation(_edges_df(spark, pairs), n_iter=3).collect()
    }
    # driver fallback must preserve the self-loop-only vertex too
    assert got == {
        r["entity"]: r["community"]
        for r in label_propagation(
            _edges_df(spark, pairs), n_iter=3, local_threshold=0
        ).collect()
    }
    # the self-loop-only vertex keeps its own label; the a-b pair
    # oscillates under synchronous updates (odd round: swapped labels) —
    # exactly what the independent ground truth computes
    assert got["s"] == "s"
    assert got == _python_lpa(pairs, 3)


@pytest.mark.parametrize("seed", [7, 21])
def test_label_propagation_random_graphs_vs_python(spark, seed):
    from search_spark.operators.graph import label_propagation

    rng = np.random.default_rng(seed)
    names = [f"n{i:02d}" for i in range(18)]
    pairs = [
        (names[int(rng.integers(18))], names[int(rng.integers(18))])
        for _ in range(40)
    ]
    got = {
        r["entity"]: r["community"]
        for r in label_propagation(_edges_df(spark, pairs), n_iter=4).collect()
    }
    assert got == _python_lpa(pairs, 4)


def test_kcore_peel_removes_tails_and_keeps_core(spark):
    from search_spark.operators.graph import kcore_peel

    # triangle a-b-c (2-core) with a pendant chain c-d-e
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    got = {
        r["entity"]: r["degree"]
        for r in kcore_peel(_edges_df(spark, pairs), k=2, n_rounds=4).collect()
    }
    # e peels round 1 (deg 1), then d (deg drops to 1) round 2 —
    # the cascade needs multiple rounds; the triangle survives
    assert got == {"a": 2, "b": 2, "c": 2}


def test_kcore_peel_empty_when_no_core(spark):
    from search_spark.operators.graph import kcore_peel

    # a path graph has no 2-core: it peels away entirely from the ends
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    got = kcore_peel(_edges_df(spark, pairs), k=2, n_rounds=4).collect()
    assert got == []


def _numpy_ppr(edges, seeds, n_iter=10, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in set(edges):
        out[idx[u]] += 1
    tele = np.zeros(n)
    for s in seeds:
        tele[idx[s]] = 1.0 / len(seeds)
    r = tele.copy()
    for _ in range(n_iter):
        nxt = (1 - d) * tele + d * r[out == 0].sum() * tele
        for u, v in set(edges):
            nxt[idx[v]] += d * r[idx[u]] / out[idx[u]]
        r = nxt
    return dict(zip(nodes, r))


@pytest.mark.parametrize("local_threshold", [100_000, 0])
def test_personalized_pagerank_matches_numpy(spark, local_threshold):
    from search_spark.operators.graph import personalized_pagerank

    seeds_df = spark.createDataFrame([("a",), ("e",)], ["entity"])
    got = {
        r["entity"]: r["rank"]
        for r in personalized_pagerank(
            _edges_df(spark, EDGE_SET),
            seeds_df,
            n_iter=8,
            local_threshold=local_threshold,
        ).collect()
    }
    want = _numpy_ppr(EDGE_SET, ["a", "e"], n_iter=8)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # teleport concentrates mass near the seeds
    assert got["a"] > 1.0 / len(got)


def test_personalized_pagerank_unreachable_is_zero(spark):
    from search_spark.operators.graph import personalized_pagerank

    # z -> y is disconnected from the a-b component and unreachable
    pairs = [("a", "b"), ("b", "a"), ("z", "y")]
    got = {
        r["entity"]: r["rank"]
        for r in personalized_pagerank(
            _edges_df(spark, pairs),
            spark.createDataFrame([("a",)], ["entity"]),
            n_iter=6,
        ).collect()
    }
    assert got["z"] == 0.0 and got["y"] == 0.0
    assert got["a"] > 0 and got["b"] > 0


def test_personalized_pagerank_rejects_foreign_seeds(spark):
    from search_spark.operators.graph import personalized_pagerank

    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(
            _edges_df(spark, [("a", "b")]),
            spark.createDataFrame([("zzz",)], ["entity"]),
        ).collect()


def test_link_prediction_shared_contexts(spark):
    from search_spark.operators.graph import link_prediction

    # a and b share contexts z1, z2 but are never linked themselves
    pairs = [("a", "z1"), ("b", "z1"), ("a", "z2"), ("b", "z2")]
    rows = link_prediction(
        _edges_df(spark, pairs), min_common=2, weight_mult=None
    ).collect()
    # symmetric: z1 and z2 likewise share contexts a and b
    assert {(r["a"], r["b"]) for r in rows} == {("a", "b"), ("z1", "z2")}
    r = next(r for r in rows if r["a"] == "a")
    assert r["n_common"] == 2
    # deg(z1) = deg(z2) = 2 -> aa = 2 / ln(2)
    assert r["aa_score"] == pytest.approx(2 / math.log(2), abs=1e-3)
    # deg(a) = deg(b) = 2, union = 2 -> jaccard 1.0
    assert r["jaccard"] == pytest.approx(1.0)


def test_link_prediction_excludes_existing_edges(spark):
    from search_spark.operators.graph import link_prediction

    pairs = [("a", "z1"), ("b", "z1"), ("a", "z2"), ("b", "z2"), ("a", "b")]
    got = link_prediction(
        _edges_df(spark, pairs), min_common=2, weight_mult=None
    ).collect()
    # (a, b) is now an existing edge and must not be suggested; the
    # symmetric (z1, z2) candidate remains
    assert {(r["a"], r["b"]) for r in got} == {("z1", "z2")}


def test_link_prediction_weight_threshold_drops_weak_edges(spark):
    from search_spark.operators.graph import link_prediction

    # (a,b) repeated 8x dominates the mean; every single-count pair is
    # below mean and pruned, so no wedges survive at all
    pairs = [("a", "b")] * 8 + [("a", "z1"), ("b", "z1"), ("a", "z2"), ("b", "z2")]
    assert (
        link_prediction(_edges_df(spark, pairs), min_common=2).count() == 0
    )


def test_link_prediction_hub_cap_skips_stop_entities(spark):
    from search_spark.operators.graph import link_prediction

    # hub connects a,b,c,d (deg 4 > cap 3): no wedges through it — the
    # c/d pairs vanish; wedges through a and b (deg 2) still produce
    # the (hub, z1) suggestion, and z1 produces (a, b)
    pairs = [(x, "hub") for x in "abcd"] + [("a", "z1"), ("b", "z1")]
    got = link_prediction(
        _edges_df(spark, pairs), hub_cap=3, min_common=1, weight_mult=None
    ).collect()
    assert {(r["a"], r["b"]) for r in got} == {("a", "b"), ("hub", "z1")}


def _py_walk_trace(pairs, n_walks, walk_len):
    """Python twin of random_walks: md5-argmin next hop."""
    import hashlib

    adj = {}
    for s, d in pairs:
        u, v = min(s, d), max(s, d)
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    rows = set()
    for ent in adj:
        for w in range(n_walks):
            node = ent
            rows.add((ent, w, 0, node))
            for k in range(1, walk_len + 1):
                node = min(
                    adj[node],
                    key=lambda x: hashlib.md5(
                        f"{ent}:{w}:{k}:{x}".encode()
                    ).hexdigest(),
                )
                rows.add((ent, w, k, node))
    return rows


def test_random_walks_match_python_trace(spark):
    from search_spark.operators.graph import random_walks

    got = {
        (r["entity"], r["walk_no"], r["step"], r["node"])
        for r in random_walks(
            _edges_df(spark, EDGE_SET), n_walks=2, walk_len=4
        ).collect()
    }
    assert got == _py_walk_trace(EDGE_SET, 2, 4)


def test_random_walks_stay_on_edges(spark):
    from search_spark.operators.graph import random_walks

    rows = random_walks(
        _edges_df(spark, EDGE_SET), n_walks=1, walk_len=3
    ).collect()
    und = set()
    for s, d in EDGE_SET:
        und.add((s, d))
        und.add((d, s))
    by_walk = {}
    for r in rows:
        by_walk.setdefault((r["entity"], r["walk_no"]), {})[r["step"]] = r["node"]
    for (ent, _), steps in by_walk.items():
        assert steps[0] == ent
        for k in range(1, len(steps)):
            assert (steps[k - 1], steps[k]) in und


@pytest.mark.parametrize("local_threshold", [100_000, 0])
def test_hits_matches_numpy(spark, local_threshold):
    """local_threshold=0 forces the distributed coupled power iteration;
    the default takes the driver matvec fallback — both must match the
    independent numpy iteration."""
    from search_spark.operators.graph import hits

    nodes = sorted({x for e in EDGE_SET for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in EDGE_SET:
        if s != d:
            A[idx[s], idx[d]] = 1.0
    a = np.ones(len(nodes))
    h = np.ones(len(nodes))
    for _ in range(8):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    got = {
        r["entity"]: (r["authority"], r["hub"])
        for r in hits(
            _edges_df(spark, EDGE_SET),
            n_iter=8,
            local_threshold=local_threshold,
        ).collect()
    }
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n][0] == pytest.approx(a[idx[n]], abs=1e-5)
        assert got[n][1] == pytest.approx(h[idx[n]], abs=1e-5)


@pytest.mark.parametrize("seed", [7, 11])
def test_random_walks_random_graphs_vs_python(spark, seed):
    """Randomized graphs: the distributed min_by walk must trace exactly
    the python md5-argmin twin (hash and ordering agree bit-for-bit)."""
    import random

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(10)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(25)
    ]
    pairs = [p for p in pairs if p[0] != p[1]]
    from search_spark.operators.graph import random_walks

    got = {
        (r["entity"], r["walk_no"], r["step"], r["node"])
        for r in random_walks(
            _edges_df(spark, pairs), n_walks=2, walk_len=3
        ).collect()
    }
    assert got == _py_walk_trace(pairs, 2, 3)


def _py_n2v_trace(pairs, n_walks, walk_len, ret_w, common_w, other_w):
    """Python twin of node2vec_walks: md5-argmin over weight replicas."""
    import hashlib

    adj = {}
    for s, d in pairs:
        u, v = min(s, d), max(s, d)
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    rows = set()
    for ent in adj:
        for wno in range(n_walks):
            prev, node = None, ent
            rows.add((ent, wno, 0, node))
            for k in range(1, walk_len + 1):
                best = None
                for x in adj[node]:
                    if prev is None:
                        w = 1
                    elif x == prev:
                        w = ret_w
                    elif x in adj[prev]:
                        w = common_w
                    else:
                        w = other_w
                    for rep in range(1, w + 1):
                        h = hashlib.md5(
                            f"{ent}:{wno}:{k}:{x}:{rep}".encode()
                        ).hexdigest()
                        if best is None or h < best[0]:
                            best = (h, x)
                prev, node = node, best[1]
                rows.add((ent, wno, k, node))
    return rows


@pytest.mark.parametrize("seed", [5, 9])
def test_node2vec_walks_match_python_trace(spark, seed):
    import random

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(9)]
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(22)]
    pairs = [p for p in pairs if p[0] != p[1]]
    from search_spark.operators.graph import node2vec_walks

    got = {
        (r["entity"], r["walk_no"], r["step"], r["node"])
        for r in node2vec_walks(
            _edges_df(spark, pairs),
            n_walks=2,
            walk_len=3,
            ret_w=1,
            common_w=4,
            other_w=1,
        ).collect()
    }
    assert got == _py_n2v_trace(pairs, 2, 3, 1, 4, 1)


def test_node2vec_zero_return_weight_never_backtracks(spark):
    # ret_w=0 -> sequence(1, 0) is empty: the return candidate simply
    # vanishes, so a 3+-cycle walk can never step back to prev
    from search_spark.operators.graph import node2vec_walks

    pairs = [("a", "b"), ("b", "c"), ("c", "a")]
    rows = node2vec_walks(
        _edges_df(spark, pairs), n_walks=2, walk_len=5,
        ret_w=0, common_w=1, other_w=1,
    ).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault((r["entity"], r["walk_no"]), {})[r["step"]] = (
            r["node"]
        )
    for steps in by_walk.values():
        seq = [steps[k] for k in sorted(steps)]
        assert len(seq) == 6
        for i in range(2, len(seq)):
            assert seq[i] != seq[i - 2]  # never return to prev


def test_new_graph_ops_empty_edges(spark):
    from search_spark.operators.graph import (
        hits,
        link_prediction,
        node2vec_walks,
        random_walks,
    )

    empty = _edges_df(spark, [("a", "b")]).filter("src = 'zzz'")
    assert link_prediction(empty).collect() == []
    assert random_walks(empty).collect() == []
    assert node2vec_walks(empty).collect() == []
    assert hits(empty, n_iter=2).collect() == []


def test_node2vec_single_edge_oscillates(spark):
    # a-b has one neighbor each: the only candidate is the return move,
    # whose weight ret_w=1 keeps it alive -> deterministic oscillation
    from search_spark.operators.graph import node2vec_walks

    rows = node2vec_walks(
        _edges_df(spark, [("a", "b")]), n_walks=1, walk_len=3
    ).collect()
    seq = {
        (r["entity"], r["step"]): r["node"] for r in rows
    }
    assert seq[("a", 0)] == "a" and seq[("a", 1)] == "b"
    assert seq[("a", 2)] == "a" and seq[("a", 3)] == "b"
    assert seq[("b", 0)] == "b" and seq[("b", 1)] == "a"


# ---------------------------------------------------------------------------
# multi-source BFS + landmark closeness
# ---------------------------------------------------------------------------

def _py_bfs(pairs, source, max_hops):
    """Pure-Python bounded BFS over the distinct directed edge set."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
    dist = {source: 0}
    q = deque([source])
    while q:
        u = q.popleft()
        if dist[u] == max_hops:
            continue
        for v in sorted(adj[u]):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_multi_source_bfs_fixture(spark):
    from search_spark.operators.graph import multi_source_bfs

    lmk = spark.createDataFrame([("a",), ("f",)], ["entity"])
    got = {
        (r["landmark"], r["entity"]): r["dist"]
        for r in multi_source_bfs(
            _edges_df(spark, EDGE_SET), lmk, max_hops=3
        ).collect()
    }
    expected = {}
    for s in ("a", "f"):
        for v, d in _py_bfs(EDGE_SET, s, 3).items():
            expected[(s, v)] = d
    assert got == expected


@pytest.mark.parametrize("seed", [11, 22])
def test_multi_source_bfs_random_vs_python(spark, seed):
    import random

    from search_spark.operators.graph import multi_source_bfs

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(18)]
    pairs = sorted({
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
    })
    pairs = [(u, v) for u, v in pairs if u != v]
    sources = rng.sample(nodes, 3)
    lmk = spark.createDataFrame([(s,) for s in sources], ["entity"])
    got = {
        (r["landmark"], r["entity"]): r["dist"]
        for r in multi_source_bfs(
            _edges_df(spark, pairs), lmk, max_hops=4
        ).collect()
    }
    expected = {
        (s, v): d
        for s in sources
        for v, d in _py_bfs(pairs, s, 4).items()
    }
    assert got == expected


def test_landmark_closeness_matches_python(spark):
    """Degree-ranked landmark selection + integer-unit harmonic sum,
    mirrored in pure Python (lcm(1..4) = 12)."""
    from collections import Counter

    from search_spark.operators.graph import landmark_closeness

    got = {
        r["entity"]: (r["n_reached"], r["harmonic"])
        for r in landmark_closeness(
            _edges_df(spark, EDGE_SET), n_landmarks=3, max_hops=4
        ).collect()
    }
    dedup = sorted(set(EDGE_SET))
    od = Counter(u for u, _ in dedup)
    lmks = sorted(od, key=lambda e: (-od[e], e))[:3]
    acc = {}
    for s in lmks:
        for v, d in _py_bfs(dedup, s, 4).items():
            if d > 0:
                n, units = acc.get(v, (0, 0))
                acc[v] = (n + 1, units + 12 // d)
    expected = {
        v: (n, round(units / 12.0, 6)) for v, (n, units) in acc.items()
    }
    assert got == expected


@pytest.mark.parametrize("max_hops", [0, -1, 16])
def test_bfs_family_rejects_max_hops_out_of_range(spark, max_hops):
    from search_spark.operators.graph import (
        bfs_distances,
        landmark_closeness,
        multi_source_bfs,
    )

    edges = _edges_df(spark, EDGE_SET)
    seeds = spark.createDataFrame([("a",)], ["entity"])
    with pytest.raises(ValueError, match="max_hops"):
        bfs_distances(edges, seeds, max_hops=max_hops)
    with pytest.raises(ValueError, match="max_hops"):
        multi_source_bfs(edges, seeds, max_hops=max_hops)
    with pytest.raises(ValueError, match="max_hops"):
        landmark_closeness(edges, max_hops=max_hops)


@pytest.mark.parametrize("max_hops", [1, 15])
def test_landmark_closeness_exact_at_max_hops_bounds(spark, max_hops):
    """Both ends of the accepted range keep the integer-unit sum exact:
    lcm(1..15) = 360360 still divides evenly by every distance."""
    from collections import Counter

    from search_spark.operators.graph import landmark_closeness

    unit = math.lcm(*range(1, max_hops + 1))
    got = {
        r["entity"]: (r["n_reached"], r["harmonic"])
        for r in landmark_closeness(
            _edges_df(spark, EDGE_SET), n_landmarks=3, max_hops=max_hops
        ).collect()
    }
    dedup = sorted(set(EDGE_SET))
    od = Counter(u for u, _ in dedup)
    acc = {}
    for s in sorted(od, key=lambda e: (-od[e], e))[:3]:
        for v, d in _py_bfs(dedup, s, max_hops).items():
            if d > 0:
                n, units = acc.get(v, (0, 0))
                acc[v] = (n + 1, units + unit // d)
    assert got == {
        v: (n, round(units / float(unit), 6)) for v, (n, units) in acc.items()
    }


def test_hop_plot_counts_match_python(spark):
    from collections import Counter

    from search_spark.operators.graph import (
        multi_source_bfs,
        select_landmarks,
    )

    edges = _edges_df(spark, EDGE_SET)
    lmk = select_landmarks(edges, 3)
    got = {
        r["dist"]: r["n_pairs"]
        for r in multi_source_bfs(edges, lmk, max_hops=4)
        .groupBy("dist")
        .count()
        .withColumnRenamed("count", "n_pairs")
        .collect()
    }
    dedup = sorted(set(EDGE_SET))
    od = Counter(u for u, _ in dedup)
    lmks = sorted(od, key=lambda e: (-od[e], e))[:3]
    expected = Counter(
        d for s in lmks for d in _py_bfs(dedup, s, 4).values()
    )
    assert got == dict(expected)


@pytest.mark.parametrize("seed", [5, 17])
def test_wl_roles_random_vs_python(spark, seed):
    """2-round WL refinement parity against a pure-Python mirror —
    md5 chains must be byte-identical, not just class-equivalent."""
    import hashlib
    import random
    from collections import Counter, defaultdict

    from search_spark.operators.graph import wl_role_labels

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(14)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(70)
    ]
    pairs = [(u, v) for u, v in pairs if u != v]

    got = {
        r["entity"]: (r["role"], r["class_size"])
        for r in wl_role_labels(
            _edges_df(spark, pairs), rounds=2
        ).collect()
    }

    ecnt = Counter(pairs)
    present = sorted({u for u, _ in ecnt} | {v for _, v in ecnt})
    in_adj = defaultdict(list)
    out_adj = defaultdict(list)
    for (u, v), n in ecnt.items():
        in_adj[v].append((u, n))
        out_adj[u].append((v, n))
    lab = {v: "" for v in present}
    for _ in range(2):
        nxt = {}
        for v in present:
            isig = ",".join(sorted(f"{lab[u]}:{n}" for u, n in in_adj[v]))
            osig = ",".join(sorted(f"{lab[w]}:{n}" for w, n in out_adj[v]))
            nxt[v] = hashlib.md5(
                f"{lab[v]}|{isig}|{osig}".encode()
            ).hexdigest()
        lab = nxt
    sizes = Counter(lab.values())
    expected = {v: (lab[v], sizes[lab[v]]) for v in present}
    assert got == expected


@pytest.mark.parametrize("seed", [5, 17, 29])
def test_wl_hashsum_partition_matches_sorted(spark, seed):
    """The O(1)-state hashsum signature (scale form) induces the SAME
    role partition as the sorted-concat oracle form — labels differ,
    equivalence classes must not."""
    import random
    from collections import defaultdict

    from search_spark.operators.graph import wl_role_labels

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(16)]
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    pairs = [(u, v) for u, v in pairs if u != v]
    edges = _edges_df(spark, pairs)

    def classes(sig):
        rows = wl_role_labels(edges, rounds=2, signature=sig).collect()
        by_role = defaultdict(set)
        for r in rows:
            by_role[r["role"]].add(r["entity"])
        return sorted(
            tuple(sorted(c)) for c in by_role.values()
        )

    assert classes("sorted") == classes("hashsum")
