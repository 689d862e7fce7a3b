"""Workload ``interactive``: a warm session serving a seeded request mix.

The requests read a Zipf KG that the commit under test writes during
preparation: ``datagen.generate_kg_triples`` with a ``url`` derived from
``subj``, appended one url range per snapshot so the table has several
snapshots to list and read. Its low entity ids are hubs, so graph operators
and seeded queries see skew.

Each request is limited and collected, as ``tools/cli.py`` does. The four
request types (``mine``, ``sparql``, ``path``, ``graph``) take one slot each
per round of a fixed rotation (one closed-loop client). The graph slot
alternates between pagerank (iterative rank propagation) and landmark
closeness (multi-source BFS); the seed picks which comes first and every
request's constants. The number of rounds follows from ``--seconds`` alone,
never from how fast the requests run. Per-request planning and job
scheduling dominate, and the NLP layers see tiny inputs.

The first request (a property path) runs before any other request, in a
session that has only written the table: it is the cold latency every
``cli.py`` invocation pays on top of session set-up. Then one untimed
``mine`` request starts the Python workers and compiles the mining plans
(the first ``mine`` of a session costs about twice a warm one), and the
timed rounds follow.

Expected results come from DuckDB over the same parquet files, computed
before the timed loop; ``mine`` requests are checked against the spans
``datagen.generate_doc`` reports.
"""

from __future__ import annotations

import math
import os
import random
import time

import duckdb
from pyspark.sql import functions as F

import checks
import common
import staged
from search_spark import datagen
from search_spark.io.snapshots import SnapshotTable
from search_spark.operators import graph as G
from search_spark.operators.sparql import sparql_query
from search_spark.surfaces import mine_texts

SIZES = {
    "full": {"zipf_triples": 20000, "zipf_snapshots": 2},
    "tiny": {"zipf_triples": 2000, "zipf_snapshots": 2},
}
ZIPF_SKEW = 2.0
LIMIT = 1000
TOP_K = 50
PR_ITER = 10
N_LANDMARKS = 8
BFS_HOPS = 4
# One slot per request type and round: there is no record of real traffic
# to weight the types by, so none is favoured.
TYPES = ("mine", "sparql", "path", "graph")
GRAPH_OPS = ("pagerank", "closeness")
HUBS = 10
# a warm round of the four types takes about this long on a 4-vCPU host
NOMINAL_ROUND_S = 11.0


def rounds(seconds: float) -> int:
    return max(1, int(seconds // NOMINAL_ROUND_S))


def properties(seed: int, size: str) -> dict:
    s = SIZES[size]
    return {
        **s,
        "zipf_entities": s["zipf_triples"] // 10,
        "zipf_skew": ZIPF_SKEW,
        "request_mix": "equal slots " + ", ".join(TYPES)
        + "; graph cycles " + ", ".join(GRAPH_OPS),
        "mine_sentences": "1-4",
    }


# -- requests ----------------------------------------------------------------


def path_query(hub: str) -> str:
    return (
        f"SELECT DISTINCT ?x WHERE {{ <{hub}> "
        f"(<linked_to>|^<linked_to>){{1,2}} ?x . }}"
    )


def sparql_select(hub: str) -> str:
    return (
        f"SELECT DISTINCT ?y ?z WHERE {{ <{hub}> <linked_to> ?y . "
        f"?y <affiliated_with> ?z . }}"
    )


def _mine_sentences(rng: random.Random, seed: int) -> list[tuple[str, list]]:
    """1-4 generated sentences that hold at least one entity."""
    out = []
    want = rng.randint(1, 4)
    while len(out) < want:
        _row, exp = datagen.generate_doc(seed, rng.randrange(10**6))
        spans: dict[tuple, list] = {}
        for ppos, spos, start, end, term, etype in exp.mentions:
            spans.setdefault((ppos, spos), []).append((start, end, term, etype))
        ok = [
            (text, spans[(ppos, spos)])
            for ppos, spos, text, bad in exp.sentences
            if not bad and (ppos, spos) in spans
        ]
        if ok:
            out.append(rng.choice(ok))
    return out


def make_requests(seed: int, n_rounds: int) -> list[dict]:
    """An untimed ``mine`` warm-up, then ``n_rounds`` rounds of the seeded
    rotation."""
    rng = random.Random(f"perfbench-interactive:{seed}")
    first_op = rng.randrange(len(GRAPH_OPS))
    kinds = ["mine"] + [k for _r in range(n_rounds) for k in TYPES]
    reqs = []
    for i, kind in enumerate(kinds):
        req = {"kind": kind, "index": i}
        if kind == "graph":
            r = (i - 1) // len(TYPES)
            req["op"] = GRAPH_OPS[(first_op + r) % len(GRAPH_OPS)]
        elif kind == "mine":
            req["sentences"] = _mine_sentences(rng, seed)
        elif kind == "sparql":
            req["hub"] = f"e{rng.randrange(HUBS)}"
            req["query"] = sparql_select(req["hub"])
        elif kind == "path":
            req["hub"] = f"e{rng.randrange(HUBS)}"
            req["query"] = path_query(req["hub"])
        reqs.append(req)
    return reqs


def _compile(kind: str, full, req):
    if kind in ("sparql", "path"):
        return sparql_query(full, req["query"]).limit(LIMIT)
    edges = full.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    if req["op"] == "pagerank":
        out = G.pagerank(edges, n_iter=PR_ITER).orderBy(
            F.desc("rank"), "entity"
        ).select("entity", "rank")
    else:
        out = G.landmark_closeness(
            edges, n_landmarks=N_LANDMARKS, max_hops=BFS_HOPS
        ).orderBy(F.desc("harmonic"), "entity").select("entity", "harmonic")
    return out.limit(TOP_K)


def execute(spark, tracer, table: SnapshotTable, req: dict) -> list[tuple]:
    """Run one request the way ``tools/cli.py`` does; returns its rows."""
    kind = req["kind"]
    if kind == "mine":
        texts = [t for t, _spans in req["sentences"]]
        if tracer.enabled:
            rows = staged.mine_texts(tracer, spark, texts)
        else:
            rows = mine_texts(spark, texts).collect()
        return [tuple(r) for r in rows]
    layer = {"sparql": "sparql", "path": "paths", "graph": "graph"}[kind]
    with tracer.span("snapshots.load") as s:
        full = table.load()
    if tracer.enabled:
        s.setdefault("ratios", {})["files_read"] = checks.parquet_files(
            os.path.join(table.root, "data")
        )[0]
    with tracer.span(f"{layer}.compile"):
        df = _compile(kind, full, req)
    with tracer.span(f"{layer}.exec") as s:
        rows = df.collect()
        s["rows_out"] = len(rows)
    return [tuple(r) for r in rows]


# -- expected results (DuckDB over the same files) ----------------------------


def _parquet(table: SnapshotTable) -> str:
    return f"read_parquet('{table.root}/data/*/*/*.parquet', hive_partitioning=true)"


def _pagerank_sql() -> str:
    parts = [
        "dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "nodes AS MATERIALIZED (SELECT src AS entity FROM dedges"
        " UNION SELECT dst FROM dedges)",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes)",
        "od AS MATERIALIZED (SELECT src AS entity,"
        " CAST(COUNT(*) AS DOUBLE) AS od FROM dedges GROUP BY src)",
        "pr0 AS MATERIALIZED (SELECT entity, 1.0 / (SELECT c FROM nn) AS rank"
        " FROM nodes)",
    ]
    for k in range(1, PR_ITER + 1):
        parts += [
            f"c{k} AS MATERIALIZED (SELECT e.dst AS entity,"
            f" SUM(p.rank / o.od) AS s FROM dedges e"
            f" JOIN pr{k - 1} p ON e.src = p.entity"
            f" JOIN od o ON o.entity = e.src GROUP BY e.dst)",
            f"d{k} AS MATERIALIZED (SELECT COALESCE(SUM(p.rank), 0) AS dm"
            f" FROM pr{k - 1} p LEFT JOIN od o ON o.entity = p.entity"
            f" WHERE o.entity IS NULL)",
            f"pr{k} AS MATERIALIZED (SELECT n.entity,"
            f" 0.15 / (SELECT c FROM nn) + 0.85 * (COALESCE(c{k}.s, 0)"
            f" + (SELECT dm FROM d{k}) / (SELECT c FROM nn)) AS rank"
            f" FROM nodes n LEFT JOIN c{k} ON c{k}.entity = n.entity)",
        ]
    return ", ".join(parts) + f" SELECT entity, rank FROM pr{PR_ITER}"


def _closeness_sql() -> str:
    from math import lcm

    unit = lcm(*range(1, BFS_HOPS + 1))
    parts = [
        "dedges AS (SELECT DISTINCT src, dst FROM edges)",
        "deg AS (SELECT src AS entity, COUNT(*) AS od FROM dedges GROUP BY src)",
        f"lmk AS (SELECT entity FROM deg ORDER BY od DESC, entity ASC"
        f" LIMIT {N_LANDMARKS})",
        "d0 AS (SELECT entity AS landmark, entity, 0 AS dist FROM lmk)",
    ]
    for k in range(1, BFS_HOPS + 1):
        parts += [
            f"r{k} AS (SELECT p.landmark, e.dst AS entity, {k} AS dist"
            f" FROM dedges e JOIN d{k - 1} p ON p.entity = e.src)",
            f"d{k} AS (SELECT landmark, entity, MIN(dist) AS dist FROM"
            f" (SELECT * FROM d{k - 1} UNION ALL SELECT * FROM r{k})"
            f" GROUP BY landmark, entity)",
        ]
    return ", ".join(parts) + (
        f" SELECT entity, round(SUM(CAST({unit} / dist AS BIGINT))"
        f" / {unit}.0, 6) AS harmonic FROM d{BFS_HOPS} WHERE dist > 0"
        f" GROUP BY entity"
    )


class Expected:
    """DuckDB evaluation of every request kind over the table's files;
    results are memoized by request constants."""

    def __init__(self, table: SnapshotTable):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        # one scan of the committed files; every request reads this copy
        self.con.execute(f"CREATE TABLE kg AS SELECT * FROM {_parquet(table)}")
        self._memo: dict = {}

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]


    def of(self, req: dict):
        kind = req.get("op", req["kind"])
        key = (kind, req.get("query"))
        if kind == "mine":
            return checks.mine_expected(req["sentences"])
        if key in self._memo:
            return self._memo[key]
        hub = req.get("hub")
        edges = "edges AS (SELECT subj AS src, obj AS dst FROM kg)"
        if kind == "sparql":
            out = set(self._rows(
                f"SELECT DISTINCT t1.obj, t2.obj FROM kg t1"
                f" JOIN kg t2 ON t2.subj = t1.obj"
                f" WHERE t1.subj = '{hub}' AND t1.pred = 'linked_to'"
                f" AND t2.pred = 'affiliated_with'"
            ))
        elif kind == "path":
            out = {r[:1] for r in self._rows(
                f"WITH step AS (SELECT subj AS s, obj AS o FROM kg"
                f" WHERE pred = 'linked_to' UNION SELECT obj, subj FROM"
                f" kg WHERE pred = 'linked_to'),"
                f" h1 AS (SELECT DISTINCT o FROM step WHERE s = '{hub}'),"
                f" h2 AS (SELECT DISTINCT step.o FROM h1 JOIN step"
                f" ON step.s = h1.o)"
                f" SELECT o FROM h1 UNION SELECT o FROM h2"
            )}
        elif kind == "pagerank":
            out = self._rows(f"WITH {edges}, {_pagerank_sql()}")
        else:
            out = self._rows(f"WITH {edges}, {_closeness_sql()}")
        self._memo[key] = out
        return out


def check(req: dict, rows: list[tuple], expected) -> str | None:
    kind = req.get("op", req["kind"])
    if kind == "mine":
        return checks.compare_rows(rows, expected)
    if kind in ("sparql", "path"):
        return checks.compare_limited(rows, expected, LIMIT)
    return checks.compare_top(rows, expected, TOP_K)


# -- workload ----------------------------------------------------------------


def _write_zipf(spark, table: SnapshotTable, seed: int, n_triples: int,
                n_snapshots: int) -> None:
    """Commit the Zipf KG one url range (hash of ``url``) per snapshot."""
    url = F.concat(F.lit("https://kg.example.org/"), F.col("subj"))
    df = datagen.generate_kg_triples(
        spark, n_triples, seed=seed, partitions=4, skew=ZIPF_SKEW
    ).select("subj", "pred", "obj", url.alias("prov"), url.alias("url"))
    part = F.pmod(F.xxhash64("url"), F.lit(n_snapshots))
    for k in range(n_snapshots):
        table.append(df.filter(part == k))


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def warm_index(latency: dict[str, list[float]]) -> float:
    """Geometric mean of the four request types' median latencies, each type
    weighted equally whatever its cost: one type alone must slow by
    ``1.25 ** 4`` (2.44x) to move it by 25%. The graph type's latency is the
    geometric mean of its operators' medians, so pagerank and closeness
    weigh the same within it."""
    graph = [common.median(latency[op]) for op in GRAPH_OPS if latency[op]]
    return _geomean(
        [common.median(latency[t]) for t in ("mine", "sparql", "path")]
        + [_geomean(graph)]
    )


def run(spark, tracer, work_dir: str, seed: int, seconds: float,
        size: str) -> dict:
    sz = SIZES[size]
    table = SnapshotTable(spark, os.path.join(work_dir, "zipf_kg"))
    n_rounds = rounds(seconds)
    warmup, *timed = make_requests(seed, n_rounds)
    hub = f"e{random.Random(seed).randrange(HUBS)}"
    cold_req = {"kind": "path", "index": -1, "hub": hub,
                "query": path_query(hub)}
    ops: list[dict] = []

    def one(req: dict, phase: str) -> None:
        op = {"kind": req.get("op", req["kind"]), "index": req["index"],
              "cold": phase == "cold", "phase": phase, "ok": True}
        with tracer.span(f"op:{req['kind']}", cold=phase != "timed"):
            t0 = time.perf_counter()
            try:
                op["rows"] = execute(spark, tracer, table, req)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                op["ok"] = False
                op["error"] = f"{type(e).__name__}: {e}"
            op["latency_s"] = time.perf_counter() - t0
        op["req"] = req
        ops.append(op)

    phases = {}
    t0 = time.perf_counter()
    with tracer.span("prep:zipf"):
        _write_zipf(spark, table, seed, sz["zipf_triples"],
                    sz["zipf_snapshots"])
    phases["prep_s"] = time.perf_counter() - t0
    one(cold_req, "cold")
    # expected results for every request, before timing
    t0 = time.perf_counter()
    expected = Expected(table)
    with tracer.span("prep:expected"):
        answers = {r["index"]: expected.of(r)
                   for r in [cold_req, warmup, *timed]}
    expected.close()
    phases["expected_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    one(warmup, "warmup")
    phases["warmup_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for req in timed:
        one(req, "timed")
    phases["timed_s"] = time.perf_counter() - t0

    for op in ops:
        if op["ok"]:
            problem = check(op["req"], op["rows"], answers[op["index"]])
            if problem:
                op["ok"] = False
                op["error"] = problem
        op.pop("rows", None)
        op.pop("req")

    timed_ops = [o for o in ops if o["phase"] == "timed"]
    latency = {
        k: [o["latency_s"] for o in timed_ops if o["kind"] == k]
        for k in ("mine", "sparql", "path", *GRAPH_OPS)
    }
    latency["graph"] = [x for op in GRAPH_OPS for x in latency[op]]
    named = {
        f"{k}_p50_s": (common.median(v), "s", len(v))
        for k, v in latency.items() if v
    }
    named["cold_request_s"] = (ops[0]["latency_s"], "s", 1)
    return {
        "ops": ops,
        "cold_s": ops[0]["latency_s"],
        "warm_p50_s": warm_index(latency),
        "named": named,
        "inputs": {
            "zipf_snapshots": len(table.snapshots()),
            "rounds": n_rounds,
        },
        "phases": phases,
    }
