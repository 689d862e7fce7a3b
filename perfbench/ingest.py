"""Workload ``ingest``: a crawler feeding the KG in small batches.

A seeded sequence of batches from the engine's corpus generator, with
disjoint url ranges, is appended one ``run_to_snapshot`` call at a time to
one table that starts empty. The table grows one snapshot per batch, so the
``processed_urls`` anti-join and the file listing grow as they would in
production. Fixed per-call work (canonicalization, persist barriers, the
lineage read-back) dominates a small batch; a change that speeds up large
builds by adding a job, barrier or shuffle shows here as a loss.

The first batch runs in a session that has run no pipeline yet: it is the
cold build an invocation of ``tools/run_pipeline.py`` pays. Every later
batch is warm. The number of warm batches follows from ``--seconds`` alone,
never from how fast the batches run, so every commit measures the same
batches on a table of the same size.
"""

from __future__ import annotations

import os
import time

import checks
import common
import staged
from search_spark.pipeline import run_to_snapshot

BATCH_DOCS = {"full": 32, "tiny": 8}
# a warm 32-doc batch takes about this long on a 4-vCPU host
NOMINAL_BATCH_S = 12.0


def warm_batches(seconds: float) -> int:
    return max(1, int(seconds // NOMINAL_BATCH_S))


def properties(seed: int, size: str) -> dict:
    b = BATCH_DOCS[size]
    return {"batch_docs": b, **common.corpus_properties(seed, 0, b)}


def run(spark, tracer, work_dir: str, seed: int, seconds: float,
        size: str) -> dict:
    batch = BATCH_DOCS[size]
    root = os.path.join(work_dir, "kg")
    ops: list[dict] = []
    n_batches = 1 + warm_batches(seconds)

    def one(k: int, cold: bool) -> None:
        path = common.write_corpus(
            os.path.join(work_dir, "pages", f"batch={k}"),
            seed, k * batch, (k + 1) * batch,
        )
        op = {"kind": "batch", "index": k, "cold": cold, "ok": True}
        with tracer.span("op:batch", cold=cold):
            t0 = time.perf_counter()
            try:
                pages = spark.read.parquet(path)
                if tracer.enabled:
                    m = staged.run_to_snapshot(tracer, spark, pages, root)
                else:
                    m = run_to_snapshot(spark, pages, root)
                op["latency_s"] = time.perf_counter() - t0
                op["n_docs"] = m["n_docs"]
                if m["n_docs"] != batch:
                    op["ok"] = False
                    op["error"] = f"processed {m['n_docs']} of {batch} docs"
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                op["latency_s"] = time.perf_counter() - t0
                op["ok"] = False
                op["error"] = f"{type(e).__name__}: {e}"
        ops.append(op)

    for k in range(n_batches):
        one(k, cold=k == 0)

    with tracer.span("check:ingest"):
        found = checks.check_ingest(spark, root, seed, batch, n_batches)
    for op in ops:
        problem = found.pop(op["index"], None)
        if problem and op["ok"]:
            op["ok"] = False
            op["error"] = problem
    for problem in found.values():  # not tied to one batch
        ops.append({"kind": "check", "index": -1, "cold": True, "ok": False,
                    "error": problem, "latency_s": 0.0})
    warm = [op["latency_s"] for op in ops if not op["cold"]]
    return {
        "ops": ops,
        "cold_s": ops[0]["latency_s"],
        "warm_p50_s": common.median(warm),
        "named": {
            "ingest_p50_s": (common.median(warm), "s", len(warm)),
            "cold_batch_s": (ops[0]["latency_s"], "s", 1),
            "docs_per_s": (batch / common.median(warm), "docs/s", len(warm)),
        },
        "inputs": {"batches": n_batches, "batch_docs": batch,
                   "snapshots": n_batches},
    }
