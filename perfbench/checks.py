"""Output checks. Every expected value comes from the engine's ground-truth
generators (``datagen``, ``oracles``) or from DuckDB over the same parquet
files; none comes from the Spark code under test.

Each ``compare_*`` function is pure: it takes the actual and the expected
value and returns the problems it found, so a corrupted expected value can
be shown to fail (``test_perfbench.py``).
"""

from __future__ import annotations

import hashlib
import math
import os

from search_spark import datagen, oracles
from search_spark.operators.relations import DIFF, SAME


def _doc_url(doc_id: int) -> str:
    return datagen.generate_doc(0, doc_id)[0]["url"]


def expected_batches(seed: int, batch: int, n_batches: int) -> dict[int, set]:
    """Expected ``(subj, pred, obj, prov)`` set of each batch, from
    ``oracles.kg_triples_expected`` split by the document each triple's
    provenance names."""
    uid_batch = {
        hashlib.md5(_doc_url(i).encode()).hexdigest(): i // batch
        for i in range(batch * n_batches)
    }
    out: dict[int, set] = {k: set() for k in range(n_batches)}
    for t in oracles.kg_triples_expected(batch * n_batches, seed):
        out[uid_batch[t[3].split(":", 1)[0]]].add(t)
    return out


def compare_batches(actual: dict[int, set], expected: dict[int, set]) -> dict:
    """``{batch: problem}`` for every batch whose triple set differs."""
    found = {}
    for k in sorted(set(actual) | set(expected)):
        a, e = actual.get(k, set()), expected.get(k, set())
        if a != e:
            found[k] = (
                f"triples differ: {len(a - e)} unexpected, "
                f"{len(e - a)} missing of {len(e)}"
            )
    return found


def compare_processed(pairs: list[tuple[str, int]], batch: int,
                      n_batches: int) -> dict:
    """Every url in exactly one ``processed/`` snapshot, the one of its
    batch (snapshot ``k + 1`` holds batch ``k``)."""
    found: dict[int, str] = {}
    seen: dict[str, list[int]] = {}
    for url, snap in pairs:
        seen.setdefault(url, []).append(snap)
    for i in range(batch * n_batches):
        k = i // batch
        snaps = seen.pop(_doc_url(i), [])
        if snaps != [k + 1]:
            found.setdefault(k, f"url of doc {i} in processed snapshots {snaps}")
    for url, snaps in seen.items():
        found.setdefault(-1, f"unexpected processed url {url} in {snaps}")
    return found


def check_ingest(spark, root: str, seed: int, batch: int,
                 n_batches: int) -> dict:
    """Compare the committed table with the ground truth, per batch."""
    data = (
        spark.read.option("basePath", f"{root}/data")
        .parquet(f"{root}/data")
        .select("subj", "pred", "obj", "prov", "snapshot")
        .distinct()
        .collect()
    )
    actual: dict[int, set] = {}
    for r in data:
        actual.setdefault(r["snapshot"] - 1, set()).add(
            (r["subj"], r["pred"], r["obj"], r["prov"])
        )
    found = compare_batches(actual, expected_batches(seed, batch, n_batches))
    processed = (
        spark.read.option("basePath", f"{root}/processed")
        .parquet(f"{root}/processed")
        .select("url", "snapshot")
        .collect()
    )
    for k, problem in compare_processed(
        [(r["url"], r["snapshot"]) for r in processed], batch, n_batches
    ).items():
        found.setdefault(k, problem)
    return found


# -- mine -------------------------------------------------------------------


def _ontology_source() -> dict[str, str]:
    out: dict[str, str] = {}
    for etype, _p, _pt, _pvt, source in datagen.MINING_SCHEMA_ROWS:
        out[etype] = min(out.get(etype, source), source)
    return out


def mine_expected(sentences: list[tuple[str, list]]) -> list[tuple]:
    """SPECS rows ``mine_texts`` must return for request texts built from
    generated sentences, each ``(text, [(start, end, term, type), ...])``
    as ``datagen.generate_doc`` reports them."""
    source = _ontology_source()
    pairs = set(datagen.RELATION_PAIRS)
    rows = []
    for i, (_text, spans) in enumerate(sentences):
        pid = f"text://{i}::0"
        ents = [s for s in spans if s[3] != "NaE"]
        for start, end, term, etype in ents:
            rows.append((term, etype, None, None, None, None,
                         source.get(etype), pid, start, end))
            for s2, e2, term2, etype2 in ents:
                if (s2, e2) == (start, end) or (etype, etype2) not in pairs:
                    continue
                pred = SAME if term[0].lower() == term2[0].lower() else DIFF
                rows.append((term, etype, pred, term2, "relation", etype2,
                             source.get(etype), pid, start, end))
    return rows


def compare_rows(actual: list[tuple], expected: list[tuple]) -> str | None:
    """Multiset comparison of result rows."""
    if sorted(map(repr, actual)) != sorted(map(repr, expected)):
        return (
            f"rows differ: got {len(actual)}, expected {len(expected)}"
        )
    return None


def compare_limited(actual: list[tuple], expected: set, limit: int) -> str | None:
    """A ``LIMIT``ed set result: all of the expected set when it fits,
    otherwise ``limit`` distinct rows drawn from it."""
    got = set(actual)
    if len(got) != len(actual):
        return "duplicate rows"
    if len(expected) <= limit:
        return None if got == expected else (
            f"rows differ: {len(got - expected)} unexpected, "
            f"{len(expected - got)} missing of {len(expected)}"
        )
    if len(got) != limit or not got <= expected:
        return f"limited rows not drawn from the {len(expected)} expected"
    return None


def compare_top(actual: list[tuple], expected: list[tuple], limit: int,
                tol: float = 1e-9) -> str | None:
    """An ordered top-``limit`` of ``(key..., score)`` rows: every returned
    key carries its expected score, and the scores are the expected top
    scores (so ties at the cut may pick different keys)."""
    if len(actual) != min(limit, len(expected)):
        return f"{len(actual)} rows, expected {min(limit, len(expected))}"
    exp = {r[:-1]: r[-1] for r in expected}
    for r in actual:
        want = exp.get(r[:-1])
        if want is None or not math.isclose(r[-1], want, rel_tol=tol,
                                            abs_tol=tol):
            return f"row {r!r} not in the expected scores"
    top = sorted((r[-1] for r in expected), reverse=True)[:limit]
    got = sorted((r[-1] for r in actual), reverse=True)
    if any(not math.isclose(a, b, rel_tol=tol, abs_tol=tol)
           for a, b in zip(got, top)):
        return "scores are not the expected top scores"
    return None


def parquet_files(path: str) -> tuple[int, int]:
    """Parquet file count and total bytes under ``path``."""
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size
