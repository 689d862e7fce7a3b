"""Property-based tests (hypothesis) for the pure kernels.

The reference ships no property-based testing (SURVEY.md §5); these cover
the engine's pure-Python kernels where randomized inputs catch edge cases
example tests miss: matcher semantics, TEI sentence reassembly vs the
vendored reference, URL canonicalization idempotence, rounding parity with
Spark's HALF_UP, and hash-embedding determinism.
"""

from __future__ import annotations

import random
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from reference_oracle import (  # noqa: F401  (stubs)
    load_reference_eval_module,
    requires_reference,
)
from search_spark.operators.ner import GazetteerMatcher

# -- GazetteerMatcher: leftmost-longest non-overlapping vs brute force ----

_TERMS = ["ab", "abc", "bcd", "c", "cab", "abcab"]


def _brute_force(text: str, patterns: list[tuple[str, str]]):
    """Oracle: repeatedly take the match that starts earliest (ties: the
    longest), then continue after its end — EntityRuler span filtering."""
    etype = {t: e for t, e in patterns}
    out = []
    pos = 0
    while pos <= len(text):
        candidates = []
        for term in etype:
            start = pos
            while True:
                i = text.find(term, start)
                if i == -1:
                    break
                # word-boundary semantics of the compiled \b regex
                before_ok = i == 0 or not (
                    text[i - 1].isalnum() or text[i - 1] == "_"
                )
                j = i + len(term)
                after_ok = j == len(text) or not (
                    text[j].isalnum() or text[j] == "_"
                )
                if before_ok and after_ok:
                    candidates.append((i, -len(term), term))
                    break
                start = i + 1
        if not candidates:
            break
        i, neg_len, term = min(candidates)
        out.append((i, i - neg_len, term, etype[term]))
        pos = i - neg_len
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(_TERMS + [" ", "x", "b"]), max_size=12))
def test_gazetteer_matcher_matches_brute_force(parts):
    text = "".join(parts)
    patterns = [(t, f"T_{t}") for t in _TERMS]
    matcher = GazetteerMatcher(patterns)
    assert matcher.find(text) == _brute_force(text, patterns)


# -- TEI sentence reassembly vs the reference ------------------------------

@requires_reference
@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from(
                ["Upper start.", "lower continuation", "Another One",
                 "", "  ", "x y z"]
            ),
            st.just("<FORMULA>"),
        ),
        max_size=8,
    )
)
def test_tei_build_texts_matches_reference(seq):
    import xml.etree.ElementTree as ET

    from reference_oracle import load_reference_article_module
    from search_spark.extraction.parsers import _tei_build_texts

    ref = load_reference_article_module()
    ns = "http://www.tei-c.org/ns/1.0"
    elements = []
    for item in seq:
        if item == "<FORMULA>":
            el = ET.Element(f"{{{ns}}}formula")
            el.text = "x"
        else:
            el = ET.Element(f"{{{ns}}}p")
            el.text = item
        elements.append(el)
    parser = ref.TEIXMLParser.__new__(ref.TEIXMLParser)
    parser.tei_namespace = {"tei": ns}
    expected = list(parser._build_texts(elements))
    assert _tei_build_texts(elements) == expected


# -- rounding parity: oracles.round_half_up == Spark round(double, d) ------

def test_round_half_up_matches_spark_round(spark):
    from pyspark.sql import functions as F

    from search_spark.oracles import round_half_up

    rng = random.Random(99)
    values = [rng.uniform(-2, 2) for _ in range(5000)]
    values += [0.1234565, -0.1234565, 1e-7, -1e-7, 0.9999995, -0.9999995]
    import numpy as np

    values = [float(np.float32(v)) for v in values]
    df = spark.createDataFrame([(v,) for v in values], ["v"])
    got = [
        r["r"]
        for r in df.select(
            (F.round(F.col("v"), 6) + F.lit(0.0)).alias("r")
        ).collect()
    ]
    expected = [round_half_up(v, 6) for v in values]
    assert got == expected


# -- URL canonicalization: idempotent, variant-collapsing ------------------

def test_canonical_url_idempotent(spark):
    from pyspark.sql import functions as F

    from search_spark.operators.urls import canonical_url_col

    rng = random.Random(5)
    urls = []
    for _ in range(300):
        scheme = rng.choice(["http://", "https://", ""])
        www = rng.choice(["www.", "WWW.", ""])
        host = rng.choice(["Example.org", "a-b.net"])
        path = "/" + "/".join(
            "".join(rng.choices(string.ascii_letters, k=3))
            for _ in range(rng.randint(0, 3))
        )
        q = rng.choice(["", "?utm_source=x", "?a=1&utm_medium=m", "?a=1"])
        frag = rng.choice(["", "#f"])
        urls.append(f"{scheme}{www}{host}{path}{q}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(canonical_url_col("url").alias("c"))
    twice = once.select(canonical_url_col("c").alias("c"))
    assert [r["c"] for r in once.collect()] == [
        r["c"] for r in twice.collect()
    ]


# -- hash embedding: deterministic, unit-norm, token-order sensitive -------

@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=string.ascii_lowercase + " ", max_size=30))
def test_hash_embed_deterministic_unit_norm(text):
    import math

    from search_spark.operators.linking import hash_embed

    a = hash_embed(text, 16)
    b = hash_embed(text, 16)
    assert a == b
    norm = math.sqrt(sum(x * x for x in a))
    assert norm == pytest.approx(1.0, abs=1e-9) or norm == 0.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=90),  # doc lengths in tokens
        min_size=1,
        max_size=6,
    )
)
def test_doc_chunks_cover_and_reconstruct(spark, lengths):
    """Chunking invariants on random doc lengths: every token appears in
    ≥1 chunk, consecutive chunks overlap by CHUNK-STRIDE (except a short
    tail), and re-concatenating each chunk's fresh tokens reconstructs
    the document exactly."""
    from search_spark.queries import _CHUNK_LEN, _CHUNK_STRIDE, QUERIES
    import tempfile

    rows = [
        (i, " ".join(f"d{i}t{j}" for j in range(n)), "en", "src0", n)
        for i, n in enumerate(lengths)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(f"{tmp}/documents.parquet")
        got = QUERIES["doc_chunks"].spark(spark, tmp).collect()
    by_doc: dict[int, dict[int, list[str]]] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
            r["chunk_text"].split(" ")
        )
    for i, n in enumerate(lengths):
        chunks = by_doc[i]
        toks = [f"d{i}t{j}" for j in range(n)]
        # coverage + reconstruction: stride-fresh tokens concatenate to doc
        recon = []
        for cid in sorted(chunks):
            fresh = chunks[cid] if cid == 0 else chunks[cid][
                _CHUNK_LEN - _CHUNK_STRIDE:
            ]
            recon.extend(fresh)
        assert recon == toks, (i, n)
        # chunk sizes: full CHUNK_LEN except possibly trailing chunks
        for cid in sorted(chunks)[:-1]:
            assert (
                len(chunks[cid]) == _CHUNK_LEN
                or cid * _CHUNK_STRIDE + len(chunks[cid]) == n
            )


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=400),  # docs per source
        min_size=2,
        max_size=8,
    )
)
def test_mixture_plan_never_upsamples_and_respects_weights(spark, counts):
    """Mixture-plan invariants on random source sizes: no source is
    upsampled (take_n ≤ n_docs), the binding source takes (almost) all
    of itself, and take counts match the exact integer formula."""
    from search_spark.queries import QUERIES
    import tempfile

    rows = []
    doc = 0
    for s, n in enumerate(counts):
        for _ in range(n):
            rows.append((doc, f"tok{doc}", "en", f"src{s}", 5))
            doc += 1
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(f"{tmp}/documents.parquet")
        got = {
            r["source"]: r
            for r in QUERIES["mixture_plan"].spark(spark, tmp).collect()
        }
    weights = {f"src{s}": (s % 4) + 1 for s in range(len(counts))}
    w_total = sum(weights.values())
    cap = min(
        counts[s] * w_total // weights[f"src{s}"]
        for s in range(len(counts))
    )
    for s, n in enumerate(counts):
        r = got[f"src{s}"]
        expect = weights[f"src{s}"] * cap // w_total
        assert r["take_n"] == expect, (s, n)
        assert r["take_n"] <= r["n_docs"]  # never upsample
