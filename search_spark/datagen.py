"""Deterministic synthetic corpus generator (no external data).

Generates the authoritative input shape from BASELINE.json ``input_hint``:

    web_pages(url string, warc_ts timestamp, html binary, text string,
              lang string)

plus the sandbox stand-ins for the reference's model assets:

  * a gazetteer (entity patterns per type — the reference's rule-based
    ``PatternCreator``, mining/entity.py:30-96, is exactly this),
  * a mining-schema request table (tests/data/mining/request/request.csv
    shape: which entity types / relations to mine, which ontology),
  * an ontology ``concepts`` table with alias lists and deterministic
    hash-embeddings (FIXTURES.md §4).

Every document is generated by a pure function of ``(seed, doc_id)`` so the
corpus can be produced *distributed* (``mapInPandas`` over a range — no
driver-side materialization) and tests can recompute any document's expected
extraction, mentions and triples independently of the Spark pipeline.

Skew knob: head entities ("Glucose", "COVID-19") appear in a large fraction
of documents (FIXTURES.md) to exercise salting / AQE skew handling.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_spark.session import local_df

# --------------------------------------------------------------------------
# Gazetteer / ontology fixtures (FIXTURES.md §2, §4)
# --------------------------------------------------------------------------

GAZETTEER: dict[str, list[str]] = {
    "CHEMICAL": ["Glucose", "Insulin", "Cytarabine", "Aspirin", "Dopamine"],
    "DISEASE": ["COVID-19", "Influenza", "Diabetes", "Malaria", "Asthma"],
    "PROTEIN": ["ACE2", "Hemoglobin", "DNA polymerase", "Ferritin", "Keratin"],
    "ORGANISM": ["Mouse", "Human", "Zebrafish"],
    # The reference excludes entities labeled "NaE" (mining/pipeline.py:113-117).
    "NaE": ["Widget"],
}

# Head entities: present in ~40% of documents each → heavy key skew.
HEAD_ENTITIES = ["Glucose", "COVID-19"]

# flat (term, entity_type) view of the gazetteer
GAZETTEER_FLAT: list[tuple[str, str]] = [
    (t, e) for e, ts in GAZETTEER.items() for t in ts
]

# Which (subject_type, object_type) pairs have a relation model registered
# (reference: models_relations keys, mining/pipeline.py:131-156). The sandbox
# model is the reference's own toy StartWithTheSameLetter
# (mining/relation.py:252-284).
RELATION_PAIRS: list[tuple[str, str]] = [
    ("CHEMICAL", "PROTEIN"),
    ("CHEMICAL", "DISEASE"),
    ("DISEASE", "PROTEIN"),
]

MINING_SCHEMA_ROWS = [
    # (entity_type, property, property_type, property_value_type, ontology_source)
    ("CHEMICAL", "relates_to", "relation", "PROTEIN", "UMLS"),
    ("CHEMICAL", "relates_to", "relation", "DISEASE", "MESH"),
    ("DISEASE", "relates_to", "relation", "PROTEIN", "MESH"),
    ("CHEMICAL", "", "", "", "UMLS"),
    ("DISEASE", "", "", "", "MESH"),
    ("PROTEIN", "", "", "", "UNIPROT"),
    ("ORGANISM", "", "", "", "NCBITAXON"),
]

# Alias overlaps ("Glucose"/"D-Glucose") create connected-components merge
# cases for canonicalization (FIXTURES.md §4).
CONCEPT_ALIASES: dict[str, list[str]] = {
    "C:GLUCOSE": ["Glucose", "D-Glucose", "dextrose"],
    "C:INSULIN": ["Insulin"],
    "C:CYTARABINE": ["Cytarabine", "ara-C"],
    "C:ASPIRIN": ["Aspirin", "acetylsalicylic acid"],
    "C:DOPAMINE": ["Dopamine"],
    "C:COVID": ["COVID-19", "SARS-CoV-2 infection"],
    "C:FLU": ["Influenza", "flu"],
    "C:DIABETES": ["Diabetes", "diabetes mellitus"],
    "C:MALARIA": ["Malaria"],
    "C:ASTHMA": ["Asthma"],
    "C:ACE2": ["ACE2", "angiotensin-converting enzyme 2"],
    "C:HEMOGLOBIN": ["Hemoglobin", "haemoglobin"],
    "C:DNAPOL": ["DNA polymerase"],
    "C:FERRITIN": ["Ferritin"],
    "C:KERATIN": ["Keratin"],
    "C:MOUSE": ["Mouse", "Mus musculus"],
    "C:HUMAN": ["Human", "Homo sapiens"],
    "C:ZEBRAFISH": ["Zebrafish", "Danio rerio"],
}

_FILLER = (
    "cells were observed under varied conditions and results indicate that "
    "measured levels rose while control samples stayed flat during the trial "
    "with notable variance across cohorts"
).split()

_LANGS = ["en"] * 9 + ["de", "fr"]


@dataclass
class ExpectedDoc:
    """Ground truth for one generated document (for tests — never consumed
    by the pipeline itself)."""

    url: str
    uid_source: str
    paragraphs: list[tuple[int, str, str]] = field(default_factory=list)
    # (ppos, spos, sentence_text, is_bad)
    sentences: list[tuple[int, int, str, bool]] = field(default_factory=list)
    # (ppos, spos, start_char, end_char, mention, entity_type) — start/end
    # relative to the sentence, [start, end) like spaCy ent.start_char.
    mentions: list[tuple[int, int, int, int, str, str]] = field(
        default_factory=list
    )


def _rng(seed: int, doc_id: int) -> random.Random:
    return random.Random(f"search-spark:{seed}:{doc_id}")


def _make_sentence(
    rng: random.Random, entities: list[tuple[str, str]]
) -> tuple[str, list[tuple[int, int, str, str]]]:
    """Build one ASCII sentence embedding ``entities`` at known offsets."""
    words: list[str] = []
    slots = len(entities)
    for i, (term, etype) in enumerate(entities):
        words.extend(rng.choices(_FILLER, k=rng.randint(2, 5)))
        words.append(term)
    words.extend(rng.choices(_FILLER, k=rng.randint(2, 6)))
    text = " ".join(words) + "."
    spans = []
    cursor = 0
    for term, etype in entities:
        start = text.index(term, cursor)
        end = start + len(term)
        spans.append((start, end, term, etype))
        cursor = end
    return text, spans


def generate_doc(
    seed: int,
    doc_id: int,
    n_para_range: tuple[int, int] = (2, 4),
    n_sent_range: tuple[int, int] = (1, 3),
    unique_terms_per_doc: int = 0,
) -> tuple[dict, ExpectedDoc]:
    """Pure generator for one web page. Returns (row, expected).

    ``n_para_range`` / ``n_sent_range`` size the document (defaults match
    the unit-test ground truth; the scaling bench uses larger documents so
    per-document parse/NER work resembles a real web page).

    ``unique_terms_per_doc`` > 0 appends a "Compounds" paragraph holding
    that many *globally unique* CHEMICAL-like terms (``cmpd{doc}q{j}``) —
    the vocabulary-blowup knob: distinct surface forms grow with the
    corpus (like open-web mention vocabulary) instead of staying
    gazetteer-bounded, so canonicalization/linking joins cannot rely on a
    broadcastable mapping (VERDICT r2 item 1).
    """
    rng = _rng(seed, doc_id)
    url = f"https://example.org/d{doc_id % 20}/doc{doc_id}"
    lang = _LANGS[rng.randrange(len(_LANGS))]
    warc_ts = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
        seconds=doc_id
    )
    expected = ExpectedDoc(url=url, uid_source=url)

    # choose entity terms for this doc (head entities are hot keys)
    flat_terms = [
        (t, e) for e, ts in GAZETTEER.items() for t in ts if t not in HEAD_ENTITIES
    ]
    n_para = rng.randint(*n_para_range)
    paragraphs_html: list[str] = []
    ppos = 0
    body_parts: list[str] = []
    for pi in range(n_para):
        section = f"Section {chr(65 + pi)}"
        body_parts.append(f"<h2>{section}</h2>")
        n_sent = rng.randint(*n_sent_range)
        sent_texts: list[str] = []
        for si in range(n_sent):
            ents: list[tuple[str, str]] = []
            for head in HEAD_ENTITIES:
                if rng.random() < 0.25:
                    etype = "CHEMICAL" if head == "Glucose" else "DISEASE"
                    ents.append((head, etype))
            for _ in range(rng.randint(0, 2)):
                ents.append(rng.choice(flat_terms))
            rng.shuffle(ents)
            text, spans = _make_sentence(rng, ents)
            sent_texts.append((text, spans))
        para_text = " ".join(t for t, _ in sent_texts)
        expected.paragraphs.append((ppos, section, para_text))
        # sentence-level ground truth (segmenter splits on ". " boundaries)
        for si, (text, spans) in enumerate(sent_texts):
            is_bad = len(text) < 20 or len(text) > 2000
            expected.sentences.append((ppos, si, text, is_bad))
            for start, end, term, etype in spans:
                expected.mentions.append((ppos, si, start, end, term, etype))
        body_parts.append(f"<p>{para_text}</p>")
        ppos += 1

    # one tricky paragraph exercising unescape / sub / sup / dropped-tag /
    # NFKC rules — entity-free so offsets elsewhere stay trivial.
    if rng.random() < 0.5:
        section = "Notes"
        body_parts.append(f"<h2>{section}</h2>")
        html_frag = (
            "<p>Levels of H<sub>2</sub>O &amp; CO<sub>2</sub> rose 10<sup>3</sup>"
            " times, see <a href=\"http://example.com\">the appendix</a> for"
            " details of the Ⅲ phase.</p>"
        )
        clean = (
            "Levels of H_2O & CO_2 rose 10^3 times, see  for details of the"
            " III phase."
        )
        body_parts.append(html_frag)
        expected.paragraphs.append((ppos, section, clean))
        expected.sentences.append((ppos, 0, clean, False))
        ppos += 1

    # occasionally a bad sentence: too short, or LaTeX-looking
    if rng.random() < 0.3:
        section = "Errata"
        bad = rng.choice(["Too short.", "We use \\alpha{x} in eq 2 all over."])
        body_parts.append(f"<h2>{section}</h2><p>{bad}</p>")
        expected.paragraphs.append((ppos, section, bad))
        expected.sentences.append(
            (ppos, 0, bad, len(bad) < 20 or "\\alpha{" in bad)
        )
        ppos += 1

    if unique_terms_per_doc > 0:
        section = "Compounds"
        terms = [f"cmpd{doc_id}q{j}" for j in range(unique_terms_per_doc)]
        text_c = "Compound survey covers " + " ".join(terms) + " in detail."
        body_parts.append(f"<h2>{section}</h2><p>{text_c}</p>")
        expected.paragraphs.append((ppos, section, text_c))
        expected.sentences.append((ppos, 0, text_c, False))
        cursor = 0
        for t in terms:
            start = text_c.index(t, cursor)
            expected.mentions.append(
                (ppos, 0, start, start + len(t), t, "CHEMICAL")
            )
            cursor = start + len(t)
        ppos += 1

    html_doc = (
        "<html><head><title>doc</title></head><body>"
        "<nav><p>Home | About | Login</p></nav>"
        + "".join(body_parts)
        + "<footer><p>(c) 2024 example.org</p></footer>"
        "</body></html>"
    )
    text = "\n".join(p for _, _, p in expected.paragraphs)
    row = {
        "url": url,
        "warc_ts": warc_ts,
        "html": html_doc.encode("utf-8"),
        "text": text,
        "lang": lang,
    }
    return row, expected


WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def generate_web_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    n_para_range: tuple[int, int] = (2, 4),
    n_sent_range: tuple[int, int] = (1, 3),
    unique_terms_per_doc: int = 0,
) -> DataFrame:
    """Distributed corpus generation: ``spark.range`` → ``mapInPandas``.

    Each task generates its own documents from ``(seed, doc_id)`` — nothing
    flows through the driver, so this scales to any corpus size.
    """
    if partitions is None:
        # one task per ~8 docs at small scale (python-worker spin-up dominates
        # otherwise), capped at the session parallelism for large corpora
        partitions = max(
            1,
            min(
                max(8, spark.sparkContext.defaultParallelism),
                -(-n_docs // 8),
            ),
        )

    def _gen(batches):
        for pdf in batches:
            rows = [
                generate_doc(
                    seed, int(i), n_para_range, n_sent_range,
                    unique_terms_per_doc,
                )[0]
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(_gen, schema=WEB_PAGES_SCHEMA)
    )


def generate_kg_triples(
    spark: SparkSession,
    n_triples: int,
    n_entities: int | None = None,
    seed: int = 0,
    partitions: int = 64,
    skew: float = 2.0,
) -> DataFrame:
    """Deterministic synthetic KG at arbitrary scale — pure JVM codegen.

    ``spark.range`` → md5-hash uniforms → entity ids, so generation is
    embarrassingly parallel (no driver data, no Python) and bit-stable
    across parallelism levels. Entity draws use ``u**skew`` (Zipf-ish):
    low ids become head entities with degree thousands of times the
    median — the skew profile the north rule's "explicit skew handling
    for head entities" clause is about, so scale tests exercise the
    stragglers a uniform graph would hide. Predicates split 60/20/20
    over ``linked_to`` / ``affiliated_with`` / ``mentions_topic``
    (the last drawn uniformly on the object side, giving property-path
    tests a fan-out that is bounded rather than head-dominated).
    Self-loops are dropped, so the returned count is slightly below
    ``n_triples`` — deterministically so.
    """
    if n_entities is None:
        n_entities = max(16, n_triples // 10)

    def u(salt: str):
        h = F.md5(
            F.concat_ws("_", F.lit(str(seed)), F.lit(salt), F.col("id"))
        )
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
            / F.lit(float(16**8))
        )

    def ent(salt: str, s: float):
        return F.concat(
            F.lit("e"),
            F.floor(F.pow(u(salt), F.lit(s)) * n_entities).cast("long"),
        )

    pu = u("p")
    pred = (
        F.when(pu < 0.6, F.lit("linked_to"))
        .when(pu < 0.8, F.lit("affiliated_with"))
        .otherwise(F.lit("mentions_topic"))
    )
    return (
        spark.range(0, n_triples, numPartitions=partitions)
        .select(
            ent("s", skew).alias("subj"),
            pred.alias("pred"),
            F.when(pu < 0.8, ent("o", skew))
            .otherwise(ent("o", 1.0))
            .alias("obj"),
        )
        .filter(F.col("subj") != F.col("obj"))
    )


def generate_sameas_pairs(
    spark: SparkSession,
    n_pairs: int,
    n_entities: int,
    seed: int = 0,
    partitions: int = 16,
) -> DataFrame:
    """Deterministic ``(a, b)`` sameAs links over the ``e{i}`` vocabulary:
    80% random pairs (small components), 20% consecutive-id chain links
    (long chains — the connected-components stress case)."""

    def u(salt: str):
        h = F.md5(
            F.concat_ws("_", F.lit(str(seed)), F.lit(salt), F.col("id"))
        )
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
            / F.lit(float(16**8))
        )

    a_id = F.floor(u("a") * n_entities).cast("long")
    b_rand = F.floor(u("b") * n_entities).cast("long")
    b_id = F.when(u("kind") < 0.8, b_rand).otherwise(
        (a_id + 1) % F.lit(n_entities)
    )
    return (
        spark.range(0, n_pairs, numPartitions=partitions)
        .select(
            F.concat(F.lit("e"), a_id).alias("a"),
            F.concat(F.lit("e"), b_id).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )


def mining_schema_df(spark: SparkSession) -> DataFrame:
    return local_df(
        spark,
        MINING_SCHEMA_ROWS,
        "entity_type string, property string, property_type string, "
        "property_value_type string, ontology_source string",
    )


def relation_pairs_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, RELATION_PAIRS, "subj_type string, obj_type string")


def concepts_df(spark: SparkSession, dim: int = 64) -> DataFrame:
    """Ontology concepts with deterministic hash-embeddings (FIXTURES.md §4)."""
    from search_spark.operators.linking import hash_embed

    rows = [
        (cid, aliases[0], aliases, hash_embed(aliases[0], dim))
        for cid, aliases in CONCEPT_ALIASES.items()
    ]
    return local_df(
        spark,
        rows,
        "concept_id string, canonical_name string, aliases array<string>, "
        "embedding array<double>",
    )
