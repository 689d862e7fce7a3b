"""Round-3 feature ports: PubMed/medRxiv topic extraction, Prodigy
annotation loading, the TF-IDF EmbeddingModel, and the REModel probability
contract — each parity-checked against the reference implementation or its
own fixtures where available."""

from __future__ import annotations

import io
import json
import zipfile
from pathlib import Path
from xml.etree import ElementTree

import pytest
from pyspark.sql import functions as F

from reference_oracle import requires_reference

REF_DATA = Path("/root/reference/tests/data")


# -- PubMed topic extraction ------------------------------------------------

@requires_reference
def test_pubmed_article_topics_reference_fixture():
    """The reference's own fixture expectation
    (tests/unit/database/test_topic.py::test_get_topics_for_pubmed_article):
    article topics of pubmed_article.xml are exactly these descriptors."""
    from search_spark.extraction.topics import (
        extract_article_topics_for_pubmed_article,
    )

    root = ElementTree.parse(str(REF_DATA / "pubmed_article.xml")).getroot()
    assert extract_article_topics_for_pubmed_article(root) == [
        "Major Topic",
        "Minor Topic",
    ]


@requires_reference
def test_pubmed_topics_parity_vs_reference_module():
    """Function-level parity: our mesh parse and topic extraction produce
    identical structures to the reference's on its own fixture."""
    from reference_oracle import load_reference_topic_module

    from search_spark.extraction import topics as ours

    ref = load_reference_topic_module()
    root = ElementTree.parse(str(REF_DATA / "pubmed_article.xml")).getroot()
    headings = root.findall("./MedlineCitation/MeshHeadingList")
    assert ours.parse_mesh_from_pubmed(headings) == ref._parse_mesh_from_pubmed(
        headings
    )
    assert ours.extract_article_topics_for_pubmed_article(
        root
    ) == ref.extract_article_topics_for_pubmed_article(root)
    assert ours.extract_medline_ta(root) == "Medline TA"


def _meca_bytes(xml_path: Path) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.write(xml_path, arcname="content/567.xml")
    return buf.getvalue()


@requires_reference
def test_medrxiv_meca_topic_journal():
    # reference expectation (test_topic.py::TestExtractInfoFromZipfile)
    from search_spark.extraction.topics import (
        extract_article_topics_from_medrxiv_meca,
    )

    topic, journal = extract_article_topics_from_medrxiv_meca(
        _meca_bytes(REF_DATA / "biorxiv.xml")
    )
    assert (topic, journal) == ("Neuroscience", "bioRxiv")


@requires_reference
def test_medrxiv_meca_error_paths(tmp_path):
    from search_spark.extraction.topics import (
        extract_article_topics_from_medrxiv_meca,
    )

    empty = io.BytesIO()
    with zipfile.ZipFile(empty, "w"):
        pass
    with pytest.raises(ValueError, match="There needs to be exactly one"):
        extract_article_topics_from_medrxiv_meca(empty.getvalue())

    # strip the topic element → "No topic found"
    text = (REF_DATA / "biorxiv.xml").read_text(encoding="utf-8")
    lines = text.splitlines()
    no_topic = "\n".join(l for i, l in enumerate(lines) if i != 25)
    p = tmp_path / "x.xml"
    p.write_text(no_topic, encoding="utf-8")
    with pytest.raises(ValueError, match="No topic found"):
        extract_article_topics_from_medrxiv_meca(_meca_bytes(p))


def test_pubmed_topics_stage_and_catalog_join(spark):
    from search_spark.extraction.topics import (
        attach_journal_topics,
        pubmed_topics_stage,
    )
    from search_spark.oracles import (
        JOURNAL_CATALOG,
        _pubmed_topic_params,
        pubmed_topic_fixture_rows,
    )

    pages = spark.createDataFrame(
        pubmed_topic_fixture_rows(20), ["url", "html"]
    )
    catalog = spark.createDataFrame(
        [(ta, ts) for ta, ts in JOURNAL_CATALOG.items()],
        schema="medline_ta string, journal_topics array<string>",
    )
    out = {
        r["url"]: r
        for r in attach_journal_topics(
            pubmed_topics_stage(pages, xml_col="html"), catalog
        ).collect()
    }
    for i in range(20):
        topics, ta = _pubmed_topic_params(i)
        row = out[f"https://example.org/pm/{i}"]
        assert list(row["article_topics"]) == topics
        expected_jt = JOURNAL_CATALOG.get(ta, []) if ta else []
        assert list(row["journal_topics"]) == expected_jt


def test_pubmed_topics_stage_on_error_skip(spark):
    """A corrupt page must not kill an open-web job when on_error='skip';
    the default stays fail-loud (reference behavior on curated corpora)."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from search_spark.extraction.topics import pubmed_topics_stage
    from search_spark.oracles import pubmed_topic_fixture_rows

    rows = pubmed_topic_fixture_rows(3)
    rows.append(("https://example.org/bad", "<PubmedArticle><unclosed"))
    pages = spark.createDataFrame(rows, ["url", "html"])

    out = {
        r["url"]: r
        for r in pubmed_topics_stage(
            pages, xml_col="html", on_error="skip"
        ).collect()
    }
    bad = out["https://example.org/bad"]
    assert list(bad["article_topics"]) == []
    assert bad["medline_ta"] is None
    assert len(out) == 4  # good rows still extracted

    with pytest.raises(PythonException, match="ParseError"):
        pubmed_topics_stage(pages, xml_col="html").collect()

    with pytest.raises(ValueError):
        pubmed_topics_stage(pages, xml_col="html", on_error="bogus")


# -- Prodigy annotations ----------------------------------------------------

@requires_reference
def test_annotations2df_parity_vs_reference(tmp_path):
    """Row-for-row parity with the reference loader on the same JSONL."""
    import pandas as pd
    from reference_oracle import load_reference_eval_module

    from search_spark.extraction.prodigy import annotation_rows
    from search_spark.oracles import prodigy_fixture_lines

    lines = prodigy_fixture_lines(24)
    f = tmp_path / "ann.jsonl"
    f.write_text("\n".join(lines) + "\n")

    ref_eval = load_reference_eval_module()
    ref_df = ref_eval.annotations2df(str(f))

    ours = pd.DataFrame(
        [r for ln in lines for r in annotation_rows(ln)],
        columns=["source", "class", "start_char", "end_char", "id", "text"],
    )
    pd.testing.assert_frame_equal(
        ref_df[ours.columns].reset_index(drop=True), ours
    )


def test_annotations_stage_skips_rejects(spark):
    from search_spark.extraction.prodigy import annotations_stage

    rec = {
        "answer": "reject",
        "meta": {"source": "s"},
        "tokens": [{"text": "x", "start": 0, "end": 1, "id": 0}],
        "spans": [],
    }
    df = spark.createDataFrame([(json.dumps(rec),)], ["value"])
    assert annotations_stage(df).count() == 0


# -- TF-IDF EmbeddingModel --------------------------------------------------

def test_tfidf_model_math(spark):
    import math

    from search_spark.operators.tfidf import TfidfEmbeddingModel

    corpus = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry"), (2, "apple date")],
        ["doc_id", "text"],
    )
    model = TfidfEmbeddingModel.fit(corpus, "text", max_features=10)
    # vocabulary alphabetical; idf = ln((1+n)/(1+df)) + 1 (smooth)
    assert sorted(model.index) == ["apple", "banana", "cherry", "date"]
    n = 3
    idf = {
        "apple": math.log((1 + n) / (1 + 2)) + 1,
        "banana": math.log((1 + n) / (1 + 2)) + 1,
        "cherry": math.log((1 + n) / (1 + 1)) + 1,
        "date": math.log((1 + n) / (1 + 1)) + 1,
    }
    (vec,) = model.embed_many(["apple apple cherry"])
    for term, w in zip(sorted(model.index), vec):
        expected = {"apple": 2, "cherry": 1}.get(term, 0) * idf[term]
        assert w == pytest.approx(expected)


def test_tfidf_max_features_by_corpus_frequency(spark):
    from search_spark.operators.tfidf import TfidfEmbeddingModel

    corpus = spark.createDataFrame(
        [(0, "aa aa aa bb bb cc"), (1, "aa bb cc dd")], ["doc_id", "text"]
    )
    model = TfidfEmbeddingModel.fit(corpus, "text", max_features=2)
    # top-2 by total corpus counts: aa (4), bb (3)
    assert sorted(model.index) == ["aa", "bb"]


def test_embed_text_column_accepts_model(spark):
    from search_spark.operators.linking import embed_text_column
    from search_spark.operators.tfidf import TfidfEmbeddingModel

    corpus = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], ["doc_id", "text"]
    )
    model = TfidfEmbeddingModel.fit(corpus, "text")
    out = embed_text_column(corpus, "text", "emb", model=model)
    rows = {r["doc_id"]: list(r["emb"]) for r in out.collect()}
    assert rows[0] == model.embed_many(["alpha beta"])[0]
    assert out.schema["emb"].dataType.simpleString() == "array<double>"


# -- REModel probability contract -------------------------------------------

def _mentions_df(spark):
    rows = [
        # one sentence with a CHEMICAL and a PROTEIN mention
        ("u1", "id1", 0, 0, "S", 0, 7, "Glucose", "CHEMICAL"),
        ("u1", "id1", 0, 0, "S", 18, 28, "Hemoglobin", "PROTEIN"),
        # one sentence where both start with the same letter
        ("u2", "id2", 0, 0, "S", 0, 7, "Aspirin", "CHEMICAL"),
        ("u2", "id2", 0, 0, "S", 14, 18, "ACE2", "PROTEIN"),
    ]
    return spark.createDataFrame(
        rows,
        [
            "url", "uid", "ppos", "spos", "section",
            "start_char", "end_char", "mention", "entity_type",
        ],
    )


def _sentences_df(spark):
    return spark.createDataFrame(
        [
            ("u1", "id1", 0, 0, "Glucose binds the Hemoglobin chain."),
            ("u2", "id2", 0, 0, "Aspirin lifts ACE2 levels."),
        ],
        ["url", "uid", "ppos", "spos", "text"],
    )


def test_remodel_scorer_probability_contract(spark):
    from search_spark.operators.relations import (
        DIFF,
        SAME,
        StartWithSameLetterModel,
        relation_stage,
        remodel_scorer,
    )

    pairs = spark.createDataFrame(
        [("CHEMICAL", "PROTEIN")], ["subj_type", "obj_type"]
    )
    models = {
        ("CHEMICAL", "PROTEIN"): StartWithSameLetterModel(
            ("CHEMICAL", "PROTEIN")
        )
    }
    scorer = remodel_scorer(models, _sentences_df(spark))
    out = relation_stage(
        _mentions_df(spark), pairs, scorer=scorer
    ).collect()
    by_url = {r["url"]: r for r in out}
    # only (CHEMICAL → PROTEIN) has a model: one row per sentence
    assert len(out) == 2
    assert by_url["u1"]["property"] == DIFF  # G vs H
    assert by_url["u2"]["property"] == SAME  # A vs A
    assert all(r["property_prob"] == 1.0 for r in out)


def test_remodel_scorer_dispatches_per_type_pair(spark):
    import pandas as pd

    from search_spark.operators.relations import (
        REModel,
        StartWithSameLetterModel,
        relation_stage,
        remodel_scorer,
    )

    class AlwaysUpregulates(REModel):
        classes = ["UPREGULATES", "NONE"]
        symbols = {"PROTEIN": ("[[ ", " ]]"), "CHEMICAL": ("<< ", " >>")}

        def predict_probs_batch(self, annotated):
            return pd.DataFrame(
                [[0.9, 0.1]] * len(annotated),
                columns=self.classes,
                index=annotated.index,
            )

    pairs = spark.createDataFrame(
        [("CHEMICAL", "PROTEIN"), ("PROTEIN", "CHEMICAL")],
        ["subj_type", "obj_type"],
    )
    models = {
        ("CHEMICAL", "PROTEIN"): StartWithSameLetterModel(
            ("CHEMICAL", "PROTEIN")
        ),
        ("PROTEIN", "CHEMICAL"): AlwaysUpregulates(),
    }
    scorer = remodel_scorer(models, _sentences_df(spark))
    out = relation_stage(_mentions_df(spark), pairs, scorer=scorer)
    rows = out.collect()
    assert len(rows) == 4  # both directions now have models
    up = [r for r in rows if r["entity_type"] == "PROTEIN"]
    assert all(r["property"] == "UPREGULATES" for r in up)
    assert all(r["property_prob"] == pytest.approx(0.9) for r in up)


def test_model2df_token_bridge():
    """spacy2df-shaped bridge: predictions align to the ground-truth
    tokenization, multi-token phrases produce B-/I- runs, NaE spans are
    excluded, non-token-aligned matches yield no entity."""
    from search_spark.operators.evaluation import model2df
    from search_spark.operators.ner import GazetteerMatcher

    matcher = GazetteerMatcher(
        [("DNA polymerase", "PROTEIN"), ("Widget", "NaE"),
         ("Glucose", "CHEMICAL")]
    )
    tokens = ["Glucose", "binds", "DNA", "polymerase", "near", "Widget"]
    df = model2df(matcher, tokens)
    assert list(df["text"]) == tokens
    assert list(df["class"]) == [
        "B-CHEMICAL", "O", "B-PROTEIN", "I-PROTEIN", "O", "O",
    ]
    # a match that crosses token boundaries is dropped (char_span → None)
    m2 = GazetteerMatcher([("cose bi", "CHEMICAL")])
    df2 = model2df(m2, ["Glucose", "binds"])
    assert list(df2["class"]) == ["O", "O"]


def test_model2df_aligns_with_annotations2df(tmp_path):
    """The notes contract (eval.py:193-196): run annotations2df first, feed
    its token column as the ground-truth tokenization — both frames align
    row-for-row for eval joins."""
    import pandas as pd

    from search_spark.extraction.prodigy import annotation_rows
    from search_spark.operators.evaluation import model2df
    from search_spark.operators.ner import GazetteerMatcher
    from search_spark.oracles import prodigy_fixture_lines

    rows = [r for ln in prodigy_fixture_lines(12) for r in annotation_rows(ln)]
    truth = pd.DataFrame(rows)
    matcher = GazetteerMatcher([("insulin", "CHEMICAL")])
    pred = model2df(matcher, truth["text"].to_list())
    assert len(pred) == len(truth)
    assert (pred["text"] == truth["text"]).all()
    assert set(pred.loc[pred["text"] == "insulin", "class"]) == {"B-CHEMICAL"}


def test_pipeline_re_models_matches_default_path(spark):
    """PipelineConfig.re_models: wiring the probability-contract scorer
    into the flagship with the reference's own toy model must reproduce
    the default JVM StartWithTheSameLetter triples exactly."""
    from search_spark import datagen
    from search_spark.operators.relations import StartWithSameLetterModel
    from search_spark.pipeline import PipelineConfig, build_triples

    pages = datagen.generate_web_pages(spark, 12, seed=33, partitions=2)
    base = build_triples(spark, pages, PipelineConfig()).collect()
    re_models = {
        pair: StartWithSameLetterModel(pair)
        for pair in datagen.RELATION_PAIRS
    }
    probd = build_triples(
        spark, pages, PipelineConfig(re_models=re_models)
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, probd))


def test_ner_errors_operator(spark):
    from search_spark.operators.evaluation import ner_errors

    truth = spark.createDataFrame(
        [(1, "DIS", 0, 1), (1, "DIS", 5, 6), (2, "CHEM", 3, 3)],
        ["doc_id", "entity_type", "start", "end"],
    )
    pred = spark.createDataFrame(
        [(1, "DIS", 0, 1), (1, "DIS", 7, 8), (2, "CHEM", 3, 4)],
        ["doc_id", "entity_type", "start", "end"],
    )
    out = {
        (r["doc_id"], r["entity_type"], r["start"], r["end"]): r["kind"]
        for r in ner_errors(truth, pred, keys=["doc_id"]).collect()
    }
    assert out == {
        (1, "DIS", 5, 6): "false_neg",
        (2, "CHEM", 3, 3): "false_neg",
        (1, "DIS", 7, 8): "false_pos",
        (2, "CHEM", 3, 4): "false_pos",
    }


# -- MeSH tree / ancestor resolution ----------------------------------------

@requires_reference
def test_mesh_parse_parity_vs_reference():
    """parse_tree_numbers: line-for-line parity with the reference parser
    on the engine's NT fixture AND the reference's own test case."""
    import io
    import textwrap

    from reference_oracle import load_reference_mesh_module

    from search_spark.extraction import mesh
    from search_spark.oracles import mesh_nt_fixture_lines

    ref = load_reference_mesh_module()
    lines = mesh_nt_fixture_lines()
    ours = mesh.parse_tree_numbers(lines)
    theirs = ref.parse_tree_numbers(io.StringIO("\n".join(lines) + "\n"))
    assert ours == theirs

    # the reference's own unit fixture (test_mesh.py:107-120)
    nlm = "http://id.nlm.nih.gov/mesh"
    rdf = "http://www.w3.org/2000/01/rdf-schema"
    data = textwrap.dedent(f"""\
    <{nlm}/2022/D123> <{rdf}#label> "Topic"@en .
    <{nlm}/2022/D123> <{rdf}#label> "Sujet"@fr .
    <{nlm}/2022/D123> <{rdf}#some-tag> some-value .
    <{nlm}/2022/D123> <{nlm}/vocab#treeNumber> <{nlm}/2022/A00.123.456> .
    <{nlm}/2022/A00.123.456> <{nlm}/vocab#parent> <{nlm}/2022/A00.123> .
    """)
    assert mesh.parse_tree_numbers(data.splitlines()) == {
        "A00.123.456": "Topic"
    }


@requires_reference
def test_mesh_resolve_parents_parity_vs_reference():
    from reference_oracle import load_reference_mesh_module

    from search_spark.extraction import mesh
    from search_spark.oracles import mesh_tree_expected, mesh_topic_doc_rows

    ref = load_reference_mesh_module()
    tree = mesh_tree_expected()
    ref_tree = ref.MeSHTree(tree)
    assert mesh.parents("A0.123.456") == list(
        ref.MeSHTree.parents("A0.123.456")
    )
    for _url, topics in mesh_topic_doc_rows():
        known = [t for t in topics if t != "Unlisted Topic"]
        assert mesh.resolve_parents(known, tree) == ref.resolve_parents(
            known, ref_tree
        )


def test_mesh_tree_numbers_stage_validation(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from search_spark.extraction.mesh import tree_numbers_stage
    from search_spark.oracles import mesh_nt_fixture_lines

    import pytest

    bad = spark.createDataFrame(
        [("not a triple at all",)] + [(l,) for l in mesh_nt_fixture_lines()],
        ["value"],
    )
    with pytest.raises(RuntimeError, match="not valid triples"):
        tree_numbers_stage(bad)

    dup = spark.createDataFrame(
        [(mesh_nt_fixture_lines()[0],)] * 2, ["value"]
    )
    with pytest.raises(RuntimeError, match=">1 en label"):
        tree_numbers_stage(dup)


def test_mesh_resolution_plan_is_jvm_only(spark):
    # broadcast dim joins + HOF prefix slices: no python boundary at all
    from search_spark.queries import QUERIES
    from tests.test_plans import plan_of

    plan = plan_of(QUERIES["mesh_resolved_topics"].spark(spark, None))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
