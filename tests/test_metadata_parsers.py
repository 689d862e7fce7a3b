"""Parity tests for the PubMed/TEI parsers and the article-metadata model,
against the vendored reference (read-only, test-time oracle) on the
reference's own fixture files (tests/data/pubmed_article*.xml,
tests/data/1411.7903v4.xml)."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest

from search_spark.extraction.metadata import (
    arxiv_id_from_path,
    article_uid,
    content_uid,
    pubmed_metadata,
    tei_metadata,
    uid_from_identifiers,
)
from search_spark.extraction.parsers import parse_pubmed_xml, parse_tei_xml

from reference_oracle import load_reference_article_module, requires_reference

REF_DATA = "/root/reference/tests/data"
PUBMED_FIXTURES = [
    f"{REF_DATA}/pubmed_article.xml",
    f"{REF_DATA}/pubmed_article_minimal.xml",
]
TEI_FIXTURE = f"{REF_DATA}/1411.7903v4.xml"


@pytest.fixture(scope="module")
def ref():
    return load_reference_article_module()


# -- PubMed ---------------------------------------------------------------

@requires_reference
@pytest.mark.parametrize("path", PUBMED_FIXTURES)
def test_pubmed_abstract_parity(ref, path):
    raw = open(path, "rb").read()
    root = ET.parse(path).getroot()
    art = root if root.tag == "PubmedArticle" else next(
        iter(root.iter("PubmedArticle"))
    )
    ref_parser = ref.PubMedXMLParser(art)
    expected = [t for t in ref_parser.abstract if t]
    ours = parse_pubmed_xml(raw)
    assert [text for _, text in ours] == expected
    assert all(sec == "Abstract" for sec, _ in ours) or not ours


@requires_reference
@pytest.mark.parametrize("path", PUBMED_FIXTURES)
def test_pubmed_metadata_parity(ref, path):
    root = ET.parse(path).getroot()
    art = root if root.tag == "PubmedArticle" else next(
        iter(root.iter("PubmedArticle"))
    )
    ref_parser = ref.PubMedXMLParser(art)
    meta = pubmed_metadata(open(path, "rb").read())
    assert meta["title"] == ref_parser.title
    assert meta["authors"] == list(ref_parser.authors)
    assert meta["pubmed_id"] == ref_parser.pubmed_id
    assert meta["pmc_id"] == ref_parser.pmc_id
    assert meta["doi"] == ref_parser.doi


@requires_reference
def test_pubmed_article_set_iterates_all_members(ref):
    # reference set iteration (entrypoint/database/parse.py:143-147) creates
    # one parser per <PubmedArticle>; our parser processes the whole set
    raw = open(f"{REF_DATA}/pubmed_articles.xml", "rb").read()
    root = ET.fromstring(raw)
    expected: list[str] = []
    for a in root.iter("PubmedArticle"):
        expected.extend(t for t in ref.PubMedXMLParser(a).abstract if t)
    assert [t for _, t in parse_pubmed_xml(raw)] == expected

    # and on a synthetic set where members DO have abstracts
    synth = (
        "<PubmedArticleSet>"
        + "".join(
            f"<PubmedArticle><MedlineCitation><PMID>{i}</PMID><Article>"
            f"<ArticleTitle>T{i}</ArticleTitle><Abstract>"
            f"<AbstractText>Para {i}a.</AbstractText>"
            f"<AbstractText>Para {i}b.</AbstractText>"
            f"</Abstract></Article></MedlineCitation></PubmedArticle>"
            for i in range(3)
        )
        + "</PubmedArticleSet>"
    )
    synth_root = ET.fromstring(synth)
    expected = []
    for a in synth_root.iter("PubmedArticle"):
        expected.extend(t for t in ref.PubMedXMLParser(a).abstract if t)
    assert [t for _, t in parse_pubmed_xml(synth)] == expected
    assert len(expected) == 6


# -- TEI ------------------------------------------------------------------

@requires_reference
def test_tei_paragraphs_parity(ref):
    ref_parser = ref.TEIXMLParser(TEI_FIXTURE)
    expected = list(ref_parser.paragraphs)
    ours = parse_tei_xml(open(TEI_FIXTURE, "rb").read())
    body_ours = [(s, t) for s, t in ours if s != "Abstract"]
    assert body_ours == expected
    assert len(expected) > 5


@requires_reference
def test_tei_formula_reassembly_parity(ref, tmp_path):
    # sentence reassembly across <p>/<formula> runs (_build_texts,
    # article.py:998-1058): formulas join as FORMULA, lowercase-starting
    # fragments continue the sentence, emitted text gains a final period
    synth = (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader/>'
        "<text><body>"
        "<div><head>Proof</head>"
        "<p>We define</p><formula>x = 1</formula>"
        "<p>and conclude the result</p>"
        "<p>A new sentence follows.</p></div>"
        '<figure type="table"><figDesc>Tab caption.</figDesc></figure>'
        "<figure><figDesc>Fig caption.</figDesc></figure>"
        "</body></text></TEI>"
    )
    p = tmp_path / "synth_tei.xml"
    p.write_text(synth)
    expected = list(ref.TEIXMLParser(str(p)).paragraphs)
    ours = parse_tei_xml(synth)
    assert ours == expected
    assert ("Proof", "We define FORMULA and conclude the result.") in ours
    assert ("Table Caption", "Tab caption.") in ours
    assert ("Figure Caption", "Fig caption.") in ours


@requires_reference
def test_tei_abstract_parity(ref):
    ref_parser = ref.TEIXMLParser(TEI_FIXTURE)
    expected = list(ref_parser.abstract)
    ours = [t for s, t in parse_tei_xml(open(TEI_FIXTURE, "rb").read())
            if s == "Abstract"]
    assert ours == expected


@requires_reference
def test_tei_metadata_parity(ref):
    ref_parser = ref.TEIXMLParser(TEI_FIXTURE, is_arxiv=True)
    meta = tei_metadata(open(TEI_FIXTURE, "rb").read(), path=TEI_FIXTURE)
    assert meta["title"] == ref_parser.title
    assert meta["authors"] == list(ref_parser.authors)
    assert meta["doi"] == ref_parser.doi
    assert meta["arxiv_id"] == ref_parser.arxiv_id


# -- identifiers / uid ----------------------------------------------------

@requires_reference
@pytest.mark.parametrize(
    "ids",
    [
        ("1", None, None, None),
        ("1", "2", None, None),
        (None, None, "arxiv:2101.00001v2", "10.1/x"),
        (None, None, None, "10.1/x"),
    ],
)
def test_uid_from_identifiers_parity(ref, ids):
    assert uid_from_identifiers(ids) == ref.ArticleParser.get_uid_from_identifiers(ids)


def test_uid_all_none_raises():
    with pytest.raises(ValueError):
        uid_from_identifiers((None, None, None, None))


def test_article_uid_prefers_identifiers_then_url():
    with_id = {"pubmed_id": "7", "pmc_id": None, "arxiv_id": None,
               "doi": None, "title": "t", "authors": [], "abstract": []}
    assert article_uid(with_id, url="https://x") == uid_from_identifiers(
        ("7", None, None, None)
    )
    no_id = {"pubmed_id": None, "pmc_id": None, "arxiv_id": None,
             "doi": None, "title": "t", "authors": [], "abstract": []}
    import hashlib

    assert article_uid(no_id, url="https://x") == hashlib.md5(
        b"https://x"
    ).hexdigest()
    assert article_uid(no_id) == content_uid("t", [], [], [])


@requires_reference
@pytest.mark.parametrize(
    "path",
    [
        "/data/arxiv/arxiv/pdf/2101/2101.00001v2.pdf",
        "some/dir/1411.7903v4.xml",
        "/x/arxiv/cond-mat/pdf/0001/0001001v1.pdf",
    ],
)
def test_arxiv_id_from_path_parity(ref, path):
    assert arxiv_id_from_path(path) == ref.get_arxiv_id(path)
    assert arxiv_id_from_path(path, with_prefix=False) == ref.get_arxiv_id(
        path, with_prefix=False
    )


@requires_reference
def test_arxiv_id_invalid_path_raises(ref):
    for fn in (arxiv_id_from_path, ref.get_arxiv_id):
        with pytest.raises(ValueError):
            fn("/no/arxiv/id/here.pdf")


def test_arxiv_id_col_matches_python_on_new_format(spark):
    from search_spark.extraction.metadata import arxiv_id_col

    paths = [
        "/data/arxiv/arxiv/pdf/2101/2101.00001v2.pdf",
        "some/dir/1411.7903v4.xml",
        "/no/arxiv/id/here.pdf",
    ]
    df = spark.createDataFrame([(p,) for p in paths], ["path"])
    got = {
        r["path"]: r["aid"]
        for r in df.select("path", arxiv_id_col("path").alias("aid")).collect()
    }
    assert got[paths[0]] == "arxiv:2101.00001v2"
    assert got[paths[1]] == "arxiv:1411.7903v4"
    assert got[paths[2]] is None


# -- articles_stage (Spark) ----------------------------------------------

def test_articles_stage_mixed_formats(spark):
    from search_spark.extraction.metadata import articles_stage
    from search_spark.queries import multiformat_fixture_rows

    pages = spark.createDataFrame(
        multiformat_fixture_rows(), ["url", "source_format", "html"]
    )
    rows = {r["url"]: r for r in articles_stage(pages).collect()}
    assert len(rows) == 40
    pm = rows["https://example.org/mf/2"]  # pubmed fixture
    assert pm["title"] == "Study 2"
    assert pm["authors"] == ["Jane Doe"]
    assert pm["pubmed_id"] == "1002"
    assert pm["doi"] == "10.1000/x2"
    assert pm["journal"] == "J Synth"
    assert pm["uid"] == uid_from_identifiers(("1002", None, None, "10.1000/x2"))
    tei = rows["https://example.org/mf/3"]
    assert tei["title"] == "TEI 3"
    assert tei["authors"] == ["Ada Lovelace"]
    assert tei["doi"] == "10.2000/t3"
    cord = rows["https://example.org/mf/1"]
    assert cord["authors"] == ["Jo Q. Public"]
    assert cord["abstract"] == ["Abstract 1 on Insulin."]
    html = rows["https://example.org/mf/0"]
    assert html["authors"] == []
    import hashlib

    assert html["uid"] == hashlib.md5(b"https://example.org/mf/0").hexdigest()


@requires_reference
@pytest.mark.parametrize(
    "path",
    [f"{REF_DATA}/jats_article.xml", f"{REF_DATA}/biorxiv.xml"],
)
def test_jats_metadata_parity(ref, path):
    from search_spark.extraction.metadata import jats_metadata

    ref_parser = ref.JATSXMLParser(path)
    meta = jats_metadata(open(path, "rb").read())
    assert meta["title"] == ref_parser.title
    assert meta["authors"] == list(ref_parser.authors)
    assert meta["abstract"] == list(ref_parser.abstract)
    assert meta["pubmed_id"] == ref_parser.pubmed_id
    assert meta["pmc_id"] == ref_parser.pmc_id
    assert meta["doi"] == ref_parser.doi


@requires_reference
def test_jats_meca_zip_parity(ref, tmp_path):
    """A .meca zip (content/*.xml) parses identically to the inner JATS
    file — parity vs the reference's from_zip on a synthesized archive
    wrapping the reference's own jats_article.xml fixture."""
    import io
    from zipfile import ZipFile

    from search_spark.extraction.parsers import parse_jats_meca, parse_jats_xml

    inner = open(f"{REF_DATA}/jats_article.xml", "rb").read()
    buf = io.BytesIO()
    with ZipFile(buf, "w") as zf:
        zf.writestr("content/article.xml", inner)
        zf.writestr("content/figure1.png", b"\x89PNG")
        zf.writestr("manifest.xml", "<manifest/>")
    meca = buf.getvalue()

    p = tmp_path / "a.meca"
    p.write_bytes(meca)
    ref_parser = ref.JATSXMLParser.from_zip(str(p))
    expected = list(ref_parser.paragraphs)

    ours = parse_jats_meca(meca)
    ours_plain = parse_jats_xml(inner)
    assert ours == ours_plain
    n_abstract = len(list(ref_parser.abstract))
    assert ours[n_abstract:] == expected  # body+captions parity

    # zero or multiple content XMLs must raise, like the reference
    import pytest as _pytest

    bad = io.BytesIO()
    with ZipFile(bad, "w") as zf:
        zf.writestr("content/a.xml", inner)
        zf.writestr("content/b.xml", inner)
    with _pytest.raises(ValueError):
        parse_jats_meca(bad.getvalue())


@requires_reference
@pytest.mark.parametrize(
    "path",
    [f"{REF_DATA}/jats_article.xml", f"{REF_DATA}/biorxiv.xml"],
)
def test_jats_paragraphs_full_parity(ref, path):
    """parse_jats_xml == abstract-first + the reference's exact
    ``paragraphs`` stream (scoped section titles, body-only walk,
    figure/table captions appended) on the reference's own fixtures."""
    from search_spark.extraction.parsers import parse_jats_xml

    ref_parser = ref.JATSXMLParser.from_xml(path)
    expected_body = list(ref_parser.paragraphs)
    expected_abstract = list(ref_parser.abstract)
    ours = parse_jats_xml(open(path, "rb").read())
    n_abs = len(expected_abstract)
    assert [t for _, t in ours[:n_abs]] == expected_abstract
    assert all(s == "Abstract" for s, _ in ours[:n_abs])
    assert ours[n_abs:] == expected_body


def _cord19_sample_files():
    import glob

    return sorted(
        glob.glob(
            "/root/reference/tests/data/cord19_v35/document_parses/*/*.json"
        )
    )


@requires_reference
def test_cord19_parity_on_reference_samples(ref):
    """parse_cord19_json + cord19_metadata vs the reference's
    CORD19ArticleParser on its real CORD-19 sample documents."""
    import json as _json

    from search_spark.extraction.metadata import cord19_metadata
    from search_spark.extraction.parsers import parse_cord19_json

    files = _cord19_sample_files()
    assert len(files) >= 3
    for path in files:
        data = _json.load(open(path))
        ref_parser = ref.CORD19ArticleParser(data)
        expected_abstract = list(ref_parser.abstract)
        expected_body = list(ref_parser.paragraphs)
        raw = open(path, "rb").read()
        ours = parse_cord19_json(raw)
        n_abs = len(expected_abstract)
        assert [t for _, t in ours[:n_abs]] == expected_abstract, path
        assert ours[n_abs:] == expected_body, path
        meta = cord19_metadata(raw)
        assert meta["title"] == ref_parser.title, path
        assert meta["authors"] == [a for a in ref_parser.authors if a], path
        assert meta["pmc_id"] == ref_parser.pmc_id, path
