"""Byte-identical extraction parity vs the reference kernel + page-walk tests.

The strongest invariant in BASELINE.json: extracted text must be
byte-identical per url to the reference extractor
(article.py:510-591). We verify with hand cases *and* property-based random
XML trees compared against the actual reference functions.
"""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_spark.extraction.html_text import (
    HTML_PROFILE,
    JATS_PROFILE,
    extract_paragraphs,
    render_element,
)
from tests.reference_oracle import (
    reference_element_to_str,
    requires_reference,
)

from xml.etree import ElementTree


def render_jats(fragment: str) -> str:
    return render_element(ElementTree.fromstring(fragment), JATS_PROFILE)


HAND_CASES = [
    "<p>I <bold>like</bold> python &amp; ice cream.</p>",
    "<p>H<sub>2</sub>O and E=mc<sup>2</sup></p>",
    "<p>see <ext-link>http://x</ext-link> and <email>a@b.c</email>end</p>",
    "<p>  leading and trailing   </p>",
    "<p>unicode: ﬁ ½ Ⅲ ²</p>",  # NFKC: ligature, fractions, roman, superscript
    "<p>nested <italic> mixed <bold> deep </bold> tail </italic> out</p>",
    "<p><sub> spaced sub </sub>tail</p>",
    "<p>a<disp-formula>x=1</disp-formula>b<inline-formula>y</inline-formula>c</p>",
    "<p>double &amp;amp; escape &lt;p&gt;</p>",
    "<p></p>",
    "<p>only tail<xref>ref</xref></p>",
    "<sec><title>T</title><p>body</p></sec>",
]


@requires_reference
@pytest.mark.parametrize("fragment", HAND_CASES)
def test_kernel_matches_reference_hand_cases(fragment):
    assert render_jats(fragment) == reference_element_to_str(fragment)


# --- property-based parity ----------------------------------------------

_TAGS = [
    "p", "bold", "italic", "sc", "xref", "underline", "monospace",
    "sub", "sup", "ext-link", "email", "uri", "disp-formula",
    "inline-formula", "unknown-tag", "styled-content",
]

_text = st.text(
    alphabet=string.ascii_letters + string.digits + " &#;<>ﬁ½²é \t",
    max_size=20,
).map(lambda s: s.replace("<", "&lt;").replace(">", "&gt;").replace("&", "&amp;"))


def _element(children):
    def build(tag_text):
        tag, text, tail_parts = tag_text
        inner = "".join(tail_parts)
        return f"<{tag}>{text}{inner}</{tag}>"

    return st.tuples(
        st.sampled_from(_TAGS), _text, st.lists(children, max_size=3)
    ).map(build)


_fragment = st.recursive(
    st.tuples(st.sampled_from(_TAGS), _text).map(
        lambda tt: f"<{tt[0]}>{tt[1]}</{tt[0]}>"
    ),
    lambda children: _element(children.map(lambda c: c + "tail")),
    max_leaves=12,
).map(lambda body: f"<p>{body}</p>")


@requires_reference
@settings(max_examples=300, deadline=None)
@given(_fragment)
def test_kernel_matches_reference_random_trees(fragment):
    assert render_jats(fragment) == reference_element_to_str(fragment)


# --- page walk ------------------------------------------------------------

def test_page_walk_strips_boilerplate_and_sections():
    page = (
        "<html><head><title>t</title></head><body>"
        "<nav><p>Home | About</p></nav>"
        "<h2>Intro</h2><p>First para.</p><p>Second para.</p>"
        "<div><h3>Deep</h3><p>Nested para.</p></div>"
        "<footer><p>(c) footer</p></footer>"
        "</body></html>"
    )
    paras = extract_paragraphs(page, HTML_PROFILE)
    assert paras == [
        (0, "Intro", "First para."),
        (1, "Intro", "Second para."),
        (2, "Deep", "Nested para."),
    ]


def test_page_walk_html_tag_rules():
    page = (
        "<html><body><h1>S</h1>"
        "<p>H<sub>2</sub>O &amp; 10<sup>3</sup> <a href='x'>link text</a> end</p>"
        "</body></html>"
    )
    paras = extract_paragraphs(page, HTML_PROFILE)
    assert paras == [(0, "S", "H_2O & 10^3  end")]


def test_malformed_html_falls_back_to_tag_stripping():
    paras = extract_paragraphs("<html><p>broken <b>page</html>", HTML_PROFILE)
    assert paras == [(0, "", "broken page")]


def test_datagen_text_column_is_byte_identical_oracle():
    """The generated `text` column equals our extraction of `html` — the
    per-url byte-identical contract, end to end, for many documents."""
    from search_spark.datagen import generate_doc

    for doc_id in range(200):
        row, expected = generate_doc(seed=42, doc_id=doc_id)
        paras = extract_paragraphs(row["html"], HTML_PROFILE)
        reassembled = "\n".join(t for _, _, t in paras)
        assert reassembled == row["text"], f"doc {doc_id} extraction mismatch"
        assert [(p, s, t) for p, s, t in expected.paragraphs] == paras
