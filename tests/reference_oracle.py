"""Import the reference implementation (read-only, /root/reference) as a
*test-time oracle* for byte-identical extraction parity.

The reference has unimportable optional deps in this sandbox
(``mashumaro``, ``defusedxml``, generated ``bluesearch.version``); we stub
just enough for ``bluesearch.database.article`` to import. Nothing from the
reference is executed outside the test suite.
"""

from __future__ import annotations

import os
import sys
import types
import xml.etree.ElementTree as RealET

import pytest

_REFERENCE_SRC = "/root/reference/src"

# parity tests need the reference checkout; without it they skip, not fail
requires_reference = pytest.mark.skipif(
    not os.path.isdir(_REFERENCE_SRC),
    reason=f"reference checkout missing: {_REFERENCE_SRC} does not exist",
)


def load_reference_article_module():
    if _REFERENCE_SRC not in sys.path:
        sys.path.insert(0, _REFERENCE_SRC)

    if "defusedxml" not in sys.modules:
        d = types.ModuleType("defusedxml")
        det = types.ModuleType("defusedxml.ElementTree")
        for attr in dir(RealET):
            if not attr.startswith("_"):
                setattr(det, attr, getattr(RealET, attr))
        d.ElementTree = det
        sys.modules["defusedxml"] = d
        sys.modules["defusedxml.ElementTree"] = det

    if "bluesearch.version" not in sys.modules:
        v = types.ModuleType("bluesearch.version")
        v.__version__ = "0.0.0"
        sys.modules["bluesearch.version"] = v

    if "mashumaro" not in sys.modules:
        m = types.ModuleType("mashumaro")
        mm = types.ModuleType("mashumaro.mixins")
        mj = types.ModuleType("mashumaro.mixins.json")

        class DataClassJSONMixin:  # minimal stand-in
            pass

        mj.DataClassJSONMixin = DataClassJSONMixin
        sys.modules["mashumaro"] = m
        sys.modules["mashumaro.mixins"] = mm
        sys.modules["mashumaro.mixins.json"] = mj

    import bluesearch.database.article as article_module

    return article_module


def reference_element_to_str(xml_fragment: str) -> str:
    """Run the reference's ``_element_to_str`` on one XML fragment string."""
    article = load_reference_article_module()
    parser = article.JATSXMLParser.__new__(article.JATSXMLParser)
    element = RealET.fromstring(xml_fragment)
    return parser._element_to_str(element)


def load_reference_eval_module():
    """Import ``bluesearch.mining.eval`` as a test-time oracle; stub the
    heavy optional deps (sklearn, spacy, typing_extensions) that the
    punctuation/IOB functions under test never touch."""
    if _REFERENCE_SRC not in sys.path:
        sys.path.insert(0, _REFERENCE_SRC)
    load_reference_article_module()  # installs shared stubs

    if "sklearn" not in sys.modules:
        try:
            import sklearn  # noqa: F401
        except ImportError:
            sk = types.ModuleType("sklearn")
            skm = types.ModuleType("sklearn.metrics")
            sk.metrics = skm
            sys.modules["sklearn"] = sk
            sys.modules["sklearn.metrics"] = skm

    if "spacy" not in sys.modules:
        try:
            import spacy  # noqa: F401
        except ImportError:
            sp = types.ModuleType("spacy")
            spt = types.ModuleType("spacy.tokens")

            class Doc:  # minimal stand-in; never instantiated in tests
                pass

            spt.Doc = Doc
            sp.tokens = spt
            sys.modules["spacy"] = sp
            sys.modules["spacy.tokens"] = spt

    if "typing_extensions" not in sys.modules:
        try:
            import typing_extensions  # noqa: F401
        except ImportError:
            te = types.ModuleType("typing_extensions")
            import typing as _typing

            te.Literal = _typing.Literal
            te.overload = _typing.overload
            sys.modules["typing_extensions"] = te

    import bluesearch.mining.eval as eval_module

    return eval_module


def load_reference_topic_module():
    """Import ``bluesearch.database.topic`` as a test-time oracle; stub
    ``requests`` (the NLM-catalog HTTP client — never called by the
    local-XML functions under test)."""
    if _REFERENCE_SRC not in sys.path:
        sys.path.insert(0, _REFERENCE_SRC)
    load_reference_article_module()  # installs shared stubs

    if "requests" not in sys.modules:
        try:
            import requests  # noqa: F401
        except ImportError:
            rq = types.ModuleType("requests")

            def _no_http(*a, **k):  # pragma: no cover - never called
                raise RuntimeError("HTTP disabled in sandbox tests")

            rq.get = _no_http
            rq.post = _no_http
            sys.modules["requests"] = rq

    import bluesearch.database.topic as topic_module

    return topic_module


def load_reference_attribute_module():
    """Import ``bluesearch.mining.attribute`` for the measurement-type-vote
    oracle; stub the notebook/server deps (ipywidgets, IPython, displacy,
    css) it pulls in at import time but the vote logic never uses."""
    if _REFERENCE_SRC not in sys.path:
        sys.path.insert(0, _REFERENCE_SRC)
    load_reference_eval_module()  # installs shared stubs incl. spacy

    if "requests" not in sys.modules:
        try:
            __import__("requests")
        except ImportError:
            sys.modules["requests"] = types.ModuleType("requests")
    if "ipywidgets" not in sys.modules:
        try:
            __import__("ipywidgets")
        except ImportError:
            w = types.ModuleType("ipywidgets")
            # widget classes are subclassed at import time — synthesize
            # a fresh empty class per attribute (PEP 562 module getattr)
            w.__getattr__ = lambda name: type(name, (), {})
            sys.modules["ipywidgets"] = w
    if "IPython" not in sys.modules:
        ip = types.ModuleType("IPython")
        ipd = types.ModuleType("IPython.display")
        ipd.HTML = object
        ipd.display = lambda *a, **k: None
        ip.display = ipd
        sys.modules["IPython"] = ip
        sys.modules["IPython.display"] = ipd
    import spacy as _spacy

    if not hasattr(_spacy, "displacy"):
        _spacy.displacy = types.ModuleType("spacy.displacy")
    if "bluesearch._css" not in sys.modules:
        css = types.ModuleType("bluesearch._css")
        css.style = ""
        sys.modules["bluesearch._css"] = css

    import bluesearch.mining.attribute as attribute_module

    return attribute_module


def load_reference_mesh_module():
    """The reference's MeSH tree utilities (database/mesh.py) — pure
    stdlib, importable directly once shared stubs are installed."""
    load_reference_article_module()  # installs shared stubs
    from bluesearch.database import mesh

    return mesh
