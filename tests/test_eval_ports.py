"""Parity tests for the round-2 eval/attribute/topic ports against the
vendored reference and its golden fixtures."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from reference_oracle import (
    load_reference_attribute_module,
    load_reference_eval_module,
    requires_reference,
)
from search_spark.operators.attributes import measurement_type_vote
from search_spark.operators.evaluation import (
    iob_type_counts,
    remove_punctuation_iob,
)
from search_spark.operators.topics import TopicRule, check_topic_rules_col

GOLDEN_BEFORE = "/root/reference/tests/data/mining/eval/iob_punctuation_before.csv"
GOLDEN_AFTER = "/root/reference/tests/data/mining/eval/iob_punctuation_after.csv"
TAGS = ["class_ann1", "class_ann2", "class_ann3"]


# -- remove_punctuation (golden + randomized parity) ----------------------

@requires_reference
def test_remove_punctuation_matches_golden_fixture(spark):
    before = pd.read_csv(GOLDEN_BEFORE).reset_index(names="tok_id")
    df = spark.createDataFrame(before)
    out = (
        remove_punctuation_iob(df, TAGS, order_col="tok_id")
        .orderBy("tok_id")
        .toPandas()[["text"] + TAGS]
        .reset_index(drop=True)
    )
    expected = pd.read_csv(GOLDEN_AFTER)
    pd.testing.assert_frame_equal(out, expected)


@requires_reference
def test_remove_punctuation_matches_reference_on_random_streams(spark):
    ev = load_reference_eval_module()
    rng = random.Random(7)
    toks = ["Potato", "rises", "(", ")", ",", ".", "x", "Tomato", ";"]
    tags = ["O", "B-VEG", "I-VEG", "B-FRUIT", "I-FRUIT"]
    for trial in range(5):
        n = rng.randint(5, 40)
        pdf = pd.DataFrame(
            {
                "tok_id": range(n),
                "text": [rng.choice(toks) for _ in range(n)],
                "class_a": [rng.choice(tags) for _ in range(n)],
            }
        )
        expected = ev.remove_punctuation(
            pdf[["text", "class_a"]].copy()
        ).reset_index(drop=True)
        got = (
            remove_punctuation_iob(
                spark.createDataFrame(pdf), ["class_a"], order_col="tok_id"
            )
            .orderBy("tok_id")
            .toPandas()[["text", "class_a"]]
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, expected), f"trial {trial}"


# -- unique_etypes / token-mode counts ------------------------------------

@requires_reference
@pytest.mark.parametrize("mode", ["entity", "token"])
@pytest.mark.parametrize("col", TAGS)
def test_iob_type_counts_parity(spark, mode, col):
    ev = load_reference_eval_module()
    pdf = pd.read_csv(GOLDEN_AFTER)
    types, counts = ev.unique_etypes(pdf[col], return_counts=True, mode=mode)
    got = {
        r["entity_type"]: r["n"]
        for r in iob_type_counts(
            spark.createDataFrame(pdf[[col]]), col, mode=mode
        ).collect()
    }
    assert got == dict(zip(types, counts))


def test_iob_type_counts_bad_mode_raises(spark):
    with pytest.raises(ValueError):
        iob_type_counts(spark.range(1).withColumn("x", F.lit("O")), "x", "zz")


# -- measurement-type vote ------------------------------------------------

@requires_reference
def test_measurement_vote_matches_reference(spark):
    at = load_reference_attribute_module()
    ex = at.AttributeExtractor.__new__(at.AttributeExtractor)
    rng = random.Random(13)
    type_pool = ["mass", "time", "concentration", "", "length"]
    measurements = []
    for mid in range(60):
        n = rng.randint(1, 6)
        measurements.append(
            (mid, [{"rawUnit": {"type": t}} if (t := rng.choice(type_pool))
                   else {} for _ in range(n)])
        )
    expected = {
        mid: ex.get_measurement_type({"quantities": qs})
        for mid, qs in measurements
    }
    rows = [
        (mid, at.AttributeExtractor.get_quantity_type(q), pos)
        for mid, qs in measurements
        for pos, q in enumerate(qs)
    ]
    df = spark.createDataFrame(rows, ["mid", "quantity_type", "pos"])
    got = {
        r["mid"]: r["measurement_type"]
        for r in measurement_type_vote(df, ["mid"]).collect()
    }
    assert got == expected


# -- topic rules ----------------------------------------------------------

def _rule_fixture_rows():
    return [
        # (id, source, article_topics, journal_topics)
        (0, "arxiv", ["machine learning", "biology"], ["Nature"]),
        (1, "pmc", ["virology"], ["Cell"]),
        (2, "arxiv", ["astro-ph"], ["ArXiv Astro"]),
        (3, "pubmed", ["oncology", "virology"], ["Lancet"]),
        (4, "arxiv", [], []),
    ]


@requires_reference
def test_topic_rules_match_reference(spark):
    import sys
    import types

    sys.path.insert(0, "/root/reference/src")
    load_reference_eval_module()  # shared stubs (spacy, version, …)
    if "h5py" not in sys.modules:
        try:
            import h5py  # noqa: F401
        except ImportError:
            sys.modules["h5py"] = types.ModuleType("h5py")
    from bluesearch.database.article import ArticleSource
    from bluesearch.database.topic_info import TopicInfo
    from bluesearch.database.topic_rule import TopicRule as RefRule
    from bluesearch.database.topic_rule import check_topic_rules as ref_check

    accept = [("article", None, "virolog|machine"), (None, "arxiv", "astro")]
    reject = [("journal", None, "Cell"), (None, "pubmed", None)]

    def as_ref(rules):
        return [
            RefRule(level=lv, source=src, pattern=pat)
            for lv, src, pat in rules
        ]

    def as_ours(rules):
        return [TopicRule(lv, src, pat) for lv, src, pat in rules]

    expected = {}
    for rid, src, atop, jtop in _rule_fixture_rows():
        info = TopicInfo(source=ArticleSource(src), path="x")
        if atop:
            info.add_article_topics("t", list(atop))
        if jtop:
            info.add_journal_topics("t", list(jtop))
        expected[rid] = ref_check(info, as_ref(accept), as_ref(reject))

    df = spark.createDataFrame(
        _rule_fixture_rows(), ["rid", "source", "article_topics", "journal_topics"]
    )
    got = {
        r["rid"]: r["ok"]
        for r in df.select(
            "rid",
            check_topic_rules_col(
                as_ours(accept),
                as_ours(reject),
                F.col("source"),
                F.col("article_topics"),
                F.col("journal_topics"),
            ).alias("ok"),
        ).collect()
    }
    assert got == expected
    assert any(got.values()) and not all(got.values())


@requires_reference
def test_spans_from_iob_matches_reference_iob2idx(spark):
    """Exact iob2idx parity (eval.py:312-341) on the reference's
    ner_iob_sample.csv fixture and on randomized valid IOB streams."""
    ev = load_reference_eval_module()
    from search_spark.operators.evaluation import spans_from_iob

    def check(series):
        pdf = pd.DataFrame({"tok_id": range(len(series)), "iob": series})
        got = spans_from_iob(
            spark.createDataFrame(pdf), "iob", order_col="tok_id"
        ).collect()
        got_by_type = {}
        for r in got:
            got_by_type.setdefault(r["entity_type"], set()).add(
                (r["start"], r["end"])
            )
        s = pd.Series(series)
        etypes = ev.unique_etypes(s)
        for etype in etypes:
            idxs = ev.iob2idx(s, etype)
            expected = set(zip(idxs["start"].tolist(), idxs["end"].tolist()))
            assert got_by_type.get(etype, set()) == expected, etype
        assert set(got_by_type) == set(etypes)

    pdf = pd.read_csv(
        "/root/reference/tests/data/mining/eval/ner_iob_sample.csv"
    )
    for col in ("annotator_1", "annotator_2"):
        check(pdf[col].tolist())

    # randomized VALID IOB streams (I- only continues a same-type run)
    rng = random.Random(31)
    types = ["VEG", "FRUIT", "TOOL"]
    for _ in range(6):
        seq, prev = [], "O"
        for _ in range(rng.randint(5, 60)):
            if prev != "O" and rng.random() < 0.4:
                seq.append("I-" + prev[2:])
            elif rng.random() < 0.4:
                seq.append("B-" + rng.choice(types))
            else:
                seq.append("O")
            prev = seq[-1]
        check(seq)
    # adjacent B-B of the same type must be two spans, not one
    check(["B-VEG", "B-VEG", "I-VEG", "O"])


@requires_reference
def test_spans_to_text_matches_reference_idx2text(spark):
    ev = load_reference_eval_module()
    from search_spark.operators.evaluation import spans_from_iob, spans_to_text

    pdf = pd.read_csv(
        "/root/reference/tests/data/mining/eval/ner_iob_sample.csv"
    ).reset_index(names="tok_id")
    for col in ("annotator_1", "annotator_2"):
        df = spark.createDataFrame(pdf[["tok_id", "text", col]])
        spans = spans_from_iob(df, col, order_col="tok_id")
        texts = spans_to_text(spans, df, order_col="tok_id")
        got = {
            (r["entity_type"], r["start"], r["end"]): r["entity_text"]
            for r in texts.collect()
        }
        s = pd.Series(pdf[col].tolist())
        expected = {}
        for etype in ev.unique_etypes(s):
            idxs = ev.iob2idx(s, etype)
            for (st, en), txt in zip(
                zip(idxs["start"], idxs["end"]),
                ev.idx2text(pdf["text"], idxs),
            ):
                expected[(etype, int(st), int(en))] = txt
        assert got == expected
        assert expected, col  # fixture must contain entities
