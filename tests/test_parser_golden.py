"""Frozen parser golden corpus (tools/parser_golden.py): parse_amount and
parse_date must reproduce the stored per-1,000-text digests exactly —
matches, full match lists, span offsets and NaN amounts.  This stands in
for the node differentials whenever the reference tree is absent."""

import json

import pytest

from tools import parser_golden


@pytest.fixture(scope="module")
def golden():
    with open(parser_golden.GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def corpus():
    return parser_golden.corpus()


@pytest.mark.parametrize("parser", sorted(parser_golden.PARSERS))
def test_parser_matches_frozen_corpus(golden, corpus, parser):
    assert golden["chunk"] == parser_golden.CHUNK
    assert sorted(corpus) == sorted(golden["sources"])
    record = parser_golden.PARSERS[parser]
    failed = []
    for name, texts in corpus.items():
        src = golden["sources"][name]
        assert len(texts) == src["n_texts"], name
        got = parser_golden.chunk_digests(texts, record)
        for i, (g, want) in enumerate(zip(got, src[parser])):
            if g != want:
                lo = i * parser_golden.CHUNK
                hi = min(lo + parser_golden.CHUNK, len(texts)) - 1
                failed.append(f"{name} texts {lo}-{hi}")
    assert not failed, f"{parser} output changed in: {', '.join(failed)}"


@pytest.mark.parametrize("text", [
    "\u017fep 5 2016 mar",  # long s folds to 's' only inside sre
    "5 D\u0131c 2016 ene",  # dotless i
    "5 D\u0130c 2016 ene",  # dotted capital I
])
def test_month_name_matched_only_by_sre_folding_yields_no_date(text):
    """The IGNORECASE grammar matches these month names while
    ``str.lower()`` maps them to no month (the reference's JS regexes
    do not match them at all): they must give no date, not a KeyError."""
    from receipt_scanner_spark.parsers.date import parse_date

    r = parse_date(text)
    assert r["match"] is None and r["matches"] == []
