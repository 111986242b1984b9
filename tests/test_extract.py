"""X2/X3/X4: byte-identical extraction, quarantine, exact triple extraction."""

from __future__ import annotations

import pytest

from vectrain_spark.operators.extract import (
    extract_pages,
    extract_triples_df,
    split_quarantine,
)
from vectrain_spark.oracle import prf
from vectrain_spark.textops import extract_text, extract_triples


def test_extract_text_unit():
    html = (
        b"<html><head><title>T</title><style>x{}</style><script>var a;</script></head>"
        b"<body><nav>Home</nav><header><h1>H</h1></header>"
        b"<article><p>Alpha &amp; Beta.</p><p>Gamma   spaced.</p></article>"
        b"<aside>ads</aside><footer>f</footer></body></html>"
    )
    text, err = extract_text(html)
    assert err is None
    assert text == "Alpha & Beta.\nGamma spaced."


def test_extract_text_quarantine_cases():
    assert extract_text(None).error == "null_html"
    assert extract_text(b"\xff\xfe broken").error == "decode_error"
    assert extract_text(b"<html><body></body></html>").error == "empty_text"


def test_extract_triples_unit():
    text = "Acme Corp acquired Beta Labs. Filler sentence here.\nJane works for Acme Corp."
    got = extract_triples(text)
    assert [(t.subj, t.pred, t.obj) for t in got] == [
        ("Acme Corp", "acquired", "Beta Labs"),
        ("Jane", "works_for", "Acme Corp"),
    ]
    # predicate word inside a longer token must not fire (\b anchors)
    assert extract_triples("The reacquired unit works forward.") == []


def test_spark_text_byte_identical(spark, pages_df, golden):
    """input_hint invariant: distributed text == oracle text, per url, as bytes."""
    good, quarantine = split_quarantine(extract_pages(pages_df))
    got = {r["url"]: r["text"] for r in good.select("url", "text").collect()}
    oext = golden["extracted"]
    n_good = 0
    for url, text, err in zip(oext["url"], oext["text"], oext["error"]):
        if err is None:
            assert got[url].encode("utf-8") == text.encode("utf-8"), url
            n_good += 1
        else:
            assert url not in got
    assert n_good == len(got)
    # quarantine carries the error codes, bad rows never reach triples (X3)
    qerrs = {r["error"] for r in quarantine.select("error").distinct().collect()}
    assert qerrs == {"empty_text", "decode_error"}


def test_spark_triples_match_oracle(spark, pages_df, golden):
    good, _ = split_quarantine(extract_pages(pages_df, triples=True))
    tri = extract_triples_df(good)
    got = set(map(tuple, tri.select("url", "subj", "pred", "obj").toPandas().values))
    want = set(map(tuple, golden["triples"][["url", "subj", "pred", "obj"]].values))
    p, r = prf(got, want)
    assert p == 1.0 and r == 1.0


def test_fused_pass_triples_match_textops_per_url(spark, pages_df):
    """The nested column of the fused pass is textops.extract_triples of
    the text the same pass extracted, per url; error rows carry none, and
    the text-only pass keeps its old columns."""
    ext = extract_pages(pages_df, triples=True)
    rows = ext.select("url", "text", "error", "triples").collect()
    n_err = 0
    for r in rows:
        got = [(t.sent_idx, t.subj, t.pred, t.obj) for t in r["triples"]]
        want = [(t.sent_idx, t.subj, t.pred, t.obj) for t in extract_triples(r["text"])]
        assert got == want, r["url"]
        if r["error"] is not None:
            n_err += 1
            assert got == [], r["url"]
    assert n_err > 0 and len(rows) > n_err
    assert ext.columns == extract_pages(pages_df).columns + ["triples"]


def test_extract_triples_df_requires_fused_pass(spark, pages_df):
    good, _ = split_quarantine(extract_pages(pages_df))
    with pytest.raises(ValueError, match="triples=True"):
        extract_triples_df(good)


def test_generator_truth_recovered(spark, pages_df, small_fixture):
    """Pipeline recovers exactly the generator-planted relations."""
    _, truth, _ = small_fixture
    good, _ = split_quarantine(extract_pages(pages_df, triples=True))
    tri = extract_triples_df(good)
    got = set(map(tuple, tri.select("url", "subj", "pred", "obj").toPandas().values))
    want = set(map(tuple, truth[["url", "subj", "pred", "obj"]].values))
    p, r = prf(got, want)
    assert p == 1.0 and r == 1.0
