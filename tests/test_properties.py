"""Hypothesis property tests for the pure rule/text helpers — invariants
that must hold on ARBITRARY input, not just the seeded corpora (SURVEY.md
§5: the reference leans on LLM-judge evals; our determinism makes real
property testing possible instead).

All pure-Python (no Spark session): these helpers are the exact functions
the pandas UDFs ship to executors, so properties proven here hold inside
the distributed plans too.
"""

from datetime import datetime, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from graphiti_spark import rules
from graphiti_spark.functions import text as tx

# Printable-ish text including unicode, newlines, punctuation.
texts = st.text(max_size=300)
aware_dts = st.datetimes(
    min_value=datetime(1900, 1, 1), max_value=datetime(2199, 12, 31),
    timezones=st.just(timezone.utc))


@given(aware_dts)
@settings(max_examples=200, deadline=None)
def test_parse_iso_date_roundtrip(dt):
    """isoformat → parse is the identity for UTC datetimes, and the
    Z-suffix spelling parses to the same instant."""
    assert rules.parse_iso_date(dt.isoformat()) == dt
    z = dt.isoformat().replace("+00:00", "Z")
    assert rules.parse_iso_date(z) == dt


@given(texts)
@settings(max_examples=200, deadline=None)
def test_parse_iso_date_total(s):
    """Never raises on arbitrary input; returns aware-UTC or None."""
    out = rules.parse_iso_date(s)
    assert out is None or out.tzinfo is not None


@given(texts)
@settings(max_examples=200, deadline=None)
def test_tokenize_invariants(s):
    """Tokens are non-empty lowercase alnum runs; tokenization is
    idempotent under re-joining (analyzing its own output is a no-op)."""
    toks = tx.tokenize(s)
    assert all(t and t == t.lower() and t.isalnum() for t in toks)
    assert tx.tokenize(" ".join(toks)) == toks


@given(texts)
@settings(max_examples=200, deadline=None)
def test_clean_text_idempotent(s):
    once = rules.clean_text(s)
    assert rules.clean_text(once) == once
    assert "\x00" not in once and "  " not in once


@given(texts, st.sampled_from([rules.SOURCE_MESSAGE, rules.SOURCE_TEXT,
                               rules.SOURCE_JSON]))
@settings(max_examples=200, deadline=None)
def test_extract_all_total_and_wrapper_consistent(s, source):
    """extract_all never raises on arbitrary content, and the
    single-output wrappers are exactly its two halves."""
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    mentions, triples = rules.extract_all(s, ts, source)
    assert rules.extract_mentions(s, source) == mentions
    assert rules.extract_triples(s, ts, source) == triples
    names = [m["name"] for m in mentions]
    assert len(set(rules.normalize_name(n) for n in names)) == len(names)
    for t in triples:
        assert rules.normalize_name(t["subj"]) != \
            rules.normalize_name(t["obj"])
