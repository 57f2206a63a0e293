"""Deterministic extraction rules — the single source of truth.

These pure-pandas/pure-Python functions replace the reference's LLM prompt
programs (prompt contracts at
``/root/reference/graphiti_core/prompts/extract_nodes.py:25-38,90-115`` and
``/root/reference/graphiti_core/prompts/extract_edges.py:25-38,91-124``).
They are imported BOTH by the Spark pandas UDFs
(:mod:`graphiti_spark.operators.extract`) and by the pure-pandas reference
oracle used in the P/R gate tests — so the gate measures the *pipeline*
(joins, dedup, versioning), not extractor drift (SURVEY.md §7 risk 6).

Rule summary (mirroring the reference prompt contracts):
  * the speaker (text before the first ``:``) is always extracted first
    (``prompts/extract_nodes.py:96``);
  * entities are capitalized spans / known-template slots, pronoun-free;
  * predicates are SCREAMING_SNAKE_CASE (``prompts/extract_edges.py:20-38``);
  * present-tense facts get ``valid_at = episode ts``; "founded ... in YYYY"
    resolves to Jan 1 of that year (date rules
    ``prompts/extract_edges.py:117-124``); "no longer ..." emits a negation
    row carrying ``invalid_at = ts`` (``prompts/extract_edge_dates.py``).
"""

from __future__ import annotations

import hashlib
import json
import re
from datetime import datetime, timedelta, timezone

# ---------------------------------------------------------------------------
# Predicate semantics (drives temporal versioning, SURVEY.md §2.7)
# ---------------------------------------------------------------------------

#: Functional predicates: a subject holds at most one object at a time.
#: A newer fact with the same (subj, pred) supersedes the older one
#: (deterministic stand-in for the reference's resolve_edge contradiction
#: prompt, ``prompts/invalidate_edges.py`` / ``edge_operations.py:345-375``).
FUNCTIONAL_PREDS = frozenset({"WORKS_AT", "LIVES_IN", "CEO_OF"})

#: Sentiment predicates contradict each other per (subj, obj) pair
#: (the reference temporal suite's "Alice likes Bob" vs "Alice dislikes Bob",
#: ``tests/utils/maintenance/test_temporal_operations_int.py:96-264``).
SENTIMENT_PREDS = frozenset({"LIKES", "DISLIKES"})

# Entity type ids (reference: user-supplied ontology; we fix a small one).
TYPE_SPEAKER = "Speaker"
TYPE_PERSON = "Person"
TYPE_ORG = "Organization"
TYPE_PLACE = "Place"
TYPE_ENTITY = "Entity"

# A capitalized span: one or more Capitalized words (allows '&', digits).
_NAME = r"[A-Z][\w&.\-]*(?:\s+[A-Z][\w&.\-]*)*"

# Sentence-level fact templates. Each maps to (pred, subj_type, obj_type).
# Order matters: negations before their positive counterparts.
_PATTERNS: list[tuple[re.Pattern[str], str, str, str, str]] = [
    (re.compile(rf"^(?P<a>{_NAME}) no longer works at (?P<b>{_NAME})$"),
     "WORKS_AT", "neg", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) works at (?P<b>{_NAME})$"),
     "WORKS_AT", "pos", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) likes (?P<b>{_NAME})$"),
     "LIKES", "pos", TYPE_PERSON, TYPE_ENTITY),
    (re.compile(rf"^(?P<a>{_NAME}) dislikes (?P<b>{_NAME})$"),
     "DISLIKES", "pos", TYPE_PERSON, TYPE_ENTITY),
    (re.compile(rf"^(?P<a>{_NAME}) is friends with (?P<b>{_NAME})$"),
     "FRIENDS_WITH", "pos", TYPE_PERSON, TYPE_PERSON),
    (re.compile(rf"^(?P<a>{_NAME}) founded (?P<b>{_NAME}) in (?P<y>\d{{4}})$"),
     "FOUNDED", "year", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) no longer lives in (?P<b>{_NAME})$"),
     "LIVES_IN", "neg", TYPE_PERSON, TYPE_PLACE),
    (re.compile(rf"^(?P<a>{_NAME}) lives in (?P<b>{_NAME})$"),
     "LIVES_IN", "pos", TYPE_PERSON, TYPE_PLACE),
    (re.compile(rf"^(?P<a>{_NAME}) moved to (?P<b>{_NAME})$"),
     "LIVES_IN", "pos", TYPE_PERSON, TYPE_PLACE),
    (re.compile(rf"^(?P<a>{_NAME}) is the CEO of (?P<b>{_NAME})$"),
     "CEO_OF", "pos", TYPE_PERSON, TYPE_ORG),
    # -- breadth families (round-4 held-out P/R probe, scripts/
    # exp_templates.py): passive voice (group NAMES carry the roles, so
    # a surface-order swap needs no special handling downstream),
    # employer-subject actives, and locative synonyms. Negations stay
    # ahead of positives within each family.
    (re.compile(rf"^(?P<a>{_NAME}) is no longer employed by (?P<b>{_NAME})$"),
     "WORKS_AT", "neg", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) is employed by (?P<b>{_NAME})$"),
     "WORKS_AT", "pos", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) is employed at (?P<b>{_NAME})$"),
     "WORKS_AT", "pos", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<b>{_NAME}) employs (?P<a>{_NAME})$"),
     "WORKS_AT", "pos", TYPE_PERSON, TYPE_ORG),
    (re.compile(
        rf"^(?P<b>{_NAME}) was founded by (?P<a>{_NAME}) in (?P<y>\d{{4}})$"),
     "FOUNDED", "year", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) resides in (?P<b>{_NAME})$"),
     "LIVES_IN", "pos", TYPE_PERSON, TYPE_PLACE),
    (re.compile(rf"^(?P<a>{_NAME}) is based in (?P<b>{_NAME})$"),
     "LIVES_IN", "pos", TYPE_ORG, TYPE_PLACE),
    (re.compile(rf"^(?P<a>{_NAME}) relocated to (?P<b>{_NAME})$"),
     "LIVES_IN", "pos", TYPE_PERSON, TYPE_PLACE),
    # Former held-out residuals, promoted to covered after the probe
    # measured them at R=0 (BENCH_TEMPLATES.json): perfect progressive,
    # possessive CEO (the 's join is part of the keyword literal),
    # copular employee, and the nominalized founder form. The probe now
    # holds out harder families instead (pronoun coreference, conjoined
    # subjects) that per-sentence templates genuinely cannot express.
    (re.compile(rf"^(?P<a>{_NAME}) has been living in (?P<b>{_NAME})$"),
     "LIVES_IN", "pos", TYPE_PERSON, TYPE_PLACE),
    (re.compile(rf"^(?P<b>{_NAME})'s CEO is (?P<a>{_NAME})$"),
     "CEO_OF", "pos", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) is an employee of (?P<b>{_NAME})$"),
     "WORKS_AT", "pos", TYPE_PERSON, TYPE_ORG),
    (re.compile(rf"^(?P<a>{_NAME}) is the founder of (?P<b>{_NAME})$"),
     "FOUNDED", "pos", TYPE_PERSON, TYPE_ORG),
]

# Literal verb-phrase anchor per built-in template: a match REQUIRES the
# literal, so `kw in sent` is a sound prefilter — a C-level substring
# scan replaces a failed regex attempt for every non-matching
# (pattern, sentence) pair. DERIVED from each pattern's own source (the
# literal between the <a> and <b> groups) so it can never misalign with
# _PATTERNS; a pattern the extractor can't parse gets "" (always-true →
# prefilter no-op, still sound). Custom-ontology patterns (arbitrary
# regexes) skip the router.
def _kw_of(pat: re.Pattern[str]) -> str:
    # first inter-group literal, whichever role group comes first
    # (passive templates put <b> before <a>; the possessive template
    # joins the name with 's, which is part of the literal)
    m = re.search(r"\)((?:'s)?\s.+?)\s\(\?P<[ab]>", pat.pattern)
    if not m or re.search(r"[\\()\[\]|?*+]", m.group(1)):
        return ""                       # non-literal → prefilter no-op
    return f"{m.group(1)} "


_KEYWORDS = [_kw_of(p) for p, *_ in _PATTERNS]
assert all(" " in k for k in _KEYWORDS)   # every builtin has a literal

# Chars the temporal-adjunct date may END with — a sentence whose last
# char isn't one of these can't match _ADJUNCT (anchored at $).
_ADJ_TAIL = frozenset("0123456789TZz:+.-")

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_WS = re.compile(r"\s+")
_CTRL = re.compile(r"[\x00-\x08\x0b-\x1f\x7f]")  # _clean_input, llm_client/client.py:68-88

# Trailing temporal adjunct on a fact sentence: "... since <date>",
# "... on <date>", "... from <date>", "... until <date>". Relative
# mentions resolve against the episode timestamp — the reference's date
# prompt instructs exactly this ("calculate the actual datetime based on
# the reference timestamp", prompts/extract_edge_dates.py:66,77,81).
_REL_DATES = ("yesterday", "today", "last week", "last month", "last year")
_ADJUNCT = re.compile(
    r"^(?P<core>.*?)[\s,]+(?P<kind>since|from|on|until)\s+"
    r"(?P<d>\d[\dTZz:+.\-]*|yesterday|today|last week|last month|last year)$")
_YEAR_ONLY = re.compile(r"^\d{4}$")


def _resolve_adjunct_date(d: str, ts: datetime | None) -> datetime | None:
    """Adjunct date string → UTC datetime. Absolute forms parse as ISO;
    relative forms resolve against the episode timestamp (reference
    semantics, extract_edge_dates.py:77: "Use the reference timestamp as
    the current time"). Day-granular forms land on UTC midnight; month /
    year forms on the period's first day (the same convention the
    "founded in YYYY" rule already uses). No timestamp → None (the
    reference warns-and-nulls unparseable dates)."""
    if d[0].isdigit():
        return parse_iso_date(d)
    if ts is None:
        return None
    day = datetime(ts.year, ts.month, ts.day, tzinfo=timezone.utc)
    if d == "today":
        return day
    if d == "yesterday":
        return day - timedelta(days=1)
    if d == "last week":
        return day - timedelta(days=7)
    if d == "last month":
        y, m = (ts.year, ts.month - 1) if ts.month > 1 else (ts.year - 1, 12)
        return datetime(y, m, 1, tzinfo=timezone.utc)
    if d == "last year":
        return datetime(ts.year - 1, 1, 1, tzinfo=timezone.utc)
    return None


def parse_iso_date(s: str) -> datetime | None:
    """General fact-date parser (E5) — the reference parses LLM-emitted
    ISO-8601 strings with ``Z``→``+00:00`` substitution and warn-and-null
    on failure (``edge_operations.py:211-225``). Extensions: a bare year
    resolves to Jan 1 (matching the "founded in YYYY" template rule) and
    naive datetimes are assumed UTC (``ensure_utc``,
    ``utils/datetime_utils.py:20-42``)."""
    s = (s or "").strip()
    if _YEAR_ONLY.match(s):
        return datetime(int(s), 1, 1, tzinfo=timezone.utc)
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00")
                                     .replace("z", "+00:00"))
    except ValueError:
        return None
    if dt.tzinfo is None:
        return dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def _match_templates(sent: str, patterns=None, ts: datetime | None = None):
    """Match a sentence against the fact templates, first verbatim, then
    with a trailing temporal adjunct peeled off. → (match, pred, mode,
    type_a, type_b, adjunct_kind, adjunct_dt) or None. ``ts`` (the
    episode timestamp) resolves relative adjunct dates ("since last
    year"); omitted, relative adjuncts drop to None dates.

    ``patterns`` (default: the built-in ``_PATTERNS``) is any ordered
    collection of (compiled, pred, mode, subj_type, obj_type) — a custom
    :class:`graphiti_spark.ontology.Ontology` supplies its own via
    ``ontology.patterns`` (E6)."""
    builtin = patterns is None
    if builtin:
        patterns = _PATTERNS
        # every template starts with a capitalized name — cheap reject
        if not sent or not sent[0].isupper():
            return None
    for i, (pat, pred, mode, t_a, t_b) in enumerate(patterns):
        if builtin and _KEYWORDS[i] not in sent:
            continue
        m = pat.match(sent)
        if m:
            return m, pred, mode, t_a, t_b, None, None
    if builtin and sent[-1] not in _ADJ_TAIL \
            and not sent.endswith(_REL_DATES):
        return None
    am = _ADJUNCT.match(sent)
    if am:
        dt = _resolve_adjunct_date(am.group("d"), ts)
        core = am.group("core").strip()
        for i, (pat, pred, mode, t_a, t_b) in enumerate(patterns):
            if builtin and _KEYWORDS[i] not in core:
                continue
            m = pat.match(core)
            if m:
                return m, pred, mode, t_a, t_b, am.group("kind"), dt
    return None


def clean_text(text: str) -> str:
    """Strip control chars + collapse whitespace (reference ``_clean_input``)."""
    return _WS.sub(" ", _CTRL.sub("", text or "")).strip()


def normalize_name(name: str) -> str:
    """Canonical comparison form of an entity name (lowercase, 1-space)."""
    return _WS.sub(" ", (name or "").strip().lower())


_ALNUM_RUN = re.compile(r"[a-z0-9]+")


def name_tokens(name: str) -> list[str]:
    """Alnum-run tokens of a normalized name. The reference's word-overlap
    test is ``set(name.lower().split())`` (``bulk_utils.py:229-231``), but
    the extraction ``_NAME`` pattern admits internal punctuation ('&.-', so
    'Coca-Cola' vs 'Coca Cola'); splitting on non-alnum keeps such aliases
    in the same token space (and in the same dedup block) on every path —
    this function, the build kernel's in-group duplicate rule
    (operators/dedup.canonical_uuids) and the fulltext tokenizer
    (functions/text.py) all use the same alnum-run rule."""
    return _ALNUM_RUN.findall(normalize_name(name))


def split_speaker(content: str) -> tuple[str, str]:
    """Split episode content ``'role: text'`` into (speaker, body).

    Mirrors the message-format contract ``prompts/extract_nodes.py:96``:
    the part before the first ``:`` is the speaker.
    """
    content = content or ""
    if ":" in content:
        speaker, body = content.split(":", 1)
        return speaker.strip(), body.strip()
    return "", content.strip()


def sentences(body: str) -> list[str]:
    return [s for s, _q in sentences_marked(body)]


def sentences_marked(body: str) -> list[tuple[str, bool]]:
    """(sentence, is_question) pairs. The terminator is consumed here, so
    interrogative force must be recorded before it disappears — a question
    mentions entities but ASSERTS nothing, and the reference's edge prompt
    only emits "factual information" (prompts/extract_edges.py:95-104), so
    "Alice likes Bob?" must not become a LIKES fact."""
    out = []
    for s in _SENT_SPLIT.split(body or ""):
        s = s.strip()
        core = s.rstrip(".!?")
        q = "?" in s[len(core):]
        core = core.strip()
        if core:
            out.append((core, q))
    return out


# -- clause normalization (round-4 template-breadth probe) -------------------
# Appositive ("Alice Smith, CEO of Acme Corp, lives in Paris") and
# non-restrictive relative clause ("Alice, who works at Acme, moved to
# Paris") constructions carry TWO facts the anchored sentence templates
# can't see. Rather than multiplying every template by every embedding
# position, the sentence is normalized into its component clauses first —
# the deterministic analogue of the reference LLM extracting multiple
# edges from one sentence (prompts/extract_edges.py:91-124 asks for ALL
# fact triples in the episode).
_APPOS = re.compile(
    rf"^(?P<a>{_NAME}), (?:the )?(?P<role>CEO|founder|head) of "
    rf"(?P<b>{_NAME}), (?P<rest>.+)$")
_RELCL = re.compile(rf"^(?P<a>{_NAME}), who (?P<vp>.+?), (?P<rest>.+)$")
_APPOS_PRED = {"CEO": "is the CEO of",     # other roles: mention-only
               "founder": "is the founder of"}
_ADVERB = re.compile(r"\b(?:currently|now|still|recently)\s+")

# Verbless headline apposition ("Alice Smith — new CEO of Acme Corp."):
# the em-dash IS the copula, so the clause normalizes to the matching
# copular template. Hyphen/en-dash spellings accepted; the role set is
# the appositive one.
_HEADLINE = re.compile(
    rf"^(?P<a>{_NAME}) [—–-]+ (?:the |a |new |interim )?"
    rf"(?P<role>CEO|founder|head) of (?P<b>{_NAME})$")

#: Clause-leading words that mark the embedded proposition as NOT
#: asserted (conditional / hedged): the reference's edge prompt extracts
#: only "factual information that forms a relationship"
#: (prompts/extract_edges.py:95-104), and an LLM does not emit an edge
#: for "If Alice works at Acme, ..." or "Maybe Alice works at Acme.".
#: The embedded entities are still mentions (entity extraction is
#: speech-act-agnostic) and may antecede later pronouns. None of these
#: words plausibly lead a real proper name, unlike modals (Will, May),
#: which are deliberately absent.
_IRREALIS_LEADS = frozenset({
    "If", "Unless", "Whether", "Maybe", "Perhaps", "Possibly",
    "Suppose", "Supposing", "Assuming", "Hypothetically", "Presumably",
    "Supposedly"})
#: Discourse/evidential leads: the proposition IS asserted (with
#: provenance hedging an LLM ignores for edge purposes) — strip the
#: adverb and extract. Trailing comma handled at the stripping site.
_DISCOURSE_LEADS = frozenset({
    "Reportedly", "Apparently", "Evidently", "Allegedly", "Indeed",
    "Also", "Moreover", "Furthermore", "Meanwhile", "However",
    "Although", "Though", "Whereas"})

# Conjoined subjects ("Alice Smith and Dana Kim work at Acme") assert one
# fact per conjunct with PLURAL verb agreement; conjoined objects ("Alice
# is friends with Bob and Carol") assert one fact per object. Both split
# into singular clauses here. The subject split only fires when the verb
# phrase starts (within the 'no longer' window) with a verb whose plural
# form we can conjugate back — an unrecognized verb means the clause
# wouldn't match any template anyway, and the guard keeps multiword
# proper names containing 'and' (e.g. 'Research and Development
# announced ...') from being torn apart.
_SUBJ_CONJ = re.compile(
    rf"^(?P<a>{_NAME}) and (?P<b>{_NAME}) (?P<vp>[a-z].*)$")
_OBJ_CONJ = re.compile(
    rf"^(?P<head>.+ (?:at|in|to|with|of|by|likes|dislikes|employs)) "
    rf"(?P<b>{_NAME}) and (?P<c>{_NAME})$")
#: plural → 3rd-person-singular present for every verb a built-in
#: template anchors on; past/participle forms conjugate identically and
#: are listed so the conjoined-subject guard recognizes them.
_PLURAL_VERB = {
    "work": "works", "live": "lives", "reside": "resides",
    "like": "likes", "dislike": "dislikes", "are": "is", "am": "is",
    "have": "has", "were": "was",
    "founded": "founded", "moved": "moved", "relocated": "relocated",
}


def _singular_vp(vp: str) -> str | None:
    """Conjugate the leading verb of a plural/first-person verb phrase to
    3rd-person singular ('no longer work at X' → 'no longer works at X');
    None when no recognized verb appears in the first 3 tokens."""
    toks = vp.split(" ")
    for i, t in enumerate(toks[:3]):
        s = _PLURAL_VERB.get(t)
        if s is not None:
            toks[i] = s
            return " ".join(toks)
    return None


def expand_clauses(sent: str) -> list[str]:
    """Sentence → component clauses for template matching. Plain
    sentences pass through unchanged (the ``", "``/adverb guards keep
    the hot path to two C-level substring scans). One nesting level —
    the rest-clause is expanded once more so 'X, who VP, REST' with an
    adverb in REST still lands."""
    # dash test first: em/en dashes are far rarer in prose than " of ",
    # so the common path pays one failed substring scan, not two
    if ("—" in sent or "–" in sent or " - " in sent) and " of " in sent:
        m = _HEADLINE.match(sent)
        if m and m.group("role") in _APPOS_PRED:
            return [f"{m.group('a')} {_APPOS_PRED[m.group('role')]} "
                    f"{m.group('b')}"]
    if ", " in sent:
        m = _APPOS.match(sent)
        if m:
            a, role, b = m.group("a"), m.group("role"), m.group("b")
            head = ([f"{a} {_APPOS_PRED[role]} {b}"]
                    if role in _APPOS_PRED else [])
            return head + expand_clauses(f"{a} {m.group('rest')}")
        m = _RELCL.match(sent)
        if m:
            a = m.group("a")
            return (expand_clauses(f"{a} {m.group('vp')}")
                    + expand_clauses(f"{a} {m.group('rest')}"))
    if " and " in sent:
        m = _SUBJ_CONJ.match(sent)
        if m:
            vp = _singular_vp(m.group("vp"))
            if vp is not None:
                return (expand_clauses(f"{m.group('a')} {vp}")
                        + expand_clauses(f"{m.group('b')} {vp}"))
        m = _OBJ_CONJ.match(sent)
        if m:
            b, c = m.group("b"), m.group("c")
            # 'X and Y' in object position is ambiguous between a true
            # conjunction and a single proper name ('Johnson and
            # Johnson', 'Marks and Spencer'). Split only when the sides
            # differ AND at least one is multiword — single-token pairs
            # are exactly the and-bearing-orgname shape, and leaving
            # them unsplit yields honest silence (the template's _NAME
            # slot can't span ' and '), never a bogus entity. Subject
            # position doesn't need this: its split requires a PLURAL
            # verb, and an and-bearing name conjugates singular
            # ('Marks and Spencer is based in London').
            if (normalize_name(b) != normalize_name(c)
                    and (" " in b or " " in c)):
                head = m.group("head")
                return (expand_clauses(f"{head} {b}")
                        + expand_clauses(f"{head} {c}"))
    if ("ly " in sent or "now " in sent) and _ADVERB.search(sent):
        stripped = _ADVERB.sub("", sent)
        if stripped != sent:
            return [stripped]
    return [sent]


_GENERIC_SPEAKERS = frozenset({"user", "assistant", "tool", "system"})

#: Capitalized pronouns satisfy the _NAME shape at sentence start
#: ("She works at Acme"). A pronoun slot is a REFERENCE, not a name —
#: emitting it verbatim would mint a bogus entity node named "She".
#: Personal pronouns (the _COREF subset) are resolved by recency: the
#: most recent sentence-leading non-pronoun name in the same episode is
#: the antecedent — the deterministic analogue of the reference LLM's
#: instructed pronoun resolution (prompts/extract_nodes.py tells the
#: model to resolve references to the named entity). First-person "I" in
#: a message episode resolves to the (non-generic) speaker, per the same
#: prompt contract. A pronoun with no available antecedent stays
#: unresolved: the matched template yields neither that mention nor a
#: triple. Measured by the pronoun_coref / first_person_speaker families
#: in scripts/exp_templates.py. Cross-EPISODE antecedents resolve
#: through ``prev_context`` (the previous-turns window the reference
#: passes to every extraction prompt as ``previous_episodes``,
#: graph_data_operations.py:28 / prompts/extract_nodes.py) — seeded
#: LAZILY, only at the moment a pronoun actually needs an antecedent
#: and the episode itself has provided none, so pronoun-free content
#: never pays for it.
_PRONOUNS = frozenset({"she", "he", "they", "it", "we", "i", "you",
                       "her", "him", "them", "his", "hers", "its"})
#: the resolvable-by-recency subset: 3rd-person personal pronouns.
_COREF_PRONOUNS = frozenset({"she", "he", "they", "her", "him", "them"})
_LEAD_NAME = re.compile(rf"^(?P<n>{_NAME})\b")
#: question leads that glue into bogus _LEAD_NAME matches ("Does Alice
#: Smith know?" → name "Does Alice Smith"). Only a question led by one
#: of these (auxiliary / wh-word) is barred as an antecedent source; a
#: NAME-led question ("Alice Smith arrived?") still carries its real
#: subject, which stays antecedent-eligible — blocking every
#: interrogative would silently drop the coref chain that follows it.
_Q_LEADS = frozenset({
    "do", "does", "did", "is", "are", "was", "were", "am", "be",
    "can", "could", "will", "would", "shall", "should", "may", "might",
    "must", "have", "has", "had",
    "who", "what", "where", "when", "why", "how", "which", "whose",
    "whom",
    # contracted negative auxiliaries: "Doesn't Alice work at Acme?"
    # would otherwise stay antecedent-eligible and _LEAD_NAME would
    # mint the bogus name "Doesn" (the apostrophe ends the token)
    "don't", "doesn't", "didn't", "isn't", "aren't", "wasn't",
    "weren't", "can't", "couldn't", "won't", "wouldn't", "shan't",
    "shouldn't", "mightn't", "mustn't", "haven't", "hasn't", "hadn't"})


def _q_blocked(sent: str, is_q: bool) -> bool:
    """True when a question's lead word makes it ineligible as an
    antecedent source (auxiliary/wh-led interrogative)."""
    if not is_q:
        return False
    lead = sent.split(" ", 1)[0].rstrip(",?").lower()
    # normalize the unicode apostrophe so "Doesn’t" is caught too
    return lead.replace("’", "'") in _Q_LEADS
#: lowercase OBJECT pronouns never satisfy the capitalized _NAME slot, so
#: they are resolved by textual substitution before matching ("Acme
#: employs her" → "Acme employs <antecedent>"); subject pronouns are
#: capitalized, match the slot, and resolve at slot level instead.
_TAIL_PRON = re.compile(r"^(?P<head>.+ )(?:her|him|them)$")
#: definite-NP anaphora: "The company ..." refers to the most recent
#: org-typed slot in the same episode (recency, like pronouns).
_DEF_NP = ("The company ", "The firm ", "The organization ")
#: a bare sentence-leading determiner ("The weather …", "This plan …")
#: is not a name — it must never become the pronoun antecedent.
#: Multiword leads ("The Beatles") are real names and stay eligible.
_DETERMINERS = frozenset({"the", "a", "an", "this", "that", "these",
                          "those"})
#: VP ellipsis with do-support: "Dana Kim does too." copies the verb
#: phrase of the most recent clause whose surface subject LED the
#: clause (textual copy — the only deterministic reading), giving the
#: new subject the same predicate and object. No prior VP → no match →
#: honest silence, never a bogus entity.
_ELLIPSIS = re.compile(rf"^(?P<n>{_NAME}) does too$")
#: object-pronoun tails, cheap C-level pre-gate for _TAIL_PRON
_PRON_TAILS = (" her", " him", " them")


def _seed_antecedent(prev_context) -> str:
    """Most recent sentence-leading resolvable name across the previous
    episodes (newest episode first, last sentence first) — the
    cross-episode extension of the in-episode recency rule, mirroring
    the reference's ``previous_episodes`` prompt context
    (prompts/extract_nodes.py / extract_edges.py pass the prior-turns
    window to the LLM precisely so references like this resolve).
    First-person sentences resolve to their own episode's (non-generic)
    speaker, same as the in-episode rule. Called lazily, at most once
    per episode, and only when a pronoun is actually waiting."""
    for content in reversed(prev_context):
        speaker, body = split_speaker(content or "")
        speaker_name = ("" if not speaker
                        or speaker.lower() in _GENERIC_SPEAKERS
                        else clean_text(speaker))
        for sent, is_q in reversed(sentences_marked(body)):
            # same question guard as the forward scan: an
            # auxiliary/wh-led interrogative is not an antecedent source
            # (name-led questions keep their subject)
            if _q_blocked(sent, is_q) or not sent[:1].isupper():
                continue
            if speaker_name and sent.startswith("I "):
                return (f"{speaker_name[:1].upper()}{speaker_name[1:]}")
            lm = _LEAD_NAME.match(sent)
            if lm:
                lead = normalize_name(lm.group("n"))
                if lead not in _PRONOUNS and lead not in _DETERMINERS:
                    return clean_text(lm.group("n"))
    return ""


def _seed_vp(prev_context, patterns) -> str:
    """Cross-episode VP for do-support ellipsis: the verb phrase of the
    most recent subject-led template-matched sentence in the previous
    episodes (newest first, last sentence first) — so "bob: Dana Kim
    does too." after "alice: Erin Patel works at Initech." recovers
    ``works at Initech``, mirroring what the reference LLM reads off
    its ``previous_episodes`` window. Lazy: called at most once per
    episode, only when an ellipsis sentence has no in-episode VP."""
    for content in reversed(prev_context):
        _speaker, body = split_speaker(content or "")
        for sent in reversed(sentences(body)):
            if not sent[:1].isupper():
                continue
            hit = _match_templates(sent, patterns)
            if hit is not None and hit[0].start("a") == 0:
                return sent[hit[0].end("a"):].lstrip()
    return ""


def _forward_antecedent(sents, si: int) -> str:
    """Cataphora: the pronoun PRECEDES its antecedent ("She works at
    Acme Corp. Alice Smith loves that job."). Deterministic forward
    rule, consulted ONLY after in-episode recency AND the cross-episode
    seed both come up empty — the first sentence-leading resolvable
    name in the remainder of the episode, under the same
    pronoun/determiner/lead-word eligibility as the backward rule. The
    scan runs only for an otherwise-unresolvable pronoun, so
    pronoun-free (and backward-resolvable) content never pays for it."""
    for s, q in sents[si + 1:]:
        # an auxiliary/wh-led question must not mint a name: "Does
        # Alice Smith know?" would glue into "Does Alice Smith" (the
        # capitalized auxiliary passes _LEAD_NAME). A NAME-led question
        # ("Alice Smith arrived?") keeps its subject.
        if _q_blocked(s, q) or not s[:1].isupper():
            continue
        head, _, rest = s.partition(" ")
        if head.rstrip(",") in _LEAD_STRIP and rest:
            s = rest
        lm = _LEAD_NAME.match(s)
        if lm:
            lead = normalize_name(lm.group("n"))
            if lead not in _PRONOUNS and lead not in _DETERMINERS:
                return clean_text(lm.group("n"))
    return ""


_LEAD_STRIP = _IRREALIS_LEADS | _DISCOURSE_LEADS


def _coord_split(sent: str, patterns) -> list[str] | None:
    """Coordinate full clauses: 'X works at A and Y lives in B' → the two
    component clauses — but ONLY when both sides independently match a
    template. The both-sides-parse guard is what distinguishes a clause
    coordination from an object conjunction or a multiword name
    containing 'and' (those were already handled, or match nothing);
    syntax alone cannot tell them apart."""
    start = 0
    while True:
        i = sent.find(" and ", start)
        if i < 0:
            return None
        left, right = sent[:i], sent[i + 5:]
        if (right[:1].isupper()
                and _match_templates(left, patterns) is not None
                and _match_templates(right, patterns) is not None):
            return [left, right]
        start = i + 5

# Episode source kinds (EpisodeType, ``nodes.py:45-70``): 'message' content
# is "actor: content"; 'text' is plain prose (no speaker); 'json' is a
# structured object.
SOURCE_MESSAGE = "message"
SOURCE_TEXT = "text"
SOURCE_JSON = "json"

_NAME_FULL = re.compile(rf"^{_NAME}$")


def _pred_from_key(key: str) -> str:
    """JSON field name → SCREAMING_SNAKE_CASE predicate
    (``prompts/extract_edges.py:20-38`` predicate convention)."""
    return re.sub(r"[^A-Za-z0-9]+", "_", key).strip("_").upper()


def parse_json_episode(content: str) -> tuple[str | None, list[tuple[str, str]]]:
    """→ (subject_name, [(field_key, value_name), ...]).

    Deterministic contract for ``EpisodeType.json`` episodes (reference
    branch ``node_operations.py:123-126`` feeds the raw JSON to the
    extract_json prompt; our rule): the top-level ``name`` field is the
    subject entity; every other top-level string field whose value is a
    capitalized span is an entity mention and yields a triple
    ``(name, UPPER(key), value)``. Nested objects/arrays are ignored.
    Malformed JSON extracts nothing (the reference's LLM would warn-skip).
    """
    try:
        obj = json.loads(content or "")
    except (ValueError, TypeError):
        return None, []
    if not isinstance(obj, dict):
        return None, []
    subject = obj.get("name")
    if not isinstance(subject, str) or not clean_text(subject):
        return None, []
    pairs = []
    for k, v in obj.items():
        if k == "name" or not isinstance(v, str):
            continue
        v = clean_text(v)
        if v and _NAME_FULL.match(v):
            pairs.append((k, v))
    return clean_text(subject), pairs


def extract_all(content: str, ts: datetime | None,
                source: str = SOURCE_MESSAGE,
                ontology=None,
                prev_context=None) -> tuple[list[dict], list[dict]]:
    """content + episode ts -> (mentions, triples) in ONE pass.

    Mentions: deterministic stand-in for ``extract_nodes``
    (``node_operations.py:69-175``), branched by episode source like the
    reference's extract_message/extract_text/extract_json prompts
    (``node_operations.py:110-126``): message = speaker first, then
    fact-slot entities; text = fact-slot entities only (no speaker
    contract); json = subject ('name' field) first, then capitalized
    field values. Empty names filtered; pronouns never matched.

    Triples: deterministic stand-in for ``extract_edges``
    (``edge_operations.py:110-244``) — dicts with keys
    ``subj, pred, obj, fact, valid_at, invalid_at`` (datetimes tz-aware
    UTC or None). Negation sentences emit ``invalid_at = ts`` with
    ``valid_at = None`` (consumed by temporal versioning T1/T2);
    self-pairs skipped (``edge_operations.py:73-74``); a parsed temporal
    adjunct overrides the event-time default (E5,
    ``edge_operations.py:211-225``). ``source='json'``: each capitalized
    top-level field value yields ``(name, UPPER(key), value)``.

    ``ontology`` (E6, :class:`graphiti_spark.ontology.Ontology`) supplies
    caller templates and excluded entity types: an excluded-type mention
    is dropped at extraction (``node_operations.py:157-160``), and a
    triple with an excluded subject/object slot is dropped too — the
    reference never extracts edges to nodes it refused to extract.

    One sentence scan serves both outputs — the template matcher (the
    extraction hot path) runs once per sentence, not once per consumer.
    This is the only extraction entry point: the pipeline UDF calls it
    for every ontology, and :func:`extract_mentions` /
    :func:`extract_triples` are its two halves.

    ``prev_context`` (list of previous-episode contents, oldest→newest —
    the reference's ``previous_episodes`` window,
    graph_data_operations.py:28) extends pronoun recency across episode
    boundaries: when a coref pronoun is reached and the episode itself
    has produced no antecedent yet, the antecedent is seeded from the
    previous episodes (see :func:`_seed_antecedent`). The seed is
    evaluated lazily and at most once, so pronoun-free episodes never
    touch it.
    """
    patterns = None if ontology is None else ontology.patterns
    excluded = (frozenset() if ontology is None
                else ontology.excluded_entity_types)
    seen: dict[str, dict] = {}
    triples: list[dict] = []

    def add(name: str, type_id: str) -> None:
        if type_id in excluded:
            return
        name = clean_text(name)
        if not name:
            return
        key = normalize_name(name)
        if key not in seen:
            seen[key] = {"name": name, "entity_type_id": type_id}

    if source == SOURCE_JSON:
        subject, pairs = parse_json_episode(content)
        if subject:
            add(subject, TYPE_ENTITY)
        for _k, v in pairs:
            add(v, TYPE_ENTITY)
        # Excluded-type guard mirrors the message/text path: both JSON
        # slots are TYPE_ENTITY, so excluding 'Entity' refuses the nodes
        # AND their edges (node_operations.py:157-160 — the reference
        # never extracts edges to nodes it refused to extract).
        if subject is not None and TYPE_ENTITY not in excluded:
            for k, v in pairs:
                if normalize_name(subject) == normalize_name(v):
                    continue
                triples.append({
                    "subj": subject, "pred": _pred_from_key(k), "obj": v,
                    "fact": f"{subject} {k}: {v}", "valid_at": ts,
                    "invalid_at": None, "attributes": {"field": k},
                })
        return list(seen.values()), triples

    if source == SOURCE_TEXT:
        speaker, body = "", (content or "").strip()
    else:
        speaker, body = split_speaker(content)
    speaker_name = ""
    if speaker and speaker.lower() not in _GENERIC_SPEAKERS:
        add(speaker, TYPE_SPEAKER)
        speaker_name = clean_text(speaker)
    antecedent = ""   # most recent sentence-leading non-pronoun name
    antecedent_org = ""   # most recent org-typed slot (definite-NP)
    last_vp = ""      # VP of the last subject-led matched clause
    # lazy cross-episode seeding (inlined at the three consumption
    # sites, not a closure — a nonlocal cell would slow every hot-path
    # read of `antecedent`): runs at most once per episode, and only
    # when a pronoun is consumed before any in-episode antecedent
    # exists, so pronoun-free content never touches prev_context.
    prev_unseeded = bool(prev_context)   # cross-episode seed available
    vp_unseeded = bool(prev_context)     # ditto, for VP ellipsis
    sents = sentences_marked(body)
    for si, (raw_sent, is_q) in enumerate(sents):
      if speaker_name and raw_sent.startswith("I "):
          # first person resolves to the speaker (prompts/
          # extract_nodes.py contract), conjugated to 3rd person so the
          # singular templates see it ("I work at X" → "<speaker> works
          # at X"). Unrecognized verb → leave as-is (matches nothing).
          vp = _singular_vp(raw_sent[2:])
          if vp is not None:
              # capitalize so a lowercase speaker alias still satisfies
              # the template _NAME shape; canonicalization is
              # case-insensitive, so 'alice' (the speaker mention) and
              # 'Alice' (this subject) land in the same entity
              raw_sent = (f"{speaker_name[:1].upper()}"
                          f"{speaker_name[1:]} {vp}")
      # Speech-act routing on the clause-leading word (capitalized
      # sentences only — the lowercase hot path pays one char test):
      # an irrealis lead (If/Maybe/…) means the embedded proposition is
      # NOT asserted — mentions and antecedent eligibility survive, the
      # fact does not; a discourse/evidential lead (Reportedly/…) is
      # asserted — strip the adverb and extract normally. Questions
      # likewise mention but never assert (sentences_marked).
      skip_facts = is_q
      if raw_sent[0].isupper() and " " in raw_sent:
          _lead, _, _rest = raw_sent.partition(" ")
          _lead = _lead.rstrip(",")
          if _rest:
              if _lead in _IRREALIS_LEADS:
                  skip_facts = True
                  raw_sent = _rest
              elif _lead in _DISCOURSE_LEADS:
                  raw_sent = _rest
      # pronoun-antecedent recency reads the sentence AS WRITTEN (after
      # the first-person rewrite — the speaker IS the surface subject —
      # and after lead-word stripping, but BEFORE the definite-NP
      # rewrite: 'The company …' must never make the org the
      # person-pronoun antecedent; in 'Alice works at Acme. The company
      # is based in Oslo. She lives in Paris.' She is Alice, not Acme).
      ante_src = raw_sent
      if antecedent_org and raw_sent[:1] == "T" \
              and raw_sent.startswith(_DEF_NP):
          # "The company is based in X" → "<last org> is based in X"
          raw_sent = f"{antecedent_org} {raw_sent.split(' ', 2)[2]}"
      clauses = expand_clauses(raw_sent)   # fresh list; safe to extend
      ci = 0
      while ci < len(clauses):
        sent = clauses[ci]
        ci += 1
        # dispatch on the last char first — one C-level test keeps the
        # hot path (sentences ending in anything else) to a dict-free
        # two-comparison fall-through
        tail = sent[-1]
        if tail == "r" or tail == "m":
            if sent.endswith(_PRON_TAILS):   # her/him/them object tail
                om = _TAIL_PRON.match(sent)
                if om:
                    if not antecedent and prev_unseeded:
                        prev_unseeded = False
                        antecedent = _seed_antecedent(prev_context)
                    if not antecedent:   # cataphora: look forward
                        antecedent = _forward_antecedent(sents, si)
                    if antecedent:
                        sent = f"{om.group('head')}{antecedent}"
        elif tail == "o" and (last_vp or vp_unseeded) \
                and sent.endswith(" too"):
            # VP ellipsis: "Dana Kim does too" → "Dana Kim <last VP>";
            # no in-episode VP → seed (at most once) from the previous
            # episodes, mirroring the antecedent seeding above
            em = _ELLIPSIS.match(sent)
            if em:
                if not last_vp:
                    vp_unseeded = False
                    last_vp = _seed_vp(prev_context, patterns)
                if last_vp:
                    sent = f"{em.group('n')} {last_vp}"
        hit = _match_templates(sent, patterns, ts)
        if hit is None:
            # isupper first: it rejects lowercase distractor turns with
            # one C-level char test before the ' and ' substring scan
            if sent[:1].isupper() and " and " in sent:
                parts = _coord_split(sent, patterns)
                if parts:
                    clauses.extend(parts)
            continue
        m, pred, mode, t_a, t_b, adj_kind, adj_dt = hit
        a_name, b_name = m.group("a"), m.group("b")
        if m.start("a") == 0 and not skip_facts:
            # subject-led clause: remember the surface VP so a later
            # "<Name> does too" can copy it (do-support ellipsis) — but
            # never from an unasserted clause ("Maybe Alice works at
            # Acme. Dana does too." must not assert Dana's employment)
            last_vp = sent[m.end("a"):].lstrip()
        a_norm, b_norm = normalize_name(a_name), normalize_name(b_name)
        if a_norm in _PRONOUNS or b_norm in _PRONOUNS:
            if (not antecedent and prev_unseeded
                    and (a_norm in _COREF_PRONOUNS
                         or b_norm in _COREF_PRONOUNS)):
                prev_unseeded = False
                antecedent = _seed_antecedent(prev_context)
            if (not antecedent
                    and (a_norm in _COREF_PRONOUNS
                         or b_norm in _COREF_PRONOUNS)):
                # cataphora: recency and the cross-episode seed are both
                # empty — the antecedent may FOLLOW ("She works at Acme
                # Corp. Alice Smith loves that job."). Deterministic
                # forward scan, paid only by otherwise-dropped pronouns.
                antecedent = _forward_antecedent(sents, si)
            if a_norm in _PRONOUNS:
                a_name = antecedent if a_norm in _COREF_PRONOUNS else ""
            if b_norm in _PRONOUNS:
                b_name = antecedent if b_norm in _COREF_PRONOUNS else ""
        if a_name:
            add(a_name, t_a)
            if t_a == TYPE_ORG:
                antecedent_org = clean_text(a_name)
        if b_name:
            add(b_name, t_b)
            if t_b == TYPE_ORG:
                antecedent_org = clean_text(b_name)
        if not a_name or not b_name:
            continue   # unresolvable reference: no bogus entity, no triple
        if skip_facts or t_a in excluded or t_b in excluded:
            continue   # mentions recorded above; the fact is not asserted
        subj, obj = clean_text(a_name), clean_text(b_name)
        if not subj or not obj or normalize_name(subj) == normalize_name(obj):
            continue
        valid_at: datetime | None = None
        invalid_at: datetime | None = None
        attributes: dict[str, str] = {}
        if mode == "pos":
            valid_at = ts
        elif mode == "neg":
            invalid_at = ts
        elif mode == "year":
            valid_at = datetime(int(m.group("y")), 1, 1, tzinfo=timezone.utc)
            attributes["year"] = m.group("y")
        # General fact-date resolution (E5): a parsed temporal adjunct
        # overrides the event-time default — since/from/on set valid_at,
        # until sets invalid_at (edge_operations.py:211-225 semantics:
        # LLM-emitted dates take precedence over reference_time).
        if adj_dt is not None:
            if adj_kind in ("since", "from", "on"):
                valid_at = adj_dt
            elif adj_kind == "until":
                invalid_at = adj_dt
            attributes[adj_kind] = adj_dt.isoformat()
        triples.append({
            "subj": subj, "pred": pred, "obj": obj,
            "fact": sent, "valid_at": valid_at, "invalid_at": invalid_at,
            "attributes": attributes,
        })
      # recency update AFTER the sentence is processed, so a pronoun
      # resolves to the PREVIOUS sentence's subject, never its own; a
      # pronoun-led or determiner-led sentence leaves the antecedent
      # untouched (chains: "Alice … . She … . She … ." all resolve to
      # Alice; "The weather …" must not make "The" an antecedent). The
      # isupper guard keeps the all-lowercase hot path (distractor
      # turns) to one C-level char test. Auxiliary/wh-led questions are
      # excluded the same way as in the forward/seed scans: "Does Alice
      # Smith know?" leads with a capitalized auxiliary that _LEAD_NAME
      # would glue into a bogus name "Does Alice Smith"; a name-led
      # question keeps its subject as the antecedent.
      if not _q_blocked(ante_src, is_q) and ante_src[0].isupper():
          lm = _LEAD_NAME.match(ante_src)
          if lm:
              lead = normalize_name(lm.group("n"))
              if lead not in _PRONOUNS and lead not in _DETERMINERS:
                  antecedent = clean_text(lm.group("n"))
    return list(seen.values()), triples


def extract_mentions(content: str, source: str = SOURCE_MESSAGE,
                     ontology=None, prev_context=None) -> list[dict]:
    """Mentions half of :func:`extract_all`."""
    return extract_all(content, None, source, ontology,
                       prev_context=prev_context)[0]


def extract_triples(content: str, ts: datetime | None,
                    source: str = SOURCE_MESSAGE,
                    ontology=None, prev_context=None) -> list[dict]:
    """Triples half of :func:`extract_all`."""
    return extract_all(content, ts, source, ontology,
                       prev_context=prev_context)[1]


# ---------------------------------------------------------------------------
# Deterministic ids (reference uses uuid4, ``nodes.py:81-86``; we need ids
# that are pure functions of content so outputs are identical across
# partitionings and cluster sizes — SURVEY.md §7 risk 1).
# ---------------------------------------------------------------------------

def stable_id(*parts: str) -> str:
    """sha1-based 32-hex id, pure function of its inputs."""
    h = hashlib.sha1("\x1f".join(parts).encode("utf-8")).hexdigest()
    return h[:32]


def entity_uuid(group_id: str, name: str) -> str:
    return stable_id("entity", group_id, normalize_name(name))


def episode_uuid(group_id: str, turn_idx: int) -> str:
    return stable_id("episode", group_id, str(turn_idx))


def edge_uuid(group_id: str, src: str, pred: str, dst: str, fact: str,
              turn_idx: int) -> str:
    return stable_id("edge", group_id, src, pred, dst, normalize_name(fact),
                     str(turn_idx))


# ---------------------------------------------------------------------------
# Duplicate decision rules (deterministic stand-in for the LLM dedup calls,
# preserving the bulk-path threshold structure ``bulk_utils.py:208,227-241``)
# ---------------------------------------------------------------------------

NODE_COSINE_THRESHOLD = 0.8   # bulk_utils.py:208
EDGE_COSINE_THRESHOLD = 0.6   # bulk_utils.py:297


def node_is_duplicate(name_a: str, name_b: str, cosine: float) -> bool:
    """Nodes are duplicates iff normalized-equal, token-subset (alias like
    'Bob' ⊂ 'Bob Smith'), or embedding-cosine ≥ 0.8.

    The reference generates candidates by word-overlap OR cosine≥0.8
    (``bulk_utils.py:227-241``) then asks an LLM; our deterministic
    judgment tightens word-overlap to subset so 'Alice Smith' and
    'Bob Smith' (shared surname) do NOT merge.
    """
    na, nb = normalize_name(name_a), normalize_name(name_b)
    if na == nb:
        return True
    ta, tb = set(name_tokens(name_a)), set(name_tokens(name_b))
    if ta and tb and (ta <= tb or tb <= ta):
        return True
    return cosine >= NODE_COSINE_THRESHOLD


def edge_is_duplicate(fact_a: str, fact_b: str, cosine: float) -> bool:
    """Edges with identical endpoints are duplicates iff normalized facts
    are equal, fact token sets overlap ≥ 0.9 Jaccard, or cosine ≥ 0.6
    (pair guard applied by the caller — ``bulk_utils.py:318-321``)."""
    fa, fb = normalize_name(fact_a), normalize_name(fact_b)
    if fa == fb:
        return True
    ta, tb = set(fa.split()), set(fb.split())
    if ta and tb:
        j = len(ta & tb) / len(ta | tb)
        if j >= 0.9:
            return True
    return cosine >= EDGE_COSINE_THRESHOLD
