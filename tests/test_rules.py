"""Unit tests for the deterministic extraction rules (pure Python, no Spark).

Mirrors the reference prompt contracts: speaker-first extraction
(``prompts/extract_nodes.py:96``), SCREAMING_SNAKE_CASE predicates,
date-resolution rules (``prompts/extract_edges.py:117-124``), and the
bulk-path duplicate thresholds (``bulk_utils.py:208,227-241,297``).
"""

from datetime import datetime, timezone

from graphiti_spark import rules

TS = datetime(2024, 3, 1, 12, 0, tzinfo=timezone.utc)


def test_split_speaker():
    assert rules.split_speaker("Alice: hi there") == ("Alice", "hi there")
    assert rules.split_speaker("no colon here") == ("", "no colon here")


def test_mentions_speaker_first_and_generic_skipped():
    m = rules.extract_mentions("Alice: Bob Smith works at Acme Corp.")
    names = [x["name"] for x in m]
    assert names[0] == "Alice"           # speaker extracted first
    assert "Bob Smith" in names and "Acme Corp" in names
    m2 = rules.extract_mentions("user: Bob Smith works at Acme Corp.")
    assert [x["name"] for x in m2] == ["Bob Smith", "Acme Corp"]


def test_mentions_dedup_and_types():
    m = rules.extract_mentions("Alice: Alice lives in Paris.")
    # speaker Alice and fact-subject Alice dedup to one mention
    assert [x["name"] for x in m] == ["Alice", "Paris"]
    by = {x["name"]: x["entity_type_id"] for x in m}
    assert by["Paris"] == rules.TYPE_PLACE


def test_triples_present_tense_valid_at():
    t = rules.extract_triples("user: Alice works at Acme Corp.", TS)
    assert len(t) == 1
    r = t[0]
    assert (r["subj"], r["pred"], r["obj"]) == ("Alice", "WORKS_AT", "Acme Corp")
    assert r["valid_at"] == TS and r["invalid_at"] is None


def test_triples_negation_and_year():
    neg = rules.extract_triples("user: Alice no longer works at Acme Corp.", TS)[0]
    assert neg["invalid_at"] == TS and neg["valid_at"] is None
    yr = rules.extract_triples("user: Bob founded Globex in 1999.", TS)[0]
    assert yr["valid_at"] == datetime(1999, 1, 1, tzinfo=timezone.utc)
    assert yr["pred"] == "FOUNDED"


def test_triples_self_pair_skipped():
    # edge_operations.py:73-74 — self pairs dropped
    assert rules.extract_triples("user: Alice likes Alice.", TS) == []


def test_triples_multi_sentence():
    t = rules.extract_triples(
        "user: Alice works at Acme Corp. Alice lives in Paris.", TS)
    assert [(r["pred"]) for r in t] == ["WORKS_AT", "LIVES_IN"]


def test_parse_iso_date():
    """edge_operations.py:211-225 semantics: Z→+00:00, warn-and-null on
    failure; naive → UTC; bare year → Jan 1."""
    utc = timezone.utc
    assert rules.parse_iso_date("2021-05-01") == datetime(2021, 5, 1, tzinfo=utc)
    assert rules.parse_iso_date("2021-05-01T10:30:00Z") == \
        datetime(2021, 5, 1, 10, 30, tzinfo=utc)
    assert rules.parse_iso_date("2021-05-01T12:00:00+02:00") == \
        datetime(2021, 5, 1, 10, 0, tzinfo=utc)
    assert rules.parse_iso_date("1999") == datetime(1999, 1, 1, tzinfo=utc)
    assert rules.parse_iso_date("not a date") is None
    assert rules.parse_iso_date("") is None


def test_temporal_adjunct_resolution():
    """E5: '... since/on/from <date>' sets valid_at; '... until <date>'
    sets invalid_at; the adjunct also lands in attributes."""
    t = rules.extract_triples(
        "user: Alice works at Acme Corp since 2021-05-01.", TS)
    assert len(t) == 1
    r = t[0]
    assert r["pred"] == "WORKS_AT"
    assert r["valid_at"] == datetime(2021, 5, 1, tzinfo=timezone.utc)
    assert r["attributes"] == {"since": "2021-05-01T00:00:00+00:00"}
    u = rules.extract_triples(
        "user: Alice works at Acme Corp until 2022-03-04T10:00:00Z.", TS)[0]
    assert u["valid_at"] == TS       # present-tense default kept
    assert u["invalid_at"] == datetime(2022, 3, 4, 10, tzinfo=timezone.utc)
    # mentions are extracted from adjunct sentences too
    m = rules.extract_mentions(
        "user: Alice works at Acme Corp since 2021-05-01.")
    assert [x["name"] for x in m] == ["Alice", "Acme Corp"]
    # unparseable adjunct date → sentence doesn't match (stays consistent
    # between mentions and triples)
    assert rules.extract_triples(
        "user: Alice works at Acme Corp since 99x9.", TS) == []


def test_triple_attributes_slots():
    yr = rules.extract_triples("user: Bob founded Globex in 1999.", TS)[0]
    assert yr["attributes"] == {"year": "1999"}
    plain = rules.extract_triples("user: Alice works at Acme Corp.", TS)[0]
    assert plain["attributes"] == {}
    j = rules.extract_triples('{"name": "Jane", "employer": "Acme"}', TS,
                              source=rules.SOURCE_JSON)[0]
    assert j["attributes"] == {"field": "employer"}


def test_json_episode_extraction():
    """EpisodeType.json contract: 'name' field = subject, capitalized
    string fields → (name, UPPER(key), value) triples + mentions."""
    doc = ('{"name": "Jane Doe", "employer": "Acme Corp", "city": "Paris",'
           ' "age": 33, "note": "lowercase ignored",'
           ' "team": {"nested": "ignored"}}')
    m = rules.extract_mentions(doc, source=rules.SOURCE_JSON)
    assert [x["name"] for x in m] == ["Jane Doe", "Acme Corp", "Paris"]
    t = rules.extract_triples(doc, TS, source=rules.SOURCE_JSON)
    assert {(r["subj"], r["pred"], r["obj"]) for r in t} == {
        ("Jane Doe", "EMPLOYER", "Acme Corp"),
        ("Jane Doe", "CITY", "Paris")}
    assert all(r["valid_at"] == TS for r in t)
    # malformed / non-object / missing-name JSON extracts nothing
    assert rules.extract_triples("not json", TS, source=rules.SOURCE_JSON) == []
    assert rules.extract_triples("[1,2]", TS, source=rules.SOURCE_JSON) == []
    assert rules.extract_triples('{"employer": "Acme"}', TS,
                                 source=rules.SOURCE_JSON) == []


def test_text_episode_extraction():
    """EpisodeType.text: templates run over raw prose — no speaker split,
    so a leading 'Name:' is not stripped and colons in prose are safe."""
    t = rules.extract_triples("Alice works at Acme Corp.", TS,
                              source=rules.SOURCE_TEXT)
    assert [(r["subj"], r["pred"], r["obj"]) for r in t] == \
        [("Alice", "WORKS_AT", "Acme Corp")]
    m = rules.extract_mentions("Alice works at Acme Corp.",
                               source=rules.SOURCE_TEXT)
    assert [x["name"] for x in m] == ["Alice", "Acme Corp"]
    # same content as a 'message' episode would treat 'Alice' as speaker
    # and the rest as body — text must not
    msg = rules.extract_triples("Alice: Alice works at Acme Corp.", TS)
    txt = rules.extract_triples("Alice works at Acme Corp.", TS,
                                source=rules.SOURCE_TEXT)
    assert msg[0]["subj"] == txt[0]["subj"] == "Alice"


def test_node_duplicate_rules():
    assert rules.node_is_duplicate("Bob", "Bob Smith", 0.0)     # alias subset
    assert rules.node_is_duplicate("bob  smith", "Bob Smith", 0.0)
    assert not rules.node_is_duplicate("Alice Smith", "Bob Smith", 0.0)
    assert rules.node_is_duplicate("X", "Y", 0.85)              # cosine branch
    assert not rules.node_is_duplicate("X", "Y", 0.79)


def test_edge_duplicate_rules():
    assert rules.edge_is_duplicate("a likes b", "A likes  B", 0.0)
    assert rules.edge_is_duplicate("x", "y", 0.65)
    assert not rules.edge_is_duplicate("x", "y", 0.55)


def test_stable_ids_deterministic():
    assert rules.entity_uuid("g", "Alice") == rules.entity_uuid("g", "alice ")
    assert rules.entity_uuid("g1", "Alice") != rules.entity_uuid("g2", "Alice")
    assert len(rules.stable_id("a", "b")) == 32


# ---------------------------------------------------------------------------
# E6 user-suppliable ontology (graphiti_spark.ontology)
# ---------------------------------------------------------------------------

import pickle

import pytest

from graphiti_spark import ontology as onto_mod
from graphiti_spark.ontology import (
    EntityTypeValidationError, GroupIdValidationError, Ontology, Template,
    validate_entity_types, validate_excluded_entity_types, validate_group_id)


def test_reserved_name_rejection():
    """entity_types_utils.py:21-37: custom attribute fields must not shadow
    EntityNode's own fields."""
    with pytest.raises(EntityTypeValidationError) as e:
        validate_entity_types({"Product": ("name",)})
    assert e.value.entity_type == "Product" and e.value.field_name == "name"
    with pytest.raises(EntityTypeValidationError):
        Ontology(entity_types={"Product": ("category", "group_id")})
    # non-reserved fields pass
    assert validate_entity_types({"Product": ("category", "sku")})
    assert validate_entity_types(None)


def test_excluded_type_validation():
    """helpers.py:150-181: exclusions must name available types."""
    with pytest.raises(ValueError, match="Nonexistent"):
        validate_excluded_entity_types(["Nonexistent"])
    assert validate_excluded_entity_types(["Person", "Place"])
    assert validate_excluded_entity_types(
        ["Product"], {"Product": ("category",)})
    with pytest.raises(ValueError):
        Ontology(excluded_entity_types=["NoSuchType"])


def test_group_id_validation():
    """helpers.py:128-148: [a-zA-Z0-9_-]+ or empty."""
    assert validate_group_id("") and validate_group_id("conv_1-a")
    with pytest.raises(GroupIdValidationError):
        validate_group_id("bad group!")


def test_custom_template_extraction():
    onto = Ontology(
        entity_types={"Product": ("category",)},
        templates=[Template("{a} supplies {b}", "SUPPLIES",
                            subj_type="Organization", obj_type="Product")])
    t = rules.extract_triples("user: Acme Corp supplies Widget Max.", TS,
                              ontology=onto)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Acme Corp", "SUPPLIES", "Widget Max")]
    assert t[0]["valid_at"] == TS
    m = {x["name"]: x["entity_type_id"]
         for x in rules.extract_mentions(
             "user: Acme Corp supplies Widget Max.", ontology=onto)}
    assert m == {"Acme Corp": "Organization", "Widget Max": "Product"}
    # default templates still run alongside the custom one
    t2 = rules.extract_triples("user: Alice works at Acme Corp.", TS,
                               ontology=onto)
    assert t2 and t2[0]["pred"] == "WORKS_AT"


def test_custom_template_modes_and_adjuncts():
    onto = Ontology(templates=[
        Template("{a} no longer sponsors {b}", "SPONSORS", mode="neg"),
        Template("{a} sponsors {b}", "SPONSORS"),
        Template("{a} acquired {b} in {y}", "ACQUIRED", mode="year"),
    ])
    neg = rules.extract_triples("user: Acme no longer sponsors Bob.", TS,
                                ontology=onto)
    assert neg[0]["invalid_at"] == TS and neg[0]["valid_at"] is None
    yr = rules.extract_triples("user: Acme acquired Globex in 2019.", TS,
                               ontology=onto)
    assert yr[0]["valid_at"] == datetime(2019, 1, 1, tzinfo=timezone.utc)
    # temporal adjuncts compose with registered templates too (E5)
    adj = rules.extract_triples(
        "user: Acme sponsors Bob since 2021-05-02.", TS, ontology=onto)
    assert adj[0]["valid_at"] == datetime(2021, 5, 2, tzinfo=timezone.utc)


def test_excluded_types_drop_mentions_and_triples():
    onto = Ontology(excluded_entity_types=["Place"])
    content = "Alice: Alice lives in Paris. Alice works at Acme."
    m = [x["name"] for x in rules.extract_mentions(content, ontology=onto)]
    assert "Paris" not in m and "Alice" in m and "Acme" in m
    t = [(x["pred"]) for x in rules.extract_triples(content, TS,
                                                    ontology=onto)]
    assert t == ["WORKS_AT"]            # LIVES_IN dropped: obj type excluded
    # excluding the Speaker type drops the speaker mention
    onto2 = Ontology(excluded_entity_types=["Speaker"])
    m2 = [x["name"] for x in rules.extract_mentions(
        "Alice: Bob works at Acme.", ontology=onto2)]
    assert m2 == ["Bob", "Acme"]
    # JSON branch: excluding 'Entity' refuses the nodes AND their edges —
    # no triples to entities that were never extracted.
    onto3 = Ontology(excluded_entity_types=["Entity"])
    payload = '{"name": "Acme Corp", "ceo": "Alice Smith"}'
    m3, t3 = rules.extract_all(payload, TS, source=rules.SOURCE_JSON,
                               ontology=onto3)
    assert m3 == [] and t3 == []


def test_template_validation_errors():
    with pytest.raises(ValueError, match="SCREAMING_SNAKE_CASE"):
        Template("{a} likes {b}", "likes").compile()
    with pytest.raises(ValueError, match="one {b} slot"):
        Template("{a} exists", "EXISTS").compile()
    with pytest.raises(ValueError, match="mode"):
        Template("{a} x {b}", "X", mode="sometimes").compile()
    with pytest.raises(ValueError, match="{y}"):
        Template("{a} met {b}", "MET", mode="year").compile()
    with pytest.raises(ValueError, match="unregistered"):
        Ontology(templates=[Template("{a} uses {b}", "USES",
                                     obj_type="Gadget")])
    # literal regex metacharacters in templates are escaped, not compiled
    onto = Ontology(templates=[Template("{a} (really) likes {b}",
                                        "REALLY_LIKES")])
    t = rules.extract_triples("user: Alice (really) likes Bob.", TS,
                              ontology=onto)
    assert t[0]["pred"] == "REALLY_LIKES"


def test_edge_type_map_constraint():
    """graphiti.py:461-466 / edge_operations.py:124-141: the map admits
    edge types per (src, dst) signature; ('Entity','Entity') is the
    catch-all."""
    ok = Ontology(
        templates=[Template("{a} supplies {b}", "SUPPLIES",
                            subj_type="Organization",
                            obj_type="Organization")],
        edge_type_map={("Organization", "Organization"): ("SUPPLIES",)})
    assert any(p[1] == "SUPPLIES" for p in ok.patterns)
    with pytest.raises(ValueError, match="not admitted"):
        Ontology(
            templates=[Template("{a} supplies {b}", "SUPPLIES",
                                subj_type="Organization",
                                obj_type="Organization")],
            edge_type_map={("Person", "Person"): ("SUPPLIES",)})
    # catch-all signature admits any-typed templates
    ok2 = Ontology(
        templates=[Template("{a} supplies {b}", "SUPPLIES",
                            subj_type="Organization",
                            obj_type="Organization")],
        edge_type_map={("Entity", "Entity"): ("SUPPLIES",)})
    assert any(p[1] == "SUPPLIES" for p in ok2.patterns)


def test_ontology_pickles_and_fingerprints():
    """The ontology ships to executors inside the pandas-UDF closure —
    it must pickle (compiled regexes included) and keep behavior."""
    onto = Ontology(
        entity_types={"Product": ("category",)},
        excluded_entity_types=["Place"],
        templates=[Template("{a} supplies {b}", "SUPPLIES")],
        functional_preds=["SUPPLIES"])
    clone = pickle.loads(pickle.dumps(onto))
    assert rules.extract_triples("user: Acme supplies Widget.", TS,
                                 ontology=clone)[0]["pred"] == "SUPPLIES"
    assert clone.fingerprint() == onto.fingerprint()
    assert clone.fingerprint() != Ontology().fingerprint()
    # default instance behaves exactly like ontology=None
    assert rules.extract_triples("user: Alice works at Acme.", TS,
                                 ontology=onto_mod.DEFAULT) == \
        rules.extract_triples("user: Alice works at Acme.", TS)
    # functional declarations merge with the builtins
    assert "SUPPLIES" in onto.functional_preds
    assert rules.FUNCTIONAL_PREDS <= onto.functional_preds


# --- round-4 template breadth: passive / locative / clause families -----


def test_passive_voice_families():
    # group names carry roles: passive surface order still yields
    # (person, WORKS_AT/FOUNDED, org) with person as subject
    t = rules.extract_triples("user: Alice is employed by Acme Corp.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Alice", "WORKS_AT", "Acme Corp")]
    t = rules.extract_triples("user: Acme Corp employs Alice.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Alice", "WORKS_AT", "Acme Corp")]
    t = rules.extract_triples(
        "user: Acme Corp was founded by Alice in 1999.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Alice", "FOUNDED", "Acme Corp")]
    assert t[0]["valid_at"].year == 1999
    # passive negation supersedes like the active form
    t = rules.extract_triples(
        "user: Alice is no longer employed by Acme Corp.", TS)
    assert t[0]["invalid_at"] == TS and t[0]["valid_at"] is None
    # mention typing follows the ROLE, not the surface position
    m = rules.extract_mentions("user: Acme Corp employs Alice.")
    types = {x["name"]: x["entity_type_id"] for x in m}
    assert types["Alice"] == "Person" and types["Acme Corp"] == "Organization"


def test_locative_synonyms():
    for s, subj, obj in [("Alice resides in Paris.", "Alice", "Paris"),
                         ("Zeta Ltd is based in Berlin.", "Zeta Ltd",
                          "Berlin"),
                         ("Bob relocated to Lyon.", "Bob", "Lyon")]:
        t = rules.extract_triples(f"user: {s}", TS)
        assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
            [(subj, "LIVES_IN", obj)]


def test_appositive_and_relative_clause_expansion():
    t = rules.extract_triples(
        "user: Alice Smith, CEO of Acme Corp, lives in Paris.", TS)
    assert {(x["subj"], x["pred"], x["obj"]) for x in t} == \
        {("Alice Smith", "CEO_OF", "Acme Corp"),
         ("Alice Smith", "LIVES_IN", "Paris")}
    t = rules.extract_triples(
        "user: Alice, who works at Acme Corp, moved to Paris.", TS)
    assert {(x["subj"], x["pred"], x["obj"]) for x in t} == \
        {("Alice", "WORKS_AT", "Acme Corp"), ("Alice", "LIVES_IN", "Paris")}
    # founder appositive asserts FOUNDED (round-4 template breadth)
    t = rules.extract_triples(
        "user: Alice, founder of Acme Corp, lives in Paris.", TS)
    assert {(x["subj"], x["pred"], x["obj"]) for x in t} == \
        {("Alice", "FOUNDED", "Acme Corp"), ("Alice", "LIVES_IN", "Paris")}
    # roles without a predicate mapping fall back to the rest-clause only
    t = rules.extract_triples(
        "user: Alice, head of Acme Corp, lives in Paris.", TS)
    assert {(x["subj"], x["pred"], x["obj"]) for x in t} == \
        {("Alice", "LIVES_IN", "Paris")}


def test_adverb_stripping():
    t = rules.extract_triples("user: Alice currently works at Acme Corp.",
                              TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Alice", "WORKS_AT", "Acme Corp")]
    t = rules.extract_triples("user: Bob recently relocated to Lyon.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Bob", "LIVES_IN", "Lyon")]
    # lowercase filler with a comma/adverb-ish word never matches
    assert rules.extract_triples(
        "user: thanks, that was exactly what i needed now.", TS) == []


def test_expand_clauses_passthrough():
    # plain sentences come back verbatim (hot path untouched)
    assert rules.expand_clauses("Alice works at Acme Corp") == \
        ["Alice works at Acme Corp"]
    assert rules.expand_clauses("status: ok, 200 records processed") == \
        ["status: ok, 200 records processed"]


def test_round4b_template_families():
    # perfect progressive / possessive CEO / copular employee / nominal
    # founder — the families the round-4 held-out probe measured at R=0
    for s, subj, pred, obj in [
            ("Alice Chen has been living in Paris.",
             "Alice Chen", "LIVES_IN", "Paris"),
            ("Acme Corp's CEO is Alice Chen.",
             "Alice Chen", "CEO_OF", "Acme Corp"),
            ("Bob Patel is an employee of Globex.",
             "Bob Patel", "WORKS_AT", "Globex"),
            ("Carol Jones is the founder of Initech.",
             "Carol Jones", "FOUNDED", "Initech")]:
        t = rules.extract_triples(f"user: {s}", TS)
        assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
            [(subj, pred, obj)], s
    # founder-nominal has no year: valid_at defaults to event time
    t = rules.extract_triples(
        "user: Carol Jones is the founder of Initech.", TS)
    assert t[0]["valid_at"] == TS
    # the possessive keyword literal is derived, not hand-listed
    assert "'s CEO is " in rules._KEYWORDS


def test_pronoun_coref_resolves_by_recency():
    # Personal pronouns resolve to the most recent sentence-leading
    # non-pronoun name (the deterministic analogue of the LLM prompt's
    # instructed resolution, prompts/extract_nodes.py) — even when the
    # antecedent sentence itself matched no template.
    m, t = rules.extract_all(
        "user: Alice Chen joined the team. She works at Globex.", TS)
    assert [x["name"] for x in m] == ["Alice Chen", "Globex"]
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Alice Chen", "WORKS_AT", "Globex")]
    # chains: a pronoun-led sentence leaves the antecedent untouched
    m, t = rules.extract_all(
        "user: Alice works at Acme. She lives in Paris. She likes Hooli.",
        TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice", "WORKS_AT", "Acme"), ("Alice", "LIVES_IN", "Paris"),
        ("Alice", "LIKES", "Hooli")]
    # object-slot pronoun resolves too
    m, t = rules.extract_all(
        "user: Carol Woo moved to Oslo. Acme Corp employs her.", TS)
    assert ("Carol Woo", "WORKS_AT", "Acme Corp") in \
        [(x["subj"], x["pred"], x["obj"]) for x in t]


def test_unresolvable_pronouns_yield_no_entity_and_no_triple():
    # No antecedent yet: a pronoun slot stays an unresolved reference —
    # emitting it would mint a bogus entity node named "She".
    m, t = rules.extract_all("user: She works at Globex.", TS)
    assert [x["name"] for x in m] == ["Globex"]
    assert t == []
    # "it" is outside the resolvable subset (recency over names is a
    # person/org heuristic; "it" is as likely clausal) — never resolved
    m, t = rules.extract_all(
        "user: Bob works at Acme. Bob likes It.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Bob", "WORKS_AT", "Acme")]


def test_first_person_resolves_to_speaker():
    # "I <vp>" in a message episode resolves to the named speaker,
    # conjugated to 3rd person; generic speakers (user/assistant) don't
    # resolve — there is no entity to attribute the fact to.
    m, t = rules.extract_all("alice: I work at Initech.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Alice", "WORKS_AT", "Initech")]
    assert {x["name"] for x in m} == {"alice", "Initech"}
    m, t = rules.extract_all("user: I work at Initech.", TS)
    assert t == []
    # past-tense verbs conjugate identically
    _, t = rules.extract_all("bob: I founded Hooli in 2001.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == \
        [("Bob", "FOUNDED", "Hooli")]


def test_conjoined_subject_and_object_split():
    # plural-verb conjoined subjects assert one fact per conjunct
    _, t = rules.extract_all(
        "user: Alice Smith and Dana Kim work at Acme Corp.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice Smith", "WORKS_AT", "Acme Corp"),
        ("Dana Kim", "WORKS_AT", "Acme Corp")]
    # copular plural conjugates are→is; negation window handled
    _, t = rules.extract_all(
        "user: Erin Chen and Frank Patel are employed by Hooli.", TS)
    assert len(t) == 2 and all(x["pred"] == "WORKS_AT" for x in t)
    _, t = rules.extract_all(
        "user: Bob and Carol no longer work at Globex.", TS)
    assert len(t) == 2 and all(x["invalid_at"] == TS for x in t)
    # conjoined objects
    _, t = rules.extract_all(
        "user: Alice is friends with Bob Jones and Carol Woo.", TS)
    assert [(x["subj"], x["obj"]) for x in t] == [
        ("Alice", "Bob Jones"), ("Alice", "Carol Woo")]
    # guard: a multiword proper name containing 'and' is not torn apart
    # (the verb after the would-be second conjunct is unrecognized)
    m, t = rules.extract_all(
        "user: Research and Development announced a plan.", TS)
    assert m == [] and t == []


def test_coordinate_clauses_split_when_both_sides_parse():
    _, t = rules.extract_all(
        "user: Alice Smith works at Acme Corp and Dana Kim lives in "
        "Paris.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice Smith", "WORKS_AT", "Acme Corp"),
        ("Dana Kim", "LIVES_IN", "Paris")]
    # a non-parsing right side blocks the split (and the whole sentence
    # matches nothing — honest silence, not a half-extraction)
    _, t = rules.extract_all(
        "user: Alice Smith works at Acme and gets coffee.", TS)
    assert t == []
    # object-conjunction reading wins where both could apply
    _, t = rules.extract_all("user: Alice likes Acme and Dana Kim.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice", "LIKES", "Acme"), ("Alice", "LIKES", "Dana Kim")]


def test_definite_np_resolves_to_recent_org():
    _, t = rules.extract_all(
        "user: Alice Smith works at Acme Corp. The company is based in "
        "Berlin.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice Smith", "WORKS_AT", "Acme Corp"),
        ("Acme Corp", "LIVES_IN", "Berlin")]
    # no org antecedent: "The company" stays unresolved, no bogus entity
    m, t = rules.extract_all("user: The company is based in Berlin.", TS)
    assert t == [] and [x["name"] for x in m] == []


def test_object_conjunction_guards_and_bearing_names():
    # single-token 'X and Y' in object position is exactly the
    # and-bearing-orgname shape ('Marks and Spencer', 'Johnson and
    # Johnson') — never split into two bogus entities; the unsplit name
    # can't fill a _NAME slot either, so the result is honest silence,
    # not a half-extraction
    m, t = rules.extract_all("user: Alice likes Marks and Spencer.", TS)
    assert m == [] and t == []
    m, t = rules.extract_all("user: Alice likes Johnson and Johnson.", TS)
    assert m == [] and t == []
    # a multiword side is a genuine conjunction and still splits
    # (asserted in test_conjoined_subject_and_object_split)


def test_pronoun_antecedent_ignores_definite_np_rewrite():
    # 'The company …' rewrites to the org for ITS OWN extraction, but
    # the person-pronoun antecedent must read the sentence as written:
    # She is Alice, not Acme.
    _, t = rules.extract_all(
        "user: Alice works at Acme. The company is based in Oslo. "
        "She lives in Paris.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice", "WORKS_AT", "Acme"), ("Acme", "LIVES_IN", "Oslo"),
        ("Alice", "LIVES_IN", "Paris")]


def test_determiner_led_sentence_is_not_an_antecedent():
    # a bare determiner lead ('The weather …') is not a name and must
    # not capture the pronoun antecedent
    _, t = rules.extract_all(
        "user: Alice works at Acme. The weather was terrible. "
        "She lives in Paris.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("Alice", "WORKS_AT", "Acme"), ("Alice", "LIVES_IN", "Paris")]
    # multiword capitalized leads ('The Beatles') are real names and
    # stay antecedent-eligible
    _, t = rules.extract_all(
        "user: The Beatles moved to London. Alice likes them.", TS)
    assert [(x["subj"], x["pred"], x["obj"]) for x in t] == [
        ("The Beatles", "LIVES_IN", "London"),
        ("Alice", "LIKES", "The Beatles")]


def _t3(content, prev=None):
    _, t = rules.extract_all(content, TS, prev_context=prev)
    return [(x["subj"], x["pred"], x["obj"]) for x in t]


def test_vp_ellipsis_copies_last_subject_led_vp():
    # "does too" copies the VP of the last subject-led matched clause
    assert _t3("user: Alice Chen works at Acme Corp. Dana Kim does "
               "too.") == [("Alice Chen", "WORKS_AT", "Acme Corp"),
                           ("Dana Kim", "WORKS_AT", "Acme Corp")]
    # no prior VP anywhere -> honest silence, no bogus entity
    assert _t3("user: Dana Kim does too.") == []
    # the VP must come from a SUBJECT-led clause: a passive's surface
    # lead is the object, so its VP is never copied
    assert _t3("user: Acme Corp was founded by Bo Li in 1999. Dana Kim "
               "does too.") == [("Bo Li", "FOUNDED", "Acme Corp")]


def test_cross_episode_pronoun_subject():
    prev = ["user: Carol Moss lives in Oslo."]
    assert _t3("user: She works at Globex.", prev) == [
        ("Carol Moss", "WORKS_AT", "Globex")]
    # newest previous episode wins
    prev2 = ["user: Alice Chen lives in Paris.",
             "user: Carol Moss lives in Oslo."]
    assert _t3("user: She works at Globex.", prev2) == [
        ("Carol Moss", "WORKS_AT", "Globex")]
    # pronoun-led / determiner-led previous sentences are skipped
    prev3 = ["user: Carol Moss lives in Oslo. She likes Tofu. "
             "The weather was bad."]
    assert _t3("user: She works at Globex.", prev3) == [
        ("Carol Moss", "WORKS_AT", "Globex")]
    # in-episode antecedent always beats the cross-episode seed
    assert _t3("user: Alice Chen joined. She works at Globex.", prev) \
        == [("Alice Chen", "WORKS_AT", "Globex")]
    # nothing resolvable in prev -> silence
    assert _t3("user: She works at Globex.",
               ["user: the weather was bad."]) == []


def test_cross_episode_pronoun_object_tail():
    prev = ["user: Carol Moss lives in Oslo."]
    assert _t3("user: Acme Corp employs her.", prev) == [
        ("Carol Moss", "WORKS_AT", "Acme Corp")]


def test_cross_episode_first_person_prev_resolves_to_its_speaker():
    # an "I ..." sentence in a previous episode seeds the antecedent
    # with THAT episode's (non-generic) speaker
    assert _t3("user: She works at Globex.",
               ["carol: I live in Oslo."]) == [
        ("Carol", "WORKS_AT", "Globex")]
    # generic speakers never become antecedents
    assert _t3("user: She works at Globex.",
               ["user: I live in Oslo."]) == []


def test_cross_episode_vp_ellipsis():
    assert _t3("user: Dana Kim does too.",
               ["user: Alice Chen works at Initech."]) == [
        ("Dana Kim", "WORKS_AT", "Initech")]
    # in-episode VP beats the cross-episode one
    assert _t3("user: Bo Ray works at Hooli. Dana Kim does too.",
               ["user: Alice Chen works at Initech."]) == [
        ("Bo Ray", "WORKS_AT", "Hooli"),
        ("Dana Kim", "WORKS_AT", "Hooli")]
    # no matching clause in prev -> silence
    assert _t3("user: Dana Kim does too.",
               ["user: the weather was bad."]) == []


def test_prev_context_is_inert_without_pronouns():
    # pronoun-free content must produce identical output with and
    # without context (the lazy seed is never evaluated)
    content = "user: Alice Chen works at Acme Corp. Bob Ray likes Tea."
    assert _t3(content) == _t3(content, ["user: Carol Moss lives in "
                                         "Oslo."])


def test_trigger_consumable_shapes_without_punctuation():
    # a punctuation-less object-pronoun tail still resolves (regression)
    prev = ["user: Carol Moss lives in Oslo."]
    assert _t3("user: Acme Corp employs her", prev) == [
        ("Carol Moss", "WORKS_AT", "Acme Corp")]


# ---------------------------------------------------------------------------
# round-4e: speech acts, cataphora, headline apposition, relative dates
# ---------------------------------------------------------------------------

def _spo(t):
    return [(x["subj"], x["pred"], x["obj"]) for x in t]


def test_question_mentions_but_never_asserts():
    # the reference's edge prompt extracts only "factual information"
    # (prompts/extract_edges.py:95-104) — a question asserts nothing
    m, t = rules.extract_all("user: Alice Smith works at Acme Corp?", TS)
    assert {x["name"] for x in m} == {"Alice Smith", "Acme Corp"}
    assert t == []
    # ...but a following statement is unaffected
    t = rules.extract_triples(
        "user: Does she know? Alice Smith works at Acme Corp.", TS)
    assert _spo(t) == [("Alice Smith", "WORKS_AT", "Acme Corp")]


def test_irrealis_lead_suppresses_fact_keeps_mentions():
    for lead in ("Maybe", "If", "Perhaps", "Suppose", "Assuming"):
        m, t = rules.extract_all(
            f"user: {lead} Alice Smith works at Acme Corp.", TS)
        assert {x["name"] for x in m} == {"Alice Smith", "Acme Corp"}, lead
        assert t == [], lead


def test_discourse_lead_is_stripped_and_asserted():
    for lead in ("Reportedly,", "Apparently", "Moreover,", "However,"):
        t = rules.extract_triples(
            f"user: {lead} Alice Smith works at Acme Corp.", TS)
        assert _spo(t) == [("Alice Smith", "WORKS_AT", "Acme Corp")], lead


def test_irrealis_vp_is_not_ellipsis_copyable():
    # "does too" must not copy an UNASSERTED VP
    t = rules.extract_triples(
        "user: Maybe Alice Smith works at Acme Corp. Dana Kim does too.",
        TS)
    assert t == []


def test_cataphora_forward_antecedent():
    t = rules.extract_triples(
        "user: She works at Acme Corp. Alice Smith loves that job.", TS)
    assert _spo(t) == [("Alice Smith", "WORKS_AT", "Acme Corp")]
    # object-tail variant
    t = rules.extract_triples(
        "user: Acme Corp employs her. Alice Smith is happy there.", TS)
    assert _spo(t) == [("Alice Smith", "WORKS_AT", "Acme Corp")]
    # recency still wins over the forward scan when available
    t = rules.extract_triples(
        "user: Carol Moss lives in Oslo. She works at Acme Corp. "
        "Alice Smith loves that job.", TS)
    assert ("Carol Moss", "WORKS_AT", "Acme Corp") in _spo(t)


def test_question_is_never_an_antecedent_source():
    # ADVICE r4: an auxiliary-led interrogative must not mint a bogus
    # name "Does Alice Smith" as the cataphora antecedent
    m, t = rules.extract_all(
        "user: She works at Acme Corp. Does Alice Smith know?", TS)
    assert "Does Alice Smith" not in {x["name"] for x in m}
    assert t == []
    # backward/recency variant: the question precedes the pronoun
    m, t = rules.extract_all(
        "user: Does Alice Smith know? She works at Acme Corp.", TS)
    assert "Does Alice Smith" not in {x["name"] for x in m}
    assert t == []
    # cross-episode seed variant: the only prior sentence is a question
    m, t = rules.extract_all(
        "user: She works at Acme Corp.", TS,
        prev_context=["bob: Does Alice Smith know?"])
    assert "Does Alice Smith" not in {x["name"] for x in m}
    assert t == []
    # a declarative after the question is still a valid antecedent
    t = rules.extract_triples(
        "user: Does anyone know? Alice Smith lives in Oslo. "
        "She works at Acme Corp.", TS)
    assert ("Alice Smith", "WORKS_AT", "Acme Corp") in _spo(t)


def test_name_led_question_still_supplies_antecedent():
    # The question guard is NARROW (auxiliary/wh-led only): a question
    # whose lead is a real name still carries its subject, so the coref
    # chain after it must resolve — blocking every interrogative would
    # silently drop these triples (r5 review finding).
    t = rules.extract_triples(
        "user: Alice Smith arrived? She works at Acme Corp.", TS)
    assert ("Alice Smith", "WORKS_AT", "Acme Corp") in _spo(t)
    # cross-episode seed variant
    m, t = rules.extract_all(
        "user: She works at Acme Corp.", TS,
        prev_context=["bob: Alice Smith arrived?"])
    assert ("Alice Smith", "WORKS_AT", "Acme Corp") in _spo(t)
    # wh-led questions stay blocked ("Who" must not become a name)
    m, t = rules.extract_all(
        "user: She works at Acme Corp.", TS,
        prev_context=["bob: Who is Alice Smith?"])
    assert "Who" not in {x["name"] for x in m}
    assert t == []


def test_headline_apposition_normalizes_to_copular():
    for dash in ("—", "–", "-"):
        t = rules.extract_triples(
            f"user: Alice Smith {dash} new CEO of Acme Corp.", TS)
        assert _spo(t) == [("Alice Smith", "CEO_OF", "Acme Corp")], dash
    t = rules.extract_triples(
        "user: Alice Smith — founder of Acme Corp.", TS)
    assert _spo(t) == [("Alice Smith", "FOUNDED", "Acme Corp")]


def test_relative_adjunct_dates_resolve_against_episode_ts():
    # reference prompts/extract_edge_dates.py:66-81: relative mentions
    # resolve against the reference timestamp
    ts = datetime(2024, 3, 15, 12, tzinfo=timezone.utc)
    t = rules.extract_triples(
        "user: Alice Smith works at Acme Corp since yesterday.", ts)
    assert t[0]["valid_at"] == datetime(2024, 3, 14, tzinfo=timezone.utc)
    t = rules.extract_triples(
        "user: Alice Smith works at Acme Corp since last year.", ts)
    assert t[0]["valid_at"] == datetime(2023, 1, 1, tzinfo=timezone.utc)
    t = rules.extract_triples(
        "user: Alice Smith works at Acme Corp since last month.", ts)
    assert t[0]["valid_at"] == datetime(2024, 2, 1, tzinfo=timezone.utc)
    t = rules.extract_triples(
        "user: Alice Smith works at Acme Corp until today.", ts)
    assert t[0]["invalid_at"] == datetime(2024, 3, 15, tzinfo=timezone.utc)
    # no episode timestamp → warn-and-null semantics (reference parity)
    t = rules.extract_triples(
        "user: Alice Smith works at Acme Corp since yesterday.", None)
    assert t[0]["valid_at"] is None


def test_contracted_auxiliary_question_is_blocked_too():
    # code-review r5: "Doesn't Alice work at Acme?" previously stayed
    # antecedent-eligible — the lead token "doesn't" missed _Q_LEADS and
    # _LEAD_NAME minted the bogus name "Doesn" (apostrophe ends the
    # token), hijacking the coref chain from the real antecedent.
    m, t = rules.extract_all(
        "user: Doesn't Alice work at Acme? She works at Acme Corp.", TS)
    names = {x["name"] for x in m}
    assert "Doesn" not in names
    assert ("Doesn", "WORKS_AT", "Acme Corp") not in _spo(t)
    # unicode apostrophe form
    m, t = rules.extract_all(
        "user: Doesn’t Alice work at Acme? She works at Acme Corp.",
        TS)
    assert "Doesn" not in {x["name"] for x in m}
