"""Template-breadth P/R probe (round-4 task 8).

Renders a held-out corpus of known facts in surface-form families the
extraction templates may or may not cover, and measures per-family triple
precision/recall of ``rules.extract_all`` against the gold triples. This
quantifies the silent-no-extraction risk an ontology user runs: a family
with recall 0 means those sentences contribute NOTHING to the graph, with
no error anywhere.

Families marked covered=True were added in round 4 (passive voice,
employer-subject actives, locative synonyms, appositive/relative-clause
normalization, adverb insertion); the residual families at the bottom are
left uncovered ON PURPOSE and reported, so the risk number is honest
rather than a victory lap. Run: python scripts/exp_templates.py
"""

import json
import os
import random
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from graphiti_spark import rules  # noqa: E402

TS = datetime(2025, 1, 1, tzinfo=timezone.utc)
RNG = random.Random(404)

FIRST = ["Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace"]
LAST = ["Smith", "Jones", "Miller", "Garcia", "Chen", "Patel"]
ORGS = ["Acme Corp", "Globex", "Initech", "Hooli", "Umbrella Labs"]
CITIES = ["Paris", "Berlin", "Tokyo", "Austin", "Lisbon", "Oslo"]

# family → (render(person, org, city, year) -> sentence, gold triples)
FAMILIES = {
    # round-4 additions (should be ~1.0 now)
    "passive_employed_by": (
        lambda p, o, c, y: (f"{p} is employed by {o}.",
                            {(p, "WORKS_AT", o)})),
    "employer_subject": (
        lambda p, o, c, y: (f"{o} employs {p}.", {(p, "WORKS_AT", o)})),
    "passive_founded_by": (
        lambda p, o, c, y: (f"{o} was founded by {p} in {y}.",
                            {(p, "FOUNDED", o)})),
    "resides_in": (
        lambda p, o, c, y: (f"{p} resides in {c}.", {(p, "LIVES_IN", c)})),
    "org_based_in": (
        lambda p, o, c, y: (f"{o} is based in {c}.", {(o, "LIVES_IN", c)})),
    "relocated_to": (
        lambda p, o, c, y: (f"{p} relocated to {c}.",
                            {(p, "LIVES_IN", c)})),
    "adverb_inserted": (
        lambda p, o, c, y: (f"{p} currently works at {o}.",
                            {(p, "WORKS_AT", o)})),
    "appositive_ceo": (
        lambda p, o, c, y: (f"{p}, CEO of {o}, lives in {c}.",
                            {(p, "CEO_OF", o), (p, "LIVES_IN", c)})),
    "relative_clause": (
        lambda p, o, c, y: (f"{p}, who works at {o}, moved to {c}.",
                            {(p, "WORKS_AT", o), (p, "LIVES_IN", c)})),
    # baseline actives (sanity: must be 1.0)
    "active_works_at": (
        lambda p, o, c, y: (f"{p} works at {o}.", {(p, "WORKS_AT", o)})),
    "active_founded": (
        lambda p, o, c, y: (f"{p} founded {o} in {y}.",
                            {(p, "FOUNDED", o)})),
    # round-4b additions: the three families the first probe measured at
    # R=0 (perfect progressive, possessive CEO, copular employee), plus
    # the nominalized founder form
    "perfect_progressive": (
        lambda p, o, c, y: (f"{p} has been living in {c}.",
                            {(p, "LIVES_IN", c)})),
    "possessive_ceo": (
        lambda p, o, c, y: (f"{o}'s CEO is {p}.", {(p, "CEO_OF", o)})),
    "copular_employee": (
        lambda p, o, c, y: (f"{p} is an employee of {o}.",
                            {(p, "WORKS_AT", o)})),
    "founder_nominal": (
        lambda p, o, c, y: (f"{p} is the founder of {o}.",
                            {(p, "FOUNDED", o)})),
    # round-4c additions: the former residuals, now covered — recency
    # pronoun coreference (subject AND object slot), conjoined subjects
    # (clause split + plural→singular conjugation), conjoined objects,
    # and first-person-resolves-to-speaker (see CONTENT_FAMILIES).
    "pronoun_coref": (
        lambda p, o, c, y: (f"{p} joined the team. She works at {o}.",
                            {(p, "WORKS_AT", o)})),
    "pronoun_object": (
        lambda p, o, c, y: (f"{p} relocated to {c}. {o} employs her.",
                            {(p, "LIVES_IN", c), (p, "WORKS_AT", o)})),
    "conjoined_subject": (
        lambda p, o, c, y: (f"{p} and Dana Kim work at {o}.",
                            {(p, "WORKS_AT", o),
                             ("Dana Kim", "WORKS_AT", o)})),
    "conjoined_object": (
        lambda p, o, c, y: (f"{p} is friends with Dana Kim and Erin Roy.",
                            {(p, "FRIENDS_WITH", "Dana Kim"),
                             (p, "FRIENDS_WITH", "Erin Roy")})),
    # round-4c, second wave: definite-NP anaphora resolves to the most
    # recent org-typed slot; coordinate full clauses split under a
    # both-sides-parse guard (syntax alone cannot distinguish them from
    # object conjunctions or multiword names containing 'and').
    "definite_np_anaphora": (
        lambda p, o, c, y: (f"{p} works at {o}. The company is based in "
                            f"{c}.",
                            {(p, "WORKS_AT", o), (o, "LIVES_IN", c)})),
    "compound_sentence": (
        lambda p, o, c, y: (f"{p} works at {o} and Dana Kim lives in {c}.",
                            {(p, "WORKS_AT", o),
                             ("Dana Kim", "LIVES_IN", c)})),
    # round-4d: the former residuals, now covered — in-episode VP
    # ellipsis copies the last subject-led matched VP textually
    # (rules._ELLIPSIS), and cross-episode antecedents resolve through
    # prev_context (the reference's previous_episodes window), seeded
    # lazily only when a pronoun is actually waiting. Cross-episode
    # renders live in PREV_FAMILIES below (they need a previous episode).
    "ellipsis_too": (
        lambda p, o, c, y: (f"{p} works at {o}. Dana Kim does too.",
                            {(p, "WORKS_AT", o),
                             ("Dana Kim", "WORKS_AT", o)})),
    # residual, deliberately uncovered — the honest risk number. These
    # need machinery the deterministic extractor genuinely lacks:
    # cataphora (the pronoun PRECEDES its antecedent — recency looks the
    # wrong way, and resolving forward would need confidence the next
    # name is coreferent, i.e. semantic inference), and verbless
    # headline apposition (no verb anywhere for a template to anchor).
    "cataphora": (
        lambda p, o, c, y: (f"She works at {o}. {p} loves that job.",
                            {(p, "WORKS_AT", o)})),
    "headline_apposition": (
        lambda p, o, c, y: (f"{p} — new CEO of {o}.",
                            {(p, "CEO_OF", o)})),
    # round-4e: speech-act families. Questions and irrealis leads mention
    # entities but assert NOTHING — the gold is empty, so any extraction
    # is a false positive (these measure PRECISION risk, the mirror image
    # of the recall-risk families above). Discourse/evidential leads are
    # asserted; the adverb is stripped.
    "question_no_assert": (
        lambda p, o, c, y: (f"Does {p} work at {o}?", set())),
    "question_decl_no_assert": (
        lambda p, o, c, y: (f"{p} works at {o}?", set())),
    "irrealis_no_assert": (
        lambda p, o, c, y: (f"Maybe {p} works at {o}.", set())),
    "irrealis_if_no_assert": (
        lambda p, o, c, y: (f"If {p} works at {o}, ask her.", set())),
    "irrealis_ellipsis_guard": (
        lambda p, o, c, y: (f"Maybe {p} works at {o}. Dana Kim does too.",
                            set())),
    "discourse_lead": (
        lambda p, o, c, y: (f"Reportedly, {p} works at {o}.",
                            {(p, "WORKS_AT", o)})),
    # round-4e: relative temporal adjuncts resolve against the episode
    # timestamp (reference prompts/extract_edge_dates.py:66-81); the
    # triple must still extract with the adjunct peeled.
    "relative_date_adjunct": (
        lambda p, o, c, y: (f"{p} works at {o} since last year.",
                            {(p, "WORKS_AT", o)})),
    "founder_appositive": (
        lambda p, o, c, y: (f"{p}, founder of {o}, lives in {c}.",
                            {(p, "FOUNDED", o), (p, "LIVES_IN", c)})),
}

# family → (render -> (content, prev_contents, gold)): constructions whose
# antecedent lives in a PREVIOUS episode — exercised through the same
# prev_context parameter the build's extraction kernel fills.
PREV_FAMILIES = {
    "cross_episode_coref": (
        lambda p, o, c, y: (f"She works at {o}.",
                            [f"user: {p} relocated to {c}."],
                            {(p, "WORKS_AT", o)})),
    "cross_episode_object": (
        lambda p, o, c, y: (f"{o} employs her.",
                            [f"user: {p} relocated to {c}."],
                            {(p, "WORKS_AT", o)})),
    "cross_episode_ellipsis": (
        lambda p, o, c, y: ("Dana Kim does too.",
                            [f"user: {p} works at {o}."],
                            {("Dana Kim", "WORKS_AT", o)})),
    "cross_episode_first_person": (
        lambda p, o, c, y: (f"She lives in {c}.",
                            [f"{p.split()[0].lower()}: I work at {o}."],
                            {(p.split()[0].capitalize(), "LIVES_IN", c)})),
}

# families where the SPEAKER is part of the construction: render returns
# the full episode content (no "user: " wrapper added by main()).
CONTENT_FAMILIES = {
    "first_person_speaker": (
        lambda p, o, c, y: (f"{p.split()[0].lower()}: I work at {o}.",
                            {(p.split()[0].capitalize(), "WORKS_AT", o)})),
}

N_PER_FAMILY = 200


def main():
    report = {}
    all_families = {**{f: (r, "wrap") for f, r in FAMILIES.items()},
                    **{f: (r, "content") for f, r in
                       CONTENT_FAMILIES.items()},
                    **{f: (r, "prev") for f, r in PREV_FAMILIES.items()}}
    for fam, (render, kind) in all_families.items():
        tp = fp = fn = 0
        for _ in range(N_PER_FAMILY):
            p = f"{RNG.choice(FIRST)} {RNG.choice(LAST)}"
            o, c, y = RNG.choice(ORGS), RNG.choice(CITIES), RNG.randint(
                1980, 2020)
            prev = None
            if kind == "prev":
                sent, prev, gold = render(p, o, c, y)
            else:
                sent, gold = render(p, o, c, y)
            content = sent if kind == "content" else f"user: {sent}"
            _, triples = rules.extract_all(content, TS, prev_context=prev)
            got = {(t["subj"], t["pred"], t["obj"]) for t in triples}
            tp += len(got & gold)
            fp += len(got - gold)
            fn += len(gold - got)
        prec = tp / (tp + fp) if tp + fp else 1.0
        rec = tp / (tp + fn) if tp + fn else 1.0
        report[fam] = {"precision": round(prec, 4), "recall": round(rec, 4),
                       "tp": tp, "fp": fp, "fn": fn}
        print(f"{fam:24s} P={prec:.3f} R={rec:.3f} "
              f"(tp={tp} fp={fp} fn={fn})")
    covered = [f for f, r in report.items() if r["recall"] >= 0.999]
    uncovered = [f for f, r in report.items() if r["recall"] < 0.999]
    # micro-averaged over the whole held-out mix
    TP = sum(r["tp"] for r in report.values())
    FP = sum(r["fp"] for r in report.values())
    FN = sum(r["fn"] for r in report.values())
    summary = {
        "families": report,
        "micro_precision": round(TP / (TP + FP), 4),
        "micro_recall": round(TP / (TP + FN), 4),
        "covered": covered, "uncovered": uncovered,
        "n_per_family": N_PER_FAMILY,
    }
    print(json.dumps({k: v for k, v in summary.items()
                      if k != "families"}))
    with open(os.path.join(REPO, "BENCH_TEMPLATES.json"), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
