"""Sentence splitting + OpenIE-style (ReVerb-class) triple extraction.

Target-only operators (SURVEY.md §2.11): the reference has no triple
extractor; sentence boundaries come from the punctuator's sentence-ender
tags — exactly the tags whose ``tag2punctuator`` tuple sets
``next_upper=True`` (/root/reference/dbpunctuator/utils/constant.py:18-33),
which surface in ``text_norm`` as ``. ? ! 。`` characters.

These are PURE functions shared verbatim by the single-node oracle and the
Spark ``mapInPandas`` stage, so the distributed triple set matches the
oracle's by construction (P/R harness gate ≥ 0.95, BASELINE.md).
"""

from __future__ import annotations

import re

# High-confidence closed relation lexicon (tier 1): exact surface forms,
# longest-first matching. kgforge.fixtures.gen imports this list so the
# fixture generator and extractor stay in lockstep.
REL_LEXICON: list[tuple[str, ...]] = [
    ("works", "at"),
    ("located", "in"),
    ("merged", "with"),
    ("partnered", "with"),
    ("invested", "in"),
    ("acquired",),
    ("supplies",),
    ("founded",),
    ("is", "a"),
]

# first-token index over REL_LEXICON, longest-first per bucket: the tier-1
# scan probes one dict lookup per token instead of slicing a candidate
# tuple per lexicon entry per token (round-5 docstream profile). Longest-
# first ordering preserves the original longest-match-wins semantics.
_REL_BY_FIRST: dict[str, list[tuple[str, ...]]] = {}
for _rel in REL_LEXICON:
    _REL_BY_FIRST.setdefault(_rel[0], []).append(_rel)
for _bucket in _REL_BY_FIRST.values():
    _bucket.sort(key=len, reverse=True)
del _rel, _bucket

_STOPWORDS = {
    "the", "a", "an", "and", "or", "but", "while", "with", "for", "to",
    "of", "in", "on", "at", "by", "from", "about", "as", "into", "after",
    "before", "despite", "across", "continue", "continued",
    # comparative connective: never part of an entity span ("grew much
    # faster THAN expected" — the adjunct then dies on all-adverb
    # rejection instead of surviving as a garbage object)
    "than",
    # pronouns / relativizers: junk as KG entity spans — they stop a span
    # exactly like function words (prevents e.g. ("which", "based in", X))
    "who", "whom", "whose", "which", "that", "where", "when", "it", "its",
    "he", "she", "they", "them", "his", "her", "their", "we", "us", "our",
    "you", "your", "i", "this", "these", "those",
    # gerundive auxiliary: "Having acquired X, …" — "having" can never be
    # an entity token, and as a subject span it made a garbage triple
    "having",
    # quantifier opening a coordination ("Both A and B acquired …") — span
    # boundary, with an explicit clause-opening carve-out in
    # _coord_subjects so the A conjunct still commits
    "both",
}

# matrix/report verbs introducing a complement clause ("Analysts BELIEVE
# acme corp acquired …", "the ceo SAID acme corp …"): a subject span must
# stop at them (they mark the matrix-clause boundary exactly like a
# stopword), otherwise the matrix subject+verb is absorbed into the
# embedded clause's subject. Disjoint from the open-tier verb dictionary —
# "announced" stays a relation; these are pure clause-introducers (a
# round-5 attempt to put "warn" in both broke complement-clause and
# parenthetical-attribution sentences).
_REPORT_VERBS = {
    "say", "says", "said", "believe", "believes", "believed", "think",
    "thinks", "thought", "claim", "claims", "claimed", "suggest",
    "suggests", "suggested", "insist", "insists", "insisted", "argue",
    "argues", "argued", "note", "notes", "noted", "add", "adds",
    "estimate", "estimates", "estimated", "predict", "predicts",
    "predicted", "warn", "warns", "warned",
}

# polarity-reversing clause context: a subject-span walk that crosses one
# of these means the clause content is DENIED or negatively coordinated
# ("Neither A nor B acquired …", "the ceo denied acme corp acquired …") —
# the triple is suppressed outright (empty span), not merely trimmed.
_SPAN_SUPPRESSORS = {
    "neither", "nor", "deny", "denies", "denied", "dispute", "disputes",
    "disputed",
}

# ---------------------------------------------------------------------------
# Open relation tier (tier 2) — the ReVerb pattern class (SURVEY §2.11):
#     rel = V | V P | V W* P
# (Fader, Soderland, Etzioni, "Identifying Relations for Open Information
# Extraction", EMNLP 2011 — public paper). ReVerb's syntactic constraint
# needs a POS tagger; offline (no spacy/nltk in this environment) the
# verb-ish predicate comes from a curated common-verb stem dictionary with
# rule-generated inflections, and W* is restricted to an adverb set (full
# noun/adj W* without POS costs too much precision). Passive agents are
# normalized: BE + V-ed + "by" emits the active-voice triple (agent, V-ed,
# patient). The closed lexicon above stays the high-confidence tier
# (conf ∈ [0.75, 1.0]); open-tier triples carry conf ∈ [0.5, 0.7].
# ---------------------------------------------------------------------------

# Curated verb stems (common web/business English). Deliberately excluded:
# noun-dominant homographs (report, study, train, name, place, head, plan,
# demand, value) and stems whose participles are common attributive
# adjectives (unite → united, advance → advanced) — without POS tags those
# fire inside noun phrases and entity names.
_VERB_STEMS = {
    "acquire", "announce", "appoint", "approve", "base", "build", "buy",
    "celebrate", "collaborate", "complete", "confirm", "create", "deliver",
    "design", "develop", "disclose", "donate", "earn", "employ",
    "establish", "expand", "expect", "explore", "export", "finance",
    "fund", "found", "generate", "graduate", "grow", "headquarter", "hire",
    "hold", "host", "improve", "introduce", "invent", "invest", "join",
    "launch", "lead", "license", "locate", "maintain", "manage",
    "manufacture", "mentor", "merge", "move", "offer", "open", "operate",
    "oversee", "own", "partner", "pay", "produce", "promote", "provide",
    "publish", "purchase", "raise", "receive", "recruit", "release",
    "relocate", "rename", "represent", "retire", "review", "run", "sell",
    "serve", "ship", "show", "sign", "specialize", "sponsor", "start",
    "succeed", "supervise", "supply", "support", "teach", "transfer",
    "unveil", "visit", "win", "work", "write",
    # round-5 promotion of the pinned out-of-dictionary misses: "boost"
    # and "praise" are verb-dominant in web prose; their noun uses ("a
    # boost to…") sit behind a determiner, which empties the subject walk
    # and suppresses the match — and the elided-subject borrow, which
    # FILLS empty subject walks, refuses bare stems for exactly this
    # homograph reason (_borrow_subject)
    "boost", "praise",
    # round-5 continuation: common news/report verbs, each screened for
    # noun/adjective homograph inflections before admission (rejected in
    # screening: audit, increase, gain, probe, target, exit, secure, cut,
    # meet — noun-dominant surface forms or attributive participles that
    # fire inside NPs). The _trim_subj past-form stop added alongside
    # this batch suppresses the attributive double-fire ("announced
    # RESTRUCTURED units") for any in-dictionary finite verb to the left.
    # British -ise twins included where the verb is -ize-derived.
    "accuse", "acknowledge", "apologize", "apologise", "attend",
    "attract", "blame", "condemn", "cooperate", "criticize", "criticise",
    "divest", "dominate", "emphasize", "emphasise", "endorse", "enter",
    "evaluate", "examine", "exceed", "investigate", "modernize",
    "modernise", "negotiate", "obtain", "oppose", "organize", "organise",
    "outperform", "reach", "recognize", "recognise", "recommend",
    "reduce", "reject", "restructure", "strengthen", "surpass",
    "testify", "urge",
    # second continuation batch — critique/acclaim verbs, same screening
    # (verb-dominant surface forms; noun uses det-fronted like
    # boost/praise; rejected in screening: slam and mock — "grand slam"/
    # "mock trial" fire mid-NP — and honor/review-class noun-dominants)
    "lambaste", "applaud", "denounce", "commend", "laud", "chastise",
    "rebuke", "tout", "downplay", "disparage", "deride",
    # "warn" was tried here and removed by a review pass: it is already a
    # _REPORT_VERBS clause-introducer, and the stem form extracting
    # ("analysts WARNED acme corp acquired…") turns complement clauses
    # and parenthetical attributions (", officials warned,") into
    # garbage verb-bearing objects while losing the main-clause triple.
    # Direct-object uses ("warned investors") stay a documented miss.
}

# stems that double the final consonant before -ed/-ing (opt-in: the
# generic CVC heuristic misfires on open→openned, visit→visitted)
_DOUBLE_FINAL = {"plan", "ship", "stop", "drop", "swap", "map", "run", "win"}

# irregular past / participle forms (stems above whose -ed rule fails,
# plus a few high-frequency extras); all are verb-only surface forms
_IRREGULAR_FORMS = {
    "held", "led", "met", "sold", "bought", "built", "made", "ran", "won",
    "grew", "grown", "became", "began", "begun", "left", "took", "taken",
    "gave", "given", "brought", "wrote", "written", "taught", "paid",
    "chose", "chosen", "kept", "sent", "spent", "spoke", "spoken", "knew",
    "known", "rose", "risen", "flew", "flown", "drove", "driven",
}
# stative/locative participles: "BE + V-ed + PP" describes a STATE whose
# trailing "by"-phrase is locative/manner, not an agent — excluded from
# the PP-skipping passive variant (the adjacent "V-ed by" form remains)
_STATIVE_PARTICIPLES = {"located", "based", "headquartered"}

# irregular forms usable as passive participles (BE + form + "by")
_IRREGULAR_PARTICIPLES = {
    "held", "sold", "bought", "built", "made", "won", "grown", "begun",
    "taken", "given", "brought", "written", "taught", "paid", "chosen",
    "kept", "sent", "spent", "spoken", "known", "flown", "driven",
}


def _inflections(stem: str) -> set[str]:
    """Rule-generated surface forms of a verb stem: base, 3sg, past/
    participle, gerund."""
    forms = {stem}
    if stem.endswith(("s", "x", "z", "ch", "sh", "o")):
        forms.add(stem + "es")
    elif stem.endswith("y") and stem[-2] not in "aeiou":
        forms.add(stem[:-1] + "ies")
    else:
        forms.add(stem + "s")
    if stem.endswith("e"):
        forms.add(stem + "d")
        forms.add(stem[:-1] + "ing")
    elif stem.endswith("y") and stem[-2] not in "aeiou":
        forms.add(stem[:-1] + "ied")
        forms.add(stem + "ing")
    else:
        base = stem + (stem[-1] if stem in _DOUBLE_FINAL else "")
        forms.add(base + "ed")
        forms.add(base + "ing")
    return forms


_VERB_FORMS = frozenset(
    f for s in _VERB_STEMS for f in _inflections(s)
) | frozenset(_IRREGULAR_FORMS)

# inflected (non-base) surface forms: these are unambiguously VERBAL in
# context, unlike bare stems, many of which are noun homographs (praise,
# support, work, boost, show, win). The elided-subject borrow trusts only
# these — see _borrow_subject.
_VERB_INFLECTED = _VERB_FORMS - frozenset(_VERB_STEMS)

# past-tense/participle dictionary forms (-ed + irregular pasts). A
# SUBJECT walk that reaches one of these has crossed into the previous
# predicate: in "acme corp announced IMPROVED margins" the candidate
# "improved" is an attributive participle and "announced" is the clause's
# finite verb, so the walk stops there (an emptied span then suppresses
# the candidate outright). -s and -ing forms deliberately do NOT stop the
# walk: plural-noun homographs ("united WORKS acquired…") and
# gerund-headed names ("atlas HOLDING company acquired…") are legitimate
# span members.
_VERB_PAST_FORMS = (
    frozenset(f for f in _VERB_FORMS if f.endswith("ed"))
    | frozenset(_IRREGULAR_FORMS)
    # past forms of the deliberately EXCLUDED noun-dominant stems (report,
    # study, train, name, place, head, plan, demand, value — see the
    # _VERB_STEMS screening note) plus "stated": the -ed form is
    # unambiguously verbal even where the stem is noun-dominant, and
    # without this the excluded stems reopen the attributive double-fire
    # ("nova media reported REDUCED losses" → subject "nova media
    # reported"). These stop subject walks only — they never extract.
    | frozenset({
        "reported", "studied", "trained", "named", "placed", "headed",
        "planned", "demanded", "valued", "stated",
    })
)

# prepositions/particles that may END a ReVerb relation phrase (the P in
# V P | V W* P); "by" is also the passive agent marker handled separately
_REL_PREPS = {
    "at", "in", "on", "with", "by", "for", "to", "of", "from", "into",
    "onto", "under", "over", "through", "during", "within", "against",
    "near", "as", "between", "among", "across", "toward", "towards",
    "about",
}

# the W* filler between V and P — adverbs only (see tier-2 note above)
_REL_ADVERBS = {
    "not", "also", "already", "still", "currently", "formerly", "recently",
    "officially", "jointly", "later", "previously", "reportedly", "once",
    "again", "then", "now", "publicly", "together", "closely", "primarily",
    "mainly", "mostly", "partly", "initially", "originally", "eventually",
    "heavily", "directly", "largely", "significantly", "briefly",
    "quickly", "quietly", "successfully", "repeatedly", "gradually",
    "steadily", "temporarily", "routinely", "regularly", "frequently",
    "subsequently", "ultimately", "famously", "proudly", "newly",
    "widely", "actively", "increasingly", "consistently",
    # degree adverbs ("the MUCH improved margins", "the HIGHLY touted
    # deal"): skipped like any adverb in the right-to-left subject walk,
    # so an attributive participle they front can't double-fire with the
    # bare adverb as its "subject" (they are also in _MANNER_ADVERBS for
    # the object-side all-adjunct rejection)
    "much", "highly", "deeply", "greatly", "vastly", "hugely", "sorely",
    "far",
}

_BE = {"is", "was", "are", "were", "been", "being", "be"}

# aspectual/control verbs opening an infinitival relation chain
# ("X plans to acquire Y" → rel "plans to acquire" — the V TO V extension
# of the ReVerb class). Disjoint from _VERB_FORMS on purpose: "plan" is a
# noun-dominant homograph excluded from the open tier, but the "to V"
# right-context disambiguates it here. Negative-control verbs (refuse,
# decline, fail) are NEGATORS for this pattern: "refused to acquire" is
# not an assertion.
_ASPECTUAL = {
    "plans", "planned", "agrees", "agreed", "decides", "decided",
    "intends", "intended", "aims", "aimed", "wants", "wanted", "seeks",
    "sought", "hopes", "hoped", "expects", "expected", "attempts",
    "attempted", "promises", "promised", "prepares", "prepared",
    "threatens", "threatened", "proposes", "proposed", "pledges",
    "pledged", "vows", "vowed",
    # conative/effort control verbs ("struggled to acquire", "tried to
    # merge with") — like "attempted" they open the chain WITHOUT
    # asserting the outcome, so the modality-preserving predicate keeps
    # them ("struggled to acquire"); round-5 promotion of the pinned
    # out-of-set control-verb miss
    "struggles", "struggled", "tries", "tried", "strives", "strove",
}
_ASPECTUAL_NEG = {
    "refuses", "refused", "declines", "declined", "fails", "failed",
}

# negators in the aux/adverb gap left of a relation head flip its polarity
# — a negated assertion must NOT become a KG edge ("acme corp never
# acquired iron foods"). Contracted forms appear as-is (apostrophes are
# not edge punctuation).
_NEGATORS = {
    "not", "never", "no", "neither", "nor", "cannot", "can't", "didn't",
    "doesn't", "don't", "won't", "wasn't", "weren't", "isn't", "aren't",
    "hasn't", "haven't", "hadn't", "couldn't", "wouldn't",
}

# appositive / relative clause between commas (", who runs vertex
# analytics,") — stripped before matching so the subject span can reach
# across it (the round-2 clause-boundary trap)
_REL_CLAUSE = re.compile(r",\s*(?:who|whom|whose|which|that)\b[^,]*,")

# auxiliaries/copulas abutting a relation are skipped, not kept as entity
# tokens ("X is located in Y", "X has acquired Y" — the dominant web-text
# surface forms); determiners opening an object span are likewise skipped
# ("works at the united nations"). Neither occurs in the synthetic fixture,
# so fixture-tier outputs are unchanged; the hand-annotated gold set
# (tests/test_gold_triples.py) measures the effect on real-shaped prose.
_AUX = {
    "is", "was", "are", "were", "be", "been", "being", "has", "had", "have",
    # modals + do-support: relation-adjacent auxiliaries ("acme corp WILL
    # acquire", "DID acquire") — skipped in the subject walk and the
    # negation gap exactly like BE/HAVE
    "will", "would", "can", "could", "may", "might", "must", "shall",
    "should", "do", "does", "did",
}

# non-factive modals: "X will/may acquire Y" asserts intent/possibility,
# not fact — the open tier KEEPS the modal in the predicate ("will
# acquire", same treatment as the "plans to acquire" infinitival tier;
# canonicalize_pred folds it for the canonical graph). Do-support and
# BE/HAVE are factive and stay plain.
_MODAL_NONFACTIVE = {
    "will", "would", "may", "might", "can", "could", "should", "shall",
    "must",
}
_DETS = {"the", "a", "an"}

# partitive/quantifier NP heads: "is one of the largest companies" is a
# quantified description, not a relation — an NP opening with one of these
# rejects the tier-2d nominal match (round-3 ADVICE #2). Relational heads
# ("member", "part" used as "is part of") are deliberate keeps where noted.
_PARTITIVES = {
    "one", "two", "three", "four", "five", "six", "seven", "eight", "nine",
    "ten", "some", "any", "none", "most", "all", "several", "many", "much",
    "few", "both", "each", "either", "neither", "half", "dozens",
    "hundreds", "thousands", "millions", "percent", "plenty", "lots",
}

# comparative quantifiers fronting "than" ("MORE THAN 5 billion dollars")
# — see the comparative re-walk in _trim_obj
_COMPARATIVES = {"more", "less", "fewer"}

_EN_SENT_SPLIT = re.compile(r"(?<=[.?!])\s+")
_ZH_SENT_SPLIT = re.compile(r"(?<=[。？！?!])\s*")
_EDGE_PUNCT = ".,?!。，？！、;:；："

# Chinese relation patterns (pattern-based counterpart of the English
# tiers): leftmost match wins; groups are (subj, obj); ``swap=True`` marks
# passive constructions (被-voice) whose groups are (patient, agent) and
# must be emitted agent-first. Entity spans are bounded CJK runs so a
# mid-sentence match can't swallow the whole text. Predicates reuse the
# English relation labels so the canonical graph is language-uniform.
# bounded CJK entity span; connector/particle chars (并 与 和 及 且 或 的
# 了 被) are excluded so a greedy span cannot swallow a conjunction or
# clause boundary ("蓝海集团收购了星辰软件并投资了…" must stop at 并 —
# without the exclusion the object span absorbed "并投资了" and the
# second verb matched a garbage subject). Entity names containing these
# chars (e.g. 共和) are a documented precision/recall tradeoff absent a
# word segmenter. 在/没/不 stay IN the class on purpose: the 在-infix
# subject strip and the span-absorbed negation guard depend on them.
_ZH_ENT = r"((?:(?![并与和及且或的了被])[一-鿿]){2,8})"
ZH_REL_PATTERNS: list[tuple[re.Pattern, str, bool]] = [
    (re.compile(_ZH_ENT + "在" + _ZH_ENT + "工作"), "works at", False),
    (re.compile(_ZH_ENT + "被" + _ZH_ENT + "收购"), "acquired", True),
    (re.compile(_ZH_ENT + "被" + _ZH_ENT + "聘用"), "hired", True),
    (re.compile(_ZH_ENT + "被" + _ZH_ENT + "投资"), "invested in", True),
    (re.compile(_ZH_ENT + "收购了?" + _ZH_ENT), "acquired", False),
    (re.compile(_ZH_ENT + "位于" + _ZH_ENT), "located in", False),
    (re.compile(_ZH_ENT + "投资了?" + _ZH_ENT), "invested in", False),
    (re.compile(_ZH_ENT + "成立于" + _ZH_ENT), "founded", False),
    (re.compile(_ZH_ENT + "成立了" + _ZH_ENT), "founded", False),
    (re.compile(_ZH_ENT + "加入了?" + _ZH_ENT), "joined", False),
    # X在Y担任Z emits BOTH (X, works at, Y) via this pattern and
    # (X, serves as, Z) via the next one (the 在-infix subject strip in
    # _strip_zh_prefixes reduces the greedy "X在Y" capture to X)
    (re.compile(_ZH_ENT + "在" + _ZH_ENT + "担任"), "works at", False),
    (re.compile(_ZH_ENT + "担任" + _ZH_ENT), "serves as", False),
    # the 合作 span refuses to START the sequence 达成(了)合作 — so
    # "X与Y达成合作" routes to the anchored 达成 variant below instead of
    # absorbing "Y达成" as the entity, while names CONTAINING 达 (万达,
    # 达美) still match (round-4 review pass 3: a blanket 达 exclusion
    # was a recall regression). Same tempering for the negotiate-class
    # verbs: "X与Y洽谈合作" is the comitative 洽谈 pattern's sentence
    # ("negotiate a TOPIC of cooperation"), not a "Y洽谈" partnership.
    (
        re.compile(
            _ZH_ENT
            + "[与和]((?:(?!(?:达成了?|洽谈|磋商|商谈|座谈)合作)"
            + "(?![并与和及且或的了被])[一-鿿]){2,8})合作"
        ),
        "partnered with",
        False,
    ),
    # round-4 recall tail (round-3 verdict next-step #3a): common report
    # verbs outside the original pattern set, same bounded-span + negation
    # discipline (the span-absorbed 没/未/不 guard covers 没有参观 etc.)
    (re.compile(_ZH_ENT + "参观了?" + _ZH_ENT), "visited", False),
    (re.compile(_ZH_ENT + "访问了?" + _ZH_ENT), "visited", False),
    # round-5 promotion of the pinned 考察-class misses: 考察 (inspect on
    # site) / 调研 (investigate-survey) — same bounded-span discipline
    (re.compile(_ZH_ENT + "考察了?" + _ZH_ENT), "inspected", False),
    (re.compile(_ZH_ENT + "调研了?" + _ZH_ENT), "inspected", False),
    # round-5 continuation: 会晤 (meet with, formal) — unlike 座谈 it IS
    # transitive ("李娜会晤了天河科技代表"), but ALSO freely intransitive
    # ("两国领导人会晤取得进展" — the leaders met, then progress), so the
    # transitive form REQUIRES the perfective 了: without it a following
    # VP would be absorbed as a garbage object. The comitative form takes
    # the same light-verb lookbehinds as 座谈 (otherwise "X与Y举行会晤"
    # absorbs 举行 into the object span) plus a (?!了) lookahead — unlike
    # 座谈, the transitive 会晤了 pattern exists, and "X与Y会晤了Z" must
    # route to it alone (the comitative reading would wrongly pair X with
    # Y); a dedicated light-verb pattern covers 举行/进行/开展/举办/召开
    # (了)会晤.
    (re.compile(_ZH_ENT + "会晤了" + _ZH_ENT), "met with", False),
    (
        re.compile(
            _ZH_ENT
            + "[与和]"
            + _ZH_ENT
            + "(?<!举行)(?<!进行)(?<!开展)(?<!举办)(?<!召开)会晤(?!了)"
        ),
        "met with",
        False,
    ),
    (
        re.compile(
            _ZH_ENT + "[与和]" + _ZH_ENT + "(?:举行|进行|开展|举办|召开)了?会晤"
        ),
        "met with",
        False,
    ),
    # 洽谈 (business-negotiate) / 磋商 (consult-negotiate) / 商谈
    # (discuss-talks): the 座谈 shape — comitative 与/和 forms only
    # (transitive uses take a TOPIC object, "洽谈合作", which is not an
    # entity edge; the trailing topic is simply ignored by the bounded
    # span). Each carries the 座谈 (?!会) lookahead: 洽谈会/磋商会(议)/
    # 商谈会 are event NOUNS ("在洽谈会上" — AT a trade-talks fair), not
    # assertions that talks took place, plus the same light-verb
    # lookbehind/lookahead split as 座谈.
    (
        re.compile(
            _ZH_ENT
            + "[与和]"
            + _ZH_ENT
            # (?!会) — 洽谈会/磋商会/商谈会 are event nouns; (?!判) —
            # in 磋商谈判 the verb is 磋商 with topic 谈判, and without
            # the lookahead the greedy span backtracks to "…磋"+商谈,
            # corrupting the entity and defeating the light-verb split
            + "(?<!举行)(?<!进行)(?<!开展)(?<!举办)(?<!召开)(?:洽谈|磋商|商谈)(?!会)(?!判)"
        ),
        "negotiated with",
        False,
    ),
    (
        re.compile(
            _ZH_ENT
            + "[与和]"
            + _ZH_ENT
            + "(?:举行|进行|开展|举办|召开)了?(?:洽谈|磋商|商谈)(?!判)"
        ),
        "negotiated with",
        False,
    ),
    # round-5 promotion of the pinned 座谈 miss (hold-talks verb class).
    # 座谈 is INTRANSITIVE — only the comitative forms exist ("X与Y座谈",
    # "X与Y举行了座谈(会)"); a transitive "X座谈了Y" pattern was tried and
    # dropped in-round: it misfired on the far more common noun 座谈会
    # ("李娜在座谈会上发言" — spoke AT a symposium). The comitative form
    # carries a (?!会) lookahead for the same reason — "X与Y座谈会…" is a
    # symposium mention, not an assertion that talks took place.
    # the lookbehinds keep the bare form DISJOINT from the light-verb
    # form below — without them "X与Y举行座谈" matches both, the bare one
    # absorbing 举行 into the object span. (No 了-lookbehind is needed:
    # 了 is excluded from _ZH_ENT, so the span can never end just before
    # "了座谈" — only the light-verb pattern reaches those.)
    (
        re.compile(
            _ZH_ENT
            + "[与和]"
            + _ZH_ENT
            + "(?<!举行)(?<!进行)(?<!开展)(?<!举办)(?<!召开)座谈(?!会)"
        ),
        "held talks with",
        False,
    ),
    (
        re.compile(
            _ZH_ENT + "[与和]" + _ZH_ENT + "(?:举行|进行|开展|举办|召开)了?座谈"
        ),
        "held talks with",
        False,
    ),
    (re.compile(_ZH_ENT + "创办了?" + _ZH_ENT), "founded", False),
    (re.compile(_ZH_ENT + "发布了?" + _ZH_ENT), "launched", False),
    (re.compile(_ZH_ENT + "开发了?" + _ZH_ENT), "developed", False),
    (re.compile(_ZH_ENT + "聘用了?" + _ZH_ENT), "hired", False),
    # 举办 refuses 座谈/会晤 objects: "X与Y举办(了)座谈/会晤" is the
    # comitative light-verb form above — without the lookahead it would
    # ALSO emit the garbage ("Y", hosted, "座谈") with the light-verb
    # noun as a KG node
    (
        re.compile(
            _ZH_ENT + "举办了?(?!座谈|会晤|洽谈|磋商|商谈)" + _ZH_ENT
        ),
        "hosted",
        False,
    ),
    # "X与Y签署了(合作)协议" — signing an agreement together is the
    # partnership assertion; the 与-coordination carries the second entity
    (re.compile(_ZH_ENT + "[与和]" + _ZH_ENT + "签署"), "partnered with", False),
    (re.compile(_ZH_ENT + "[与和]" + _ZH_ENT + "合并"), "merged with", False),
    (re.compile(_ZH_ENT + "并购了?" + _ZH_ENT), "acquired", False),
    # "X与Y达成(了)合作" — the second span must not absorb 达成, so this
    # anchored variant runs with 达 excluded from its right span (the
    # generic …合作 pattern would otherwise emit the garbage span "Y达成")
    # plain _ZH_ENT here: regex backtracking shrinks the greedy span until
    # the 达成(了)合作 literal matches, so 万达-style names survive
    (
        re.compile(_ZH_ENT + "[与和]" + _ZH_ENT + "达成了?合作"),
        "partnered with",
        False,
    ),
    # "X成为Y的子公司" — subsidiary assertion, anchored by the 的子公司
    # closure (a bare 成为 would mislabel "became the subsidiary" as
    # becoming Y itself)
    (re.compile(_ZH_ENT + "成为" + _ZH_ENT + "的子公司"), "is a subsidiary of", False),
]

# modality markers absorbed into a greedy subject span: a span ENDING in
# one of these asserts intent, not fact ("蓝海集团计划收购…" is a plan) —
# the triple is suppressed. 宣布 ("announced") is factive: the marker is
# stripped and the edge kept.
_ZH_MODALITY_SUFFIXES = ("计划", "试图", "希望", "打算", "拟", "考虑", "将")
_ZH_FACTIVE_SUFFIXES = ("宣布", "正式")
# an object span ending in 失败/取消 means the asserted event FAILED or
# was CANCELLED ("收购星辰软件失败了", "…座谈取消了") — no edge; the
# verb-FINAL 与-comitative forms (…签署/合并/座谈) leave the marker AFTER
# the match, where _zh_asserted also looks.
_ZH_FAILURE_SUFFIXES = ("失败", "取消")

MAX_ARG_TOKENS = 4  # entity window either side of the relation


def split_sentences(text_norm: str, lang: str = "en") -> list[str]:
    """Split normalized text on sentence-ender punctuation. English enders
    are always followed by a space (ASCII tokens get a trailing space —
    inference_pipeline.py:237-238), so URL-internal dots never split; zh
    enders may have no following space (non-ASCII join, :239-240)."""
    if not text_norm:
        return []
    splitter = _ZH_SENT_SPLIT if lang == "zh" else _EN_SENT_SPLIT
    return [s.strip() for s in splitter.split(text_norm) if s.strip()]


_CLEAN_CACHE: dict[str, str] = {}
_CLEAN_CACHE_CAP = 1 << 18


def _clean_token(tok: str) -> str:
    # memoized: called once per token occurrence over a Zipfian vocabulary
    # (round-5 docstream profile — strip+lower dominated by repeat tokens)
    c = _CLEAN_CACHE.get(tok)
    if c is None:
        if len(_CLEAN_CACHE) >= _CLEAN_CACHE_CAP:
            _CLEAN_CACHE.clear()
        c = tok.strip(_EDGE_PUNCT).lower()
        _CLEAN_CACHE[tok] = c
    return c


_TOKINFO_CACHE: dict[str, tuple[str, bool]] = {}


def _tok_info(tok: str) -> tuple[str, bool]:
    """(clean token, carries-trailing-punct) pair, memoized together —
    the element type of the ``pairs`` list the extractor helpers index."""
    v = _TOKINFO_CACHE.get(tok)
    if v is None:
        if len(_TOKINFO_CACHE) >= _CLEAN_CACHE_CAP:
            _TOKINFO_CACHE.clear()
        v = (_clean_token(tok), tok != tok.rstrip(_EDGE_PUNCT))
        _TOKINFO_CACHE[tok] = v
    return v


# subject-side PP markers whose complement is a MODIFIER of a matrix NP
# ("shares OF acme corp", "analysts AT vertex analytics", "researchers
# FROM acme corp"): the matrix head is the grammatical subject. Locative
# "in" is deliberately excluded — it heads too many entity-internal and
# clause-level adjuncts to reset on without POS context.
_SUBJ_PP = {"of", "at", "from"}


def _attributive_past(pairs: list[tuple[str, bool]], j: int) -> bool:
    """A past-tense form at ``j`` is ATTRIBUTIVE (an adjective-like
    participle modifying the head to its right — "the RESTRUCTURED
    units") exactly when nothing verb-subject-like sits to its left:
    sentence start, an empty/punctuation-bounded token, or a
    determiner/stopword. A content word to the left ("acme corp
    ANNOUNCED …") marks it as the clause's finite verb instead."""
    if j == 0:
        return True
    l_tok, l_punct = pairs[j - 1]
    return not l_tok or l_punct or l_tok in _STOPWORDS or l_tok in _DETS


def _trim_subj(
    pairs: list[tuple[str, bool]], hi: int
) -> tuple[list[str], int]:
    """Scan right-to-left from ``hi`` (exclusive): skip relation-adjacent
    auxiliaries and adverbs, then stop at stopwords, empties, or a clause
    boundary (a token carrying trailing punctuation belongs to the
    previous clause and is excluded). Returns (span tokens, absolute index
    of the span's first token).

    The walk also breaks at past-tense verb forms (dictionary
    -ed/irregular forms plus the excluded noun-dominant stems' -ed
    forms) UNLESS the form is in attributive position
    (``_attributive_past``): a finite verb to the left is the clause
    boundary — crossing it double-fires attributive participles ("acme
    announced RESTRUCTURED units") — while a determiner-fronted or
    span-opening participle is an ordinary modifier that must stay
    ("The RESTRUCTURED units were sold …", "RESTRUCTURED units were
    announced by …"). One rule serves subject, passive-patient, and
    NP-head walks alike."""
    out: list[str] = []
    started = False
    skipped_temporal = False
    start = hi
    j = hi - 1
    while j >= 0:
        tok, trailing_punct = pairs[j]
        if not started and not trailing_punct:
            if tok in _AUX or tok in _REL_ADVERBS:
                j -= 1  # "X is located in", "X has acquired", "X officially merged"
                continue
            if tok in _SENT_ADVERBS or tok in _TEMPORAL_WORDS:
                # relation-adjacent temporal adverbial run: "X on monday
                # acquired", "X this week acquired", "X early monday
                # acquired" — skip the whole run, then its preposition
                skipped_temporal = True
                j -= 1
                continue
            if skipped_temporal and tok in {"on", "in", "at", "last", "this", "next"}:
                skipped_temporal = False
                j -= 1  # the "on" of the skipped "on monday"
                continue
        started = True
        if tok in _SPAN_SUPPRESSORS:
            # denial / negative coordination crossed: no edge at all
            return [], hi
        if tok in _SUBJ_PP and out and not trailing_punct and j > 0:
            # NP-internal PP on the SUBJECT side: the tokens collected
            # so far are the PP COMPLEMENT of a matrix NP ("SHARES of acme
            # corp rose …", "ANALYSTS at vertex analytics praised …",
            # "RESEARCHERS from acme corp developed …") — the grammatical
            # subject is the matrix NP, so reset and collect it instead
            # (round-5 promotion of the pinned "shares of X rose" and
            # "analysts at X praised" misattributions). Guarded: the
            # matrix token must be a content word — partitives ("most of
            # iron foods"), quantities ("51 percent of"), determiners and
            # temporal words keep the old complement-as-subject behavior,
            # since for those the complement IS the entity.
            m_tok, m_punct = pairs[j - 1]
            if (
                m_tok
                and not m_punct
                and m_tok not in _STOPWORDS
                and m_tok not in _VERB_FORMS
                and m_tok not in _BE
                and m_tok not in _PARTITIVES
                and m_tok not in _DETS
                and m_tok not in _TEMPORAL_WORDS
                and m_tok not in _SENT_ADVERBS
                and not m_tok.isdigit()
            ):
                out = []
                j -= 1
                continue
        if (
            tok in _STOPWORDS
            or tok in _REPORT_VERBS
            or not tok
            or trailing_punct
        ):
            break
        if tok in _VERB_PAST_FORMS and not _attributive_past(pairs, j):
            break
        if (tok.endswith("'s") or tok.endswith("s'")) and out:
            # possessive determiner closes the span on its right: "acme
            # corp's ceo maria lopez joined …" — the subject is the head
            # NP, never "…corp's ceo …". With NO tokens collected yet the
            # possessive IS the head ("Mcdonald's acquired …") and is kept.
            break
        if (
            out
            and (tok in _TEMPORAL_WORDS or tok in _SENT_ADVERBS)
            and j > 0
            and not pairs[j - 1][1]
            and (
                pairs[j - 1][0] in _TEMPORAL_WORDS
                or pairs[j - 1][0] in _SENT_ADVERBS
                or pairs[j - 1][0] in {"in", "on", "at", "since", "by", "during"}
                or pairs[j - 1][0].isdigit()
            )
        ):
            # a temporal word CONTINUING a dateline run to its left ("In
            # march acme corp…", "Earlier this year acme corp…") closes
            # the span — but a LONE leading temporal word is kept: it may
            # head an entity name ("Two sigma", "Next plc", "Summer hill")
            break
        out.append(tok)
        start = j
        if len(out) >= MAX_ARG_TOKENS:
            break
        j -= 1
    return list(reversed(out)), start


def _trim_obj(
    pairs: list[tuple[str, bool]], lo: int
) -> tuple[list[str], int, int | None]:
    """Scan left-to-right from ``lo``: skip leading determiners, then stop
    at stopwords/empties; a token with trailing punctuation closes the
    span (inclusive). Returns (span tokens, absolute index of the span's
    last token, index of the stopword that ended the span or None)."""
    out: list[str] = []
    started = False
    end = lo - 1
    stopped_at: int | None = None
    j = lo
    n = len(pairs)
    while j < n:
        tok, trailing_punct = pairs[j]
        if not started and tok in _DETS and not trailing_punct:
            j += 1  # "works at the united nations"
            continue
        started = True
        if tok in _STOPWORDS or not tok:
            stopped_at = j
            break
        out.append(tok)
        end = j
        if trailing_punct or len(out) >= MAX_ARG_TOKENS:
            break
        j += 1
    if (
        out
        and stopped_at is not None
        and pairs[stopped_at][0] == "than"
        and any(t in _COMPARATIVES for t in out)
        and all(
            t in _COMPARATIVES
            or t in _MANNER_ADVERBS
            or t in _REL_ADVERBS
            for t in out
        )
    ):
        # comparative quantifier + "than": "earned MORE THAN 5 billion
        # dollars" — the object is the quantity NP after "than", not the
        # bare comparative (sibling of the partitive re-walk above). A
        # SPAN-FINAL verb form means the comparison target is elliptical/
        # clausal ("raised more than EXPECTED", "more than analysts
        # EXPECTED") — reject it outright, or every such sentence
        # corpus-wide would funnel onto one garbage hub entity
        # ("expected"); a non-final verb form is an attributive participle
        # ("more than EXPECTED revenue") and the span is a real NP.
        out2, end2, stop2 = _trim_obj(pairs, stopped_at + 1)
        if out2 and (out2[-1] in _VERB_FORMS or out2[-1] in _BE):
            return [], end2, stop2
        return out2, end2, stop2
    if out and all(
        t in _REL_ADVERBS
        or t in _SENT_ADVERBS
        or t in _MANNER_ADVERBS
        or t in _COMPARATIVES
        for t in out
    ):
        # an all-adverb/comparative "object" is a manner/degree adjunct,
        # not an entity ("acme corp expanded RAPIDLY", "earned far MORE"
        # assert no edge); runs AFTER the comparative re-walk above so
        # "far more THAN 20 companies" re-walks instead of dying here
        return [], end, stopped_at
    if (
        out
        and stopped_at is not None
        and pairs[stopped_at][0] == "of"
        and all(t in _PARTITIVES or t.isdigit() for t in out)
    ):
        # quantity-only span + "of": "acquired 51 percent OF atlas
        # telecom" — the entity is the NP after the partitive, not the
        # quantity (round-4 promotion of the quantity-object trap)
        return _trim_obj(pairs, stopped_at + 1)
    # trailing temporal adjunct absorbed into the span ("joined acme corp
    # LAST YEAR" — common after an appositive strip removes the comma that
    # would have closed the span; round-5 review follow-up, hardened by
    # review pass 2): trim a trailing run of temporal words when it is
    # ≥ 2 tokens ("last year") or a single discourse/date adverb
    # ("yesterday"); a span that is ENTIRELY temporal ("last year",
    # "next march") is an adjunct, never an entity — rejected outright
    # (a partial trim of it would leave a garbage residual like "next").
    # A lone _TEMPORAL_WORDS token may legitimately end — or be — an
    # entity name ("two sigma", "hired summer") and is kept. NOTE: ``end``
    # deliberately stays at the CLAUSE-closing token even when tokens are
    # trimmed — callers (_coord_objects) test clause closure and walk
    # comma lists via pairs[end], and the clause closed where it closed
    # (review pass 2 finding #1: moving end dropped clean conjuncts).
    k = len(out)
    while k > 0 and (
        out[k - 1] in _TEMPORAL_WORDS or out[k - 1] in _SENT_ADVERBS
    ):
        k -= 1
    if k == 0 and out:
        if len(out) >= 2 or out[0] in _SENT_ADVERBS:
            return [], end, stopped_at
    elif k < len(out) and (len(out) - k >= 2 or out[-1] in _SENT_ADVERBS):
        out = out[:k]
    return out, end, stopped_at


# manner/degree adverbs seen object-adjacent in web prose; together with
# _REL_ADVERBS/_SENT_ADVERBS these define the all-adverb object rejection
# in _trim_obj (a span made only of these is an adjunct, not an entity)
_MANNER_ADVERBS = {
    "rapidly", "sharply", "strongly", "dramatically", "modestly",
    "slightly", "substantially", "considerably", "aggressively",
    "globally", "internationally", "locally", "domestically", "abroad",
    "overseas", "worldwide", "nationwide", "fast", "faster", "further",
    "well", "strong", "higher", "lower", "low",
    # degree adverbs fronting attributive participles ("the MUCH improved
    # margins", "the HIGHLY touted deal"): without these the adverb
    # survives the subject walk as a one-token "subject" and the
    # attributive participle double-fires as a relation
    "much", "highly", "deeply", "greatly", "vastly", "hugely", "sorely",
    "far",
}


# single-token comma segments that are discourse/temporal adverbials, not
# subject conjuncts ("Yesterday, acme corp acquired …"); weekday/month
# names cover the dateline pattern. Checked alongside _REL_ADVERBS.
_SENT_ADVERBS = {
    "yesterday", "today", "tomorrow", "tonight", "meanwhile", "however",
    "moreover", "furthermore", "nevertheless", "nonetheless", "finally",
    "additionally", "separately", "overall", "afterward", "afterwards",
    "earlier", "likewise", "similarly", "instead", "therefore", "thus",
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday",
    "sunday", "january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december",
}


# vocabulary of multi-token temporal/dateline lead-ins ("last week,",
# "two years ago,", "since 2019,") — beyond the single-word adverbs in
# _SENT_ADVERBS. A candidate list item made ONLY of these (+ digits) is a
# sentence adverbial, never a subject conjunct (round-4 review finding #1:
# the bare-comma co-subject promotion was committing datelines as
# subjects).
_TEMPORAL_WORDS = {
    "last", "this", "next", "early", "earlier", "late", "later", "since",
    "ago", "week", "weeks", "month", "months", "year", "years", "day",
    "days", "decade", "decades", "quarter", "morning", "evening", "night",
    "midnight", "noon", "spring", "summer", "autumn", "fall", "winter",
    "one", "two", "three", "four", "five", "six", "seven", "eight",
    "nine", "ten", "few", "several",
}


def _obj_span(
    pairs: list[tuple[str, bool]], rel_end: int
) -> tuple[list[str], int, int | None]:
    """Object span right of the relation ending at ``rel_end`` — shared by
    every active tier. Empty when the relation's own trailing punctuation
    closes the clause: an "object" past it belongs to the NEXT clause
    ("acme will expand, ANNOUNCED MARIA LOPEZ.")."""
    if pairs[rel_end][1]:
        return [], rel_end, None
    return _trim_obj(pairs, rel_end + 1)


def _is_adverbial_item(item_rev: list[str]) -> bool:
    """A candidate list item that is a discourse/temporal adverbial —
    a single adverb ("yesterday,") or a run of temporal vocabulary /
    digits ("last week,", "two years ago,", "since 2019,") — is a
    sentence adverbial, never a subject conjunct."""
    if len(item_rev) == 1 and (
        item_rev[0] in _SENT_ADVERBS or item_rev[0] in _REL_ADVERBS
    ):
        return True
    return all(
        t in _TEMPORAL_WORDS or t in _SENT_ADVERBS or t.isdigit()
        for t in item_rev
    )


def _subject_list_items(
    pairs: list[tuple[str, bool]], raw: list[str], e: int
) -> list[str]:
    """Comma-terminated subject-list items walking LEFT from the item
    whose last token sits at ``e`` (``raw[e]`` ends with ","). Committed
    when the walk reaches sentence start, or when it terminates in a SHORT
    sentence-initial adverbial lead-in — "after the meeting, A, B, and C
    …" (≤3 tokens from sentence start, opening with a function word/
    adverb, promoted per round-3 verdict next-step #3b); a single-token
    discourse/temporal adverb item ("yesterday,") is dropped, not treated
    as a conjunct. Anything else ("with support from X, A, B …", where the
    comma items may still be inside the PP) is rejected wholesale."""
    items: list[str] = []
    for _ in range(8):  # bounded list length
        item = [pairs[e][0]]
        k = e - 1
        while k >= 0 and len(item) < MAX_ARG_TOKENS:
            tok, trailing_punct = pairs[k]
            if tok in _STOPWORDS or not tok or trailing_punct:
                break
            item.append(tok)
            k -= 1
        if _is_adverbial_item(item) and k < 0:
            # sentence-initial bare adverb ("Yesterday, …") — drop it,
            # commit whatever real conjuncts were gathered to its right
            return list(reversed(items))
        if not item[0] or any(t in _VERB_FORMS or t in _BE for t in item):
            return []
        if k >= 0 and not raw[k].endswith(",") and pairs[k][0] in _STOPWORDS:
            # the walk stopped inside a sentence-initial phrase: a short
            # adverbial lead-in ("after the meeting,") ends the list —
            # commit gathered conjuncts; a longer/non-initial phrase means
            # the comma items may belong to the PP — reject wholesale
            if e <= 2 and pairs[0][0] in _STOPWORDS and items:
                return list(reversed(items))
            return []
        items.append(" ".join(reversed(item)))
        if k < 0:
            return list(reversed(items))
        if raw[k].endswith(","):
            e = k
            continue
        return []
    return []


def _coord_subjects(
    pairs: list[tuple[str, bool]], raw: list[str], start_ix: int
) -> list[str]:
    """Additional subject conjuncts left of an immediately-preceding
    "and": the single-conjunct form ("ACME CORP and nova media partnered
    …") or the Oxford list ("A, B, and C founded …"). A conjunct must be
    verb-free AND the coordination must open its clause (sentence start
    or, for the single form, preceded by punctuation) — otherwise the
    "conjunct" is the object of an earlier relation ("works at blue
    energy and nova media acquired …"), not a co-subject."""
    j = start_ix - 1
    while j > 0 and pairs[j][0] in _DETS and not pairs[j][1]:
        j -= 1  # "the factory and THE warehouse were built …"
    if j <= 0:
        return []
    tok, trailing_punct = pairs[j]
    if tok != "and" or trailing_punct:
        # bare comma-separated co-subjects without "and" ("Acme corp,
        # nova media partnered with …") — promoted per round-3 verdict
        # next-step #3b; _subject_list_items keeps all its guards
        # (sentence-start/short-lead-in anchoring, verb-free items,
        # adverbial-item rejection)
        if raw[j].endswith(","):
            return _subject_list_items(pairs, raw, j)
        return []
    span, s2 = _trim_subj(pairs, j)
    if span:
        if any(t in _VERB_FORMS or t in _BE for t in span):
            return []
        k = s2 - 1
        while k >= 0 and pairs[k][0] in _DETS and not pairs[k][1]:
            k -= 1  # a clause-initial determiner still opens the clause
        if k < 0 or pairs[k][1] or pairs[k][0] == "both":
            # "both" is a span-stopping quantifier ("BOTH acme corp and
            # nova media acquired …") but still opens its clause
            return [" ".join(span)]
        return []
    # empty span = the token before "and" carries punctuation; an Oxford
    # subject list if it is specifically a comma
    if j >= 1 and raw[j - 1].endswith(","):
        return _subject_list_items(pairs, raw, j - 1)
    return []


def _coord_objects(
    pairs: list[tuple[str, bool]],
    raw: list[str],
    end: int,
    stopped_at: int | None,
) -> list[str]:
    """Additional object conjuncts.

    Form 1 — "acquired iron foods and GOLDEN SOFTWARE.": the span right of
    the "and" that ended the object, only when it is verb-free AND closes
    its clause (trailing punctuation or sentence end) — otherwise the
    "conjunct" is the subject of a following clause ("works at blue energy
    and nova media acquired …").

    Form 2 — Oxford list "acquired A, B, and C.": comma-terminated
    verb-free items, committed ONLY when the list closes with an and-item
    that closes the clause (a bare "acquired A, B." stays un-coordinated:
    it is indistinguishable from an appositive rename)."""
    if stopped_at is not None:
        tok, trailing_punct = pairs[stopped_at]
        if tok == "and" and not trailing_punct:
            span, e2, _stop2 = _trim_obj(pairs, stopped_at + 1)
            if (
                span
                and not any(
                    t in _VERB_FORMS
                    or t in _BE
                    or t in _REPORT_VERBS
                    or t in _DITRANSITIVE_PARTICIPLES
                    for t in span
                )
                and (pairs[e2][1] or e2 == len(pairs) - 1)
            ):
                return [" ".join(span)]
        return []
    items: list[str] = []
    bare_meta: list[tuple[str, list[str]]] = []  # (opener, span) per item
    j = end
    for _ in range(8):  # bounded list length
        if j < 0 or j >= len(pairs) or not raw[j].endswith(","):
            return []
        nxt = j + 1
        is_final = nxt < len(pairs) and pairs[nxt][0] == "and" and not pairs[nxt][1]
        if is_final:
            nxt += 1
        span, e2, _stop2 = _trim_obj(pairs, nxt)
        if not span:
            # _trim_obj rejects pure-temporal spans outright (pass-2 trim
            # rework), so the trailing "..., last week." adjunct arrives
            # here as an EMPTY span: when it closes the sentence and every
            # raw token is temporal/discourse, drop it and commit the real
            # conjuncts gathered so far (same guards as the commit branch)
            if (
                not is_final
                and items
                and e2 == len(pairs) - 1
                and pairs[e2][1]
                and all(
                    pairs[x][0] in _TEMPORAL_WORDS
                    or pairs[x][0] in _SENT_ADVERBS
                    for x in range(nxt, e2 + 1)
                )
            ):
                if any(
                    op in _DETS or op in _PARTITIVES or _is_adjunct_item(op, sp)
                    for op, sp in bare_meta
                ):
                    return []
                return items
            return []
        if any(
            t in _VERB_FORMS
            or t in _BE
            or t in _REPORT_VERBS
            or t in _DITRANSITIVE_PARTICIPLES
            for t in span
        ):
            # a report verb marks a quotative attribution ("acquired iron
            # foods, SAID maria lopez."), and a ditransitive participle a
            # passive reduced relative ("…, AWARDED new leadership.") —
            # never list items
            return []
        if is_final:
            if pairs[e2][1] or e2 == len(pairs) - 1:
                items.append(" ".join(span))
                return items
            return []
        if e2 == len(pairs) - 1 and pairs[e2][1]:
            # bare comma list closing the SENTENCE without "and"
            # ("acquired iron foods, golden software.") — promoted in
            # round 5, with guards validated on EVERY item (round-5
            # review finding #1: the det guard originally checked only
            # the final item, so "hired A, B, last week." coordinated
            # the trailing temporal adjunct as an object):
            # - a determiner/partitive opener anywhere is the appositive-
            #   rename signature ("iron foods, a maker of snacks.") —
            #   reject the whole list reading;
            # - an INTERIOR temporal/adverbial item makes the list
            #   reading unsafe — reject;
            # - a TRAILING temporal/adverbial item is an adjunct, not a
            #   conjunct — drop it and commit the real conjuncts.
            opener = pairs[nxt][0]
            if opener in _DETS or opener in _PARTITIVES or any(
                op in _DETS or op in _PARTITIVES for op, _sp in bare_meta
            ):
                return []
            if any(_is_adjunct_item(op, sp) for op, sp in bare_meta):
                return []
            if _is_adjunct_item(opener, span):
                return items  # trailing adjunct dropped
            items.append(" ".join(span))
            return items
        items.append(" ".join(span))
        bare_meta.append((pairs[nxt][0], span))
        j = e2
    return []


def _is_adjunct_item(opener: str, span: list[str]) -> bool:
    """A comma item that reads as a temporal/manner adjunct rather than an
    entity conjunct: temporal/discourse opener ("last week", "yesterday")
    or an all-adverbial span. OBJECT-side sibling of the subject-side
    ``_is_adverbial_item`` — kept separate because object items see the
    RAW opener (a det-skipped span) plus manner adverbs, while subject
    items are reversed suffix walks that admit _REL_ADVERBS; digits count
    as adjunct vocabulary on both sides ("since 2019" / ", 2019.")."""
    if opener in _TEMPORAL_WORDS or opener in _SENT_ADVERBS:
        return True
    return all(
        t in _TEMPORAL_WORDS
        or t in _SENT_ADVERBS
        or t in _MANNER_ADVERBS
        or t.isdigit()
        for t in span
    )


# zh function-word prefixes a greedy CJK subject span can absorb (temporal
# adverbs / reporting markers); stripped after the match — without a word
# segmenter this is the bounded fix for "昨天王伟在…" → subj "王伟"
_ZH_SUBJ_PREFIXES = (
    "昨天", "今天", "明天", "后天", "前天", "近日", "日前", "据悉",
    "据报道", "此外", "另外", "目前", "现在", "随后", "同时",
    # role-title prefixes left after a 的-split ("天河科技的首席执行官
    # 王伟" → 的-split keeps "首席执行官王伟" → title strip keeps "王伟")
    "首席执行官", "董事长", "总经理", "创始人", "总裁", "首席",
)


def _strip_zh_prefixes(span: str) -> str:
    # possessive: "南山资本的张强" → "张强" (的 is a particle, not part of
    # an entity name; keep the head only)
    if "的" in span:
        tail = span.rsplit("的", 1)[1]
        if len(tail) >= 2:
            span = tail
    # locative infix: "李娜在上海成立了…" greedily captures "李娜在上海" —
    # the subject is the head before the 在-phrase
    if "在" in span:
        head = span.split("在", 1)[0]
        if len(head) >= 2:
            span = head
    changed = True
    while changed and len(span) > 2:
        changed = False
        for p in _ZH_SUBJ_PREFIXES:
            if span.startswith(p) and len(span) - len(p) >= 2:
                span = span[len(p):]
                changed = True
                break
    return span


# negation markers: a subject span ending in one of these means the
# relation is negated ("云帆传媒没有收购…") — no edge
_ZH_NEGATORS = ("没有", "从未", "并未", "不曾", "未曾", "没", "未", "不")


# clause separators for zh coordination: the full-width comma/semicolon
# and the conjunctions 并(且)/且. Splitting is behavior-preserving for
# single-clause sentences: no pattern literal contains these chars and
# the entity class excludes them, so no match could ever cross one.
_ZH_CLAUSE_SPLIT = re.compile(r"，|；|(?<!合)并且|(?<!合)并(?!购)|且")
# 并 is a clause conjunction EXCEPT inside the verbs 合并 (merge) and
# 并购 (M&A) — splitting there severed the 合并 pattern mid-word; the
# 并且 alternative needs the same 合-lookbehind ("…合并且成立了…")
# object coordination: the remainder of a segment after a non-swap match
# that is exactly 和/与/及 + one more entity ("收购了A和B")
_ZH_OBJ_COORD = re.compile("^[和与及]" + _ZH_ENT + "$")
# the full 3-group X在Y担任Z form, handled in one pre-pass: the generic
# 2-group patterns garble it when a temporal prefix pushes the subject
# past the 8-char span cap ("昨天李娜在天河科技担任…" → the X担任Y window
# clips 昨 and yields subject "天李娜")
_ZH_SERVE_FULL = re.compile(_ZH_ENT + "在" + _ZH_ENT + "担任" + _ZH_ENT)
# the 3-group X加入Y担任Z form ("王伟加入蓝海集团担任总经理"): without the
# pre-pass the 2-group patterns garble both spans (the 加入 object absorbs
# 担任总经, the 担任 subject absorbs 加入蓝海集团)
_ZH_JOIN_SERVE = re.compile(_ZH_ENT + "加入了?" + _ZH_ENT + "担任" + _ZH_ENT)


def _zh_asserted(m: re.Match) -> bool:
    """Whether the zh relation match ``m`` asserts a fact: the one guard
    of every zh emission site. Not when any span ends in a negator (在Y
    没担任), the first in a modality word ("蓝海集团计划收购…", "星辰软件
    将被…收购"), or the last in a failure marker, nor when a failure
    marker follows the match ("李娜与天河科技座谈失败")."""
    spans = m.groups()
    return not (
        any(span.endswith(_ZH_NEGATORS) for span in spans)
        or spans[0].endswith(_ZH_MODALITY_SUFFIXES)
        or spans[-1].endswith(_ZH_FAILURE_SUFFIXES)
        or m.string.startswith(_ZH_FAILURE_SUFFIXES, m.end())
    )


def extract_triples_zh(sentence: str) -> list[tuple[str, str, str, float]]:
    """Chinese pattern extraction over a (space-free) normalized sentence.
    Each pattern may fire once per sentence position; predicates reuse the
    English relation labels so the canonical graph is language-uniform.
    Matched subject spans are stripped of leading temporal/reporting
    function words (the greedy-CJK-span refinement from BACKLOG #4).

    Coordination (round 3): the body is split into clauses on ，/；/并(且)/
    且; a clause with no subject of its own ("…收购了星辰软件，并投资了华光
    能源") inherits the previous clause's subject — the pattern must then
    match from position 0 with exactly that subject, so an unrelated
    second clause can never borrow it. A trailing 和/与/及+entity after a
    matched object ("收购了A和B") emits one additional coordinated-object
    triple.

    The 3-group pre-pass, the direct pattern loop and the inherited-
    subject clause emit only what ``_zh_asserted`` passes: no negated,
    intended or failed relation becomes an edge."""
    body = sentence.strip(_EDGE_PUNCT + " ")
    triples: list[tuple[str, str, str, float]] = []
    last_subj: str | None = None
    for seg in _ZH_CLAUSE_SPLIT.split(body):
        seg = seg.strip(_EDGE_PUNCT + " ")
        if not seg:
            continue
        matched = False
        for rx, org_pred in ((_ZH_SERVE_FULL, "works at"), (_ZH_JOIN_SERVE, "joined")):
            saw = False
            for m in rx.finditer(seg):
                saw = True  # sub the span even when not asserted: a
                # leftover "…加入蓝海集团担任…" tail would otherwise feed
                # the 2-group patterns a garbage subject
                if not _zh_asserted(m):
                    continue  # assert neither edge
                subj = _strip_zh_prefixes(m.group(1))
                org, role = m.group(2), m.group(3)
                if subj and subj != org:
                    triples.append((subj, org_pred, org, 0.8))
                    matched = True
                    last_subj = subj
                if subj and subj != role:
                    triples.append((subj, "serves as", role, 0.8))
                    matched = True
            if saw:
                seg = rx.sub("", seg)
        for rx, pred, swap in ZH_REL_PATTERNS:
            for m in rx.finditer(seg):
                if not _zh_asserted(m):
                    continue
                subj, obj = _strip_zh_prefixes(m.group(1)), m.group(2)
                for fsuf in _ZH_FACTIVE_SUFFIXES:
                    # "蓝海集团宣布收购…" — announced it: factive, strip
                    if subj.endswith(fsuf) and len(subj) - len(fsuf) >= 2:
                        subj = subj[: -len(fsuf)]
                if swap:  # 被-passive: group(1)=patient, group(2)=agent
                    subj, obj = obj, _strip_zh_prefixes(m.group(1))
                if subj and obj and subj != obj:
                    triples.append((subj, pred, obj, 0.8))
                    matched = True
                    if swap:
                        # 被-passive: the matched subj is the AGENT, but a
                        # following elided-subject clause reads at least as
                        # naturally with the PATIENT as topic ("星辰软件被
                        # 蓝海集团收购了，投资了…" — who invested is
                        # ambiguous). Clear inheritance instead of guessing
                        # (round-3 ADVICE #3).
                        last_subj = None
                    else:
                        last_subj = subj
                        co = _ZH_OBJ_COORD.match(seg[m.end():])
                        if co and co.group(1) != subj:
                            triples.append((subj, pred, co.group(1), 0.8))
        if not matched and last_subj:
            for rx, pred, swap in ZH_REL_PATTERNS:
                if swap:
                    continue  # an elided subject is never the 被-patient
                m = rx.match(last_subj + seg)
                if m and _strip_zh_prefixes(m.group(1)) == last_subj:
                    if not _zh_asserted(m):
                        break  # "…，收购星辰软件失败了", "…，在上海没收购…"
                    obj = m.group(2)
                    if obj and obj != last_subj:
                        triples.append((last_subj, pred, obj, 0.8))
                        co = _ZH_OBJ_COORD.match((last_subj + seg)[m.end():])
                        if co and co.group(1) != last_subj:
                            triples.append((last_subj, pred, co.group(1), 0.8))
                        break
    return triples


def _modal_in_gap(pairs: list[tuple[str, bool]], start_ix: int) -> str | None:
    """The non-factive modal in the aux/adverb gap left of a relation head
    ("WOULD have acquired", "WILL be acquired by"), or None — same walk
    discipline as _negated. The caller prefixes it to the predicate so a
    future/possible/counterfactual assertion is never emitted as the bare
    fact."""
    j = start_ix
    while j >= 0:
        tok, trailing_punct = pairs[j]
        if tok in _MODAL_NONFACTIVE and not trailing_punct:
            return tok
        if (tok in _AUX or tok in _REL_ADVERBS) and not trailing_punct:
            j -= 1
            continue
        return None
    return None


def _elided_subject_gap(pairs: list[tuple[str, bool]], rel_ix: int) -> bool:
    """True iff the tokens immediately left of ``rel_ix`` (skipping the
    same aux/adverb gap as _negated) are exactly a bare ``and`` — the
    predicate-coordination-with-elided-subject shape ("X acquired A and
    LAUNCHED B"). The English counterpart of the zh clause-split subject
    inheritance in extract_triples_zh. This gap test alone does NOT prove
    predicate coordination — a noun/verb homograph after "and" may head a
    coordinated object NP or a new clause's subject ("…and PRAISE from
    analysts", "…and WORK crews arrived"); _borrow_subject layers the
    unambiguously-verbal guards on top."""
    j = rel_ix - 1
    while j >= 0:
        tok, trailing_punct = pairs[j]
        if trailing_punct:
            return False
        if tok in _AUX or tok in _REL_ADVERBS:
            j -= 1
            continue
        return tok == "and"
    return False


# in-dictionary -ed forms that head QUOTATIVE INVERSION after the
# normalizer strips quote marks ('"we will expand," announced maria
# lopez.' → "…expand, announced maria lopez."): in that shape the NP
# AFTER the verb is the SPEAKER, not an object, so these speech-act verbs
# are barred from the comma-coordination borrow (the "and"-gap borrow is
# unaffected — "…and announced a buyback" is unambiguous coordination).
# The whole communication/judgment class is listed — incl. every
# critique/acclaim -ed form ('"…," applauded maria lopez.' is the same
# inversion) — at the cost of suppressing the rarer true coordination
# ("acquired X, praised the team"), which stays a documented miss.
_QUOTATIVE_INVERTIBLE = {
    "announced", "confirmed", "disclosed", "acknowledged", "emphasized",
    "emphasised", "testified", "urged", "recommended",
    "applauded", "lambasted", "touted", "denounced", "commended",
    "lauded", "chastised", "rebuked", "derided", "disparaged",
    "downplayed", "praised", "criticized", "criticised", "accused",
    "blamed", "condemned", "endorsed",
    # written attribution ('"…," wrote maria lopez.') — "write" is a
    # dictionary stem, so its past form must be barred explicitly
    "wrote",
}

# participles of DITRANSITIVE verbs: after a comma, "V-ed + NP" with one
# of these is a passive reduced relative on the PREVIOUS NP ("acquired
# iron foods, GIVEN new leadership" — iron foods was given leadership),
# not predicate coordination, so they never comma-borrow. Includes
# out-of-dictionary forms harmlessly.
_DITRANSITIVE_PARTICIPLES = {
    "given", "offered", "paid", "sent", "taught", "shown", "promised",
    "granted", "awarded", "handed", "told", "denied",
}


def _comma_coord_gap(
    pairs: list[tuple[str, bool]], raw: list[str], rel_ix: int
) -> bool:
    """True iff the conjunct opening at ``rel_ix`` is separated from the
    previous conjunct by a bare COMMA — comma-only predicate coordination
    ("X acquired A, launched B"). Walks left through the same aux/adverb
    gap as _elided_subject_gap; the first solid token must carry a
    trailing comma specifically (a semicolon splices a new-topic clause,
    and a period never reaches here — the splitter ends sentences)."""
    j = rel_ix - 1
    while j >= 0:
        tok, trailing_punct = pairs[j]
        if not trailing_punct and (tok in _AUX or tok in _REL_ADVERBS):
            j -= 1
            continue
        return trailing_punct and raw[j].endswith(",")
    return False


def _borrow_subject(
    pairs: list[tuple[str, bool]],
    raw: list[str],
    rel_ix: int,
    tok: str,
    last_subj: list[str] | None,
    last_vtok: str | None,
    other_tokens: list[str],
    comma_ok: bool = False,
) -> tuple[list[str] | None, bool]:
    """Elided-subject borrow, shared by every tier (active tiers fill the
    SUBJECT; the passive tier fills the PATIENT/object). Returns
    (last_subj, True) when all guards pass, else (None, False).

    Guards beyond the bare ``and`` gap (_elided_subject_gap) — the bare
    gap alone cannot distinguish a coordinated PREDICATE from a
    coordinated object NP or a new clause headed by a noun/verb homograph
    ("…and PRAISE from analysts", "…and WORK crews arrived"), so ``tok``
    (the conjunct's relation-opening token) is graded by how ambiguous
    its surface form is:

    - copulas and aspectuals are accepted outright (a copula is never a
      noun; "…and PLANS to expand into asia" entails the same edge under
      either attachment, because the "to V" shape is shared);
    - -ed / irregular / -ing inflections are unambiguously verbal;
    - -s inflections are plural-noun homographs (shows, works, supplies):
      accepted only when the argument span carries no dictionary verb
      form — a downstream verb means ``tok`` was the subject NP of a NEW
      clause ("…and supplies RAN low");
    - bare stems are the maximally ambiguous class (praise, support,
      work, boost): accepted only under plural CONCORD — the verb that
      committed ``last_subj`` must itself be plural-compatible (a bare
      stem, or are/were), as in "the two firms OPERATE in europe and
      EXPAND into asia"; after a singular-inflected first verb a bare
      form cannot be a coordinated predicate ("acquired … and praise…"
      is an object NP) — plus the same no-verb-in-span clause guard.

    COMMA-only coordination ("X acquired A, launched B" — no "and") is
    accepted under a STRICTER grade, and only when the caller sets
    ``comma_ok`` (bare-verb relation, no V-P extension — a comma + V-ed +
    PP is a reduced relative on the PREVIOUS NP, "iron foods, launched in
    2020", never a coordinated predicate): the conjunct token must be an
    unambiguous non-"-s" inflection (bare stems and -s forms after a comma
    are list items or new-clause subjects), must not be a report verb or
    a quotative-inversion verb (see _QUOTATIVE_INVERTIBLE), and the
    argument span must carry no dictionary verb form (a comma splice with
    its own downstream predicate is a new clause).
    """
    if not (
        last_subj
        and other_tokens
        and not all(
            t in _TEMPORAL_WORDS or t in _SENT_ADVERBS or t.isdigit()
            for t in other_tokens
        )
    ):
        return None, False
    # a copula or report verb in the argument span marks a NEW clause
    # whose opener was attributive/nominal ("…and supplies ARE low",
    # "…, restructured units ARE profitable") — never coordination; the
    # "and"-gap -ed branch still tolerates plain dictionary participles
    # in the span ("…and launched recently ACQUIRED brands" is a
    # legitimate modifier), which the -s/bare/comma grades reject.
    be_or_report = any(
        t in _BE or t in _REPORT_VERBS for t in other_tokens
    )
    if tok in _BE or tok in _ASPECTUAL:
        ok = True
    elif tok in _VERB_INFLECTED:
        ok = not be_or_report and not (
            tok.endswith("s")
            and any(t in _VERB_FORMS for t in other_tokens)
        )
    elif tok in _VERB_STEMS:
        ok = (
            last_vtok is not None
            and (last_vtok in _VERB_STEMS or last_vtok in ("are", "were"))
            and not be_or_report
            and not any(t in _VERB_FORMS for t in other_tokens)
        )
    else:
        ok = False
    if ok and _elided_subject_gap(pairs, rel_ix):
        return last_subj, True
    if (
        comma_ok
        and tok in _VERB_INFLECTED
        and not tok.endswith("s")
        and tok not in _REPORT_VERBS
        and tok not in _QUOTATIVE_INVERTIBLE
        and tok not in _DITRANSITIVE_PARTICIPLES
        and not be_or_report
        and not any(t in _VERB_FORMS for t in other_tokens)
        and _comma_coord_gap(pairs, raw, rel_ix)
    ):
        return last_subj, True
    return None, False


def _negated(pairs: list[tuple[str, bool]], start_ix: int) -> bool:
    """True when a negator occupies the aux/adverb gap immediately left of
    a relation head (walk from ``start_ix`` leftward through skippable
    auxiliaries/adverbs; a clause boundary ends the gap)."""
    j = start_ix
    while j >= 0:
        tok, trailing_punct = pairs[j]
        if tok in _NEGATORS:
            return True
        if (tok in _AUX or tok in _REL_ADVERBS) and not trailing_punct:
            j -= 1
            continue
        return False
    return False


# comma-bounded verb-free segment = appositive (", ceo of silver motors,")
# — strippable so the subject span reaches across it; a segment containing
# any verb form is a clause and is kept. The lookahead keeps Oxford-list
# items intact (", golden software," in "A, B, and C" is a conjunct for
# _coord_objects, not an appositive).
_APPOSITIVE = re.compile(r",[^,]{1,60},(?!\s*and\b)")
# Oxford-list continuation right of a would-be appositive's closing comma:
# zero or more further comma items terminating in ", and" — the immediate
# lookahead above only protects the FINAL list item, so interior items of
# a 4+-conjunct list ("blue energy, beta systems, gamma corp, and delta
# media acquired …") must be protected by walking the chain (round-3
# ADVICE #1). Verb-free chain only: "acme corp, a chipmaker, acquired A,
# B, and C" is still an appositive because the chain to ", and" crosses
# the clause verb.
_OXFORD_CHAIN = re.compile(r"(?:[^,]{1,60},){1,8}\s*and\b")
# bare-list continuation (round-5): comma items running verb-free to the
# SENTENCE END protect interior conjuncts of an and-less list ("acquired
# A, B, C.") the same way the ", and" terminator protects an Oxford list;
# a chain crossing the clause verb is still an appositive and strips.
_BARE_TERMINAL_CHAIN = re.compile(r"(?:[^,]{1,60},){0,8}[^,]{1,60}[.!?]\s*$")


def _strip_appositives(sentence: str) -> str:
    def repl(m: re.Match) -> str:
        toks = [_clean_token(t) for t in m.group(0).strip(", ").split()]
        if (
            0 < len(toks) <= 6
            and toks[0] not in {"and", "or", "but"}
            and not any(t in _VERB_FORMS or t in _BE for t in toks)
        ):
            chain = _OXFORD_CHAIN.match(m.string, m.end())
            if chain is not None:
                if not any(
                    _clean_token(t) in _VERB_FORMS or _clean_token(t) in _BE
                    for t in chain.group(0).split()
                ):
                    return m.group(0)  # interior Oxford-list conjunct — keep
                return " "
            chain = _BARE_TERMINAL_CHAIN.match(m.string, m.end())
            if chain is not None:
                # bare (and-less) terminal chain: protect ONLY when the
                # candidate segment AND every chain item read as entity
                # conjuncts — verb-free, and no determiner/partitive/
                # temporal/discourse opener. Round-5 review finding #2:
                # without the opener checks, a genuine appositive followed
                # by a verb-free adjunct ("…, a chipmaker, last year.")
                # was protected and then mis-coordinated as an object.
                segs = [
                    seg.split()
                    for seg in chain.group(0).rstrip(".!?").split(",")
                    if seg.split()
                ]
                openers = [toks[0]] + [_clean_token(seg[0]) for seg in segs]
                # a temporal/discourse opener is allowed on the FINAL
                # chain item only — that is the trailing adjunct
                # _coord_objects drops ("…, ivan petrov, last week.");
                # anywhere else it breaks the list reading
                non_final = openers[:-1] if len(openers) > 1 else openers
                if not any(
                    _clean_token(t) in _VERB_FORMS or _clean_token(t) in _BE
                    for t in chain.group(0).split()
                ) and not any(
                    o in _DETS or o in _PARTITIVES for o in openers
                ) and not any(
                    o in _TEMPORAL_WORDS or o in _SENT_ADVERBS
                    for o in non_final
                ):
                    return m.group(0)  # interior bare-list conjunct — keep
            return " "
        return m.group(0)

    return _APPOSITIVE.sub(repl, sentence)


_PARTICIPLE_CACHE: dict[str, bool] = {}


def _is_participle(tok: str) -> bool:
    # memoized over the (bounded) token vocabulary — probed once per token
    # in the main extractor loop (round-5 docstream profile)
    v = _PARTICIPLE_CACHE.get(tok)
    if v is None:
        if len(_PARTICIPLE_CACHE) >= _CLEAN_CACHE_CAP:
            _PARTICIPLE_CACHE.clear()
        v = (tok.endswith("ed") and tok in _VERB_FORMS) or (
            tok in _IRREGULAR_PARTICIPLES
        )
        _PARTICIPLE_CACHE[tok] = v
    return v


# one memoized bitmask per distinct token collapses the main loop's six
# tier-guard set probes into a single dict lookup (round-5 profile: the
# loop head dominated extract_triples tottime). Bits mirror the original
# membership tests EXACTLY — the tiers' remaining conditions (boundary,
# neighbors) stay inline.
_TC_PART = 1  # _is_participle(tok)
_TC_BE = 2  # tok in _BE
_TC_ASP = 4  # tok in _ASPECTUAL
_TC_ASPNEG = 8  # tok in _ASPECTUAL_NEG
_TC_LEX = 16  # tok opens a REL_LEXICON entry
_TC_OPENV = 32  # tok in _VERB_FORMS and not _AUX and not _STOPWORDS
_TOKCLASS_CACHE: dict[str, int] = {}


def _token_class(tok: str) -> int:
    c = _TOKCLASS_CACHE.get(tok)
    if c is None:
        if len(_TOKCLASS_CACHE) >= _CLEAN_CACHE_CAP:
            _TOKCLASS_CACHE.clear()
        c = (
            (_TC_PART if _is_participle(tok) else 0)
            | (_TC_BE if tok in _BE else 0)
            | (_TC_ASP if tok in _ASPECTUAL else 0)
            | (_TC_ASPNEG if tok in _ASPECTUAL_NEG else 0)
            | (_TC_LEX if tok in _REL_BY_FIRST else 0)
            | (
                _TC_OPENV
                if tok in _VERB_FORMS
                and tok not in _AUX
                and tok not in _STOPWORDS
                else 0
            )
        )
        _TOKCLASS_CACHE[tok] = c
    return c


# reduced-passive/locative appositive: ", founded by elena novak," /
# ", based in berlin," (also clause-final) — a verb-bearing segment, so
# the generic _APPOSITIVE strip correctly keeps it, but it still blocks
# the main clause (the comma is a clause boundary for the subject trim)
# AND carries its own relation. _extract_participial_appositives emits
# the triple — passive-normalized (agent, V-ed, head) for "by", or
# (head, "V-ed P", obj) for a locative preposition — and removes the
# segment so the main clause extracts normally.
_PART_APPOS = re.compile(
    r",\s*([A-Za-z]+)\s+(by|in|at|on|near|from)\s+([^,.]+)([,.])"
)


def _extract_participial_appositives(
    sentence: str,
) -> tuple[str, list[tuple[str, str, str, float]]]:
    """Emit one passive-normalized triple per participial appositive and
    strip the segments. Matches are walked MANUALLY (not one ``sub()``):
    a single ``sub()`` computed every head NP from the unmodified sentence
    prefix, so the second of two stacked appositives saw the first
    segment's trailing comma and was silently dropped (round-3 ADVICE #4).
    Stacked segments (", founded by A, advised by B,") share one closing
    comma; the scan resumes ON that comma (``m.end() - 1``) so the next
    segment still has its leading comma, and a chain continuation reuses
    the head NP computed for the chain's first segment — all stacked
    participial appositives modify the same head."""
    triples: list[tuple[str, str, str, float]] = []
    spans: list[tuple[int, int, str]] = []  # (start, end, ender)
    head_tokens: list[str] = []
    prev_end = -1
    pos = 0
    while True:
        m = _PART_APPOS.search(sentence, pos)
        if m is None:
            break
        part = _clean_token(m.group(1))
        if not _is_participle(part):
            pos = m.start() + 1
            continue
        if spans and m.start() == prev_end - 1:
            head = head_tokens  # stacked chain: same head NP
        else:
            # the head NP ends at the nearest clause verb ("blue energy
            # ACQUIRED acme corp, founded by…" → head "acme corp")
            head = _clause_head(sentence[: m.start()])
        prep = m.group(2)
        arg_raw = m.group(3).split()
        apairs = [(_clean_token(t), t != t.rstrip(_EDGE_PUNCT)) for t in arg_raw]
        arg_tokens, _aend, _astop = _trim_obj(apairs, 0)
        if head and arg_tokens:
            if prep == "by":
                # reduced passive: agent after "by" — active normalization
                triples.append(
                    (
                        " ".join(arg_tokens),
                        part,
                        " ".join(head),
                        _open_conf(arg_tokens, head),
                    )
                )
            else:
                triples.append(
                    (
                        " ".join(head),
                        f"{part} {prep}",
                        " ".join(arg_tokens),
                        _open_conf(head, arg_tokens),
                    )
                )
            spans.append((m.start(), m.end(), m.group(4)))
            head_tokens = head
            prev_end = m.end()
        pos = m.end() - 1  # shared comma may open the next stacked segment
    if not spans:
        return sentence, triples
    # rewrite: drop accepted segments (a "." ender is kept so downstream
    # boundary logic still sees the sentence close; commas vanish so the
    # main clause reads across the gap). Overlapping chain spans collapse.
    out: list[str] = []
    cursor = 0
    for start, end, ender in spans:
        if start > cursor:
            out.append(sentence[cursor:start])
        out.append(ender if ender == "." else " ")
        cursor = max(cursor, end)
    out.append(sentence[cursor:])
    return "".join(out), triples


# parenthetical asides and spaced-dash appositives — "(formerly beta
# systems)", " - a berlin startup - " — are dropped before tokenization:
# they are renames/glosses, and left in place they fuse into garbage
# argument spans ("corp (formerly beta systems)"). Only PAIRED spaced
# dashes are appositives; hyphenated tokens ("e-commerce") have no spaces
# and never match.
_PARENTHETICAL = re.compile(r"\([^()]{0,80}\)")
_DASH_APPOS = re.compile(r"\s[-–—]\s[^-–—]{1,60}\s[-–—]\s")

# sentence-initial dateline lead-in ("Last month, …", "On monday, …",
# "Since 2019, …"): stripped BEFORE any other pre-pass, so a later
# appositive strip can never glue the dateline onto the subject span
# ("Last month, maria lopez, james smith founded …" previously collapsed
# to the garbage subject "last month james smith"). Token-verified: the
# first comma segment is dropped only when EVERY token is temporal
# vocabulary / a discourse adverb / a digit / one of on-in-at-since.
_DATELINE_LEAD = re.compile(r"^\s*([^,]{1,40}),\s*")

# thousands separators: a comma flanked by digits with exactly three
# digits following ("1,000", "12,345,678") is number formatting
_THOUSANDS_SEP = re.compile(r"(?<=\d),(?=\d\d\d\b)")


def _strip_dateline_lead(sentence: str) -> str:
    m = _DATELINE_LEAD.match(sentence)
    if m is None:
        return sentence
    toks = [_clean_token(t) for t in m.group(1).split()]
    if toks and all(
        t in _TEMPORAL_WORDS
        or t in _SENT_ADVERBS
        or t.isdigit()
        or t in {"on", "in", "at", "since"}
        for t in toks
    ):
        return sentence[m.end():]
    return sentence


# relative clause with an extractable relation: ", who works at X," /
# ", which is based in berlin." — the head NP left of the comma is the
# clause's subject. The segment is stripped for the main clause (same
# effect as _REL_CLAUSE) AND mined for its own triple.
_REL_CLAUSE_SEG = re.compile(r",\s*(?:who|which|that)\s+([^,]{1,80}?)\s*([,.])")


def _clause_head(prefix_text: str) -> list[str]:
    """Nearest NP left of a comma segment: subject-walk the prefix, then
    cut at the nearest clause verb (the head of a relative clause or of a
    participial appositive)."""
    prefix = prefix_text.split()
    ppairs = [(_clean_token(t), t != t.rstrip(_EDGE_PUNCT)) for t in prefix]
    head, _start = _trim_subj(ppairs, len(ppairs))
    for k in range(len(head) - 1, -1, -1):
        if head[k] in _VERB_FORMS or head[k] in _BE:
            head = head[k + 1 :]
            break
    return head


def _extract_relative_clauses(
    sentence: str,
) -> tuple[str, list[tuple[str, str, str, float]]]:
    """Emit triples FROM relative clauses (", who works at X") instead of
    only skipping them: the clause body is re-run through the extractor
    with the antecedent head NP as subject (recursion depth is 1 — the
    rewritten pseudo-sentence contains no comma, so this pre-pass cannot
    re-fire). Only triples anchored on the head (as subject, or as object
    for an in-clause passive: ", which was acquired by Y") are kept. The
    segment is then stripped so the main clause reads across it."""
    triples: list[tuple[str, str, str, float]] = []
    out: list[str] = []
    cursor = 0
    for m in _REL_CLAUSE_SEG.finditer(sentence):
        if m.start() < cursor:
            continue
        head = _clause_head(sentence[: m.start()])
        if head:
            head_s = " ".join(head)
            pseudo = f"{head_s} {m.group(1).strip()}."
            for t in extract_triples(pseudo, "en"):
                if head_s in (t[0], t[2]):
                    triples.append(t)
        out.append(sentence[cursor : m.start()])
        out.append(m.group(2) if m.group(2) == "." else " ")
        cursor = m.end()
    if cursor == 0:
        return sentence, triples
    out.append(sentence[cursor:])
    return "".join(out), triples


def _open_conf(subj_tokens: list[str], obj_tokens: list[str]) -> float:
    return round(
        0.3
        + 0.2 * min(1.0, len(subj_tokens) / 2)
        + 0.2 * min(1.0, len(obj_tokens) / 2),
        4,
    )


def _lexicon_conf(subj_tokens: list[str], obj_tokens: list[str]) -> float:
    return round(
        0.5
        + 0.25 * min(1.0, len(subj_tokens) / 2)
        + 0.25 * min(1.0, len(obj_tokens) / 2),
        4,
    )


def _close_relation(tokens: list[str], boundary: list[bool], end: int) -> int:
    """ReVerb's ``ADV* P`` close: the index of a relation-ending preposition
    reached from the head at ``end`` across an unpunctuated adverb run,
    else ``end``."""
    if boundary[end]:
        return end
    n = len(tokens)
    j = end + 1
    while j < n and tokens[j] in _REL_ADVERBS and not boundary[j]:
        j += 1
    if j < n and tokens[j] in _REL_PREPS:
        return j
    return end


def _emit_active(
    triples: list[tuple[str, str, str, float]],
    pairs: list[tuple[str, bool]],
    raw: list[str],
    tokens: list[str],
    i: int,
    rel_end: int,
    last_subj: list[str] | None,
    last_vtok: str | None,
    *,
    ok: bool = True,
    conf=_open_conf,
    donate: bool = True,
    pred: str | None = None,
) -> tuple[list[str] | None, str | None]:
    """Emit the relation ``tokens[i : rel_end + 1]`` of every English
    tier; returns the next ``(last_subj, last_vtok)``. ``pred`` replaces
    the relation span as the predicate: the passive tier passes the bare
    participle for its "V-ed ... by" span and swaps the roles of what
    this appends.

    An empty subject span borrows the previous conjunct's subject
    (_borrow_subject); across a bare comma only for a single-token
    relation, since a multi-token one after a comma ("…iron foods,
    launched in 2020", "…, merged with X") is a reduced relative on the
    previous NP, never a coordinated predicate. ``ok`` is the tier's own
    guard next to the negator gap. A non-factive modal in the gap
    prefixes the predicate ("will acquire"; "would have merged
    with" gives "would merged with"): a future/possible/counterfactual
    assertion is not the bare fact, and canonicalize_pred folds it
    downstream. With ``donate`` a relation that lacks only an object
    ("acme corp EXPANDED RAPIDLY and hired maria lopez") still donates
    its unambiguous active-voice subject to a following elided-subject
    conjunct; a negated one donates nothing, as its negation may scope
    over the whole coordination."""
    tok = tokens[i]
    subj_tokens, s_start = _trim_subj(pairs, i)
    obj_tokens, o_end, o_stop = _obj_span(pairs, rel_end)
    borrowed = False
    if not subj_tokens:
        subj_tokens, borrowed = _borrow_subject(
            pairs, raw, i, tok, last_subj, last_vtok, obj_tokens,
            comma_ok=(rel_end == i),
        )
    if not (subj_tokens and ok and not _negated(pairs, i - 1)):
        return last_subj, last_vtok
    if not obj_tokens:
        return (subj_tokens, tok) if donate else (last_subj, last_vtok)
    subj = " ".join(subj_tokens)
    obj = " ".join(obj_tokens)
    if pred is None:
        pred = " ".join(tokens[i : rel_end + 1])
    m = _modal_in_gap(pairs, i - 1)
    if m:
        pred = f"{m} {pred}"
    c = conf(subj_tokens, obj_tokens)
    triples.append((subj, pred, obj, c))
    if not borrowed:
        for co_subj in _coord_subjects(pairs, raw, s_start):
            triples.append((co_subj, pred, obj, c))
    for co_obj in _coord_objects(pairs, raw, o_end, o_stop):
        triples.append((subj, pred, co_obj, c))
    return subj_tokens, tok


def extract_triples(
    sentence: str, lang: str = "en"
) -> list[tuple[str, str, str, float]]:
    """(subj, pred, obj, conf) tuples from one sentence.

    English — leftmost match wins at each position; the tiers are tried
    in the order 2a, 2d, 2c, 1, 2b:

    - 2a passive ``BE + V-ed [PP/ADV run] + by`` → (agent, V-ed, patient);
    - 2d nominal ``BE [DET] NP{1..3} of`` ("is the parent company of");
    - 2c infinitival ``ASPECTUAL to V [ADV* P]`` ("plans to acquire");
    - 1 closed-lexicon exact relations (``REL_LEXICON``, longest match,
      conf ∈ [0.75, 1.0]);
    - 2b open ReVerb class ``V | V P | V ADV* P`` (verb dictionary +
      adverbs + relation-ending preposition), with a ``V to V [ADV* P]``
      control-verb extension.

    Tiers 2a–2d carry conf ∈ [0.5, 0.7]. Every tier detects its relation
    span and emits through ``_emit_active`` (argument spans, elided-
    subject borrow, negation, modal prefix, coordination fan-out, subject
    carry-over); 2a swaps the agent and patient of what it appended and
    carries no subject over. Relative/appositive
    clauses between commas are skipped so subject spans reach across
    them. subj = nearest non-stopword span left of the relation; obj =
    nearest non-stopword span right; conf scales with argument
    tightness.

    Chinese: bounded regex patterns (``ZH_REL_PATTERNS``)."""
    if lang == "zh":
        return extract_triples_zh(sentence)
    # every pre-pass is gated on a cheap substring probe: the bulk of web
    # sentences carry no comma/paren/dash, and running five regex passes on
    # all of them cost 24% of docstream throughput (round-4 bench)
    if "," in sentence:
        # digit-grouping commas ("1,000") are not separators — left in
        # place they truncate relative-clause/appositive segments at the
        # comma inside the number
        sentence = _THOUSANDS_SEP.sub("", sentence)
    if "(" in sentence:
        sentence = _PARENTHETICAL.sub(" ", sentence)
    if " - " in sentence or " – " in sentence or " — " in sentence:
        sentence = _DASH_APPOS.sub(" ", sentence)
    triples: list[tuple[str, str, str, float]] = []
    if "," in sentence:
        sentence = _strip_dateline_lead(sentence)
        # relative clauses FIRST: after ", who runs X," is stripped, the
        # main verb phrase no longer follows a comma, so the participial
        # scan below cannot mistake it for an appositive segment
        if ", wh" in sentence or ", that" in sentence:
            sentence, rel_triples = _extract_relative_clauses(sentence)
            triples.extend(rel_triples)
        sentence, part_triples = _extract_participial_appositives(sentence)
        triples.extend(part_triples)
        raw = _strip_appositives(_REL_CLAUSE.sub(" ", sentence)).split()
    else:
        raw = sentence.split()
    # one memoized (clean, trailing-punct) tuple per raw token (round-6):
    # the tuple list IS the ``pairs`` structure every helper indexes, so
    # the per-occurrence rstrip probe and the zip disappear
    pairs = [_tok_info(t) for t in raw]
    tokens = [c for c, _b in pairs]
    boundary = [b for _c, b in pairs]
    # most recent committed agent-side subject, for predicate coordination
    # with an elided subject ("X acquired A and LAUNCHED B" — the second
    # conjunct inherits X). English counterpart of the zh clause-split
    # inheritance; never set from the passive tier (whose topic is
    # ambiguous between agent and patient — round-3 ADVICE #3 discipline).
    last_subj: list[str] | None = None
    last_vtok: str | None = None  # the verb token that committed last_subj
    i = 0
    n = len(tokens)
    while i < n:
        tok = tokens[i]
        cls = _token_class(tok)
        if not cls:
            # inert token: cannot open any tier (single memoized probe
            # replaces the six set tests below — round-5 profile)
            i += 1
            continue
        # tier 2a — passive agent: BE + V-ed + [short PP/adverb run] +
        # "by" → active-voice triple ("was acquired by X", "was founded
        # in 2004 by X"). The intervening run is capped at 4 verb-free,
        # punctuation-free tokens and must open with a preposition or
        # adverb — beyond that the "by" is too far to attribute safely.
        if cls & _TC_PART and not boundary[i] and i > 0 and tokens[i - 1] in _BE:
            by_ix = -1
            if i + 1 < n and tokens[i + 1] == "by" and not boundary[i + 1]:
                by_ix = i + 1
            elif (
                i + 1 < n
                and (tokens[i + 1] in _REL_PREPS or tokens[i + 1] in _REL_ADVERBS)
                and tok not in _STATIVE_PARTICIPLES
            ):
                # stative/locative participles take locative-"by" ("was
                # located in oslo BY THE HARBOR") — the distant "by" is
                # not an agent; only the adjacent form is safe for them
                j = i + 1
                while (
                    j < n
                    and j - i <= 4
                    and tokens[j] != "by"
                    and tokens[j]
                    and tokens[j] not in _VERB_FORMS
                    and tokens[j] not in _BE
                    and not boundary[j]
                ):
                    j += 1
                if j < n and j - i <= 5 and tokens[j] == "by" and not boundary[j]:
                    by_ix = j
            if by_ix > 0:
                # the active path over (patient, V-ed, agent), read back
                # agent-first; the negator gap opens left of the copula
                # even when it carries a comma, and last_subj stays unset
                # (agent/patient topic ambiguity, as for the zh 被-passive)
                k = len(triples)
                _emit_active(
                    triples, pairs, raw, tokens, i, by_ix, last_subj, last_vtok,
                    ok=not _negated(pairs, i - 2), donate=False, pred=tok,
                )
                if len(triples) > k:
                    triples[k:] = [(o, p, s, c) for s, p, o, c in triples[k:]]
                    i = by_ix + 1
                    continue
        # tier 2d — nominal relation: BE + [DET] + NP{1..3} + "of"
        # ("is the parent company of", "is a subsidiary of") — ReVerb's
        # V W* P shape with a noun-phrase W*, admitted ONLY when anchored
        # by the copula and closed by "of" (unanchored noun W* without POS
        # costs too much precision). A verb form inside the NP rejects the
        # match (that is a passive/progressive, handled by other tiers).
        if cls & _TC_BE and not boundary[i]:
            j = i + 1
            negated_np = False
            if j < n and tokens[j] in _NEGATORS and not boundary[j]:
                negated_np = True
                j += 1
            if j < n and tokens[j] in _DETS and not boundary[j]:
                j += 1
            np_start = j
            while (
                j < n
                and j - np_start < 3
                and tokens[j] not in _STOPWORDS
                and tokens[j] not in _VERB_FORMS
                and tokens[j] not in _BE
                and tokens[j]
                and not boundary[j]
            ):
                j += 1
            if (
                j > np_start
                and j < n
                and tokens[j] == "of"
                and tokens[np_start] not in _PARTITIVES
            ):
                # a left modal prefixes the predicate as in tiers 1 and
                # 2b ("will be the parent company of"); this tier commits
                # no subject without a triple
                last_subj, last_vtok = _emit_active(
                    triples, pairs, raw, tokens, i, j, last_subj, last_vtok,
                    ok=not negated_np, donate=False,
                )
                i = j + 1
                continue
        # tier 2c — infinitival chain: ASPECTUAL + "to" + V [ADV* P]
        # ("plans to acquire", "agreed to merge with"); negative-control
        # verbs ("refused to acquire") suppress like negators
        if (
            cls & (_TC_ASP | _TC_ASPNEG)
            and not boundary[i]
            and i + 2 < n
            and tokens[i + 1] == "to"
            and not boundary[i + 1]
            # base form only: an infinitive after "to" is never inflected;
            # -ed/-ing forms there are participial ADJECTIVES of the
            # object ("agreed to improved terms"), not chain verbs
            and tokens[i + 2] in _VERB_STEMS
        ):
            rel_end = _close_relation(tokens, boundary, i + 2)
            # negative-control verbs neither emit nor donate; a left
            # modal prefixes the predicate ("would have agreed to
            # acquire" → "would agreed to acquire")
            last_subj, last_vtok = _emit_active(
                triples, pairs, raw, tokens, i, rel_end, last_subj, last_vtok,
                ok=tok not in _ASPECTUAL_NEG,
            )
            i = rel_end + 1
            continue
        # tier 1 — closed lexicon, longest match (first-token index;
        # buckets are longest-first so the first hit IS the longest)
        match: tuple[str, ...] | None = None
        if cls & _TC_LEX:
            bucket = _REL_BY_FIRST[tok]
            for rel in bucket:
                k = len(rel)
                if i + k <= n and all(
                    tokens[i + x] == rel[x] for x in range(1, k)
                ):
                    match = rel
                    break
        if match is not None:
            last_subj, last_vtok = _emit_active(
                triples, pairs, raw, tokens, i, i + len(match) - 1, last_subj,
                last_vtok, conf=_lexicon_conf,
            )
            i += len(match)
            continue
        # tier 2b — open pattern: V | V P | V ADV* P
        if cls & _TC_OPENV:
            rel_end = _close_relation(tokens, boundary, i)
            if (
                rel_end > i
                and tokens[rel_end] == "to"
                and not boundary[rel_end]
                and rel_end + 1 < n
                # base form only, as in tier 2c: "moved to GROWING
                # markets" / "led to IMPROVED margins" carry
                # participial adjectives, not infinitive chains
                and tokens[rel_end + 1] in _VERB_STEMS
            ):
                # V-to-V chain for IN-dictionary control verbs
                # ("managed to acquire", "moved to expand into"): the
                # infinitive verb belongs to the predicate, not the
                # object span (which previously swallowed it); allow
                # one further adverb/prep close, as tier 2c does
                rel_end = _close_relation(tokens, boundary, rel_end + 1)
            # NOTE: no participle-opening-object rejection here. A mid-round
            # guard tried it ("summer hill PARTNERS acquired X" misreads the
            # plural noun as the pred) but it equally killed legitimate
            # participial modifiers ("manages ESTABLISHED brands") — there is
            # no local discriminator without POS context, so the open tier
            # keeps the rare noun-misread FP (measured in the gold P).
            last_subj, last_vtok = _emit_active(
                triples, pairs, raw, tokens, i, rel_end, last_subj, last_vtok
            )
            i = rel_end + 1
            continue
        i += 1
    return triples


def doc_triples(
    text_norm: str, lang: str = "en"
) -> list[tuple[int, str, str, str, float]]:
    """All (sent_id, subj, pred, obj, conf) for one normalized document."""
    out = []
    for sent_id, sentence in enumerate(split_sentences(text_norm, lang)):
        for subj, pred, obj, conf in extract_triples(sentence, lang):
            out.append((sent_id, subj, pred, obj, conf))
    return out
