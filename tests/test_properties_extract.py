"""Property-based gates (hypothesis) for the triple extractor's structural
invariants — arbitrary generated prose, not just fixture/gold sentences.
Complements the hand-annotated gold set (tests/test_gold_triples.py),
which measures accuracy; these pin the shapes the downstream KG stages
rely on (linking keys on non-empty spans; negation polarity; determinism
under re-execution — the Spark stage may recompute a task after failure)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from kgforge.extract.triples import (
    _NEGATORS,
    _STOPWORDS,
    _ZH_FAILURE_SUFFIXES,
    _ZH_MODALITY_SUFFIXES,
    _ZH_NEGATORS,
    MAX_ARG_TOKENS,
    extract_triples,
    split_sentences,
)

_WORD = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=10)
_SENT = st.lists(_WORD, min_size=1, max_size=30).map(
    lambda ws: " ".join(ws) + "."
)


@given(_SENT)
@settings(max_examples=60, deadline=None)
def test_triple_shape_invariants(sentence):
    for subj, pred, obj, conf in extract_triples(sentence, "en"):
        assert subj and obj and pred, (subj, pred, obj)
        assert 0.0 <= conf <= 1.0
        # argument spans are stopword-free, bounded, never the relation
        for span in (subj, obj):
            toks = span.split()
            assert len(toks) <= MAX_ARG_TOKENS
            assert all(t not in _STOPWORDS for t in toks), span
        assert subj != pred and obj != pred


@given(_SENT)
@settings(max_examples=60, deadline=None)
def test_extraction_is_deterministic(sentence):
    assert extract_triples(sentence, "en") == extract_triples(sentence, "en")


@given(st.lists(_WORD, min_size=2, max_size=10), st.sampled_from(sorted(_NEGATORS)))
@settings(max_examples=60, deadline=None)
def test_negated_relation_never_emits(words, negator):
    """Inserting a negator directly before any relation head suppresses
    every triple whose relation starts at that position."""
    for verb in ("acquired", "works at", "invested in", "launched"):
        left = " ".join(words[: len(words) // 2]) or "acme corp"
        right = " ".join(words[len(words) // 2 :]) or "iron foods"
        sentence = f"{left} {negator} {verb} {right}."
        emitted = extract_triples(sentence, "en")
        heads = {t[1] for t in emitted}
        assert verb not in heads, (sentence, emitted)


@given(st.lists(_SENT, min_size=0, max_size=6))
@settings(max_examples=40, deadline=None)
def test_split_sentences_partition(sents):
    """Sentence splitting neither drops nor merges normalized sentences."""
    text = " ".join(sents)
    assert split_sentences(text, "en") == [s for s in sents if s.strip()]


# --- zh invariants (clause/object coordination, round 3) -------------------

_ZH_CHARS = "天河科技蓝海集团星辰软件华光能源北斗物流王伟李娜张强陈静南山资本云帆传媒上海深圳"
_ZH_VERBS = ["收购了", "投资了", "位于", "加入了", "担任", "成立了"]
_ZH_SEPS = ["，", "；", "并", "并且", "且"]
_ZH_ENT_ST = st.text(alphabet=_ZH_CHARS, min_size=2, max_size=6)


@given(
    st.lists(
        st.tuples(_ZH_ENT_ST, st.sampled_from(_ZH_VERBS), _ZH_ENT_ST),
        min_size=1,
        max_size=4,
    ),
    st.sampled_from(_ZH_SEPS),
)
@settings(max_examples=60, deadline=None)
def test_zh_spans_never_contain_connectors(clauses, sep):
    """No extracted zh span may contain a clause separator or connector
    char — the round-3 entity-class exclusion plus clause splitting must
    make garbage cross-clause spans impossible by construction."""
    sentence = sep.join(f"{s}{v}{o}" for s, v, o in clauses) + "。"
    for subj, _pred, obj, _conf in extract_triples(sentence, "zh"):
        for span in (subj, obj):
            assert span
            assert not set("，；并且与和及或的了被") & set(span), (sentence, span)


@given(
    st.tuples(_ZH_ENT_ST, st.sampled_from(_ZH_VERBS), _ZH_ENT_ST),
    st.sampled_from(["并", "，并", "并且", "，"]),
    st.sampled_from(_ZH_VERBS),
    _ZH_ENT_ST,
)
@settings(max_examples=60, deadline=None)
def test_zh_elided_subject_inherits_only_exactly(first, sep, verb2, obj2):
    """A subject-less second clause either inherits the FIRST clause's
    exact subject or emits nothing — it can never manufacture a new
    subject span."""
    s, v, o = first
    sentence = f"{s}{v}{o}{sep}{verb2}{obj2}。"
    first_triples = extract_triples(f"{s}{v}{o}。", "zh")
    emitted = extract_triples(sentence, "zh")
    allowed_subjects = {t[0] for t in first_triples}
    for subj, _pred, _obj, _conf in emitted[len(first_triples):]:
        assert subj in allowed_subjects, (sentence, subj, allowed_subjects)


@given(
    _ZH_ENT_ST,
    _ZH_ENT_ST,
    _ZH_ENT_ST,
    st.sampled_from(_ZH_VERBS),
    st.sampled_from(["own clause", "inherited subject", "在…担任", "加入…担任"]),
    st.sampled_from(
        # "并未" is left out: the clause split takes its 并 for the
        # conjunction, and its 未 is drawn on its own
        [("negator", w) for w in _ZH_NEGATORS if w != "并未"]
        + [("modality", w) for w in _ZH_MODALITY_SUFFIXES]
        + [("failure", w) for w in _ZH_FAILURE_SUFFIXES]
    ),
)
@settings(max_examples=80, deadline=None)
def test_zh_unasserted_relation_never_emits(a, b, c, verb, form, mark):
    """A zh relation marked by a negator or a modality word before its
    verb, or by a failure marker after it, emits nothing: in its own
    clause, in a clause that inherits the previous clause's subject, and
    in the 3-group 在…担任 / 加入…担任 forms."""
    kind, word = mark
    pre, post = ("", word + "了") if kind == "failure" else (word, "")
    lead = ""
    if form == "own clause":
        clause = f"{a}{pre}{verb}{b}{post}"
    elif form == "inherited subject":
        # the 在-phrase lets the inherited subject's span reach the
        # marker and still strip back to that subject; 担任 after it is
        # the 在Y担任 works-at shape, so another verb stands in
        lead = f"{a}收购了{b}，"
        clause = f"在{c}{pre}{verb if verb != '担任' else '投资了'}{b}{post}"
    elif form == "在…担任":
        clause = f"{a}{pre}在{b}担任{c}{post}"
    else:
        clause = f"{a}{pre}加入{b}担任{c}{post}"
    first = extract_triples(f"{lead}。", "zh") if lead else []
    emitted = extract_triples(f"{lead}{clause}。", "zh")
    assert emitted == first, (lead + clause, emitted)
