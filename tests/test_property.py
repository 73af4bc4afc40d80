"""Hypothesis property tests over the pure-Python single-row kernels
(the pytest oracles the Spark operators are verified against): marker
insertion / mask alignment (features.featurize_py) and evidence
selection (evidence.select_evidence_py), and their byte-identity with
the frozen per-token / per-combination loops
(tests/reference_ports/text_path_port.py). Pure functions, no Spark per
example — hundreds of generated cases per run.

Reference semantics under test: reverse-order marker insertion keeps
char offsets valid (cdr_dataset.py:118-122), mask length equals token
length (the reference's own inline assert, cdr_dataset.py:149-151),
intra evidence must contain both mentions in one sentence
(text_utils.py:85-105).
"""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from relation_extraction_cdr_spark.functions.text import split_sentences_py
from relation_extraction_cdr_spark.functions.tokenize import E_END_ID, E_START_ID, encode
from relation_extraction_cdr_spark.operators.evidence import (
    SPLITTERS,
    DocIndex,
    build_pos_index,
    select_evidence_py,
)
from relation_extraction_cdr_spark.operators.features import (
    featurize_py,
    fulltext_featurize_py,
)
from tests.reference_ports import text_path_port as OLD

WORD = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)


@st.composite
def sentence_with_spans(draw):
    """A one-line sentence containing two disjoint entity spans."""
    words = draw(st.lists(WORD, min_size=6, max_size=30))
    n = len(words)
    ci = draw(st.integers(0, n - 2))
    di = draw(st.integers(0, n - 2).filter(lambda d: abs(d - ci) >= 2))
    sent = " ".join(words)
    offs = []
    pos = 0
    for w in words:
        offs.append((pos, pos + len(w)))
        pos += len(w) + 1
    return sent, offs[ci], offs[di]


@settings(max_examples=300, deadline=None)
@given(sentence_with_spans())
def test_featurize_mask_aligns_and_strips_clean(case):
    sent, (cs, ce), (ds, de) = case
    row = featurize_py(
        sent, 0, "C1", "D1", cs, ce, ds, de, use_entity_token=True, max_len=512
    )
    assert row is not None
    ids, mask = row["token_ids"], row["entity_mask"]
    # the reference's own invariant (cdr_dataset.py:149-151)
    assert len(ids) == len(mask)
    # markers balanced and properly nested: two [E]...[/E] regions
    assert ids.count(E_START_ID) == 2 and ids.count(E_END_ID) == 2
    depth, regions = 0, 0
    for t in ids:
        if t == E_START_ID:
            depth += 1
            assert depth == 1  # never nested (disjoint spans)
        elif t == E_END_ID:
            depth -= 1
            regions += 1
            assert depth == 0
    assert regions == 2
    # stripping markers recovers the plain-sentence encoding
    stripped = [t for t in ids if t not in (E_START_ID, E_END_ID)]
    assert stripped == encode(sent)
    # mask is label-encoded (A10: dense rank over lexicographically
    # sorted classes {C1, D1, O}) — exactly three classes present
    chem_code, dis_code = row["chem_code"], row["dis_code"]
    codes = set(mask)
    assert len(codes) == 3 and {chem_code, dis_code} < codes
    (o_code,) = codes - {chem_code, dis_code}
    # marker tokens and the tokens between them carry the entity code;
    # everything outside is O
    inside = False
    for t, m in zip(ids, mask):
        if t == E_START_ID:
            inside = True
        if inside:
            assert m != o_code
        else:
            assert m == o_code
        if t == E_END_ID:
            inside = False


@st.composite
def doc_with_mentions(draw):
    """A multi-sentence document with one chem and one dis mention placed
    in draw-chosen sentences."""
    n_sents = draw(st.integers(2, 6))
    sents = []
    for i in range(n_sents):
        words = draw(st.lists(WORD, min_size=4, max_size=10))
        sents.append(" ".join(words) + ".")
    c_sent = draw(st.integers(0, n_sents - 1))
    d_sent = draw(st.integers(0, n_sents - 1))
    sents[c_sent] = "aspirin " + sents[c_sent]
    sents[d_sent] = "headache " + sents[d_sent]
    text = " ".join(sents)
    cpos = text.find("aspirin")
    dpos = text.find("headache")
    # Recompute the expected sentence index of each mention with the real
    # splitter: random words can end a drawn sentence with an abbreviation
    # ("... dr.") that the engine deliberately does NOT split on, so the
    # draw-time indices are only an upper bound on the true ones.
    real = split_sentences_py(text)

    def sent_of(pos: int) -> int:
        for s in real:
            if s["start"] <= pos < s["end"]:
                return s["idx"]
        return -1

    return text, (cpos, cpos + 7), (dpos, dpos + 8), sent_of(cpos), sent_of(dpos)


@settings(max_examples=200, deadline=None)
@given(doc_with_mentions())
def test_evidence_selection_invariants(case):
    text, cspan, dspan, c_sent, d_sent = case
    row = select_evidence_py(
        text, "C1", "D1", [cspan], [dspan], "aspirin", "headache", 0,
        extract_inter=True,
    )
    sents = split_sentences_py(text)
    if row is None:
        # allowed only when the mentions are farther than the 3-sentence
        # inter window
        assert abs(c_sent - d_sent) > 3
        return
    kind = row["evidence_type"]
    assert kind in ("intra", "inter_fartoken", "inter_window", "global")
    # every evidence string must contain both surfaces
    assert "aspirin" in row["sentence"] and "headache" in row["sentence"]
    if kind in ("intra", "inter_fartoken"):
        assert c_sent == d_sent
    elif kind == "inter_window":
        # reference rule: nearest pair of sentences <= 3 apart
        # (text_utils.py:114-145); our generator mentions each entity
        # once, so the distance is |c_sent - d_sent| as constructed
        assert 0 < abs(c_sent - d_sent) <= 3
    # span offsets must point at the surfaces within the document
    assert text[row["chem_start"]:row["chem_end"]] == "aspirin"
    assert text[row["dis_start"]:row["dis_end"]] == "headache"


# ---------------------------------------------------------------------------
# byte-identity with the frozen per-pair text path (tests/reference_ports/
# text_path_port.py): the engine's run-based mask, sentence grouping and
# bisection must return exactly what the per-token / per-combination
# loops returned, on inputs built to hit their edge cases
# ---------------------------------------------------------------------------

# words that stress the tokenizer: accents, 'İ' (lowercases to two
# chars), CJK, control and zero-width chars, literal special tokens,
# punctuation, digits and the scorer's trigger word
EDGE_WORDS = [
    "café", "naïve", "İstanbul", "ΣΑΣ", "漢字", "テキスト", "a\x07b", "nul\x00l",
    "zero\u200bwidth", "[UNK]", "[unk]", "[MASK]", "[", "]", "e]", "/e", "...",
    ",", "-", "3.14", "induced", "induces", "\ufb01ne",
]
# literal marker tokens: rarer, since one drops the whole row
MARKER_WORDS = ["[e]", "[/e]", "[E]", "x[e]y"]
# ' ' dominates; NBSP and em space are category Zs, tab/newline are the
# tokenizer's own whitespace
SEPS = st.sampled_from([" "] * 6 + ["\u00a0", "\u2003", "\t", "\n", "  "])
TOKEN = st.integers(0, 59).flatmap(
    lambda k: st.sampled_from(MARKER_WORDS) if k == 0
    else st.sampled_from(EDGE_WORDS) if k < 12
    else WORD
)


@st.composite
def rich_text(draw, min_words=1, max_words=40):
    words = draw(st.lists(TOKEN, min_size=min_words, max_size=max_words))
    out = [words[0]]
    for w in words[1:]:
        out.append(draw(SEPS))
        out.append(w)
    return "".join(out)


@st.composite
def span(draw, n):
    """A char span anywhere in [0, n]: cuts words, may be empty."""
    a = draw(st.integers(0, n))
    b = draw(st.integers(a, min(n, a + 30)))
    return a, b


CODES = st.sampled_from(["C1", "D1", "D010001", "O", "Z9"])


@st.composite
def featurize_case(draw):
    if draw(st.integers(0, 19)) == 0:
        # a row over 512 tokens at the default max_len
        sent = " ".join(["word"] * draw(st.integers(505, 520)))
    else:
        sent = draw(rich_text())
    n = len(sent)
    kind = draw(st.sampled_from(["free", "disjoint", "adjacent"]))
    if kind == "free":  # overlapping, nested or identical spans included
        (cs, ce), (ds, de) = draw(span(n)), draw(span(n))
    else:
        cut = sorted(draw(st.lists(st.integers(0, n), min_size=3, max_size=3)))
        if kind == "adjacent":
            first, second = (cut[0], cut[1]), (cut[1], cut[2])
        else:
            first, second = (cut[0], cut[1]), (min(cut[1] + 1, cut[2]), cut[2])
        # dis before chem as often as chem before dis
        if draw(st.booleans()):
            (cs, ce), (ds, de) = first, second
        else:
            (ds, de), (cs, ce) = first, second
    base = draw(st.integers(0, 50))
    return dict(
        sentence=sent, sent_pos=base,
        chem_mesh=draw(CODES), dis_mesh=draw(CODES),
        chem_start=cs + base, chem_end=ce + base,
        dis_start=ds + base, dis_end=de + base,
        use_entity_token=draw(st.booleans()),
        max_len=draw(st.sampled_from([512, 512, 24, 12])),
    )


@settings(max_examples=400, deadline=None)
@given(featurize_case())
def test_featurize_equals_frozen_loop(case):
    assert featurize_py(**case) == OLD.featurize_py(**case)


@st.composite
def fulltext_case(draw):
    text = draw(rich_text(min_words=2, max_words=60))
    n = len(text)
    if draw(st.integers(0, 3)):
        # disjoint mention spans, the shape mention detection emits
        cuts = sorted(set(draw(st.lists(st.integers(0, n), min_size=2, max_size=12))))
        spans = [(a, b) for a, b in zip(cuts[::2], cuts[1::2])]
    else:
        spans = draw(st.lists(span(n), min_size=1, max_size=6))
    ents: dict[str, dict] = {}
    for a, b in spans:
        mid = draw(st.sampled_from(["C1", "C2", "D1", "D2", "X"]))
        # X is typed either way (the dual-typed id case); others by name
        typ = {"C": "Chemical", "D": "Disease"}.get(mid[0]) or draw(
            st.sampled_from(["Chemical", "Disease"])
        )
        e = ents.setdefault(mid, {"mesh_id": mid, "type": typ, "positions": []})
        e["positions"].append({"start": a, "end": b})
    gold = draw(st.lists(st.tuples(st.sampled_from(["C1", "C2", "X"]),
                                   st.sampled_from(["D1", "D2", "X"])), max_size=3))
    return dict(
        text=text, entities=list(ents.values()), gold_pairs=gold,
        use_entity_token=draw(st.booleans()),
        max_len=draw(st.sampled_from([512, 40, 16, 8])),
    )


@settings(max_examples=300, deadline=None)
@given(fulltext_case())
def test_fulltext_featurize_equals_frozen_loop(case):
    assert fulltext_featurize_py(**case) == OLD.fulltext_featurize_py(**case)


def test_literal_marker_rows_are_dropped_not_misaligned():
    """A page whose text carries the marker token ('[E]' lowercases to
    the added '[e]') used to yield a mask one entry longer than the ids
    (featurize) or an IndexError (fulltext); such rows are dropped."""
    assert featurize_py("aspirin causes asthma, see [e] here", 0, "C1", "D1", 0, 7, 15, 21) is None
    ents = [
        {"mesh_id": "C1", "type": "Chemical", "positions": [{"start": 0, "end": 7}]},
        {"mesh_id": "D1", "type": "Disease", "positions": [{"start": 15, "end": 21}]},
    ]
    assert fulltext_featurize_py("aspirin causes asthma, see [e] here", ents, []) is None
    # the same text without the literal marker featurizes
    assert featurize_py("aspirin causes asthma, see here", 0, "C1", "D1", 0, 7, 15, 21)
    assert fulltext_featurize_py("aspirin causes asthma, see here", ents, [])


# sentence pool: repeats make duplicated sentences (first-occurrence
# offsets) and token-distance ties; the short one also occurs inside a
# longer one, so its find() offset lands in another sentence
SENTENCES = [
    "aspirin induced headache in rats.",
    "aspirin induced headache in rats.",
    "headache was seen.",
    "the aspirin group had no headache at all.",
    "aspirin was given to the group over a very long period of many weeks before headache.",
    "headache was reported by the group over a very long period of many weeks before aspirin.",
    "aspirin was given.",
    "filler text here.",
    "was seen.",
    "headache and aspirin and headache.",
]


@st.composite
def evidence_case(draw):
    sents = draw(st.lists(st.sampled_from(SENTENCES), min_size=1, max_size=12))
    text = " ".join(sents)

    def occurrences(word):
        out, i = [], text.find(word)
        while i >= 0:
            out.append((i, i + len(word)))
            i = text.find(word, i + 1)
        return out

    cpos, dpos = occurrences("aspirin"), occurrences("headache")
    if not cpos or not dpos:
        cpos = cpos or [(0, 3)]
        dpos = dpos or [(len(text) - 3, len(text))]
    # a subset of the mentions, order kept (mention index = tie order)
    cpos = [p for p in cpos if draw(st.booleans())] or cpos[:1]
    dpos = [p for p in dpos if draw(st.booleans())] or dpos[-1:]
    return dict(
        text=text,
        chem=draw(st.sampled_from(["C1", "D910001", "D000000000000001"])),
        dis=draw(st.sampled_from(["D1", "D010001"])),
        chem_positions=cpos, dis_positions=dpos,
        chem_text="aspirin", dis_text=draw(st.sampled_from(["headache", "absent"])),
        label=1, extract_inter=draw(st.booleans()),
        splitter=draw(st.sampled_from(["regex", "regex", "punkt"])),
    )


@settings(max_examples=400, deadline=None)
@given(evidence_case(), st.booleans())
def test_select_evidence_equals_frozen_loop(case, shared_index):
    want = OLD.select_evidence_py(**case)
    if shared_index:  # the fused stage's shape: one DocIndex per document
        doc = DocIndex(case["text"], case["splitter"])
        positions = [p for p, _ in case["chem_positions"] + case["dis_positions"]]
        got = select_evidence_py(**case, sents=doc.sents, pos_index=doc.index_for(positions))
    else:
        got = select_evidence_py(**case)
    assert got == want


@settings(max_examples=300, deadline=None)
@given(evidence_case(), st.lists(st.integers(-3, 400), max_size=20))
def test_build_pos_index_equals_frozen_scan(case, extra):
    sents = SPLITTERS[case["splitter"]](case["text"])
    positions = [p for p, _ in case["chem_positions"]] + extra
    assert build_pos_index(sents, positions) == OLD.build_pos_index(sents, positions)


def test_sentence_distance_tie_takes_the_earlier_sentence():
    # chem alone in sentence 2, dis alone in sentences 0 and 4: both one
    # window apart; the reference's nested scan keeps the first (0, 2)
    text = "headache one. f two. aspirin three. f four. headache five."
    case = dict(
        text=text, chem="C1", dis="D1",
        chem_positions=[(text.find("aspirin"), text.find("aspirin") + 7)],
        dis_positions=[(0, 8), (text.rfind("headache"), text.rfind("headache") + 8)],
        chem_text="aspirin", dis_text="headache", label=0,
    )
    row = select_evidence_py(**case)
    assert row == OLD.select_evidence_py(**case)
    assert row["evidence_type"] == "inter_window" and row["sent_pos"] == 0
