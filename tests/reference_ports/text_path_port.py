"""Literal copies of the engine's per-pair text path as it stood before
its per-token and per-mention-combination loops were removed, used ONLY
as pytest oracles for byte-identity.

- ``encode``: the string-stream tokenizer (a split pass per added
  token, BasicTokenizer per whitespace word, WordPiece per basic token,
  one ``token_to_id`` per piece), with the per-word caches dropped —
  caching never changes an output;
- ``featurize_py`` / ``fulltext_featurize_py``: the while-loop entity
  mask and the ``np.unique`` LabelEncoder, including the guard that
  drops a row whose marked text carries marker tokens other than the
  inserted ones (a literal ``[e]``/``[/e]`` in the page);
- ``select_evidence_py`` / ``build_pos_index``: the set intersection
  over every (chem mention, dis mention) combination and the linear
  sentence scan per position.

The unchanged char-class helpers and sentence splitters are imported
from the engine; everything whose shape changed is copied here.
"""

from __future__ import annotations

import numpy as np

from relation_extraction_cdr_spark.functions.wordpiece import (
    _MAX_INPUT_CHARS_PER_WORD,
    _NEVER_SPLIT,
    _SPLIT_SET,
    _SPLIT_TOKENS,
    ADDED_TOKENS,
    CLS_ID,
    E_END_ID,
    E_START_ID,
    SEP_ID,
    UNK_ID,
    VOCAB,
    _clean_text,
    _lowercase_text,
    _pad_cjk,
    _split_on_punc,
    _split_on_token,
    _strip_accents,
)
from relation_extraction_cdr_spark.operators.evidence import SPLITTERS


def _split_on_added(text: str) -> list[str]:
    frags = [text]
    for tok in _SPLIT_TOKENS:
        nxt: list[str] = []
        for frag in frags:
            if frag in _SPLIT_SET:
                nxt.append(frag)
            else:
                nxt.extend(_split_on_token(tok, frag))
        frags = nxt
    return frags


def _basic_word(token: str) -> tuple[str, ...]:
    """BasicTokenizer body for one whitespace token (do_lower_case=True,
    never_split = the special tokens)."""
    if token in _NEVER_SPLIT:
        return (token,)
    token = _strip_accents(token.lower())
    return tuple(_split_on_punc(token))


def basic_tokenize(text: str) -> list[str]:
    """BasicTokenizer.tokenize: clean, CJK-pad, whitespace-split,
    lower+strip-accents, punctuation-split."""
    text = _pad_cjk(_clean_text(text))
    out: list[str] = []
    for token in text.split():
        out.extend(_basic_word(token))
    return [t for t in out if t]


def wordpiece(token: str) -> tuple[str, ...]:
    """Greedy longest-match-first WordPiece of one basic token."""
    if len(token) > _MAX_INPUT_CHARS_PER_WORD:
        return ("[UNK]",)
    pieces: list[str] = []
    start = 0
    n = len(token)
    while start < n:
        end = n
        cur = None
        while start < end:
            sub = token[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in VOCAB:
                cur = sub
                break
            end -= 1
        if cur is None:
            return ("[UNK]",)
        pieces.append(cur)
        start = end
    return tuple(pieces)


def tokenize(text: str) -> list[str]:
    """text -> WordPiece tokens, exactly ``tokenizer.tokenize(text)`` of
    the reference's pickled ElectraTokenizer (transformers 2.11)."""
    text = _lowercase_text(text)
    if not text.strip():
        return []
    out: list[str] = []
    for frag in _split_on_added(text):
        if frag in _SPLIT_SET:
            out.append(frag)
        else:
            for word in basic_tokenize(frag):
                out.extend(wordpiece(word))
    return out


def token_to_id(token: str) -> int:
    """Single token -> id (added tokens first, then vocab, else [UNK] —
    transformers' _convert_token_to_id_with_added_voc)."""
    tid = ADDED_TOKENS.get(token)
    if tid is not None:
        return tid
    return VOCAB.get(token, UNK_ID)


def convert_tokens_to_ids(tokens: list[str]) -> list[int]:
    return [token_to_id(t) for t in tokens]


def encode(text: str) -> list[int]:
    """``tokenizer.encode(text)``: [CLS] + ids + [SEP] (add_special_tokens
    defaults True in transformers 2.11; the reference relies on it,
    cdr_dataset.py:124-127)."""
    return [CLS_ID, *convert_tokens_to_ids(tokenize(text)), SEP_ID]


def featurize_py(
    sentence: str,
    sent_pos: int,
    chem_mesh: str,
    dis_mesh: str,
    chem_start: int,
    chem_end: int,
    dis_start: int,
    dis_end: int,
    use_entity_token: bool = True,
    max_len: int = 512,
) -> dict | None:
    """Single-row reference implementation (pytest oracle)."""
    cs, ce = chem_start - sent_pos, chem_end - sent_pos
    ds, de = dis_start - sent_pos, dis_end - sent_pos
    if cs > ds:
        t = sentence[:cs] + " [E] " + sentence[cs:ce] + " [/E] " + sentence[ce:]
        t = t[:ds] + " [E] " + t[ds:de] + " [/E] " + t[de:]
        first, second = dis_mesh, chem_mesh
    else:
        t = sentence[:ds] + " [E] " + sentence[ds:de] + " [/E] " + sentence[de:]
        t = t[:cs] + " [E] " + t[cs:ce] + " [/E] " + t[ce:]
        first, second = chem_mesh, dis_mesh
    ids = encode(t)
    if len(ids) > max_len:
        return None
    if [x for x in ids if x in (E_START_ID, E_END_ID)] != [E_START_ID, E_END_ID] * 2:
        return None
    mask: list[str] = []
    i = 0
    ent = 0
    while i < len(ids):
        if ids[i] != E_START_ID:
            mask.append("O")
            i += 1
        else:
            code = first if ent == 0 else second
            if use_entity_token:
                mask.append(code)
            i += 1
            while i < len(ids) and ids[i] != E_END_ID:
                mask.append(code)
                i += 1
            if use_entity_token:
                mask.append(code)
            ent += 1
            i += 1
    if not use_entity_token:
        ids = [x for x in ids if x not in (E_START_ID, E_END_ID)]
    # LabelEncoder: dense rank over lexicographically sorted classes
    classes, enc = np.unique(np.array(mask, dtype=object), return_inverse=True)
    lookup = {c: j for j, c in enumerate(classes)}
    if chem_mesh not in lookup or dis_mesh not in lookup:
        # pathological offsets (e.g. a find()-failure span from the
        # reproduced inter_window quirk) can corrupt a marker so an
        # entity never lands in the mask — drop the row like the other
        # guards do, never KeyError inside the executor task
        return None
    return dict(
        token_ids=ids,
        entity_mask=[int(x) for x in enc],
        chem_code=int(lookup[chem_mesh]),
        dis_code=int(lookup[dis_mesh]),
    )


def fulltext_featurize_py(
    text: str,
    entities: list[dict],
    gold_pairs: list[tuple[str, str]],
    use_entity_token: bool = True,
    max_len: int = 512,
) -> dict | None:
    """The document-level (is_full_sample) example builder — reference
    ``make_example_fulltext`` (cdr_dataset.py:449-545) semantics:

    - EVERY mention of EVERY entity is marker-wrapped, sorted by start,
      inserted in reverse so earlier offsets stay valid (W1/W2)
    - tokenize the whole marked document; if > max_len ids, truncate to
      the window then cut BACK to just after the last [/e] inside it
      (W5, cdr_dataset.py:477-481; a window with no [/e] drops the doc
      — the reference would IndexError on ``e_end_last_idx[-1]``)
    - mask: 'O' outside marker spans, the entity's mesh code inside
      (markers included iff use_entity_token; with False the marker ids
      are filtered from the token list, cdr_dataset.py:506-507)
    - chem/dis code lists: the doc's codes of that type FILTERED to
      those present in the (possibly truncated) mask, chem in entity
      order, dis deduped preserving first-appearance order
      (cdr_dataset.py:519-530); labels follow the same chem-outer /
      dis-inner cross order, 1 iff the pair is in ``gold_pairs``
    - LabelEncoder over the mask strings (dense rank of sorted distinct
      values) re-encodes mask + both code lists (cdr_dataset.py:533-535)

    Returns token_ids / entity_mask / encoded code lists / labels plus
    the mesh-id lists in pair order (so logits can be joined back).
    """
    entities_pos = []
    for e in entities:
        for p in e["positions"]:
            entities_pos.append(
                {"code": e["mesh_id"], "start": int(p["start"]), "end": int(p["end"])}
            )
    if not entities_pos:
        return None
    entities_pos.sort(key=lambda p: p["start"])
    t = text
    for p in reversed(entities_pos):
        s, e_ = p["start"], p["end"]
        t = t[:s] + " [E] " + t[s:e_] + " [/E] " + t[e_:]
    ids = encode(t)
    if [x for x in ids if x in (E_START_ID, E_END_ID)] != [E_START_ID, E_END_ID] * len(entities_pos):
        return None
    if len(ids) > max_len:
        subset = ids[:max_len]
        last_end = -1
        for i, x in enumerate(subset):
            if x == E_END_ID:
                last_end = i
        if last_end < 0:
            return None
        ids = subset[: last_end + 1]
    mask: list[str] = []
    i = 0
    span = 0
    while i < len(ids):
        if ids[i] != E_START_ID:
            mask.append("O")
            i += 1
        else:
            code = entities_pos[span]["code"]
            if use_entity_token:
                mask.append(code)
            i += 1
            while i < len(ids) and ids[i] != E_END_ID:
                mask.append(code)
                i += 1
            if use_entity_token:
                mask.append(code)
            span += 1
            i += 1
    if not use_entity_token:
        ids = [x for x in ids if x not in (E_START_ID, E_END_ID)]
    present = set(mask)
    # one entity per mesh_id (the reference inventory is a dict keyed by
    # mesh_id, so duplicates cannot exist there; caller-supplied entity
    # lists CAN repeat an id — last type wins, like the dict overwrite —
    # and the ordered dedup keeps labels aligned with the
    # chem_meshes × dis_meshes pair order the scorer reconstructs)
    types: dict[str, str] = {}
    ordered_ids: list[str] = []
    for e in entities:
        if e["mesh_id"] not in types:
            ordered_ids.append(e["mesh_id"])
        types[e["mesh_id"]] = e["type"]
    chem_all = [m for m in ordered_ids if types[m] == "Chemical"]
    dis_all = [m for m in ordered_ids if types[m] == "Disease"]
    gold = set(gold_pairs)
    chem_meshes: list[str] = []
    dis_meshes: list[str] = []
    labels: list[int] = []
    for c in chem_all:
        if c in present:
            chem_meshes.append(c)
            for d in dis_all:
                if d in present:
                    if d not in dis_meshes:
                        dis_meshes.append(d)
                    labels.append(1 if (c, d) in gold else 0)
    if not chem_meshes or not dis_meshes:
        return None
    classes, enc = np.unique(np.array(mask, dtype=object), return_inverse=True)
    lookup = {c: j for j, c in enumerate(classes)}
    return dict(
        token_ids=[int(x) for x in ids],
        entity_mask=[int(x) for x in enc],
        chem_codes=[int(lookup[c]) for c in chem_meshes],
        dis_codes=[int(lookup[d]) for d in dis_meshes],
        labels=labels,
        chem_meshes=chem_meshes,
        dis_meshes=dis_meshes,
    )


def _token_distance(chem_code: str, chem_start: int, dis_code: str,
                    dis_start: int, sent: str, sent_start: int) -> int:
    # earlier entity's END computed with the length of its MESH CODE
    # (reference quirk, text_utils.py:13-14)
    if chem_start < dis_start:
        pos_start, pos_end = chem_start + len(chem_code), dis_start
    else:
        pos_start, pos_end = dis_start + len(dis_code), chem_start
    return len(sent[pos_start - sent_start : pos_end - sent_start].split(" "))


def build_pos_index(sents: list[dict], positions: list[int]) -> dict[int, list[int]]:
    """pos -> ordered list of sentence idxs whose [start, start+len-1]
    span contains pos (duplicated sentences located at their first
    occurrence can contain the same position more than once — exactly
    the reference's per-sentence scan)."""
    out: dict[int, list[int]] = {p: [] for p in positions}
    for s in sents:
        lo, hi = s["start"], s["start"] + len(s["text"]) - 1
        for p in positions:
            if lo <= p <= hi:
                out[p].append(s["idx"])
    return out


def select_evidence_py(
    text: str,
    chem: str,
    dis: str,
    chem_positions: list[tuple[int, int]],
    dis_positions: list[tuple[int, int]],
    chem_text: str,
    dis_text: str,
    label: int,
    extract_inter: bool = True,
    sents: list[dict] | None = None,
    pos_index: dict[int, list[int]] | None = None,
    splitter: str = "regex",
) -> dict | None:
    """Single-pair reference implementation (also the pytest oracle).

    ``pos_index`` (optional): a per-document position->sentence-idx index
    shared across all pairs of the document — turns the per-pair cost
    from O(sentences x Mc x Md) into O(Mc x Md).  Candidates are sorted
    by (sentence idx, chem mention idx, dis mention idx) to reproduce the
    reference's loop order (ties resolved by first-encountered,
    text_utils.py:149 list.index(min)).
    """
    if sents is None:
        sents = SPLITTERS[splitter](text)
    by_idx = {s["idx"]: s for s in sents}
    if pos_index is None:
        pos_index = build_pos_index(
            sents,
            sorted({p for p, _ in chem_positions} | {p for p, _ in dis_positions}),
        )
    intra, intra_d = [], []
    far, far_d = [], []
    chem_sent_idx: list[int] = []
    dis_sent_idx: list[int] = []
    cands = []  # (sent_idx, cp_idx, dp_idx, ...)
    for ci, (cs, ce) in enumerate(chem_positions):
        c_sents = set(pos_index[cs])
        for di_, (ds, de) in enumerate(dis_positions):
            d_sents = set(pos_index[ds])
            for i in c_sents & d_sents:
                cands.append((i, ci, di_, cs, ce, ds, de))
            for i in c_sents - d_sents:
                chem_sent_idx.append(i)
            for i in d_sents - c_sents:
                dis_sent_idx.append(i)
    for i, _ci, _di, cs, ce, ds, de in sorted(cands):
        s = by_idx[i]
        sent, sent_start = s["text"], s["start"]
        td = _token_distance(chem, cs, dis, ds, sent, sent_start)
        row = dict(
            sentence=sent, sent_pos=sent_start,
            chem_start=cs, chem_end=ce, dis_start=ds, dis_end=de,
        )
        if td < 10:
            intra.append(row)
            intra_d.append(td)
        else:
            far.append(row)
            far_d.append(td)
    if intra:
        best = intra[intra_d.index(min(intra_d))]
        return dict(label=label, evidence_type="intra", **best)
    if not extract_inter:
        # document-level fallback (text_utils.py:146-147: the pair is
        # STILL scored over the whole document).  The reference's global
        # path marks every mention of every entity (make_example,
        # cdr_dataset.py:102-127); this engine's per-pair featurizer
        # marks one span per entity, so the FIRST mention of each is
        # emitted as the document-absolute span — documented divergence,
        # chosen over silently losing the pair
        cs, ce = min(chem_positions)
        ds, de = min(dis_positions)
        return dict(
            label=label, evidence_type="global", sentence=text, sent_pos=None,
            chem_start=cs, chem_end=ce, dis_start=ds, dis_end=de,
        )
    if far:
        best = far[far_d.index(min(far_d))]
        return dict(label=label, evidence_type="inter_fartoken", **best)
    # nearest sentence-pair window (text_utils.py:114-143)
    c_idx = sorted(set(chem_sent_idx))
    d_idx = sorted(set(dis_sent_idx))
    min_distance, start_sentence, end_sentence = 10000, 0, 0
    for ci in c_idx:
        for di in d_idx:
            if abs(ci - di) < min_distance:
                min_distance = abs(ci - di)
                start_sentence, end_sentence = min(ci, di), max(ci, di)
    if min_distance <= 3 and c_idx and d_idx:
        s0, s1 = by_idx[start_sentence], by_idx[end_sentence]
        # the splitter contract stores start = text.find(sent) on every
        # sentence dict (functions/text.py:82), so reuse it instead of
        # re-scanning the document up to three times per pair
        start_pos = s0["start"]
        s1_start = s1["start"]
        end_pos = s1_start + len(s1["text"])
        window = text[start_pos:end_pos]
        cstart = s0["text"].find(chem_text)
        dstart = s1["text"].find(dis_text)
        if cstart == -1 or dstart == -1:
            cstart = s1["text"].find(chem_text) + s1_start
            dstart = s0["text"].find(dis_text) + start_pos
        else:
            cstart += start_pos
            dstart += s1_start
        return dict(
            label=label, evidence_type="inter_window", sentence=window,
            sent_pos=start_pos,
            chem_start=cstart, chem_end=cstart + len(chem_text),
            dis_start=dstart, dis_end=dstart + len(dis_text),
        )
    return None
