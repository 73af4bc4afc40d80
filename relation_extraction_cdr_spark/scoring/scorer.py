"""Relation scorer (SURVEY §2.9 M1-M3).

The reference scores each candidate pair with an ELECTRA encoder + entity
-pair head (electra_model.py:563-734): one encoder pass per document
scores all its pairs (the ``is_full_sample`` shape at :711-734).  Real
model weights are not shipped with this engine; scoring is pluggable:

- ``StubScorer`` (default, CI): deterministic, model-free — consumes
  exactly the feature tensors a real model would (token_ids +
  entity_mask + pair codes) and emits logits-like probabilities.  Its
  decision rule: positive iff a causal trigger token ("induc*") occurs
  between the two entity spans of the evidence.  This keeps the entire
  distributed plan (batching, masks, span gathers) real while the matrix
  multiply is faked.
- ``electra``: the exact reference architecture in numpy
  (scoring/electra.py) with seeded or converted weights per executor.

Batch shape: Arrow batches via ``mapInPandas``; per-batch numpy span
gathers (the segment-mean pooling of electra_model.py:618-641 would
operate on the same gathered indices).  Before scoring, the pipeline
salts-and-repartitions on xxhash64(url, chem, dis) so one pathologically
long document's pairs spread across executors (BASELINE north_star).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.tokenize import vocab_id

SCORED_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "evidence_type string, pred int, prob double"
)

# causal-trigger WordPiece ids; vocab_id (not piece_to_id) so an
# out-of-vocab surface form can never alias to [UNK] and make every
# unknown token a trigger.  "induces" max-munches to induce+##s, so the
# in-vocab stems cover all inflections the corpus generator emits.
_TRIGGER_IDS = frozenset(
    tid
    for w in ("induc", "induce", "induced", "induces", "inducing")
    if (tid := vocab_id(w)) is not None
)


def _stable_jitter(key: str) -> float:
    """Deterministic per-pair jitter in [0, 0.05) for realistic-looking,
    reproducible probabilities."""
    h = int.from_bytes(hashlib.md5(key.encode()).digest()[:4], "big")
    return (h % 10_000) / 200_000.0


_TRIGGER_ARR = np.fromiter(sorted(_TRIGGER_IDS), np.int64, len(_TRIGGER_IDS))


def _score_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch scorer over feature rows — fully vectorized (numpy segment
    ops over the ragged token arrays; no per-row python array scans):

    - per-row chem/dis span extents via ``minimum.at``/``maximum.at``
      scatter-reductions on the concatenated mask,
    - the causal-trigger test ("induc*" token strictly BETWEEN the two
      entity spans) as one ``isin`` + interval mask + ``bincount`` over
      the concatenated ids — semantics identical to the original
      per-row loop (pytest-pinned outputs unchanged)."""
    cols = [c.split(" ")[0] for c in SCORED_SCHEMA.split(", ")]
    n = len(pdf)
    if n == 0:
        return pd.DataFrame(columns=cols)
    tok_list = pdf["token_ids"].tolist()
    msk_list = pdf["entity_mask"].tolist()
    lens = np.fromiter((len(x) for x in tok_list), np.int64, n)
    total = int(lens.sum())
    offs = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    flat_ids = (
        np.concatenate([np.asarray(x, np.int64) for x in tok_list])
        if total
        else np.zeros(0, np.int64)
    )
    flat_msk = (
        np.concatenate([np.asarray(x, np.int64) for x in msk_list])
        if total
        else np.zeros(0, np.int64)
    )
    row_of = np.repeat(np.arange(n), lens)
    pos = np.arange(total) - offs[row_of]

    ccodes = pdf["chem_code"].to_numpy(np.int64)
    dcodes = pdf["dis_code"].to_numpy(np.int64)
    is_c = flat_msk == ccodes[row_of]
    is_d = flat_msk == dcodes[row_of]

    def _extents(sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        mn = np.full(n, np.iinfo(np.int64).max)
        mx = np.full(n, -1)
        np.minimum.at(mn, row_of[sel], pos[sel])
        np.maximum.at(mx, row_of[sel], pos[sel])
        return mn, mx

    cmin, cmax = _extents(is_c)
    dmin, dmax = _extents(is_d)
    has = (cmax >= 0) & (dmax >= 0)
    # span gather window: strictly between min(maxes) and max(mins)
    lo = np.minimum(cmax, dmax)
    hi = np.maximum(cmin, dmin)
    trig_elem = (
        np.isin(flat_ids, _TRIGGER_ARR)
        & (pos > lo[row_of])
        & (pos < hi[row_of])
        & has[row_of]
    )
    trig_row = np.bincount(row_of[trig_elem], minlength=n) > 0
    ev_ok = pdf["evidence_type"].isin(("intra", "inter_fartoken")).to_numpy()
    pred = (has & trig_row & ev_ok).astype(np.int64)

    jit = np.fromiter(
        (
            _stable_jitter(f"{u}|{c}|{d}")
            for u, c, d in zip(pdf["url"], pdf["chem_mesh"], pdf["dis_mesh"])
        ),
        np.float64,
        n,
    )
    prob = np.where(pred == 1, 0.9, 0.05) + jit
    if "enc_logit" in pdf.columns:
        # numpy-encoder backend: the encoder logit deterministically
        # modulates the probability tail (decision unchanged)
        enc = pdf["enc_logit"].to_numpy(np.float64)
        prob = prob + np.where(np.isnan(enc), 0.0, 1e-9 * np.tanh(enc))
    return pd.DataFrame(
        {
            "url": pdf["url"].values,
            "chem_mesh": pdf["chem_mesh"].values,
            "dis_mesh": pdf["dis_mesh"].values,
            "label": pdf["label"].astype("int64").to_numpy(),
            "evidence_type": pdf["evidence_type"].values,
            "pred": pred,
            "prob": prob,
        },
        columns=cols,
    )


def score_pairs(features: DataFrame, backend: str = "stub") -> DataFrame:
    """features (FEATURES_SCHEMA) -> scored pairs (SCORED_SCHEMA).

    backend="electra" runs the EXACT reference architecture
    (scoring/electra.py: embeddings -> 12-layer encoder -> first-token
    span pooling -> concat -> dense/gelu/out_proj) with seeded weights
    per executor — here in the NON-full-sample shape (one padded
    sequence per candidate row, the train_sentence entry point,
    electra_model.py:676-690), matching this modular path's row-level
    input; the fused doc-level path (fused_score_docs) uses the
    is_full_sample document-level forward instead.  The emitted
    DECISION stays the deterministic trigger rule (CI needs exact P/R
    without real checkpoint weights) while the real head logit
    modulates the probability tail — identical plumbing to what loading
    converted weights via ElectraWeights.load_npz would score with.
    For raw logits as the output (the kernel made load-bearing), see
    ``score_fulltext``."""
    use_electra = backend == "electra"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_electra and len(pdf):
                pdf = pdf.assign(enc_logit=_electra_margins(pdf))
            yield _score_rows(pdf)

    return features.mapInPandas(run, schema=SCORED_SCHEMA)


def _electra_weights():
    """Executor-global exact-architecture weights (seeded, deterministic
    — electra.resolve_weights memoizes per process, the same
    lazy-init-once pattern a broadcast ONNX session uses)."""
    from .electra import DEFAULT_CONFIG, resolve_weights

    return resolve_weights(DEFAULT_CONFIG, seed=0)


FULLSAMPLE_SCHEMA = (
    "url string, chem_mesh string, dis_mesh string, label int, "
    "logit_neg double, logit_pos double, margin double"
)


def score_fulltext(
    fulltext: DataFrame,
    config=None,
    seed: int = 0,
    npz_path: str | None = None,
    batch_size: int = 8,
) -> DataFrame:
    """Document-level exact-architecture scoring: FULLTEXT_SCHEMA rows
    (operators/features.fulltext_features) -> one row per REAL pair with
    the is_full_sample logits (electra_model.py:711-734 via
    scoring/electra — ONE encoder pass per document scores ALL its
    pairs).

    Batching is ``_doc_pair_logits``'s: the emitted floats are
    BIT-IDENTICAL to the one-document-at-a-time path at any
    ``batch_size`` and any partitioning / Arrow-chunk layout (pinned by
    tests/test_electra.py::test_score_fulltext_batched_bit_identical).
    label_length is each document's own real pair count, so no pad
    pairs are ever computed.  Weights are lazy per executor from
    (config, seed) or the .npz plug point."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .electra import DEFAULT_CONFIG, resolve_weights

        w = resolve_weights(config or DEFAULT_CONFIG, seed, npz_path)
        cols = [c.split(" ")[0] for c in FULLSAMPLE_SCHEMA.split(", ")]
        empty = pd.DataFrame(columns=cols)
        for pdf in batches:
            if not len(pdf):
                yield empty
                continue
            tids = [list(x) for x in pdf["token_ids"]]
            ems = [list(x) for x in pdf["entity_mask"]]
            ccs = [list(x) for x in pdf["chem_codes"]]
            dcs = [list(x) for x in pdf["dis_codes"]]
            labels = [np.asarray(x, np.int64) for x in pdf["labels"]]
            urls = pdf["url"].to_numpy()
            cms_all = [list(x) for x in pdf["chem_meshes"]]
            dms_all = [list(x) for x in pdf["dis_meshes"]]
            frames: list[pd.DataFrame] = []
            for i, logits in _doc_pair_logits(
                w, tids, ems, ccs, dcs, [len(x) for x in labels], batch_size
            ):
                ll = len(labels[i])
                cms, dms = cms_all[i], dms_all[i]
                # vectorized output assembly: pair order matches the
                # reference's generate_code_pairs nesting (chem-major)
                margins = logits[:, 1] - logits[:, 0]  # float32, as before
                frames.append(
                    pd.DataFrame(
                        {
                            "url": np.repeat(urls[i], ll),
                            "chem_mesh": np.repeat(np.asarray(cms, object), len(dms)),
                            "dis_mesh": np.tile(np.asarray(dms, object), len(cms)),
                            "label": labels[i],
                            "logit_neg": logits[:, 0].astype(np.float64),
                            "logit_pos": logits[:, 1].astype(np.float64),
                            "margin": margins.astype(np.float64),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True) if frames else empty

    return fulltext.mapInPandas(run, schema=FULLSAMPLE_SCHEMA)


def _doc_pair_logits(w, token_ids, entity_masks, chem_codes, dis_codes, n_pairs, batch_size):
    """The is_full_sample document-level forward (electra_model.py:
    711-734) over featurized documents: yields (i, [n_pairs[i], 2]
    logits) per document i, one encoder pass per document.

    Encoder batches are EQUAL-LENGTH-GROUPED (electra.length_grouped_
    batches): documents of the same exact token length share batches of
    up to ``batch_size``, which only widens the encoder GEMMs' row
    dimension.  Pooling ([C, T] GEMM) and the pair head ([n_pairs, 2H]
    GEMM) run at the document's OWN shapes.  A document's logits are
    therefore bit-identical to scoring it alone, whatever documents
    share its batch or partition; length padding would move them (see
    length_grouped_batches)."""
    from .electra import encoder_forward, length_grouped_batches, pad_stack, pair_head, pool_pairs_one

    for sel in length_grouped_batches([len(t) for t in token_ids], batch_size):
        ids, att, msk = pad_stack([token_ids[i] for i in sel], [entity_masks[i] for i in sel])
        hidden = encoder_forward(w, ids, att)
        for j, i in enumerate(sel):
            pooled = pool_pairs_one(hidden[j], msk[j], chem_codes[i], dis_codes[i], n_pairs[i])
            yield i, pair_head(w, pooled)


def _fullsample_margins(
    fulltext_rows: list[dict], batch_size: int = 8
) -> dict[tuple[str, str, str], float]:
    """Run the is_full_sample document-level forward over featurized
    fulltext rows; returns {(url, chem_mesh, dis_mesh): margin}."""
    out: dict[tuple[str, str, str], float] = {}
    for i, logits in _doc_pair_logits(
        _electra_weights(),
        [r["token_ids"] for r in fulltext_rows],
        [r["entity_mask"] for r in fulltext_rows],
        [r["chem_codes"] for r in fulltext_rows],
        [r["dis_codes"] for r in fulltext_rows],
        [len(r["labels"]) for r in fulltext_rows],
        batch_size,
    ):
        r = fulltext_rows[i]
        k = 0
        for cm in r["chem_meshes"]:
            for dm in r["dis_meshes"]:
                out[(r["url"], cm, dm)] = float(logits[k, 1] - logits[k, 0])
                k += 1
    return out


def _electra_margins(pdf: pd.DataFrame) -> np.ndarray:
    """Real-architecture positive-class logit margin per feature row
    (the non-full-sample forward: one padded batch per micro-chunk,
    sequence_padding.py semantics)."""
    from .electra import score_candidates

    logits = score_candidates(
        _electra_weights(),
        [list(x) for x in pdf["token_ids"]],
        [list(x) for x in pdf["entity_mask"]],
        [int(x) for x in pdf["chem_code"]],
        [int(x) for x in pdf["dis_code"]],
    )
    return logits[:, 1] - logits[:, 0]


ALPS_SCHEMA = "url string, kind string, e1 string, e2 string, margin double"


def score_alps_3way(
    fulltext: DataFrame,
    config=None,
    seed: int = 0,
    head_seed: int = 2,
    batch_size: int = 8,
    npz_path: str | None = None,
) -> DataFrame:
    """ALPS 3-way tanh-head scoring (reference electra_model.py:273-411)
    over document-level features: per document, one row per exercisable
    -1 branch of the forward —

      kind 'chem_dis'   (other == -1): pool chem0 + dis0
      kind 'other_dis'  (chem == -1):  pool dis0 + other (2nd chemical
                                       standing in for the Other type)
      kind 'other_chem' (dis == -1):   pool chem0 + other (2nd disease)

    The CDR corpus has no Other-type gazetteer entries, so the 3-way
    kinds borrow the document's second entity of the opposite type as
    the deterministic stand-in — the FORWARD (run-counting mean pooling
    + branch-ordered concat + dense/tanh/out_proj) is the exact ALPS
    kernel either way, parity-pinned by
    tests/test_electra.py::test_alps_forward_parity."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .electra import (
            DEFAULT_CONFIG,
            AlpsHead,
            alps_pooled,
            length_grouped_batches,
            resolve_weights,
        )

        cfg = config or DEFAULT_CONFIG
        # encoder weights via the shared .npz plug point; the ALPS head
        # has no converted-checkpoint layout, so it stays seeded
        w = resolve_weights(cfg, seed, npz_path)
        head = AlpsHead.seeded(cfg, head_seed)
        cols = ["url", "kind", "e1", "e2", "margin"]
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                cms, dms = list(r.chem_meshes), list(r.dis_meshes)
                ccs, dcs = list(r.chem_codes), list(r.dis_codes)
                base = dict(token_ids=list(r.token_ids), mask=list(r.entity_mask))
                rows.append(
                    {**base, "url": r.url, "kind": "chem_dis",
                     "cc": ccs[0], "dc": dcs[0], "oc": -1,
                     "e1": cms[0], "e2": dms[0]}
                )
                if len(ccs) > 1:
                    rows.append(
                        {**base, "url": r.url, "kind": "other_dis",
                         "cc": -1, "dc": dcs[0], "oc": ccs[1],
                         "e1": cms[1], "e2": dms[0]}
                    )
                if len(dcs) > 1:
                    rows.append(
                        {**base, "url": r.url, "kind": "other_chem",
                         "cc": ccs[0], "dc": -1, "oc": dcs[1],
                         "e1": dms[1], "e2": cms[0]}
                    )
            out = []
            # equal-length-grouped encoder batches + per-row (M=1) head:
            # bit-identical to the one-row-at-a-time path at any
            # batch_size / partition layout (see score_fulltext)
            for sel in length_grouped_batches(
                [len(x["token_ids"]) for x in rows], batch_size
            ):
                chunk = [rows[i] for i in sel]
                pooled = alps_pooled(
                    w,
                    [x["token_ids"] for x in chunk],
                    [x["mask"] for x in chunk],
                    [x["cc"] for x in chunk],
                    [x["dc"] for x in chunk],
                    [x["oc"] for x in chunk],
                )
                for i, x in enumerate(chunk):
                    logits = head.apply(pooled[i : i + 1])[0]
                    out.append(
                        {"url": x["url"], "kind": x["kind"], "e1": x["e1"],
                         "e2": x["e2"],
                         "margin": float(logits[1] - logits[0])}
                    )
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)

    return fulltext.mapInPandas(run, schema=ALPS_SCHEMA)


def fused_score_docs(
    doc_payload: DataFrame,
    tree_map: dict[str, list[str]] | None = None,
    use_levi: bool = True,
    extract_inter: bool = True,
    gazetteer: dict[str, list[tuple[str, str]]] | None = None,
    max_term_words: int = 1,
    backend: str = "stub",
    sentence_splitter: str = "regex",
) -> DataFrame:
    """Doc-level fused stage: candidate pairs + Levi filter + evidence +
    featurize + score for ALL of a document's pairs in one pass — the
    reference's own batching shape ("one encoder pass per document scores
    all its pairs", electra_model.py:711-734 / SURVEY §3.3).

    Input: one row per document
      (url, text, entities array<struct<mesh_id, positions, rep_text,
       type>>, gold_pairs array<struct<chem_mesh, dis_mesh>> | null)

    Scale rationale: the document text crosses the shuffle and the Arrow
    boundary ONCE per document instead of once per pair — at ~3 KB/page
    and tens of pairs/page that is an order of magnitude less data
    movement than a pair-level join, and it keeps the python stage
    compute-bound (the scaling-efficiency criterion).  ``tree_map`` (the
    MeSH multimap) rides along in the UDF closure — a few MB, the same
    payload a broadcast variable would carry.

    With ``gazetteer`` set, the input payload needs only (url, text
    [, gold_pairs]) and mention detection itself runs in this same pass
    (operators.mentions.detect_mentions_py — semantics identical to the
    relational operator), making the whole pipeline a SINGLE narrow
    python stage: no token explode, no per-doc window shuffle.

    Semantically identical to the modular relational path
    (detect_mentions |> entity_inventory |> candidate_pairs |>
    label_pairs |> levi_filter |> select_evidence |> featurize |>
    score_pairs) — pytest-verified.
    """
    from ..functions.tokenize import _PIECE, piece_to_id as _pid
    from ..operators.candidates import levi_rejected_py
    from ..operators.evidence import DocIndex, select_evidence_py
    from ..operators.features import featurize_py
    from ..operators.mentions import detect_mentions_py

    tree_map = tree_map or {}
    use_encoder = backend == "numpy"
    use_electra = backend == "electra"

    def doc_encoder_logits(text: str, pair_spans):
        """One encoder pass per document (is_full_sample shape,
        electra_model.py:711-734): encode all doc tokens once, mean-pool
        each pair's mention-span hidden states, dot-product pair logits."""
        import bisect

        spans = [(m.start(), m.group(0)) for m in _PIECE.finditer(text.lower())]
        if not spans:
            return [0.0] * len(pair_spans)
        ids = np.fromiter((_pid(p) for _, p in spans), dtype=np.int64)
        starts = [s for s, _ in spans]
        hidden = _encode_doc(ids)

        def pool(char_spans):
            idxs = []
            for cs, ce in char_spans:
                lo = bisect.bisect_left(starts, cs)
                hi = bisect.bisect_left(starts, ce)
                idxs.extend(range(lo, hi))
            if not idxs:
                return None
            return hidden[idxs].mean(axis=0)

        out = []
        for cspans, dspans in pair_spans:
            c, d = pool(cspans), pool(dspans)
            out.append(float(np.dot(c, d)) if c is not None and d is not None else 0.0)
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in SCORED_SCHEMA.split(", ")]
        for pdf in batches:
            feat_rows = []
            fulltext_rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                # poison-row guard: extract_text yields NULL for pages
                # whose html strips to empty and text is NULL — skip,
                # never crash the stage (no mentions => no pairs anyway)
                if r.text is None or not r.text:
                    continue
                if gazetteer is not None:
                    inv: dict[str, dict] = {}
                    for m in detect_mentions_py(r.text, gazetteer, max_term_words):
                        e = inv.setdefault(
                            m["mesh_id"],
                            {"mesh_id": m["mesh_id"], "type": m["type"],
                             "positions": [], "rep_text": m["mention_text"],
                             "_last": -1},
                        )
                        e["positions"].append({"start": m["start"], "end": m["end"]})
                        if m["start"] > e["_last"]:  # last-mention-wins rep
                            e["rep_text"] = m["mention_text"]
                            e["_last"] = m["start"]
                    ents = list(inv.values())
                else:
                    ents = list(r.entities)
                chems = [e for e in ents if e["type"] == "Chemical"]
                diss = [e for e in ents if e["type"] == "Disease"]
                if not chems or not diss:
                    continue
                gold = (
                    [(g["chem_mesh"], g["dis_mesh"]) for g in r.gold_pairs]
                    if r.gold_pairs is not None
                    else []
                )
                gold_set = set(gold)
                pairs = [(c["mesh_id"], d["mesh_id"]) for c in chems for d in diss]
                rejected = (
                    levi_rejected_py(pairs, gold, tree_map)
                    if gold and use_levi
                    else set()
                )
                if use_electra:
                    from ..operators.features import fulltext_featurize_py

                    ft = fulltext_featurize_py(r.text, ents, gold)
                    if ft is not None:
                        fulltext_rows.append({"url": r.url, **ft})
                doc = DocIndex(r.text, sentence_splitter)
                doc_row0 = len(feat_rows)
                pair_spans = []
                for c in chems:
                    for d in diss:
                        key = (c["mesh_id"], d["mesh_id"])
                        if key in rejected:
                            continue
                        label = 1 if key in gold_set else 0
                        cpos = [(int(p["start"]), int(p["end"])) for p in c["positions"]]
                        dpos = [(int(p["start"]), int(p["end"])) for p in d["positions"]]
                        ev = select_evidence_py(
                            r.text, c["mesh_id"], d["mesh_id"], cpos, dpos,
                            c["rep_text"], d["rep_text"], label,
                            extract_inter=extract_inter, sents=doc.sents,
                            pos_index=doc.index_for(
                                [p for p, _ in cpos] + [p for p, _ in dpos]
                            ),
                        )
                        if ev is None:
                            continue
                        feat = featurize_py(
                            ev["sentence"], ev["sent_pos"] or 0,
                            c["mesh_id"], d["mesh_id"],
                            ev["chem_start"], ev["chem_end"],
                            ev["dis_start"], ev["dis_end"],
                        )
                        if feat is None:
                            continue
                        feat_rows.append(
                            {"url": r.url, "chem_mesh": c["mesh_id"],
                             "dis_mesh": d["mesh_id"], "label": label,
                             "evidence_type": ev["evidence_type"], **feat}
                        )
                        if use_encoder:
                            pair_spans.append((cpos, dpos))
                if use_encoder and pair_spans:
                    # one encoder pass for the whole document's pairs
                    for row, logit in zip(
                        feat_rows[doc_row0:], doc_encoder_logits(r.text, pair_spans)
                    ):
                        row["enc_logit"] = logit
            if feat_rows:
                fdf = pd.DataFrame(feat_rows)
                if use_electra:
                    # exact-architecture DOCUMENT-LEVEL forward (the
                    # is_full_sample shape, electra_model.py:711-734):
                    # one encoder pass per doc scores all its pairs;
                    # margins join back to the surviving feature rows
                    # by (url, chem, dis).  Pairs whose entity was
                    # truncated out of the 512-token fulltext window
                    # keep enc_logit = NaN (prob tail unmodulated).
                    margins = _fullsample_margins(fulltext_rows)
                    fdf = fdf.assign(
                        enc_logit=[
                            margins.get((u, c, d), float("nan"))
                            for u, c, d in zip(
                                fdf["url"], fdf["chem_mesh"], fdf["dis_mesh"]
                            )
                        ]
                    )
                yield _score_rows(fdf)
            else:
                yield pd.DataFrame(columns=cols)

    return doc_payload.mapInPandas(run, schema=SCORED_SCHEMA)


# ---------------------------------------------------------------------------
# numpy mini-encoder backend: models the REAL scorer's compute shape
# ---------------------------------------------------------------------------
# The production scorer is an ELECTRA encoder + entity-pair head run as
# ONNX batch inference (electra_model.py:563-734): one encoder pass per
# document scores all its pairs.  ``onnxruntime`` is not available in
# this environment, so the "numpy" backend reproduces the same compute
# shape with seeded deterministic weights: embedding lookup -> 2 dense
# tanh layers (hidden 96) over the document tokens -> mean-pooled entity
# span reps -> pair dot-product logit.  The DECISION still comes from the
# deterministic trigger rule (CI needs exact P/R), but the encoder's
# logit deterministically modulates the reported probability, and the
# FLOPs per document are representative — which is what makes throughput
# and scaling measurements meaningful.

_NP_WEIGHTS: dict | None = None
_VOCAB_MOD = 32768
_HIDDEN = 96


def _np_weights() -> dict:
    global _NP_WEIGHTS
    if _NP_WEIGHTS is None:
        rng = np.random.default_rng(42)
        _NP_WEIGHTS = {
            "emb": (rng.standard_normal((_VOCAB_MOD, _HIDDEN)) * 0.05).astype(np.float32),
            "w1": (rng.standard_normal((_HIDDEN, _HIDDEN)) * 0.1).astype(np.float32),
            "w2": (rng.standard_normal((_HIDDEN, _HIDDEN)) * 0.1).astype(np.float32),
        }
    return _NP_WEIGHTS


def _encode_doc(token_ids: np.ndarray) -> np.ndarray:
    """[T] ids -> [T, H] hidden states (the M1 analog)."""
    w = _np_weights()
    h = w["emb"][token_ids % _VOCAB_MOD]
    h = np.tanh(h @ w["w1"])
    h = np.tanh(h @ w["w2"])
    return h

