"""In-process replay of the fused scoring stage, one span per public call.

``scoring.scorer.fused_score_docs`` runs, per Arrow batch, this sequence
for every document: mention detection -> candidate pairs -> (electra
backend: document featurization) -> sentence split (``DocIndex``) ->
evidence -> featurize per pair, then for the whole batch
the ELECTRA document forward (electra backend only, in chunks of 8
documents) and one decision call.  The replay calls the same functions
in the same order on a sample of pages, with a span around each call.
Per-document spans carry the page URL as trace id; the batch-level
encoder and decision spans carry the batch id.

The decision is timed at ``scorer._score_rows``, the kernel both public
scorer entries (``score_pairs`` and ``fused_score_docs``) call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from relation_extraction_cdr_spark.operators.evidence import DocIndex, select_evidence_py
from relation_extraction_cdr_spark.operators.features import featurize_py, fulltext_featurize_py
from relation_extraction_cdr_spark.operators.mentions import detect_mentions_py
from relation_extraction_cdr_spark.scoring import electra as E
from relation_extraction_cdr_spark.scoring.scorer import _score_rows

from spans import Tracer

ELECTRA_CHUNK = 8  # scorer._fullsample_margins batch size


def encoder_gflop(cfg: E.ElectraConfig, b: int, t: int) -> float:
    """Multiply-adds x2 of one ``encoder_forward`` over a [b, t] batch."""
    h, i = cfg.hidden_size, cfg.intermediate_size
    proj = 2 * t * cfg.embedding_size * h if cfg.embedding_size != h else 0
    per_layer = 2 * t * h * (3 * h) + 2 * 2 * t * t * h + 2 * t * h * h + 2 * 2 * t * h * i
    return b * (proj + cfg.num_hidden_layers * per_layer) / 1e9


def _inventory(mentions: list[dict]) -> list[dict]:
    """Entity inventory with last-mention-wins rep text, as the fused
    stage builds it from ``detect_mentions_py`` output."""
    inv: dict[str, dict] = {}
    for m in mentions:
        e = inv.setdefault(
            m["mesh_id"],
            {"mesh_id": m["mesh_id"], "type": m["type"], "positions": [],
             "rep_text": m["mention_text"], "_last": -1},
        )
        e["positions"].append({"start": m["start"], "end": m["end"]})
        if m["start"] > e["_last"]:
            e["rep_text"] = m["mention_text"]
            e["_last"] = m["start"]
    return list(inv.values())


def replay(docs: list[tuple[str, str]], gazetteer: dict, max_term_words: int,
           backend: str, tracer: Tracer) -> dict:
    """Replays one batch of (url, text) documents; returns the counters."""
    n = dict(docs=0, mentions=0, pairs=0, evidence_none=0, features_none=0,
             encode_calls=0, tokens=0, scored=0, positives=0,
             tokens_encoded=0, tokens_pooled=0, gflop=0.0, weights_init_s=0.0)
    use_electra = backend == "electra"
    w = None
    if use_electra:
        with tracer.span("electra.weights_init", "setup") as s:
            w = E.resolve_weights(E.DEFAULT_CONFIG, 0)
        n["weights_init_s"] = s.end - s.start
    feat_rows: list[dict] = []
    fulltext_rows: list[dict] = []
    for url, text in docs:
        n["docs"] += 1
        with tracer.span("doc", url):
            with tracer.span("mentions", url):
                ms = detect_mentions_py(text, gazetteer, max_term_words)
            n["mentions"] += len(ms)
            ents = _inventory(ms)
            chems = [e for e in ents if e["type"] == "Chemical"]
            diss = [e for e in ents if e["type"] == "Disease"]
            if not chems or not diss:
                continue
            with tracer.span("candidates", url):
                pairs = [(c, d) for c in chems for d in diss]
            n["pairs"] += len(pairs)
            if use_electra:
                with tracer.span("features.fulltext", url):
                    ft = fulltext_featurize_py(text, ents, [])
                n["encode_calls"] += 1
                if ft is not None:
                    fulltext_rows.append({"url": url, **ft})
            with tracer.span("evidence.split", url):
                doc = DocIndex(text, "regex")
            for c, d in pairs:
                cpos = [(int(p["start"]), int(p["end"])) for p in c["positions"]]
                dpos = [(int(p["start"]), int(p["end"])) for p in d["positions"]]
                with tracer.span("evidence.select", url):
                    ev = select_evidence_py(
                        text, c["mesh_id"], d["mesh_id"], cpos, dpos,
                        c["rep_text"], d["rep_text"], 0,
                        extract_inter=True, sents=doc.sents,
                        pos_index=doc.index_for([p for p, _ in cpos] + [p for p, _ in dpos]),
                    )
                if ev is None:
                    n["evidence_none"] += 1
                    continue
                with tracer.span("features", url):
                    feat = featurize_py(
                        ev["sentence"], ev["sent_pos"] or 0,
                        c["mesh_id"], d["mesh_id"],
                        ev["chem_start"], ev["chem_end"],
                        ev["dis_start"], ev["dis_end"],
                    )
                n["encode_calls"] += 1
                if feat is None:
                    n["features_none"] += 1
                    continue
                n["tokens"] += len(feat["token_ids"])
                feat_rows.append(
                    {"url": url, "chem_mesh": c["mesh_id"], "dis_mesh": d["mesh_id"],
                     "label": 0, "evidence_type": ev["evidence_type"], **feat}
                )
    if not feat_rows:
        return n
    fdf = pd.DataFrame(feat_rows)
    if use_electra:
        scored_keys = set(zip(fdf["url"], fdf["chem_mesh"], fdf["dis_mesh"]))
        margins = _electra_margins(w, fulltext_rows, scored_keys, tracer, n)
        fdf = fdf.assign(
            enc_logit=[margins.get(k, float("nan"))
                       for k in zip(fdf["url"], fdf["chem_mesh"], fdf["dis_mesh"])]
        )
    with tracer.span("scorer.decision", "batch"):
        out = _score_rows(fdf)
    n["scored"] += len(out)
    n["positives"] += int(out["pred"].sum())
    return n


def _electra_margins(w, rows: list[dict], scored_keys: set, tracer: Tracer, n: dict) -> dict:
    """``electra.full_sample_forward`` split at its public calls: pad and
    encode a chunk, pool each document's pairs, run the pair head."""
    out: dict[tuple[str, str, str], float] = {}
    for lo in range(0, len(rows), ELECTRA_CHUNK):
        chunk = rows[lo : lo + ELECTRA_CHUNK]
        ll = max(len(r["labels"]) for r in chunk)
        with tracer.span("electra.encoder", f"batch/{lo}"):
            ids, att, msk = E.pad_stack([r["token_ids"] for r in chunk],
                                        [r["entity_mask"] for r in chunk])
            hidden = E.encoder_forward(w, ids, att)
        b, t = ids.shape
        n["tokens_encoded"] += b * t
        n["gflop"] += encoder_gflop(w.config, b, t)
        with tracer.span("electra.pool", f"batch/{lo}"):
            pooled = np.stack([
                E.pool_pairs_one(hidden[j], msk[j], r["chem_codes"], r["dis_codes"], ll)
                for j, r in enumerate(chunk)
            ])
        with tracer.span("electra.head", f"batch/{lo}"):
            logits = E.pair_head(w, pooled.reshape(b * ll, -1)).reshape(b, ll, 2)
        h2 = pooled.shape[-1]
        n["gflop"] += 2 * b * ll * (h2 * w.p["head.dense.w"].shape[1] + w.p["head.out.w"].size) / 1e9
        for j, r in enumerate(chunk):
            useful: set[int] = set()
            k = 0
            for ci, cm in zip(r["chem_codes"], r["chem_meshes"]):
                for di, dm in zip(r["dis_codes"], r["dis_meshes"]):
                    key = (r["url"], cm, dm)
                    out[key] = float(logits[j, k, 1] - logits[j, k, 0])
                    if key in scored_keys:
                        useful.update((ci, di))
                    k += 1
            real = msk[j][att[j] > 0]
            n["tokens_pooled"] += int(np.isin(real, list(useful)).sum())
    return out
