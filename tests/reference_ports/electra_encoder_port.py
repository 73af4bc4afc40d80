"""Frozen copy of ``scoring/electra.py``'s ``encoder_forward`` as it was
before the encoder computed its elementwise steps in place, with the
helpers it called.

The engine's in-place ``encoder_forward`` must stay ``np.array_equal`` to
this one under the same BLAS kernel: the same operations in the same
order, only without the extra temporaries.  Do not edit.
"""

from __future__ import annotations

import numpy as np


def _erf(x: np.ndarray) -> np.ndarray:
    """Vectorized erf, Abramowitz & Stegun 7.1.26 (|err| <= 1.5e-7)."""
    sign = np.sign(x)
    x = np.abs(x)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    return sign * (1.0 - poly * np.exp(-x * x))


def gelu(x: np.ndarray) -> np.ndarray:
    """transformers.activations.gelu: x * 0.5 * (1 + erf(x / sqrt 2))."""
    return x * 0.5 * (1.0 + _erf(x / np.sqrt(2.0)))


def layer_norm(x: np.ndarray, w: np.ndarray, b: np.ndarray, eps: float) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps) * w + b


def softmax(x: np.ndarray) -> np.ndarray:
    e = np.exp(x - x.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


def encoder_forward(
    w, input_ids: np.ndarray, attention_mask: np.ndarray | None = None
) -> np.ndarray:
    """[B, T] int ids (+ [B, T] 0/1 mask) -> [B, T, hidden] float32.

    The M1 operator: ElectraEmbeddings -> embeddings_project ->
    BertEncoder stack, faithful to the transformers-2.11 modules the
    reference instantiates (electra_model.py:509-521 call order)."""
    c = w.config
    p = w.p
    B, T = input_ids.shape
    if attention_mask is None:
        attention_mask = np.ones((B, T), np.float32)

    h = (
        p["emb.word"][input_ids]
        + p["emb.pos"][np.arange(T)][None, :, :]
        + p["emb.type"][0][None, None, :]
    )
    h = layer_norm(h, p["emb.ln.w"], p["emb.ln.b"], c.layer_norm_eps)
    if "proj.w" in p:
        h = h @ p["proj.w"] + p["proj.b"]

    # get_extended_attention_mask: (1 - m) * -10000, broadcast over heads
    ext = ((1.0 - attention_mask.astype(np.float32)) * -10000.0)[:, None, None, :]

    nh = c.num_attention_heads
    dh = c.hidden_size // nh

    def split_heads(x):  # [B,T,H] -> [B,nh,T,dh]
        return x.reshape(B, T, nh, dh).transpose(0, 2, 1, 3)

    for i in range(c.num_hidden_layers):
        q = split_heads(h @ p[f"l{i}.q.w"] + p[f"l{i}.q.b"])
        k = split_heads(h @ p[f"l{i}.k.w"] + p[f"l{i}.k.b"])
        v = split_heads(h @ p[f"l{i}.v.w"] + p[f"l{i}.v.b"])
        scores = q @ k.transpose(0, 1, 3, 2) / np.sqrt(dh) + ext
        ctx = softmax(scores) @ v  # [B,nh,T,dh]
        ctx = ctx.transpose(0, 2, 1, 3).reshape(B, T, c.hidden_size)
        attn = layer_norm(
            ctx @ p[f"l{i}.ao.w"] + p[f"l{i}.ao.b"] + h,
            p[f"l{i}.aln.w"], p[f"l{i}.aln.b"], c.layer_norm_eps,
        )
        inter = gelu(attn @ p[f"l{i}.i.w"] + p[f"l{i}.i.b"])
        h = layer_norm(
            inter @ p[f"l{i}.o.w"] + p[f"l{i}.o.b"] + attn,
            p[f"l{i}.oln.w"], p[f"l{i}.oln.b"], c.layer_norm_eps,
        )
    return h
