"""Extract the WordPiece vocabulary from the reference's pickled
ELECTRA tokenizer into a plain one-token-per-line vocab file.

The reference ships ``models_saved/electra_small_tokenizer.pkl``
(utils/trainer_utils.py:9-18): a pickled ``transformers==2.11``
``ElectraTokenizer`` for the public ``google/electra-small-discriminator``
checkpoint (the standard 30,522-entry bert-base-uncased WordPiece vocab)
with ``[E]``/``[/E]`` added as extra tokens (stored lowercased as
``[e]``=30522 / ``[/e]``=30523 because do_lower_case=True).

``transformers`` is not a dependency of this engine, so the pickle is
read with a stubbed Unpickler that materializes the plain-data attributes
(vocab OrderedDict, added_tokens_encoder) without importing the class.
The emitted ``electra_vocab.txt`` is the standard BERT vocab format:
line i (0-based) = the token with id i; added tokens stay code-side
(functions/wordpiece.py) because their split semantics differ from vocab
entries.

Usage:  python scripts/extract_vocab.py [pickle_path] [out_path]
"""

from __future__ import annotations

import pickle
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from relation_extraction_cdr_spark.refdata import reference_path  # noqa: E402

DEFAULT_PKL = str(reference_path("models_saved/electra_small_tokenizer.pkl"))
DEFAULT_OUT = REPO / "relation_extraction_cdr_spark" / "data" / "electra_vocab.txt"


class _Stub:
    def __init__(self, *a, **k):
        pass


class _StubUnpickler(pickle.Unpickler):
    """Resolve transformers/torch classes to attribute-bag stubs so the
    pickle's plain-data payload loads without those packages."""

    def find_class(self, module, name):
        if module.startswith(("transformers", "torch")):
            return type(name, (_Stub,), {"__module__": module})
        return super().find_class(module, name)


def extract(pkl_path: str, out_path: Path) -> None:
    with open(pkl_path, "rb") as f:
        tok = _StubUnpickler(f).load()
    d = tok.__dict__
    vocab = d["vocab"]
    ids = sorted(vocab.values())
    assert ids == list(range(len(vocab))), "vocab ids must be contiguous"
    assert d["added_tokens_encoder"] == {"[e]": 30522, "[/e]": 30523}
    assert d["init_kwargs"]["do_lower_case"] is True
    inv = {i: t for t, i in vocab.items()}
    lines = [inv[i] for i in range(len(inv))]
    assert not any(c in t for t in lines for c in "\n\r\t "), "tokens must be line-safe"
    out_path.parent.mkdir(parents=True, exist_ok=True)
    out_path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    print(f"wrote {len(lines)} tokens -> {out_path}")


if __name__ == "__main__":
    pkl = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_PKL
    out = Path(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_OUT
    extract(pkl, out)
