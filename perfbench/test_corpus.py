"""Seeded corpus generator.  Run: python3 -m pytest perfbench -q"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import corpus  # noqa: E402


def test_same_seed_same_pages():
    assert corpus.gen_pages(7, 120, 12) == corpus.gen_pages(7, 120, 12)


def test_seed_changes_the_text_not_only_the_urls():
    a, _ = corpus.gen_pages(1, 120, 12)
    b, _ = corpus.gen_pages(2, 120, 12)
    assert set(a["url"]).isdisjoint(b["url"])
    assert sorted(a["text"]) != sorted(b["text"])


def test_shape_does_not_depend_on_the_seed():
    for seed in (1, 2, 3):
        cols, gold = corpus.gen_pages(seed, 200, 12)
        lengths = [len(t) for t in cols["text"]]
        heavy = [i for i, n in enumerate(lengths) if n > 20_000]
        assert heavy == [99, 199]
        assert max(n for i, n in enumerate(lengths) if i not in heavy) < 2_500
        assert gold and all(u in cols["url"] for u, _, _ in gold)
