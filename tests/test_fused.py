"""Fused scoring path must equal the modular three-stage path exactly, and
survive pages whose text carries the marker token."""

from __future__ import annotations

import pytest

from relation_extraction_cdr_spark.plans.pipeline import score_candidates
from relation_extraction_cdr_spark.scoring.scorer import fused_score_docs


def _rows(df):
    return sorted(
        (r["url"], r["chem_mesh"], r["dis_mesh"], r["label"], r["evidence_type"],
         r["pred"], round(r["prob"], 9))
        for r in df.collect()
    )


def test_fused_equals_modular(spark, fixtures, mesh):
    pages, _, gold = fixtures
    fused = score_candidates(pages, mesh, gold=gold, fused=True)
    modular = score_candidates(pages, mesh, gold=gold, fused=False)
    assert _rows(fused) == _rows(modular)



_GAZ = {"lithium": [("D910001", "Chemical")], "tremor": [("D010001", "Disease")],
        "seizures": [("D010002", "Disease")]}
_PAYLOAD = "url string, text string, gold_pairs array<struct<chem_mesh:string,dis_mesh:string>>"


def _score(spark, rows, backend):
    df = spark.createDataFrame(rows, _PAYLOAD).coalesce(1)  # one Arrow batch
    out = fused_score_docs(df, gazetteer=_GAZ, max_term_words=1, backend=backend)
    return sorted(tuple(r) for r in out.collect())


@pytest.mark.parametrize("backend", ["stub", "electra"])
def test_literal_marker_page_does_not_kill_the_batch(spark, backend):
    """extract_text lowercases '[E]' to the added '[e]' marker token.  A
    pair whose evidence carries one is dropped; the rest of the Arrow
    batch scores exactly as it does without the poisoned pages."""
    healthy = [
        ("u/ok", "lithium induced tremor in rats.", None),
        ("u/apart", "lithium induced seizures in rats. see [e] and [/e] here.", None),
    ]
    poisoned = [
        ("u/intra", "lithium induced tremor in rats, see [e] here.", None),
        ("u/many", "[/e] lithium induced [E] tremor [e] [e].", None),
    ]
    got = _score(spark, healthy + poisoned, backend)
    assert got == _score(spark, healthy, backend)
    assert [r[0] for r in got] == ["u/apart", "u/ok"]
    if backend == "electra":
        # u/apart's evidence sentence is clean but its page is not: the
        # document featurization drops it, so no encoder margin reaches
        # its probability (the stub score), while u/ok's does
        stub = {r[0]: r[6] for r in _score(spark, healthy, "stub")}
        prob = {r[0]: r[6] for r in got}
        assert prob["u/apart"] == stub["u/apart"]
        assert prob["u/ok"] != stub["u/ok"]


def test_electra_prob_independent_of_partitioning(spark, fixtures, mesh):
    """A page's fused electra prob must not depend on which pages share
    its Arrow batch: the document forward batches equal-length documents
    only, so padding never moves a real position's hidden state."""
    pages = fixtures[0]
    n = pages.count()
    one_doc_each = spark.createDataFrame(
        pages.rdd.zipWithIndex().map(lambda r: (r[1], r[0])).partitionBy(n, lambda k: k).values(),
        pages.schema,
    )
    assert one_doc_each.rdd.glom().map(len).collect() == [1] * n

    def probs(p):
        out = score_candidates(p, mesh, scorer_backend="electra")
        return sorted((r["url"], r["chem_mesh"], r["dis_mesh"], r["prob"]) for r in out.collect())

    together = probs(pages.repartition(1))
    assert len(together) > n
    assert together == probs(one_doc_each)
