"""Semantic checks beyond oracle hash-parity for round-2 queries."""

from __future__ import annotations

import math

import pytest

from relation_extraction_cdr_spark.plans.queries import QUERIES
from relation_extraction_cdr_spark.refdata import MESH_TREE, absent_reason, reference_path

SF_DIR = "/root/testdata/sf0.01"


def test_hll_estimate_within_error_envelope(spark):
    """The q69 register sketch must actually estimate: reconstructing
    the HLL estimate from the exact S2 mass lands within the m=256
    error envelope (1.04/sqrt(256) = 6.5% standard error; assert 3x)
    of the true per-group distinct count, with the standard
    linear-counting correction in the small range."""
    rows = {r["event_type"]: r for r in QUERIES["q69_hll_registers"](spark, SF_DIR).collect()}
    truth = {
        r["event_type"]: r["n"]
        for r in spark.sql(
            "SELECT event_type, COUNT(DISTINCT user_id) AS n FROM events GROUP BY event_type"
        ).collect()
    }
    assert rows.keys() == truth.keys() and rows
    m = 256
    alpha = 0.7213 / (1 + 1.079 / m)
    for et, r in rows.items():
        s = r["s2"] / float(1 << 33)  # exact register mass sum(2^-rho)
        est = alpha * m * m / s
        zeros = m - r["m_used"]
        if est <= 2.5 * m and zeros:
            est = m * math.log(m / zeros)  # linear counting small-range fix
        true = truth[et]
        assert abs(est - true) / true <= 3 * 1.04 / math.sqrt(m), (et, est, true)


def test_countmin_never_underestimates(spark):
    """CM property: est >= true for every reported word, and every true
    heavy hitter is reported (no false negatives by construction)."""
    rows = QUERIES["q70_countmin_heavy_hitters"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["est_cnt"] >= r["true_cnt"], r
    true_heavy = {
        r["w"]
        for r in spark.sql(
            "SELECT w, COUNT(*) c FROM (SELECT explode(split(lower(text), ' ')) w "
            "FROM documents) WHERE w <> '' GROUP BY w HAVING COUNT(*) >= 200"
        ).collect()
    }
    reported = {r["word"] for r in rows}
    assert true_heavy <= reported


def test_round2_queries_survive_empty_corpus(spark, tmp_path):
    """Every round-2 query must return an empty frame (not crash) on a
    schema-only corpus — the degenerate case of an all-filtered
    partition slice."""
    import os

    d = str(tmp_path)
    for name in ("documents", "events", "lineitem", "supplier", "orders", "embeddings"):
        src = spark.read.parquet(f"/root/testdata/sf0.001/{name}.parquet")
        src.limit(0).write.parquet(os.path.join(d, f"{name}.parquet"))
    for q in [
        "q61_sentencepiece", "q62_repetition_signals", "q63_corpus_token_counts",
        "q64_token_packing", "q65_pagerank", "q66_word_rank_quality",
        "q67_source_mixture", "q68_neardup_triangles", "q69_hll_registers",
        "q70_countmin_heavy_hitters", "q71_balanced_mixture_sample",
        "q72_lsh_first_owner", "q73_blame_unique_supplier",
        "q79_cooc_lift", "q80_neardup_bfs", "q81_triple_diff",
    ]:
        assert QUERIES[q](spark, d).count() == 0, q


def test_lift_is_exact_integer_arithmetic(spark):
    """q79: lift_ppm must equal the pure-integer recomputation from its
    own marginals, and a pair can never co-occur in more documents than
    either endpoint appears in."""
    rows = QUERIES["q79_cooc_lift"](spark, SF_DIR).collect()
    n_docs = spark.sql("SELECT COUNT(*) AS n FROM documents").collect()[0]["n"]
    assert rows
    for r in rows:
        assert r["n_cd"] <= min(r["n_chem"], r["n_dis"]), r
        assert r["lift_ppm"] == (r["n_cd"] * n_docs * 1_000_000) // (
            r["n_chem"] * r["n_dis"]
        ), r


def test_bfs_hops_are_valid_distances(spark):
    """q80: exactly one hop-0 node (the minimum member of the edge set),
    and every node at hop h>0 has a neighbor at hop h-1 (the defining
    BFS-layer invariant)."""
    from relation_extraction_cdr_spark.operators import ann as ANN
    from relation_extraction_cdr_spark.session import load_tables

    rows = QUERIES["q80_neardup_bfs"](spark, SF_DIR).collect()
    assert rows
    dist = {r["vec_id"]: r["hops"] for r in rows}
    emb = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    edges = [
        (r["a"], r["b"])
        for r in ANN.cosine_neardup_pairs(emb, threshold=0.35, n_planes=4)
        .select("a", "b")
        .collect()
    ]
    nodes = {n for e in edges for n in e}
    adj: dict = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    roots = [n for n, h in dist.items() if h == 0]
    assert roots == [min(nodes)]
    for n, h in dist.items():
        if h > 0:
            assert any(dist.get(m) == h - 1 for m in adj[n]), (n, h)


def test_triple_diff_matches_per_snapshot_recompute(spark):
    """q81's one-pass conditional aggregation must agree with the naive
    two-snapshot recompute (filter docs, re-aggregate, diff)."""
    import hashlib

    from relation_extraction_cdr_spark.plans.queries import _doc_cooc

    cooc = _doc_cooc(spark, SF_DIR).collect()

    def support(pred):
        sup: dict = {}
        for r in cooc:
            if pred(hashlib.md5(str(r["url"]).encode()).hexdigest()[0]):
                k = (r["chem_mesh"], r["dis_mesh"])
                sup[k] = sup.get(k, 0) + 1
        return sup

    old = support(lambda h: h < "8")
    new = support(lambda h: h >= "4")
    expect = {}
    for k in set(old) | set(new):
        s_old, s_new = old.get(k, 0), new.get(k, 0)
        if s_old >= 2 or s_new >= 2:
            status = (
                "kept" if s_old >= 2 and s_new >= 2
                else "added" if s_new >= 2 else "removed"
            )
            expect[k] = (s_old, s_new, status)
    got = {
        (r["subj"], r["obj"]): (r["support_old"], r["support_new"], r["status"])
        for r in QUERIES["q81_triple_diff"](spark, SF_DIR).collect()
    }
    assert got == expect and got


@pytest.mark.skipif(absent_reason(MESH_TREE) is not None, reason=str(absent_reason(MESH_TREE)))
def test_mesh_closure_against_python_recompute(spark):
    """q82 over the real 57,840-row MeSH tree: structural invariants on
    the full output plus an exact recompute of the ancestor closure for
    a deterministic 200-descriptor sample."""
    rows = QUERIES["q82_mesh_closure"](spark, SF_DIR).collect()
    by_id = {r["mesh_id"]: r for r in rows}
    assert len(rows) == len(by_id)  # one row per descriptor

    trees: dict = {}
    owner: dict = {}
    with open(reference_path(MESH_TREE)) as fh:
        next(fh)
        for line in fh:
            tn, mid, _term = line.rstrip("\n").split("\t", 2)
            trees.setdefault(mid, []).append(tn)
            owner[tn] = mid
    assert len(rows) == len(trees)

    for r in rows:
        assert r["n_anc_ids"] <= r["n_anc_edges"]
        if r["max_depth"] == 1 and r["n_trees"] == 1:
            assert r["n_anc_edges"] == 0

    for mid in sorted(trees)[::len(trees) // 200]:
        edges, anc_ids = 0, set()
        for tn in trees[mid]:
            parts = tn.split(".")
            for i in range(1, len(parts)):
                p = ".".join(parts[:i])
                if p in owner:
                    edges += 1
                    anc_ids.add(owner[p])
        r = by_id[mid]
        assert r["n_trees"] == len(trees[mid]), mid
        assert r["max_depth"] == max(len(t.split(".")) for t in trees[mid]), mid
        assert r["n_anc_edges"] == edges, mid
        assert r["n_anc_ids"] == len(anc_ids), mid


def test_entity_canonical_is_frequency_argmax(spark):
    """q83: canonical surface must be the (count desc, text asc) argmax
    of the q28 mention stream, and the per-entity counts must match a
    Python recompute."""
    mentions = QUERIES["q28_cdr_mentions"](spark, SF_DIR).collect()
    surf: dict = {}
    docs: dict = {}
    texts: dict = {}
    for m in mentions:
        k = m["mesh_id"]
        surf[(k, m["mention_text"])] = surf.get((k, m["mention_text"]), 0) + 1
        docs.setdefault(k, set()).add(m["doc_id"])
        texts.setdefault(k, set()).add(m["mention_text"])
    rows = QUERIES["q83_entity_canonical"](spark, SF_DIR).collect()
    assert len(rows) == len(docs)
    for r in rows:
        k = r["mesh_id"]
        best = min(
            ((t, n) for (kk, t), n in surf.items() if kk == k),
            key=lambda tn: (-tn[1], tn[0]),
        )
        assert r["canonical_text"] == best[0], (k, best)
        assert r["n_docs"] == len(docs[k])
        assert r["n_surfaces"] == len(texts[k])
        assert r["n_mentions"] == sum(n for (kk, _), n in surf.items() if kk == k)


def test_triple_provenance_lists_supporting_docs(spark):
    """q84: the evidence list has exactly `support` numerically-sorted
    doc ids and agrees with the co-occurrence stream; triples match the
    q30 support>=2 rule."""
    from relation_extraction_cdr_spark.plans.queries import _doc_cooc

    cooc: dict = {}
    for r in _doc_cooc(spark, SF_DIR).collect():
        cooc.setdefault((r["chem_mesh"], r["dis_mesh"]), []).append(r["url"])
    rows = QUERIES["q84_triple_provenance"](spark, SF_DIR).collect()
    expect = {k: sorted(v) for k, v in cooc.items() if len(v) >= 2}
    got = {(r["subj"], r["obj"]): r for r in rows}
    assert set(got) == set(expect)
    for k, r in got.items():
        ids = [int(x) for x in r["evidence_docs"].split(",")]
        assert ids == expect[k] and len(ids) == r["support"]


def test_distinctive_terms_is_true_topk(spark):
    """q85: per source, the reported 5 terms are exactly the top-5 of
    the full integer-exact (tf*1e6)//df ranking recomputed in Python."""
    docs = spark.sql("SELECT doc_id, source, lower(text) AS t FROM documents").collect()
    tf: dict = {}
    dfc: dict = {}
    for d in docs:
        ws = [w for w in d["t"].split(" ") if w]
        for w in ws:
            tf[(d["source"], w)] = tf.get((d["source"], w), 0) + 1
        for w in set(ws):
            dfc[w] = dfc.get(w, 0) + 1
    best: dict = {}
    for (src, w), n in tf.items():
        best.setdefault(src, []).append(((n * 1_000_000) // dfc[w], w, n))
    rows = QUERIES["q85_distinctive_terms"](spark, SF_DIR).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(best)
    for src, rs in by_src.items():
        want = sorted(best[src], key=lambda x: (-x[0], x[1]))[:5]
        got = [(r["score_ppm"], r["word"], r["tf"]) for r in rs]
        assert sorted(got, key=lambda x: (-x[0], x[1])) == want, src
