"""Checkpoint/resume at partition granularity (north_star requirement):
kill mid-run, rerun, identical triples, no reprocessing."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DataType

from relation_extraction_cdr_spark.plans.pipeline import materialize_triples, score_candidates
from relation_extraction_cdr_spark.streaming.incremental import (
    CHECKPOINT_SCHEMA,
    bucketed,
    completed_buckets,
    run_resumable,
)

SCORED_COLS = ("url", "chem_mesh", "dis_mesh", "label", "evidence_type", "pred", "prob")


def test_kill_and_resume_identical(spark, fixtures, mesh, tmp_path):
    pages, _, gold = fixtures
    out1 = str(tmp_path / "full_out")
    cp1 = str(tmp_path / "full_cp")
    full = run_resumable(
        spark, pages, mesh, out1, cp1, run_id="full", n_buckets=4, gold=gold
    )
    full_triples = {
        tuple(r) for r in materialize_triples(full).select("subj", "obj").collect()
    }

    out2 = str(tmp_path / "kill_out")
    cp2 = str(tmp_path / "kill_cp")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_resumable(
            spark, pages, mesh, out2, cp2, run_id="kill", n_buckets=4,
            fail_after=2, gold=gold,
        )
    done_after_kill = completed_buckets(spark, cp2, "kill", "score")
    assert len(done_after_kill) == 2

    resumed = run_resumable(
        spark, pages, mesh, out2, cp2, run_id="kill", n_buckets=4, gold=gold
    )
    resumed_triples = {
        tuple(r) for r in materialize_triples(resumed).select("subj", "obj").collect()
    }
    assert resumed_triples == full_triples
    # the scored rows themselves, duplicates and probabilities included
    assert sorted(map(tuple, resumed.select(*SCORED_COLS).collect())) == sorted(
        map(tuple, full.select(*SCORED_COLS).collect())
    )

    # lineage: exactly one checkpoint row per bucket — completed buckets
    # were NOT reprocessed on resume
    cp = spark.read.parquet(cp2)
    per_bucket = cp.groupBy("partition_id").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)
    assert len(per_bucket) == 4
    assert set(cp.columns) >= {
        "run_id", "stage", "partition_id", "url_count", "row_count", "written_at"
    }


@pytest.mark.parametrize("mode", ["plain", "salted", "gold"])
def test_lineage_counts(spark, fixtures, mesh, tmp_path, mode):
    """Each lineage row counts its bucket's input pages and the scored rows
    committed under ``bucket=<id>``, for buckets run before and after a
    kill alike."""
    pages, _, gold = fixtures
    kw = {"plain": {}, "salted": {"salt_partitions": 4}, "gold": {"gold": gold}}[mode]
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_resumable(spark, pages, mesh, out, cp, n_buckets=4, fail_after=2, **kw)
    run_resumable(spark, pages, mesh, out, cp, n_buckets=4, **kw)
    urls = {
        r["bucket"]: r["count"]
        for r in bucketed(pages, 4).groupBy("bucket").count().collect()
    }
    lineage = spark.read.parquet(cp)
    assert lineage.schema == DataType.fromDDL(CHECKPOINT_SCHEMA)
    rows = lineage.collect()
    assert sorted(r["partition_id"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        b = r["partition_id"]
        assert r["url_count"] == urls.get(b, 0), b
        assert r["row_count"] == spark.read.parquet(f"{out}/bucket={b}").count(), b


def test_resume_job_budget(spark, fixtures, mesh, tmp_path):
    """A processed bucket costs two Spark jobs, its scored write and its
    lineage append (the lineage counts come from Observations on the
    write); the resume adds at most three for the checkpoint probe and the
    returned frame."""
    pages, _, _ = fixtures
    sc = spark.sparkContext
    # the MeSH artifacts are memoized per mesh table: fill the memo here
    # so that its one-off jobs fall outside the counted groups
    score_candidates(pages, mesh)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    kill, resume = f"kill-{tmp_path.name}", f"resume-{tmp_path.name}"
    try:
        sc.setJobGroup(kill, "kill after 2 of 4 buckets")
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_resumable(spark, pages, mesh, out, cp, n_buckets=4, fail_after=2)
        sc.setJobGroup(resume, "resume the last 2 buckets")
        run_resumable(spark, pages, mesh, out, cp, n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in (kill, resume)}
    assert jobs[kill] <= 2 * 2, jobs
    assert jobs[resume] <= 2 * 2 + 3, jobs


def test_completed_buckets_before_first_commit(spark, tmp_path):
    """No checkpoint directory, or one whose first append never committed
    (only ``_temporary`` in it), means no bucket is done."""
    cp = tmp_path / "cp"
    assert completed_buckets(spark, str(cp), "run1", "score") == set()
    (cp / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(cp), "run1", "score") == set()
