"""Page -> triple benchmark of the CDR knowledge-graph engine.

    python3 perfbench/run.py --workload stub_web --seed 1 --seconds 18 --trace 0

Run from the repository root.  One driver process generates the
workload's pages from the seed, writes them as a parquet pages table,
starts ``local[nproc]`` Spark sessions through the engine's
``spark_session`` and times the engine's public entry points on them.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one pass
each untraced, with the Spark event log on, and untraced again, replays
the fused stage in-process with a span per layer call, and prints the
per-layer metrics.  The last line of stdout is the result JSON; the line
before it is context (host reference, P/R, check outcomes, walls).
Exit status is 1 when an output check fails and 2 when the engine
cannot be imported.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NPROC = len(os.sched_getaffinity(0))
MIN_PASSES = 3  # timed passes per run, however short the window
# electra_web: tolerance on tanh(encoder margin) as read back from the
# triple scores, where the margin enters as 1e-9 * tanh(margin)
TANH_TOL = 1e-3
PINS = HERE / "pins.json"


@dataclass(frozen=True)
class Workload:
    name: str
    backend: str
    pages: int
    doc_scale: int
    files: int
    replay_docs: int
    resume: bool = False

    @property
    def pin_key(self) -> str:
        return f"{self.name}/{self.pages}x{self.doc_scale}"


# Sizes fit MIN_PASSES passes in a window of about 18 s on four cores and
# keep a run near 40 s; one file per input split, so the file count sets
# the task count.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("stub_web", "stub", pages=3000, doc_scale=12,
                 files=4 * NPROC, replay_docs=200),
        Workload("electra_web", "electra", pages=12, doc_scale=12,
                 files=4 * NPROC, replay_docs=8),
        Workload("resume_parquet", "stub", pages=1000, doc_scale=1,
                 files=2, replay_docs=200, resume=True),
    )
}
N_BUCKETS, FAIL_AFTER = 4, 2
WARM_BUCKETS, WARM_FAIL_AFTER = 1, 0


class CheckFailed(Exception):
    pass


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# engine calls
# ---------------------------------------------------------------------------


def fused_triples(pages, mesh, backend: str):
    from relation_extraction_cdr_spark.plans.pipeline import materialize_triples, score_candidates

    scored = score_candidates(pages, mesh, scorer_backend=backend, salt_partitions=2 * NPROC)
    return materialize_triples(scored).collect()


def resume_triples(spark, pages, mesh, work: Path, buckets: int, fail_after: int):
    """Kill after ``fail_after`` buckets, resume, return the triples."""
    from relation_extraction_cdr_spark.plans.pipeline import materialize_triples
    from relation_extraction_cdr_spark.streaming.incremental import run_resumable

    out, cp = str(work / "out"), str(work / "checkpoint")
    try:
        run_resumable(spark, pages, mesh, out, cp, run_id="bench",
                      n_buckets=buckets, fail_after=fail_after)
    except RuntimeError as e:
        if "simulated kill" not in str(e):
            raise
    else:
        raise CheckFailed("run_resumable finished without the simulated kill")
    scored = run_resumable(spark, pages, mesh, out, cp, run_id="bench", n_buckets=buckets)
    return materialize_triples(scored).collect()


def jvm_memory_mb(b: "Bench") -> dict[str, float]:
    """The JVM's resident memory outside its heap, its resident heap, and
    its live heap after a full GC, in MB.  The heap's address range comes
    from the JVM's own start-up log."""
    import procstats

    log_text = (b.work / "jvm-heap.log").read_text()
    m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB", log_text)
    if m is None:  # the line comes with compressed oops, i.e. heaps under 32 GB
        raise RuntimeError("the JVM logged no heap address range")
    base, size = int(m[1], 16), int(m[2]) << 20
    heap = procstats.range_rss_mb(b.jvm_pid, base, base + size)
    native = procstats.status_mb(b.jvm_pid, "VmRSS") - heap
    jvm = b.spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    live = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"native": native, "heap_resident": heap, "heap_live": live / 2**20}


def triple_key(rows) -> list[tuple]:
    return sorted((r["subj"], r["predicate"], r["obj"], r["score"], r["support"]) for r in rows)


def triple_hash(rows) -> str:
    lines = sorted(f"{r['subj']}\t{r['predicate']}\t{r['obj']}\t{r['support']}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def encoder_tanh(electra_rows, stub_rows) -> dict[str, float]:
    """tanh(encoder margin) of each triple's best pair, read back from the
    scores: the electra backend adds 1e-9 * tanh(margin) to the stub
    probability, and adds nothing when the margin is NaN."""
    stub = {(r["subj"], r["obj"]): r["score"] for r in stub_rows}
    return {f"{r['subj']}|{r['obj']}": (r["score"] - stub[(r["subj"], r["obj"])]) * 1e9
            for r in electra_rows}


def check_tanh(tanh: dict[str, float], pinned: dict[str, float] | None) -> None:
    """Every triple carries an encoder margin, equal to the pinned one."""
    missing = [k for k, t in tanh.items() if not 0.0 < abs(t) <= 1.0 + TANH_TOL]
    if missing:
        raise CheckFailed(f"{len(missing)} of {len(tanh)} electra triples carry no encoder "
                          f"margin, e.g. {missing[0]}: tanh = {tanh[missing[0]]!r}")
    if pinned is None:
        return
    if set(pinned) != set(tanh):
        raise CheckFailed("electra triples differ from the pinned ones")
    key = max(tanh, key=lambda k: abs(tanh[k] - pinned[k]))
    if abs(tanh[key] - pinned[key]) > TANH_TOL:
        raise CheckFailed(f"encoder margin of {key}: tanh = {tanh[key]:.6f}, "
                          f"pinned {pinned[key]:.6f} (tolerance {TANH_TOL})")


# ---------------------------------------------------------------------------
# session and process handling
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, wl: Workload, seed: int, work: Path):
        self.wl, self.seed, self.work = wl, seed, work
        self.spark = None
        self.mesh = None
        self.pages = None
        self.jvm_pid: int | None = None

    def conf(self, event_log: Path | None = None) -> dict[str, str]:
        c = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # temp files in the checkout, no hsperfdata file in /tmp, and
            # the heap's address range logged for jvm_memory_mb
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData "
                f"-Xlog:gc+heap+coops=debug:file={self.work / 'jvm-heap.log'}"
            ),
            # one input split per pages file, whatever the file size
            "spark.sql.files.openCostInBytes": str(128 << 20),
            "spark.eventLog.enabled": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
            })
        return c

    def start(self, event_log: Path | None = None) -> None:
        import pandas as pd
        from pyspark import SparkContext

        from relation_extraction_cdr_spark import datagen
        from relation_extraction_cdr_spark.session import spark_session

        self.spark = spark_session(f"perfbench-{self.wl.name}", master=f"local[{NPROC}]",
                                   extra_conf=self.conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        # datagen.mesh_df's rows, built through Arrow rather than a Python
        # RDD so that input plumbing starts no extra Python worker pool
        self.mesh = self.spark.createDataFrame(
            pd.DataFrame(datagen.gen_mesh_rows(), columns=["tree_number", "mesh_id", "term", "type"])
        )

    def stop(self) -> None:
        if self.spark is not None:
            from relation_extraction_cdr_spark.plans import pipeline

            # score_candidates keeps its last intermediates in a module
            # list and unpersists them on its next call, which fails once
            # their session is stopped; release them while it is alive
            self.spark.catalog.clearCache()
            pipeline._prev_caches.clear()
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session and the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def phase(self, name: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("perfbench.phase", name)

    def run_pass(self, pages, tag: str):
        if self.wl.resume:
            d = self.work / f"resume-{tag}"
            try:
                return resume_triples(self.spark, pages, self.mesh, d, N_BUCKETS, FAIL_AFTER)
            finally:
                shutil.rmtree(d, ignore_errors=True)
        return fused_triples(pages, self.mesh, self.wl.backend)

    def warm_up(self) -> None:
        warm = self.spark.read.parquet(str(self.work / "warm"))
        if self.wl.resume:
            d = self.work / "resume-warm"
            resume_triples(self.spark, warm, self.mesh, d, WARM_BUCKETS, WARM_FAIL_AFTER)
            shutil.rmtree(d, ignore_errors=True)
        else:
            fused_triples(warm, self.mesh, self.wl.backend)

    def setup(self, event_log: Path | None = None) -> float:
        """Session start through the end of the warm-up pass.  The first
        set-up in a process also boots the JVM."""
        t0 = time.perf_counter()
        self.start(event_log)
        self.pages = self.spark.read.parquet(str(self.work / "pages"))
        self.warm_up()
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def load_pins() -> dict:
    return json.loads(PINS.read_text()) if PINS.exists() else {}


def check_outputs(b: Bench, rows, gold_rows) -> tuple[dict, str | None]:
    """Output checks beyond pass-to-pass agreement: (outcomes, error)."""
    out: dict = {}
    try:
        _check_outputs(b, rows, gold_rows, out)
    except CheckFailed as e:
        return out, str(e)
    return out, None


def _check_outputs(b: Bench, rows, gold_rows, out: dict) -> None:
    import pandas as pd

    from relation_extraction_cdr_spark.plans.pipeline import pr_metrics

    wl = b.wl
    if rows is None:
        raise CheckFailed("no pass produced triples")
    out.update(triples=len(rows), hash=triple_hash(rows))
    if not rows:
        raise CheckFailed("no triples")
    pins = load_pins()
    pinned = pins.get("triples", {}).get(wl.pin_key, {}).get(str(b.seed))
    out["pin"] = "unpinned" if pinned is None else ("match" if pinned == out["hash"] else "MISMATCH")
    if out["pin"] == "MISMATCH":
        raise CheckFailed(f"triple hash {out['hash']} != pinned {pinned}")
    if wl.backend == "electra":
        # both backends share the decision rule, so the triples are the
        # stub's; the scores carry the encoder's margins on top
        stub = fused_triples(b.pages, b.mesh, "stub")
        if triple_hash(stub) != out["hash"]:
            raise CheckFailed("electra triples differ from the stub run on the same pages")
        out["electra_eq_stub"] = True
        pinned_tanh = pins.get("electra_tanh", {}).get(wl.pin_key, {}).get(str(b.seed))
        check_tanh(encoder_tanh(rows, stub), pinned_tanh)
        out["encoder_margins"] = "present" if pinned_tanh is None else "match"
    if wl.resume:
        ref = fused_triples(b.pages, b.mesh, wl.backend)
        if triple_key(ref) != triple_key(rows):
            raise CheckFailed("kill+resume triples differ from an uninterrupted fused run")
        out["resume_eq_fused"] = True
    gold = b.spark.createDataFrame(pd.DataFrame(gold_rows, columns=["url", "chem_mesh", "dis_mesh"]))
    pred = b.spark.createDataFrame(
        pd.DataFrame([(r["subj"], r["obj"]) for r in rows], columns=["subj", "obj"])
    )
    pr = pr_metrics(pred, gold)
    out["pr"] = {k: round(v, 4) if isinstance(v, float) else v for k, v in pr.items()}


# ---------------------------------------------------------------------------
# the two modes
# ---------------------------------------------------------------------------


def measure(b: Bench, seconds: float, gold_rows):
    import procstats

    setup = b.setup()  # JVM boot, session, warm-up pass
    log(f"setup: {setup:.2f}s")
    walls, cpus, rows0, failed = [], [], None, 0
    t_end = time.perf_counter() + seconds
    # past MIN_PASSES, no pass starts that the last one says would end
    # after the window
    while len(walls) < MIN_PASSES or time.perf_counter() + walls[-1] <= t_end:
        c0 = procstats.cpu_seconds(b.jvm_pid)
        t0 = time.perf_counter()
        try:
            rows = b.run_pass(b.pages, str(len(walls)))
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc()
            rows = None
        wall = time.perf_counter() - t0
        cpus.append(procstats.cpu_seconds(b.jvm_pid) - c0)
        walls.append(wall)
        log(f"pass {len(walls)}: {wall:.2f}s")
        if rows is None or (rows0 is not None and triple_key(rows) != triple_key(rows0)):
            failed += 1
        elif rows0 is None:
            rows0 = rows
    rss = procstats.peak_rss_mb(b.jvm_pid)
    rss_jvm = rss.pop(b.jvm_pid, 0.0)
    # G1 grows the engine's 8 GB-max heap by its own timing-driven rule, so
    # the resident heap varies by +-20% between identical runs; count the
    # JVM's heap at its live size instead
    jvm_mem = jvm_memory_mb(b)
    attempted = len(walls)
    checks, error = check_outputs(b, rows0, gold_rows)
    log("checks done")
    pages = b.wl.pages
    metrics = {
        "pages_per_s": (pages / statistics.median(walls), "1/s"),
        "cpu_s_per_kpage": (statistics.median(cpus) / pages * 1000.0, "s"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (sum(rss.values()) + jvm_mem["native"] + jvm_mem["heap_live"], "MB"),
        "ops_ok_frac": ((attempted - failed) / attempted, "1"),
    }
    ctx = {"walls_s": [round(w, 4) for w in walls], "cpu_s": cpus, "setup_s": round(setup, 4),
           "rss_mb": {"jvm_peak": round(rss_jvm, 1), "python": sorted(round(v, 1) for v in rss.values()),
                      **{f"jvm_{k}": round(v, 1) for k, v in jvm_mem.items()}},
           "checks": checks}
    return metrics, ctx, attempted, failed, error


def traced(b: Bench, gold_rows, cols):
    import pyspark.sql.functions as F

    import eventlog
    import replay
    from callsites import CallSiteTimer
    from relation_extraction_cdr_spark.operators.mentions import gazetteer_dict
    from relation_extraction_cdr_spark.plans.pipeline import (
        extracted_docs, materialize_triples, score_candidates,
    )
    from relation_extraction_cdr_spark.sources.mesh import gazetteer
    from relation_extraction_cdr_spark.streaming import incremental
    from spans import Tracer, self_time_by_name

    wl = b.wl

    def untraced_pass():
        b.setup()
        t0 = time.perf_counter()
        rows = b.run_pass(b.pages, "plain")
        wall = time.perf_counter() - t0
        b.stop()
        return rows, wall

    # every pass follows a set-up in a warm JVM; untraced passes bracket
    # the traced one, so the JVM warming up over the run favours neither
    b.setup()
    b.stop()
    rows_plain, wall_before = untraced_pass()

    ev_dir = b.work / "eventlog"
    b.setup(event_log=ev_dir)
    b.phase("pass")
    sites = CallSiteTimer(incremental.__file__)
    t0 = time.perf_counter()
    with sites:
        rows = b.run_pass(b.pages, "traced")
    wall_traced = time.perf_counter() - t0
    failed = int(triple_key(rows) != triple_key(rows_plain))

    b.phase("extract")
    t0 = time.perf_counter()
    extracted_docs(b.pages).write.mode("overwrite").format("noop").save()
    extract_s = time.perf_counter() - t0
    b.phase(None)
    scored = score_candidates(b.pages, b.mesh, scorer_backend=wl.backend,
                              salt_partitions=2 * NPROC).persist()
    scored.count()
    b.phase("triples")
    t0 = time.perf_counter()
    n_triples = len(materialize_triples(scored).collect())
    triples_s = time.perf_counter() - t0
    b.phase(None)
    scored.unpersist()
    gd = gazetteer_dict(gazetteer(b.mesh, type_col="type"))
    # the replay sample, extracted by the engine itself
    idx = sorted(random.Random(b.seed).sample(range(wl.pages), min(wl.replay_docs, wl.pages)))
    urls = [cols["url"][i] for i in idx]
    text = {r["url"]: r["text"] for r in
            extracted_docs(b.pages).where(F.col("url").isin(urls)).collect()}
    checks, error = check_outputs(b, rows, gold_rows)
    b.stop()
    rows_after, wall_after = untraced_pass()
    failed += int(triple_key(rows_after) != triple_key(rows_plain))
    wall_plain = (wall_before + wall_after) / 2

    events = eventlog.read_events(ev_dir)
    sp = eventlog.summarize(events, "pass", wall_traced, NPROC, scan_path=str(b.work / "pages"))

    # in-process replay of the fused stage on the sample
    docs = [(u, text[u]) for u in urls]
    tracer = Tracer()
    max_words = max((t.count(" ") + 1 for t in gd), default=1)
    n = replay.replay(docs, gd, max_words, wl.backend, tracer)
    tracer.dump(ROOT / ".bench_work" / "traces" / f"{wl.name}-seed{b.seed}.jsonl")
    st = self_time_by_name(tracer.spans)
    total = sum(st.values())
    print(f"{wl.name}: replay self time per layer, {n['docs']} pages, one core")
    for name, sec in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"  {name:24s} {sec:9.4f} s {100 * sec / total:6.1f} %")

    inc = {"write": 0.0, "readback": 0.0, "checkpoint_read": 0.0}
    for fn, line, s in sites.calls:
        if fn == "completed_buckets":
            inc["checkpoint_read"] += s
        elif ".write" in line:
            inc["write"] += s
        elif "read.parquet" in line:
            inc["readback"] += s
    pps_traced = wl.pages / wall_traced
    pps_plain = wl.pages / wall_plain
    m = {
        "text.extract_s": (extract_s, "s"),
        "mentions.s": (st.get("mentions", 0.0), "s"),
        "mentions.count": (n["mentions"], "count"),
        "candidates.s": (st.get("candidates", 0.0), "s"),
        "candidates.pairs": (n["pairs"], "count"),
        "evidence.split_s": (st.get("evidence.split", 0.0), "s"),
        "evidence.select_s": (st.get("evidence.select", 0.0), "s"),
        "evidence.none": (n["evidence_none"], "count"),
        "features.s": (st.get("features", 0.0), "s"),
        "features.encode_calls": (n["encode_calls"], "count"),
        "features.tokens": (n["tokens"], "count"),
        "features.none": (n["features_none"], "count"),
        "features.fulltext_s": (st.get("features.fulltext", 0.0), "s"),
        "electra.encoder_s": (st.get("electra.encoder", 0.0), "s"),
        "electra.pool_s": (st.get("electra.pool", 0.0), "s"),
        "electra.head_s": (st.get("electra.head", 0.0), "s"),
        "electra.tokens_encoded": (n["tokens_encoded"], "count"),
        "electra.tokens_pooled_ratio": (
            n["tokens_pooled"] / n["tokens_encoded"] if n["tokens_encoded"] else 0.0, "1"),
        "electra.gflop": (n["gflop"], "GFLOP"),
        "electra.weights_init_s": (n["weights_init_s"], "s"),
        "scorer.decision_s": (st.get("scorer.decision", 0.0), "s"),
        "scorer.scored": (n["scored"], "count"),
        "scorer.positives": (n["positives"], "count"),
        "replay.glue_s": (st.get("doc", 0.0), "s"),
        "replay.docs": (n["docs"], "count"),
        "pipeline.useful_ratio": (n["scored"] / n["pairs"] if n["pairs"] else 0.0, "1"),
        "pipeline.triples_s": (triples_s, "s"),
        "pipeline.triples": (n_triples, "count"),
        "spark.jobs": (sp["jobs"], "count"),
        "spark.tasks": (sp["tasks"], "count"),
        "spark.task_s": (sp["task_s"], "s"),
        "spark.slot_util": (sp["slot_util"], "1"),
        "spark.task_skew": (sp["task_skew"], "1"),
        "spark.gc_s": (sp["gc_s"], "s"),
        "spark.shuffle_write_bytes": (sp["shuffle_write_bytes"], "B"),
        "spark.shuffle_read_bytes": (sp["shuffle_read_bytes"], "B"),
        "arrow.bytes_to_python": (sp["bytes_to_python"], "B"),
        "arrow.bytes_from_python": (sp["bytes_from_python"], "B"),
        "incremental.jobs_per_bucket": (sp["jobs"] / N_BUCKETS if wl.resume else 0.0, "count"),
        "incremental.input_bytes_read": (sp["input_bytes"] if wl.resume else 0, "B"),
        "incremental.scan_amplification": (
            sp["scan_rows"] / wl.pages if wl.resume else 0.0, "1"),
        "incremental.write_s": (inc["write"], "s"),
        "incremental.readback_s": (inc["readback"], "s"),
        "incremental.checkpoint_read_s": (inc["checkpoint_read"], "s"),
        "trace.pages_per_s": (pps_traced, "1/s"),
        "trace.untraced_pages_per_s": (pps_plain, "1/s"),
        "trace.overhead_frac": (1.0 - pps_traced / pps_plain, "1"),
    }
    ctx = {"walls_s": {"untraced": [round(wall_before, 4), round(wall_after, 4)],
                       "traced": round(wall_traced, 4)},
           "checks": checks, "spans": len(tracer.spans)}
    return m, ctx, 3, failed, error


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def host_reference() -> dict:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    try:
        out = subprocess.run([sys.executable, str(HERE / "hostref.py")], capture_output=True,
                             text=True, check=True, timeout=120, env=env)
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError) as e:
        return {"error": f"{type(e).__name__}: {e}"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    # one BLAS thread, as in a Spark Python worker, before numpy loads
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    try:
        import corpus  # imports the engine's generator tables
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    work = ROOT / ".bench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything the JVM and the Python workers write stays in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )

    cols, gold_rows = corpus.gen_pages(args.seed, wl.pages, wl.doc_scale)
    corpus.write_pages(cols, work / "pages", wl.files)
    # the warm-up pass gives every core one page of the same shape
    warm, _ = corpus.gen_pages(args.seed, NPROC, wl.doc_scale, salt="warm")
    corpus.write_pages(warm, work / "warm", NPROC)
    log("inputs written")
    host_ref = host_reference()
    log("host reference done")

    b = Bench(wl, args.seed, work)
    try:
        if args.trace:
            metrics, ctx, attempted, failed, err = traced(b, gold_rows, cols)
        else:
            metrics, ctx, attempted, failed, err = measure(b, args.seconds, gold_rows)
    finally:
        b.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    correct = err is None and failed == 0

    ctx.update(workload=wl.name, seed=args.seed, pages=wl.pages, doc_scale=wl.doc_scale,
               backend=wl.backend, cores=NPROC, host_ref=host_ref, error=err)
    for name, (value, unit) in metrics.items():
        print(f"{wl.name:15s} {name:32s} {value:14.6g} {unit}")
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
