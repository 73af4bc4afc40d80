"""Regenerate perfbench/pins.json from the engine as it stands, for
seeds 0..31 of every workload.

    python3 perfbench/pin.py

``triples`` pins the hash of the (subj, predicate, obj, support) rows of
one uninterrupted stub-backend fused run on the workload's corpus.  That
is what every workload must produce: electra_web shares the stub decision
rule, and resume_parquet must equal an uninterrupted run.
``electra_tanh`` pins, per electra_web triple, tanh of the encoder margin
of its best pair, read back from the difference between the electra and
the stub score (``run.encoder_tanh``).  Re-pin only when a change is
meant to alter the triples or the encoder's output, and say so in
CHANGES.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

SEEDS = 32


def main() -> None:
    sys.path.insert(0, str(run.ROOT))
    import corpus

    work = run.ROOT / ".bench_work" / f"pin-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(run.ROOT), os.environ.get("PYTHONPATH")) if p
    )
    pins: dict[str, dict[str, dict]] = {"triples": {}, "electra_tanh": {}}
    b = run.Bench(run.WORKLOADS["stub_web"], 0, work)
    try:
        b.start()
        for wl in run.WORKLOADS.values():
            for seed in range(SEEDS):
                cols, _ = corpus.gen_pages(seed, wl.pages, wl.doc_scale)
                d = work / f"{wl.name}-{seed}"
                corpus.write_pages(cols, d, wl.files)
                pages = b.spark.read.parquet(str(d))
                rows = run.fused_triples(pages, b.mesh, "stub")
                pins["triples"].setdefault(wl.pin_key, {})[str(seed)] = run.triple_hash(rows)
                msg = f"{wl.pin_key} seed {seed}: {len(rows)} triples"
                if wl.backend == "electra":
                    electra = run.fused_triples(pages, b.mesh, "electra")
                    if run.triple_hash(electra) != run.triple_hash(rows):
                        raise SystemExit(f"{msg}: electra triples differ from the stub's")
                    tanh = run.encoder_tanh(electra, rows)
                    run.check_tanh(tanh, None)
                    pins["electra_tanh"].setdefault(wl.pin_key, {})[str(seed)] = {
                        k: round(t, 6) for k, t in sorted(tanh.items())
                    }
                    msg += f", tanh(margin) in [{min(tanh.values()):.4f}, {max(tanh.values()):.4f}]"
                shutil.rmtree(d)
                run.log(msg)
    finally:
        b.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    run.PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
