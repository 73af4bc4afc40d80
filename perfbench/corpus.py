"""Seeded page corpus for the benchmark.

The seed picks the doc ids, and the doc ids pick the text through the
engine's own sentence-plan rule and entity tables
(``datagen._doc_plan``, ``datagen.CHEMICALS``, ``datagen.DISEASES``), so a
new seed is a new corpus, not the old one under new URLs.  The shape is
fixed by the arguments and does not depend on the seed:

- every page repeats the sentence plan ``doc_scale`` times with rotated
  entities, exactly like ``datagen.gen_pages_df``;
- the page at corpus position ``i`` with ``i % 100 == 99`` repeats it
  ``HEAVY_FACTOR`` times as often, which puts it above the pipeline's
  20k-char heavy-document threshold at ``doc_scale=12`` so it takes the
  salted exchange;
- every other page is drawn among ids whose repetitions never hit the
  plan's own long-filler rule (a plan id ending in 99 appends 150 filler
  sentences).  At ``doc_scale=12`` that rule would lengthen ~12% of pages,
  picked by the seed, and a 12-page corpus would then do a seed-dependent
  amount of encoder work.

Gold CID pairs follow the generator's rule: a plan sentence that is
marked gold and names both a chemical and a disease.
"""

from __future__ import annotations

import random
from datetime import datetime, timezone
from pathlib import Path

from relation_extraction_cdr_spark.datagen import CHEMICALS, DISEASES, _doc_plan

HEAVY_FACTOR = 10
_ID_SPACE = 1 << 31
_REP_STRIDE = 7919  # the rotation stride of datagen.gen_pages_df
_EPOCH = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())


def _plan_ids(doc_id: int, reps: int) -> list[int]:
    return [(doc_id + rep * _REP_STRIDE) % _ID_SPACE for rep in range(reps)]


def doc_ids(seed: int, reps: list[int], salt: str = "") -> list[int]:
    """One distinct doc id per page, drawn from ``seed`` (and a name that
    keeps the warm-up corpus apart from the measured one).  Pages at
    normal length avoid the long-filler rule."""
    rng = random.Random(f"{seed}/{salt}")
    normal = min(reps)
    out: list[int] = []
    seen: set[int] = set()
    for r in reps:
        while True:
            doc_id = rng.randrange(_ID_SPACE)
            # a heavy page repeats the plan so often that every id hits the rule
            if doc_id not in seen and (
                r > normal or all(p % 100 != 99 for p in _plan_ids(doc_id, r))
            ):
                break
        seen.add(doc_id)
        out.append(doc_id)
    return out


def page_text(doc_id: int, reps: int) -> tuple[str, list[tuple[str, str]]]:
    """(text, gold (chem_mesh, dis_mesh) pairs) of one page."""
    parts: list[str] = []
    gold: list[tuple[str, str]] = []
    for rep, plan_id in enumerate(_plan_ids(doc_id, reps)):
        for tpl, ci, di, is_gold in _doc_plan(plan_id):
            chem = CHEMICALS[(ci + rep) % len(CHEMICALS)]
            dis = DISEASES[(di + rep) % len(DISEASES)]
            sent = tpl
            if "{C}" in sent:
                sent = sent.replace("{C}", chem[1])
            if "{D}" in sent:
                sent = sent.replace("{D}", dis[1])
            if is_gold and "{C}" in tpl and "{D}" in tpl:
                gold.append((chem[0], dis[0]))
            parts.append(sent)
    return " ".join(parts), gold


def gen_pages(seed: int, n: int, doc_scale: int, salt: str = ""):
    """Returns (pages columns as a dict of lists, gold rows
    [(url, chem_mesh, dis_mesh)])."""
    cols: dict[str, list] = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    gold_rows: list[tuple[str, str, str]] = []
    reps = [doc_scale * (HEAVY_FACTOR if i % 100 == 99 else 1) for i in range(n)]
    for doc_id, r in zip(doc_ids(seed, reps, salt), reps):
        text, gold = page_text(doc_id, r)
        url = f"https://bench{seed}{salt}.example/doc/{doc_id}"
        cols["url"].append(url)
        cols["warc_ts"].append(datetime.fromtimestamp(_EPOCH + doc_id, tz=timezone.utc))
        cols["html"].append(b"<html><body><p>" + text.encode() + b"</p></body></html>")
        cols["text"].append(text)
        cols["lang"].append("ja" if doc_id % 17 == 16 else "en")
        gold_rows.extend((url, c, d) for c, d in sorted(set(gold)))
    return cols, gold_rows


def write_pages(cols: dict[str, list], out_dir: Path, n_files: int) -> None:
    """Write the pages table as ``n_files`` parquet files of consecutive
    rows (the stand-in for an Iceberg table's data files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    table = pa.table(cols, schema=schema)
    out_dir.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    n_files = max(1, min(n_files, n))
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), out_dir / f"part-{k:05d}.parquet")
