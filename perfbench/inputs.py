"""Seeded input generators for the benchmark, with ground truth beside each.

Every input is a pure function of ``(workload, seed, size)``. It is written
once under ``<work>/inputs/<workload>-s<seed>-n<size>/`` and reused by later
runs with the same key, so generation never sits inside a timed region.
``ensure_inputs`` runs the generator in a child process, which keeps the
generator's memory out of the measured process's resident set.

Layout per workload (the program only ever reads the first group):

* ``crawl_extract``: ``pages.parquet`` + ``warm.parquet`` (url, warc_ts,
  html, lang); truth in ``truth.parquet`` (url, text, kind).
* ``resumable_warc``: ``shards/*.warc.gz`` + ``warm/*.warc.gz`` (gzip
  WARC, HTTP envelopes) and ``dedup_slice.json`` (the urls of the
  near-duplicate pass: the first ``DEDUP_BASES`` crawl pages and the
  replicas planted among them); truth in ``truth.parquet`` (url, text,
  kind) and ``planted.json`` (base/replica url pairs and their kind).

Run as a script to generate one input directory:
``python3 perfbench/inputs.py <workload> <seed> <size> <out_dir>``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

# Pages per crawl seed are taken from a disjoint index range of the
# fixture generator: seed s covers [s * SEED_STRIDE, s * SEED_STRIDE + n).
SEED_STRIDE = 1_000_000
WARM_PAGES = 64
WARC_SHARDS = 8
# tables are written as this many files, as a crawl table would be, so the
# scan splits across cores without any repartition
PARQUET_FILES = 16


def input_dir(work: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-s{seed}-n{size}")


def ensure_inputs(work: str, workload: str, seed: int, size: int) -> str:
    """Generate the inputs for this key unless a finished copy exists."""
    out = input_dir(work, workload, seed, size)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.abspath(__file__), workload,
                    str(seed), str(size), tmp], check=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# -- crawl pages ---------------------------------------------------------------

def crawl_pages(seed: int, n: int) -> list[dict]:
    """The fixture crawl mix (≈93% HTML incl. latin-1, 5% PDF, 2% truncated)."""
    from wine_label_ocr_spark.fixtures import make_page
    base = seed * SEED_STRIDE
    return [make_page(base + i) for i in range(n)]


def write_parts(table, path: str, parts: int = PARQUET_FILES) -> None:
    """Write ``table`` as a directory of ``parts`` parquet files, in row
    order (readers list the files sorted)."""
    import pyarrow.parquet as pq
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def _pages_table(rows: list[dict]):
    import pyarrow as pa
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


def _truth_table(rows: list[dict]):
    import pyarrow as pa
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "kind": pa.array([r["kind"] for r in rows], pa.string()),
    })


def gen_crawl_extract(seed: int, n: int, out: str) -> None:
    import pyarrow.parquet as pq
    rows = crawl_pages(seed, n)
    write_parts(_pages_table(rows), os.path.join(out, "pages.parquet"))
    pq.write_table(_pages_table(rows[:WARM_PAGES]),
                   os.path.join(out, "warm.parquet"))
    pq.write_table(_truth_table(rows), os.path.join(out, "truth.parquet"))


# -- WARC shards with planted near-duplicates ----------------------------------

REPLICA_SHARE = 5  # one replica page per this many base pages
# replicas are planted among the first this many crawl pages, which with
# them make up the near-duplicate pass's input at every input size
DEDUP_BASES = 200


def planted_replicas(rows: list[dict], seed: int) -> tuple[list[dict], list[dict]]:
    """Replica pages of a seeded sample of ``rows``, rendered with the
    fixtures' document template so their extracted text is known.

    Kinds: ``exact`` (the base page's tokens, single-spaced, so only the
    whitespace differs from the base text) and ``near`` (2-8% of the tokens
    swapped for other words of the page's language). Returns ``(pages,
    planted)``; ``planted`` lists ``{base, replica, kind}`` by url.
    """
    from wine_label_ocr_spark.fixtures import WORDS, render_doc_page
    rng = random.Random(f"replicas:{seed}")
    pages, planted = [], []
    for k, i in enumerate(rng.sample(range(len(rows)), len(rows) // REPLICA_SHARE)):
        base = rows[i]
        toks = base["text"].split()
        kind = "exact" if rng.random() < 0.3 else "near"
        if kind == "near":
            for _ in range(max(1, int(len(toks) * rng.uniform(0.02, 0.08)))):
                toks[rng.randrange(len(toks))] = rng.choice(WORDS[base["lang"]])
        page = render_doc_page(seed * SEED_STRIDE + k, " ".join(toks),
                               base["lang"], "replica")
        pages.append({**page, "kind": "html"})
        planted.append({"base": base["url"], "replica": page["url"], "kind": kind})
    return pages, planted


def gen_resumable_warc(seed: int, n: int, out: str) -> None:
    """Gzip WARC shards with HTTP envelopes, one record per page, written by
    the engine's own shard writer (``sources.warc.write_warc``): ``n`` crawl
    pages plus the planted replicas of a fifth of the first ``DEDUP_BASES``."""
    import pyarrow.parquet as pq
    from wine_label_ocr_spark.sources.warc import write_warc
    rows = crawl_pages(seed, n)
    bases = rows[:DEDUP_BASES]
    replicas, planted = planted_replicas(bases, seed)
    dedup_slice = [r["url"] for r in bases + replicas]
    rows += replicas
    for sub, part in (("shards", rows), ("warm", rows[:WARM_PAGES])):
        os.makedirs(os.path.join(out, sub))
        for s in range(WARC_SHARDS):
            write_warc(os.path.join(out, sub, f"shard-{s:03d}.warc.gz"),
                       part[s::WARC_SHARDS], compress=True,
                       http_envelope=True)
    pq.write_table(_truth_table(rows), os.path.join(out, "truth.parquet"))
    with open(os.path.join(out, "planted.json"), "w", encoding="utf-8") as f:
        json.dump(planted, f)
    with open(os.path.join(out, "dedup_slice.json"), "w", encoding="utf-8") as f:
        json.dump(dedup_slice, f)


GENERATORS = {
    "crawl_extract": gen_crawl_extract,
    "resumable_warc": gen_resumable_warc,
}


def main(argv: list[str]) -> None:
    workload, seed, size, out = argv[0], int(argv[1]), int(argv[2]), argv[3]
    os.makedirs(out)
    GENERATORS[workload](seed, size, out)
    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main(sys.argv[1:])
