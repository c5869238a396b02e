"""The two workloads: their jobs, output checks and per-layer measurements.

Each workload supplies

* ``warm(spark, d, ctx)``: the job's plan on the small warm-up input;
* ``job(spark, d, ctx)``: one closed-loop iteration over the full input,
  which returns what ``check`` needs;
* ``check(spark, d, out, ctx)``: ``(attempted, failed)`` units of output,
  run once the timed jobs are done, on the last job's output (a workload
  whose job writes to a noop sink recomputes it);
* ``layers(spark, d, tracer, ctx)``: the per-layer metrics,
  measured from outside the engine on a session that writes an event log;
* ``after(ev, tracer, d, untraced_s, ctx)``: the metrics that need the
  event log, or the traced session gone.

Per-layer metrics a workload does not exercise are reported as 0.
"""

from __future__ import annotations

import cProfile
import glob
import hashlib
import inspect
import json
import os
import pstats
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq

from .inputs import PARQUET_FILES, write_parts
from .tracing import Tracer

N_BUCKETS = 8
LAYER_REPS = 3
ORACLE_SAMPLE = {"html": 150, "pdf": 30, "degraded": 30}
MINHASH = {"n_perm": 16, "n_bands": 4, "min_jaccard": 0.4}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn: Callable[[], object]) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# -- oracle: single-process sample ---------------------------------------------

def _oracle_frames(oracle) -> dict[str, Callable[[tuple], bool]]:
    """Profiler-entry predicates per reported oracle function. A function
    owns the frames of the closures defined inside it."""
    path = inspect.getsourcefile(oracle)

    def inside(fn):
        lines, first = inspect.getsourcelines(fn)
        return lambda key: key[0] == path and first <= key[1] < first + len(lines)

    preds = {n: inside(getattr(oracle, n)) for n in
             ("lex_blocks", "extract_year", "fingerprint_spans", "detect_charset")}
    preds["pdf"] = lambda key: key[0] == path and (
        key[2].startswith("_pdf") or key[2] == "_inflate")
    return preds


def oracle_layer(docs: list[tuple[bytes, str, str]], seed: int) -> dict[str, float]:
    """``docs`` is ``(payload, url, kind)``; a seeded sample per kind is
    timed single-process, then profiled once as a whole."""
    from wine_label_ocr_spark import oracle

    rng = random.Random(seed)
    sample: dict[str, list] = {}
    for kind, k in ORACLE_SAMPLE.items():
        pool = [d for d in docs if d[2] == kind]
        sample[kind] = rng.sample(pool, min(k, len(pool)))
    out: dict[str, float] = {}
    for kind, ds in sample.items():
        per_pass = [timed(lambda ds=ds: [oracle.extract(p, u) for p, u, _ in ds])
                    for _ in range(LAYER_REPS)] if ds else [0.0]
        out[f"oracle.extract.us_per_doc.{kind}"] = (
            statistics.median(per_pass) / max(len(ds), 1) * 1e6)
    everything = [d for ds in sample.values() for d in ds]
    prof = cProfile.Profile()
    prof.enable()
    for p, u, _ in everything:
        oracle.extract(p, u)
    prof.disable()
    stats = pstats.Stats(prof).stats
    total = sum(v[2] for v in stats.values()) or 1.0
    for name, owns in _oracle_frames(oracle).items():
        out[f"oracle.{name}.self_frac"] = sum(
            v[2] for key, v in stats.items() if owns(key)) / total
    ws_calls = sum(v[1] for key, v in stats.items() if key[2] == "normalize_ws")
    out["oracle.normalize_ws.calls_per_doc"] = ws_calls / max(len(everything), 1)
    return out


# -- crawl_extract ---------------------------------------------------------------

PAGE_COLS = ["url", "warc_ts", "html", "lang"]


def _pages(spark, path: str):
    return spark.read.parquet(path).select(*PAGE_COLS)


def crawl_warm(spark, d: str, ctx) -> None:
    from wine_label_ocr_spark.plans.pipeline import extract_records
    noop(extract_records(_pages(spark, os.path.join(d, "warm.parquet"))))


def crawl_job(spark, d: str, ctx) -> None:
    from wine_label_ocr_spark.plans.pipeline import extract_records
    noop(extract_records(_pages(spark, os.path.join(d, "pages.parquet"))))


def _truth(d: str) -> dict[str, str]:
    t = pq.read_table(os.path.join(d, "truth.parquet"), columns=["url", "text"])
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def check_texts(rows: list[tuple[str, str]], truth: dict[str, str]) -> set[str]:
    """Urls whose output is wrong: missing, repeated, unexpected, or with a
    text that differs from the ground truth."""
    seen: dict[str, int] = {}
    bad = set()
    for url, text in rows:
        seen[url] = seen.get(url, 0) + 1
        if truth.get(url) != text:
            bad.add(url)
    bad.update(u for u, c in seen.items() if c != 1)
    bad.update(u for u in truth if u not in seen)
    return bad


def _oracle_mismatches(rows: dict[str, str], pages: list[tuple[bytes, str, str]],
                       seed: int, k: int = 100) -> set[str]:
    """Re-extract a seeded sample with ``oracle.extract`` and compare."""
    from wine_label_ocr_spark.oracle import extract
    sample = random.Random(seed).sample(pages, min(k, len(pages)))
    return {u for p, u, _ in sample if extract(p, u)["text"] != rows.get(u)}


def _kinds(d: str) -> dict[str, str]:
    t = pq.read_table(os.path.join(d, "truth.parquet"), columns=["url", "kind"])
    return dict(zip(t.column("url").to_pylist(), t.column("kind").to_pylist()))


def _crawl_docs(d: str) -> list[tuple[bytes, str, str]]:
    pages = pq.read_table(os.path.join(d, "pages.parquet"), columns=["url", "html"])
    kind = _kinds(d)
    return [(h, u, kind[u]) for h, u in zip(pages.column("html").to_pylist(),
                                            pages.column("url").to_pylist())]


def crawl_check(spark, d: str, out, ctx) -> tuple[int, int]:
    from wine_label_ocr_spark.plans.pipeline import extract_records
    rows = [(r.url, r.text) for r in extract_records(
        _pages(spark, os.path.join(d, "pages.parquet"))).select("url", "text").collect()]
    truth = _truth(d)
    bad = check_texts(rows, truth)
    bad |= _oracle_mismatches(dict(rows), _crawl_docs(d), ctx.seed)
    return len(truth), len(bad)


def _passthrough(batches):
    yield from batches


def crawl_layers(spark, d: str, tracer: Tracer, ctx) -> dict[str, float]:
    from wine_label_ocr_spark.operators.segmentation import segment
    from wine_label_ocr_spark.plans.pipeline import extract_records

    pages = _pages(spark, os.path.join(d, "pages.parquet"))
    prefixes = {
        "scan": lambda: noop(pages),
        "passthrough": lambda: noop(pages.mapInArrow(_passthrough, pages.schema)),
        "segment": lambda: noop(segment(pages)),
        "job": lambda: noop(extract_records(pages)),
    }
    # reps interleave the prefixes, so JIT warm-up drift is shared by all
    walls: dict[str, list[float]] = {name: [] for name in prefixes}
    for _ in range(LAYER_REPS):
        for name, fn in prefixes.items():
            with tracer.span(name) as s:
                fn()
            walls[name].append(s.seconds)
    t = {name: statistics.median(w) for name, w in walls.items()}
    out = {
        "scan.parquet_s": t["scan"],
        "operators.segmentation.boundary_s": t["passthrough"] - t["scan"],
        "operators.segmentation.kernel_s": t["segment"] - t["passthrough"],
        "operators.extraction.stage2_s": t["job"] - t["segment"],
    }
    out.update(oracle_layer(_crawl_docs(d), ctx.seed))
    return out


def crawl_after(ev, tracer: Tracer, d: str, untraced_s: float, ctx) -> dict[str, float]:
    """Weak scaling, measured once the traced session has stopped:
    t(local[1] pinned to one CPU, 1/cpus of the pages) over the untraced
    t(local[cpus], all pages). 1.0 is perfect."""
    cpus = ctx.cpus
    if cpus == 1:
        return {"scaling_eff": 1.0}
    part = os.path.join(d, f"pages_1of{cpus}.parquet")
    if not os.path.exists(part):
        shutil.rmtree(part + ".tmp", ignore_errors=True)
        t = pq.read_table(os.path.join(d, "pages.parquet"))
        write_parts(t.slice(0, t.num_rows // cpus), part + ".tmp",
                    max(PARQUET_FILES // cpus, 1))
        os.replace(part + ".tmp", part)
    cpu0 = min(os.sched_getaffinity(0))
    leg = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scaling_leg.py")
    res = subprocess.run(
        ["taskset", "-c", str(cpu0), sys.executable, leg, ctx.work, d, part,
         str(LAYER_REPS)],
        check=True, capture_output=True, text=True, timeout=150)
    return {"scaling_eff": float(res.stdout.strip().splitlines()[-1]) / untraced_s}


# -- resumable_warc: WARC -> resumable extraction -> near-dup pass ---------------

DEDUPE_OPS = ("exact_dedup", "minhash_lsh", "simhash_pairs")


class WarcRuns:
    """Fresh output roots for successive resumable runs. The previous
    benchmark run's roots are deleted up front, so no timed job pays for
    deleting files."""

    def __init__(self, work: str):
        self.base = os.path.join(work, "runs")
        self.n = 0
        shutil.rmtree(self.base, ignore_errors=True)

    def fresh(self) -> str:
        self.n += 1
        return os.path.join(self.base, f"run{self.n}")


class BucketSpans:
    """Plan wrapper: ``ResumableRun.run`` calls the plan once per bucket, so
    each call closes the previous bucket's span and opens the next one."""

    def __init__(self, plan, tracer: Tracer):
        self.plan, self.tracer, self.n, self.open = plan, tracer, 0, False

    def __call__(self, df):
        self.finish()
        self.tracer.open(f"bucket-{self.n}")
        self.n += 1
        self.open = True
        return self.plan(df)

    def finish(self) -> None:
        if self.open:
            self.tracer.close()
            self.open = False


def _resumable(spark, d: str, root: str, shards: str = "shards",
               n_buckets: int = N_BUCKETS, tracer: Tracer | None = None):
    from wine_label_ocr_spark.plans.pipeline import extract_records
    from wine_label_ocr_spark.plans.resumable import ResumableRun
    from wine_label_ocr_spark.sources.warc import read_warc

    rr = ResumableRun(root, run_id="bench", n_buckets=n_buckets)
    pages = read_warc(spark, os.path.join(d, shards, "*.warc.gz"))
    if tracer is None:
        rr.run(spark, pages, extract_records)
        return rr
    marks = BucketSpans(extract_records, tracer)
    try:
        rr.run(spark, pages, marks)
    finally:
        marks.finish()
    return rr


def _dedup_slice(d: str) -> list[str]:
    with open(os.path.join(d, "dedup_slice.json"), encoding="utf-8") as f:
        return json.load(f)


def _dedup_ops(spark, rr, d: str, tracer: Tracer | None = None) -> dict[str, list]:
    """The near-duplicate pass over the committed records of the dedup slice
    (a fixed-size share of the input: on the fixture vocabulary the pair
    count grows faster than linearly), keyed by url."""
    from contextlib import nullcontext

    from pyspark.sql import functions as F
    from wine_label_ocr_spark.operators.dedupe import (
        exact_dedup_ids, minhash_lsh_pairs, simhash_pairs)

    docs = (rr.records.read(spark).select("url", "text")
            .filter(F.col("url").isin(_dedup_slice(d))))
    ids = {"id_col": "url", "text_col": "text"}
    plans = {
        "exact_dedup": lambda: [r[0] for r in exact_dedup_ids(docs, **ids).collect()],
        "minhash_lsh": lambda: [tuple(r) for r in
                                minhash_lsh_pairs(docs, **ids, **MINHASH).collect()],
        "simhash_pairs": lambda: [tuple(r) for r in
                                  simhash_pairs(docs, **ids).collect()],
    }
    out = {}
    for op, run in plans.items():
        with tracer.span(op) if tracer else nullcontext():
            out[op] = run()
    return out


def warc_warm(spark, d: str, ctx) -> None:
    # one bucket walks every step of the bucket protocol
    rr = _resumable(spark, d, ctx.runs.fresh(), shards="warm", n_buckets=1)
    _dedup_ops(spark, rr, d)


def warc_job(spark, d: str, ctx):
    rr = _resumable(spark, d, ctx.runs.fresh())
    return rr, _dedup_ops(spark, rr, d)


def warc_check(spark, d: str, out, ctx) -> tuple[int, int]:
    """One record per input url with the ground-truth text, metrics rows
    that sum to the input, then the near-duplicate checks."""
    rr, dups = out
    truth = _truth(d)
    rows = [(r.url, r.text) for r in rr.records.read(spark).select("url", "text").collect()]
    bad = check_texts(rows, truth)
    m = rr.metrics.read(spark).collect()
    sums_ok = (len(m) == N_BUCKETS
               and sum(r.n_pages for r in m) == len(truth)
               and sum(r.n_records for r in m) == len(truth))
    attempted, failed = dedup_check({u: truth[u] for u in _dedup_slice(d)},
                                    _planted(d), dups)
    return len(truth) + 1 + attempted, len(bad) + (not sums_ok) + failed


_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def content_key(text: str) -> str:
    """md5 of the whitespace-canonicalised text (Java ``\\s`` runs → one
    space, ends trimmed), computed in plain Python."""
    return hashlib.md5(_JAVA_WS.sub(" ", text).strip(" ").encode("utf-8")).hexdigest()


def shingle_set(text: str, k: int = 3) -> set[str]:
    toks = [t for t in _JAVA_WS.split(text) if t]
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def exact_jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / max(len(a | b), 1)


def _planted(d: str) -> list[dict]:
    with open(os.path.join(d, "planted.json"), encoding="utf-8") as f:
        return json.load(f)


def dedup_check(texts: dict[str, str], planted: list[dict],
                out: dict[str, list]) -> tuple[int, int]:
    """``(attempted, failed)`` units: each document's survivor status against
    a Python content-hash pass, each minhash pair's Jaccard against an exact
    recomputation, each simhash pair's shape, and each planted exact replica
    found by both near-duplicate operators."""
    winners: dict[str, str] = {}
    for i, t in texts.items():
        key = content_key(t)
        winners[key] = min(i, winners.get(key, i))
    got = out["exact_dedup"]
    bad_docs = len(set(winners.values()) ^ set(got)) + len(got) - len(set(got))
    shingles: dict[str, set[str]] = {}

    def sh(i: str) -> set[str]:
        if i not in shingles:
            shingles[i] = shingle_set(texts[i])
        return shingles[i]

    mh = out["minhash_lsh"]
    bad_mh = sum(
        not (a < b and j >= MINHASH["min_jaccard"]
             and abs(j - exact_jaccard(sh(a), sh(b))) <= 5e-7)
        for a, b, j in mh) + len(mh) - len({(a, b) for a, b, _ in mh})
    sp = out["simhash_pairs"]
    bad_sh = sum(not (a < b and 0 <= h <= 8) for a, b, h in sp) \
        + len(sp) - len({(a, b) for a, b, _ in sp})
    exact = [tuple(sorted((p["base"], p["replica"]))) for p in planted
             if p["kind"] == "exact"]
    mh_pairs = {(a, b) for a, b, _ in mh}
    sh_pairs = {(a, b) for a, b, _ in sp}
    missing = sum((p not in mh_pairs) + (p not in sh_pairs) for p in exact)
    attempted = len(texts) + len(mh) + len(sp) + 2 * len(exact)
    return attempted, bad_docs + bad_mh + bad_sh + missing


def planted_recall(texts: dict[str, str], planted: list[dict], mh: list[tuple]) -> float:
    """Share of planted pairs at or above the Jaccard threshold that the
    minhash operator emitted."""
    found = {(a, b) for a, b, _ in mh}
    due = [tuple(sorted((p["base"], p["replica"]))) for p in planted]
    due = [p for p in due if exact_jaccard(shingle_set(texts[p[0]]),
                                           shingle_set(texts[p[1]]))
           >= MINHASH["min_jaccard"]]
    return sum(p in found for p in due) / max(len(due), 1)


def stored_bytes_per_doc(rr, n_docs: int) -> float:
    return sum(os.path.getsize(f) for f in rr.records.current_files()) / n_docs


def _warc_records(d: str) -> tuple[list[tuple[bytes, str, str]], float]:
    """Every response record of the shards as ``(payload, url, kind)``,
    plus the single-process parse time per record in µs."""
    from wine_label_ocr_spark.sources.warc import parse_warc_bytes
    blobs = []
    for p in sorted(glob.glob(os.path.join(d, "shards", "*.warc.gz"))):
        with open(p, "rb") as f:
            blobs.append(f.read())
    recs: list = []
    walls = []
    for _ in range(LAYER_REPS):
        t0 = time.perf_counter()
        recs = [r for b in blobs for r in parse_warc_bytes(b)]
        walls.append(time.perf_counter() - t0)
    kind = _kinds(d)
    docs = [(r[2], r[0], kind[r[0]]) for r in recs]
    return docs, statistics.median(walls) / max(len(recs), 1) * 1e6


class TracedAppends:
    """Route ``ManifestTable.append`` through spans named after the table
    (``append.records`` / ``append.metrics``), recording files and bytes."""

    def __init__(self, tracer: Tracer):
        from wine_label_ocr_spark.sources.table import ManifestTable
        self.cls, self.orig, self.tracer = ManifestTable, ManifestTable.append, tracer

    def __enter__(self):
        orig, tracer = self.orig, self.tracer

        def append(table, df, *args, **kwargs):
            with tracer.span(f"append.{os.path.basename(table.root)}") as s:
                sid = orig(table, df, *args, **kwargs)
            new = next(x["new_files"] for x in table.snapshots() if x["id"] == sid)
            s.attrs.update(files=len(new),
                           bytes=sum(os.path.getsize(f) for f in new))
            return sid

        self.cls.append = append
        return self

    def __exit__(self, *exc) -> None:
        self.cls.append = self.orig


def warc_layers(spark, d: str, tracer: Tracer, ctx) -> dict[str, float]:
    from wine_label_ocr_spark.plans.pipeline import extract_records
    from wine_label_ocr_spark.sources.warc import read_warc

    shard_glob = os.path.join(d, "shards", "*.warc.gz")
    # one pass each: two resumable jobs (traced and reference) already take
    # most of the 180 s a traced run may last
    with tracer.span("read"):
        read_s = timed(lambda: noop(read_warc(spark, shard_glob)))
    with tracer.span("extract_noop"):
        extract_s = timed(lambda: noop(extract_records(read_warc(spark, shard_glob))))
    with tracer.span("job"):
        with TracedAppends(tracer), tracer.span("resumable") as run:
            rr = _resumable(spark, d, ctx.runs.fresh(), tracer=tracer)
        dups = _dedup_ops(spark, rr, d, tracer)
    buckets = [s.seconds for s in tracer.named("bucket")]
    recs = sum(s.seconds for s in tracer.named("append.records"))
    mets = sum(s.seconds for s in tracer.named("append.metrics"))
    appends = tracer.named("append.records") + tracer.named("append.metrics")
    docs, parse_us = _warc_records(d)
    truth = _truth(d)
    out = {
        "sources.warc.read_s": read_s,
        "sources.warc.parse_us_per_record": parse_us,
        "sources.table.append_s": recs + mets,
        "sources.table.files_written": sum(s.attrs["files"] for s in appends),
        "sources.table.bytes_written": sum(s.attrs["bytes"] for s in appends),
        "plans.resumable.bucket_s.p50": statistics.median(buckets),
        "plans.resumable.bucket_s.max": max(buckets),
        "plans.resumable.records_append_s": recs,
        "plans.resumable.metrics_append_s": mets,
        "plans.resumable.other_s": run.seconds - recs - mets,
        "plans.resumable.overhead_frac": 1.0 - extract_s / run.seconds,
        "stored_bytes_per_doc": stored_bytes_per_doc(rr, len(docs)),
        "operators.dedupe.minhash.pairs_out": len(dups["minhash_lsh"]),
        "operators.dedupe.simhash.pairs_out": len(dups["simhash_pairs"]),
        "operators.dedupe.minhash.planted_recall":
            planted_recall(truth, _planted(d), dups["minhash_lsh"]),
    }
    out.update({f"operators.dedupe.{op}_s": tracer.named(op)[0].seconds
                for op in DEDUPE_OPS})
    out.update(oracle_layer(docs, ctx.seed))
    return out


def warc_after(ev, tracer: Tracer, d: str, untraced_s: float, ctx) -> dict[str, float]:
    buckets = [s.path for s in tracer.named("bucket")]
    out = {
        "plans.resumable.jobs_per_bucket":
            statistics.mean(len(ev.jobs_under(b)) for b in buckets),
        "sources.warc.shard_reads": sum(
            t["records_read"] for t in ev.tasks_under("job/resumable")
            if t["stage"] in ev.binary_scan_stages),
    }
    out.update({f"operators.dedupe.{k}.shuffle_write_bytes": sum(
        t["shuffle_write"] for t in ev.tasks_under(f"job/{op}"))
        for k, op in (("minhash", "minhash_lsh"), ("simhash", "simhash_pairs"))})
    return out


# -- registry --------------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    size: int                # crawl pages generated for the seed
    warm: Callable
    job: Callable
    check: Callable
    layers: Callable         # traced session
    after: Callable          # event log, once the traced session stopped

    @staticmethod
    def count(d: str) -> int:
        """Input documents: one ground-truth row each."""
        return pq.read_metadata(os.path.join(d, "truth.parquet")).num_rows


@dataclass
class Ctx:
    work: str
    seed: int
    cpus: int
    runs: WarcRuns


# resumable_warc's size: on a shared 4-CPU VM its 8 buckets (6 Spark jobs
# each) cost ~30 s at any input size up to 10k pages; what grows with the
# input (re-scans, extraction, writes) adds ~0.7 ms per page, a third of
# the job at 20k pages and a tenth at 5000. 5000 is the largest input at
# which a traced run, with two such jobs and two session starts, stays
# well inside the 180 s a run may last.
WORKLOADS = {
    "crawl_extract": Workload(4000, crawl_warm, crawl_job, crawl_check,
                              crawl_layers, crawl_after),
    "resumable_warc": Workload(5000, warc_warm, warc_job, warc_check,
                               warc_layers, warc_after),
}
