"""Resumable extraction runs: per-bucket checkpoints, lineage + metrics.

North-rule requirement: "resumable from per-partition checkpoints with
lineage and counter metrics written to a metrics table". The unit of
resume is an explicit url-hash bucket (``pmod(xxhash64(url), n_buckets)``)
— the same layout SURVEY.md §4 prescribes for scale — so a killed run
restarts exactly at the first uncommitted bucket and never re-extracts or
duplicates a url.

Commit protocol per bucket (idempotent):

1. filter input to the bucket (at scale: partition pruning on a
   bucket-partitioned Iceberg table — here a pushed-down hash predicate);
2. ONE Spark job runs the extraction plan and appends its results to the
   records table with lineage meta ``{run_id, bucket}`` (atomic snapshot
   commit); ``Observation``s on the bucket's input and on the records
   collect the counters in that same job — no re-read, no second pass;
3. the driver writes the metrics row (counters + wall time) with pyarrow
   and commits it to the metrics table — no Spark job;
4. write the bucket marker file — the checkpoint — via atomic rename.

Metrics columns (``METRICS_SCHEMA``): ``n_pages`` counts the bucket's
input pages (observed metrics allow no distinct count, so a url present
twice in the input counts twice); ``n_records``, ``n_with_vintage`` and
``n_bytes_text`` (total ``length(text)``) are exact counters over the
committed records.

A crash between 2 and 4 re-runs the bucket; re-running first *rolls back*
that bucket's partial snapshot (drops its files from the manifest head)
so the append stays exactly-once. This mirrors ST7 ("exactly-once side
effect via dedup key in state", Char_Count_TurnTable.py:159,259-274).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..sources.table import ManifestTable

METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("bucket", pa.int32()),
    ("n_pages", pa.int64()), ("n_records", pa.int64()),
    ("n_with_vintage", pa.int64()), ("n_bytes_text", pa.int64()),
    ("wall_sec", pa.float64()),
    ("committed_ts", pa.timestamp("us", tz="UTC")),
])


class ResumableRun:
    def __init__(self, out_root: str, run_id: str = "run1", n_buckets: int = 8):
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.records = ManifestTable(os.path.join(out_root, "records"))
        self.metrics = ManifestTable(os.path.join(out_root, "metrics"))
        self.ckpt_dir = os.path.join(out_root, "_checkpoints", run_id)
        os.makedirs(self.ckpt_dir, exist_ok=True)

    # -- checkpoint markers --------------------------------------------------

    def _marker(self, bucket: int) -> str:
        return os.path.join(self.ckpt_dir, f"bucket-{bucket:05d}.json")

    def done_buckets(self) -> set[int]:
        return {
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(self.ckpt_dir)
            if f.startswith("bucket-") and f.endswith(".json")
        }

    def _write_marker(self, bucket: int, payload: dict) -> None:
        tmp = self._marker(bucket) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f)
        os.replace(tmp, self._marker(bucket))

    def _rollback_bucket(self, bucket: int) -> None:
        """Drop any committed-but-unmarked snapshot for this bucket. Its
        data files are orphaned, not deleted — ``vacuum`` is separate."""
        for tbl in (self.records, self.metrics):
            m = tbl._load()
            snaps = [s for s in m["snapshots"]
                     if not (s["meta"].get("run_id") == self.run_id
                             and s["meta"].get("bucket") == bucket)]
            if len(snaps) != len(m["snapshots"]):
                dropped = [s for s in m["snapshots"] if s not in snaps]
                drop_files = {f for s in dropped for f in s["new_files"]}
                for s in snaps:
                    s["files"] = [f for f in s["files"] if f not in drop_files]
                m["snapshots"] = snaps
                m["current"] = snaps[-1]["id"] if snaps else None
                tbl._commit(m)

    # -- the run ---------------------------------------------------------------

    def run(self, spark: SparkSession, pages: DataFrame,
            plan: Callable[[DataFrame], DataFrame],
            fail_after: int | None = None) -> dict:
        """Execute ``plan`` bucket by bucket with resume.

        ``plan`` must build on the DataFrame it is given: the page counter
        is observed on that input. ``fail_after`` (tests only): raise after
        N buckets to simulate a crash mid-run.
        """
        bucket_col = F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        pages_b = pages.withColumn("_bucket", bucket_col)
        done = self.done_buckets()
        n_done = 0
        for b in range(self.n_buckets):
            if b in done:
                continue
            self._rollback_bucket(b)
            t0 = time.time()
            meta = {"run_id": self.run_id, "bucket": b}
            seen, made = Observation(), Observation()
            inp = (pages_b.filter(F.col("_bucket") == b).drop("_bucket")
                   .observe(seen, F.count(F.lit(1)).alias("n_pages")))
            out = (plan(inp)
                   .withColumn("run_id", F.lit(self.run_id))
                   .withColumn("bucket", F.lit(b))
                   .observe(made, F.count(F.lit(1)).alias("n_records"),
                            F.count("vintage").alias("n_with_vintage"),
                            F.coalesce(F.sum(F.length("text")), F.lit(0))
                            .alias("n_bytes_text")))
            # the append is the bucket's only Spark job: it runs the plan
            # once and fills both observations on the way
            self.records.append(out, meta=meta)
            stats = {**seen.get, **made.get}
            wall = time.time() - t0
            row = {**meta, **stats, "wall_sec": wall,
                   "committed_ts": datetime.now(timezone.utc)}
            self.metrics.append(
                pa.Table.from_pylist([row], schema=METRICS_SCHEMA), meta=meta)
            self._write_marker(b, {**meta, "n_records": stats["n_records"],
                                   "wall_sec": wall})
            n_done += 1
            if fail_after is not None and n_done >= fail_after:
                raise RuntimeError(f"simulated crash after {n_done} buckets")
        return {"run_id": self.run_id, "buckets_done": len(self.done_buckets()),
                "n_buckets": self.n_buckets}
