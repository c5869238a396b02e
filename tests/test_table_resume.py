"""Tests for the snapshot table and resumable-run protocol."""

from __future__ import annotations

import pytest

from wine_label_ocr_spark.fixtures import pages_spark
from wine_label_ocr_spark.plans.pipeline import extract_records
from wine_label_ocr_spark.plans.resumable import ResumableRun
from wine_label_ocr_spark.sources.table import ManifestTable


def test_append_and_snapshot_history(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    assert t.is_empty()
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(5, 8).withColumnRenamed("id", "k")
    s1 = t.append(df1)
    s2 = t.append(df2)
    assert [s["id"] for s in t.snapshots()] == [s1, s2]
    assert t.read(spark).count() == 8
    # time travel to the first snapshot
    assert t.read(spark, snapshot_id=s1).count() == 5


def test_merge_insert_is_anti_join(spark, tmp_path):
    """S4/J11 — MERGE WHEN NOT MATCHED: re-ingesting overlapping keys is a
    no-op for the overlap (the reference's 'append iff not seen',
    scan_and_store.py:234-235)."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.range(10).withColumnRenamed("id", "k"))
    t.merge_insert(spark, spark.range(5, 15).withColumnRenamed("id", "k"), "k")
    rows = sorted(r["k"] for r in t.read(spark).collect())
    assert rows == list(range(15))
    # idempotent: merging the same batch again adds nothing
    t.merge_insert(spark, spark.range(5, 15).withColumnRenamed("id", "k"), "k")
    assert t.read(spark).count() == 15


def test_overwrite_replaces(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.range(10).withColumnRenamed("id", "k"))
    t.overwrite(spark.range(3).withColumnRenamed("id", "k"))
    assert t.read(spark).count() == 3


def test_merge_upsert_last_write_wins(spark, tmp_path):
    """WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT: re-ingesting a
    changed record replaces it in the current snapshot; history keeps the
    pre-merge rows (time travel preserved)."""
    from pyspark.sql import functions as F
    t = ManifestTable(str(tmp_path / "t"))
    s1 = t.append(spark.range(5).select(
        F.col("id").alias("k"), F.lit("old").alias("v")))
    t.merge_upsert(spark, spark.range(3, 8).select(
        F.col("id").alias("k"), F.lit("new").alias("v")), "k")
    cur = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert cur == {0: "old", 1: "old", 2: "old",
                   3: "new", 4: "new", 5: "new", 6: "new", 7: "new"}
    # history: the pre-merge snapshot still reads the old values
    old = {r["k"]: r["v"] for r in t.read(spark, snapshot_id=s1).collect()}
    assert old == {i: "old" for i in range(5)}
    assert t.snapshots()[-1]["op"] == "merge_upsert"
    # idempotent: upserting the same batch changes nothing
    t.merge_upsert(spark, spark.range(3, 8).select(
        F.col("id").alias("k"), F.lit("new").alias("v")), "k")
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == cur


def test_file_stats_pruning(spark, tmp_path):
    """Per-file min/max recorded from parquet footers at write; a keyed
    read SKIPS files whose range can't match — asserted on the scan's
    actual input file list, not just the result."""
    from pyspark.sql import functions as F
    t = ManifestTable(str(tmp_path / "t"))
    # range-partitioned write → 4 files with (near-)disjoint k ranges
    df = spark.range(1000).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    t.append(df.repartitionByRange(4, "k"), stats_col="k")
    snap = t.snapshots()[-1]
    assert snap["stats_col"] == "k"
    assert len(snap["stats"]) == len(snap["files"]) == 4
    pruned = t.read(spark, key_between=(10, 20))
    assert len(pruned.inputFiles()) < 4  # files actually skipped
    got = sorted(r["k"] for r in pruned.filter(F.col("k").between(10, 20)).collect())
    assert got == list(range(10, 21))  # pruning never changes results
    # append WITHOUT restating stats_col: it is sticky, new files get stats
    t.append(spark.range(2000, 2100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    snap2 = t.snapshots()[-1]
    assert snap2["stats_col"] == "k" and len(snap2["stats"]) == len(snap2["files"])
    late = t.read(spark, key_between=(2050, 2050))
    assert len(late.inputFiles()) < len(snap2["files"])
    assert late.filter(F.col("k") == 2050).count() == 1
    # an out-of-range key prunes everything → None, matching is_empty logic
    assert t.read(spark, key_between=(10**9, 10**9)) is None


N = 120


@pytest.mark.parametrize("fail_after", [None, 3])
def test_resumable_run(spark, tmp_path, fail_after):
    """Kill mid-run, restart from checkpoint → identical final table, no
    duplicate urls (SURVEY.md §5.5)."""
    pages = pages_spark(spark, N, partitions=3)
    rr = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=6)
    if fail_after:
        with pytest.raises(RuntimeError, match="simulated crash"):
            rr.run(spark, pages, extract_records, fail_after=fail_after)
        assert len(rr.done_buckets()) == fail_after
        # restart: fresh object, same roots
        rr = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=6)
    res = rr.run(spark, pages, extract_records)
    assert res["buckets_done"] == 6

    rec = rr.records.read(spark)
    urls = [r["url"] for r in rec.select("url").collect()]
    assert len(urls) == N
    assert len(set(urls)) == N  # no duplicates after resume

    # lineage: every record row carries (run_id, bucket)
    assert rec.filter("run_id = 'r1'").count() == N
    # metrics table: one row per bucket, counters sum to N
    met = rr.metrics.read(spark)
    assert met.count() == 6
    assert sum(r["n_records"] for r in met.collect()) == N
    assert met.columns == ["run_id", "bucket", "n_pages", "n_records",
                           "n_with_vintage", "n_bytes_text", "wall_sec",
                           "committed_ts"]


def test_resumable_run_executes_plan_once_per_bucket(spark, tmp_path):
    """r1 VERDICT #6: the extraction plan must run ONCE per bucket (append
    first, metrics from committed files) — the old agg+append executed the
    uncached plan twice. Counted via an accumulator ticking per input row."""
    acc = spark.sparkContext.accumulator(0)

    def counting_plan(df):
        def tick(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf
        return extract_records(df.mapInPandas(tick, schema=df.schema))

    pages = pages_spark(spark, N, partitions=3)
    rr = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=4)
    rr.run(spark, pages, counting_plan)
    assert acc.value == N, f"plan executed {acc.value / N:.1f}x per row"
    # metrics: n_pages counts the bucket's input pages
    met = rr.metrics.read(spark)
    assert sum(r["n_pages"] for r in met.collect()) == N


METRICS_SCHEMA_STR = ("struct<run_id:string,bucket:int,n_pages:bigint,"
                      "n_records:bigint,n_with_vintage:bigint,"
                      "n_bytes_text:bigint,wall_sec:double,"
                      "committed_ts:timestamp>")


def test_resumable_run_one_job_per_bucket(spark, tmp_path):
    """Each bucket is ONE Spark job: the records append runs the plan and
    observes every counter; the metrics row is written on the driver.
    The observed counters equal an aggregate over the bucket's committed
    files, and the metrics table keeps its exact schema."""
    from pyspark.sql import functions as F
    sc = spark.sparkContext
    pages = pages_spark(spark, N, partitions=3)
    rr = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=4)
    group = "resumable-one-job"
    sc.setJobGroup(group, group)
    try:
        rr.run(spark, pages, extract_records)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4

    met = rr.metrics.read(spark)
    assert met.schema.simpleString() == METRICS_SCHEMA_STR
    rows = {r["bucket"]: r for r in met.collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    for snap in rr.records.snapshots():
        b = snap["meta"]["bucket"]
        want = spark.read.parquet(*snap["new_files"]).agg(
            F.count("*").alias("n_records"),
            F.count_distinct("url").alias("n_pages"),
            F.count("vintage").alias("n_with_vintage"),
            F.coalesce(F.sum(F.length("text")), F.lit(0))
            .alias("n_bytes_text")).collect()[0]
        for col in ("n_records", "n_pages", "n_with_vintage", "n_bytes_text"):
            assert rows[b][col] == want[col], (b, col)
    assert sum(r["n_pages"] for r in rows.values()) == N


def test_resumable_run_counts_duplicate_url_pages(spark, tmp_path):
    """n_pages counts input pages, so a url present twice counts twice."""
    from pyspark.sql import functions as F
    pages = pages_spark(spark, N, partitions=3)
    dup = pages.orderBy("url").limit(1).collect()[0]["url"]
    pages = pages.unionByName(pages.filter(F.col("url") == dup))
    rr = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=3)
    rr.run(spark, pages, extract_records)
    rows = rr.metrics.read(spark).collect()
    assert sum(r["n_pages"] for r in rows) == N + 1
    rec = rr.records.read(spark)
    dup_bucket = rec.filter(F.col("url") == dup).first()["bucket"]
    for r in rows:
        urls = rec.filter(F.col("bucket") == r["bucket"]).select("url")
        assert r["n_pages"] == urls.distinct().count() + (
            r["bucket"] == dup_bucket)


def test_metrics_table_mixed_writers_schema(spark, tmp_path):
    """A metrics table holding a row written by Spark (as runs started by
    an older version wrote it) and a row written by the driver-side
    pyarrow path reads back with the one metrics schema."""
    from datetime import datetime, timezone

    import pyarrow as pa
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.plans.resumable import METRICS_SCHEMA
    t = ManifestTable(str(tmp_path / "metrics"))
    t.append(spark.createDataFrame(
        [("r1", 0, 5, 5, 3, 100, 1.5)],
        "run_id string, bucket int, n_pages bigint, n_records bigint, "
        "n_with_vintage bigint, n_bytes_text bigint, wall_sec double"
    ).withColumn("committed_ts", F.current_timestamp()))
    t.append(pa.Table.from_pylist(
        [{"run_id": "r1", "bucket": 1, "n_pages": 7, "n_records": 7,
          "n_with_vintage": 2, "n_bytes_text": 70, "wall_sec": 0.5,
          "committed_ts": datetime.now(timezone.utc)}],
        schema=METRICS_SCHEMA))
    met = t.read(spark)
    assert met.schema.simpleString() == METRICS_SCHEMA_STR
    rows = sorted(met.collect(), key=lambda r: r["bucket"])
    assert [(r["bucket"], r["n_pages"], r["n_bytes_text"]) for r in rows] == \
        [(0, 5, 100), (1, 7, 70)]
    assert all(r["committed_ts"] is not None for r in rows)


def test_rollback_unmarked_bucket(spark, tmp_path):
    """A bucket committed to the table but not checkpointed (crash between
    append and marker) is rolled back on restart — append is exactly-once."""
    pages = pages_spark(spark, N, partitions=3)
    rr = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=6)
    with pytest.raises(RuntimeError):
        rr.run(spark, pages, extract_records, fail_after=2)
    # simulate the crash window: delete one marker, keep the snapshot
    done = sorted(rr.done_buckets())
    import os
    os.remove(rr._marker(done[-1]))
    rr2 = ResumableRun(str(tmp_path / "out"), run_id="r1", n_buckets=6)
    rr2.run(spark, pages, extract_records)
    urls = [r["url"] for r in rr2.records.read(spark).select("url").collect()]
    assert len(urls) == N and len(set(urls)) == N


def test_vacuum_removes_orphans(spark, tmp_path):
    """vacuum: files orphaned by overwrite/rollback are deleted; the
    current snapshot stays readable; history truncates."""
    import os
    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.range(10).withColumnRenamed("id", "k"))
    t.overwrite(spark.range(3).withColumnRenamed("id", "k"))
    all_files = [os.path.join(r, f) for r, _, fs in os.walk(t.data_dir)
                 for f in fs if f.endswith(".parquet")]
    assert len(all_files) > len(t.current_files())
    removed = t.vacuum()
    assert removed >= 1
    assert t.read(spark).count() == 3
    assert len(t.snapshots()) == 1


def test_merge_upsert_rejects_schema_drift(spark, tmp_path):
    """Incoming columns must match the snapshot exactly — drift raises a
    named error instead of silently dropping columns (ADVICE r3)."""
    import pytest
    from pyspark.sql import functions as F
    from wine_label_ocr_spark.sources.table import ManifestTable
    t = ManifestTable(str(tmp_path / "t"))
    t.append(spark.range(3).select(F.col("id").alias("k"),
                                   F.lit("a").alias("v")))
    extra = spark.range(2).select(F.col("id").alias("k"),
                                  F.lit("b").alias("v"),
                                  F.lit(1).alias("extra_col"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge_upsert(spark, extra, key="k")
    missing = spark.range(2).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge_upsert(spark, missing, key="k")


def test_compact_bin_packs_and_tightens_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.sources.table import ManifestTable

    t = ManifestTable(str(tmp_path / "tbl"))
    # 5 commits, each spreading keys over the FULL range in 2 files —
    # the worst case for range pruning (every file overlaps every probe)
    for i in range(5):
        df = (spark.range(0, 400, 5)
              .select((F.col("id") + i).alias("k"),
                      ((F.col("id") + i) * 2).alias("v"))
              .repartition(2))
        t.append(df, stats_col="k")
    pre_files = t.current_files()
    pre_sid = t._current_snapshot()["id"]
    pre_rows = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert len(pre_files) == 10

    def probe_files(lo, hi):
        snap = t._current_snapshot()
        stats = snap["stats"]
        return [f for f in t.current_files()
                if f not in stats
                or (stats[f][0] <= hi and stats[f][1] >= lo)]

    # full-range commits leave MANY files overlapping a point probe
    assert len(probe_files(7, 7)) > 1

    sid = t.compact(spark, target_files=4, min_files=2)
    assert sid is not None
    # identical rows, fewer files, disjoint ranges -> point probe = 1 file
    assert sorted((r["k"], r["v"])
                  for r in t.read(spark).collect()) == pre_rows
    assert len(t.current_files()) == 4
    assert len(probe_files(7, 7)) == 1
    assert t._current_snapshot()["op"] == "compact"
    assert t._current_snapshot()["meta"]["compacted_from"] == 10
    # pruned read returns the right rows
    got = {r["k"] for r in
           t.read(spark, key_between=(7, 7)).collect() if r["k"] == 7}
    assert got == {7}
    # time travel to the pre-compact snapshot still works...
    assert t.read(spark, snapshot_id=pre_sid).count() == len(pre_rows)
    # ...until vacuum reclaims the old files; current read survives
    removed = t.vacuum()
    assert removed == 10
    assert sorted((r["k"], r["v"])
                  for r in t.read(spark).collect()) == pre_rows
    # below min_files it's a no-op
    assert t.compact(spark, min_files=8) is None


def test_seen_store_maybe_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.plans.crawl import SeenUrlStore

    s = SeenUrlStore(str(tmp_path / "seen"), n_files_per_commit=4)
    for i in range(3):
        urls = spark.range(i * 50, (i + 1) * 50).select(
            F.concat(F.lit("https://h.com/p"), F.col("id").cast("string"))
             .alias("url"))
        s.record_fetched(spark, urls)
    assert s.maybe_compact(spark, max_files=64) is None  # under threshold
    n_before = s.read(spark).count()
    sid = s.maybe_compact(spark, max_files=2)
    assert sid is not None
    assert s.read(spark).count() == n_before
    # fp stats survive compaction (sticky stats_col)
    assert s.table._current_snapshot()["stats_col"] == "fp"
    assert s.table._current_snapshot()["stats"]
    # pruning floor: a small store must NOT collapse to one
    # size-targeted file (that erases range-prune granularity) — the
    # min_output_files floor keeps >= 8 disjoint-range files, so a
    # point probe still opens ~1 file
    files = s.table.current_files()
    assert len(files) >= 8
    stats = s.table._current_snapshot()["stats"]
    some_fp = s.read(spark).head()["fp"]
    kept = [f for f in files
            if f not in stats
            or (stats[f][0] <= some_fp and stats[f][1] >= some_fp)]
    assert len(kept) <= 2


def test_compact_without_stats_col(spark, tmp_path):
    from pyspark.sql import functions as F

    from wine_label_ocr_spark.sources.table import ManifestTable

    t = ManifestTable(str(tmp_path / "nostats"))
    for i in range(3):
        t.append(spark.range(i * 10, (i + 1) * 10)
                 .select(F.col("id").alias("a")).repartition(2))
    assert len(t.current_files()) == 6
    sid = t.compact(spark, target_files=2, min_files=2)
    assert sid is not None
    assert len(t.current_files()) == 2
    assert sorted(r["a"] for r in t.read(spark).collect()) == list(range(30))
    assert t._current_snapshot()["stats_col"] is None


def test_partition_values_path_parse():
    """Hive-style col=value segment parsing is segment-exact: files
    without the segment land under '' (probe treats them as
    every-partition), nested commit dirs parse, and a col name that
    merely prefixes another does not match."""
    from wine_label_ocr_spark.sources.table import ManifestTable
    files = [
        "/t/data/commit-a/bucket=3/part-0.parquet",
        "/t/data/commit-a/bucket=3/part-1.parquet",
        "/t/data/commit-b/bucket=11/part-0.parquet",
        "/t/data/commit-old/part-0.parquet",          # legacy, no segment
        "/t/data/commit-c/subbucket=9/part-0.parquet",  # NOT 'bucket='
    ]
    got = ManifestTable.partition_values(files, "bucket")
    assert sorted(got["3"]) == files[:2]
    assert got["11"] == [files[2]]
    assert sorted(got[""]) == sorted(files[3:])
