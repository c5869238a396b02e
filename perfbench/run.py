"""Extraction-engine benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

* ``crawl_extract``: fixture crawl pages parquet → ``extract_records`` →
  noop sink;
* ``resumable_warc``: gzip WARC shards with planted near-duplicate pages →
  ``read_warc`` → ``ResumableRun.run(extract_records)`` with 8 buckets into
  a fresh output root → ``exact_dedup_ids``, ``minhash_lsh_pairs`` (xxhash)
  and ``simhash_pairs`` over the committed records of a fixed 240-page
  slice of the input.

A run generates (or reuses) the seeded inputs under ``.perfbench_work/`` in
the checkout, starts the engine's session at ``local[nproc]`` and warms it
on a small input, then has one client submit the workload job back to back
for ``--seconds`` seconds (at least once), and finally checks the last
output against the ground truth. It prints a summary line, then one JSON
line:

* ``--trace 0``: ``docs_per_s`` (input documents over the median job
  time) and ``setup_s`` (JVM launch, session start and warm-up). Times
  are wall seconds net of the share of runnable CPU time the hypervisor
  gave to other guests (``tracing.NetTimer``): on a shared host steal
  comes in episodes longer than a run and would otherwise decide the
  spread between runs. The summary line shows the wall times and stolen
  CPU seconds too, and ``peak_rss_mb`` (this process + JVM + Python
  workers, over set-up and jobs; the output check comes after);
* ``--trace 1``: the session writes an event log and the per-layer
  metrics are measured around the calls into each module; spans go to
  ``.perfbench_work/traces/``. The session then restarts untraced, checks
  the outputs and times as many jobs as were traced: the reference for
  ``trace.overhead_frac``, ``peak_rss_mb`` (a per-layer metric: the JVM's
  share of it varies by a quarter between identical runs) and the summary
  line of a traced run.

The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sparkenv  # noqa: E402
from perfbench.inputs import ensure_inputs  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    NetTimer, RssSampler, Tracer, read_event_log, spark_metrics)
from perfbench.workloads import WORKLOADS, Ctx, WarcRuns  # noqa: E402


@dataclass
class Measured:
    """One untraced session: set-up, timed jobs and output check. Times are
    kept as ``NetTimer``s (wall and net of stolen CPU time)."""
    setup: NetTimer
    jobs: list[NetTimer]
    peak_rss_mb: float
    attempted: int
    failed: int

    @property
    def walls(self) -> list[float]:
        return [t.wall for t in self.jobs]

    @property
    def job_s(self) -> float:
        return statistics.median(t.net for t in self.jobs)


def closed_loop(job, seconds: float | None = None, jobs: int | None = None):
    """Run ``job`` back to back, ``jobs`` times or until ``seconds`` have
    passed (at least once); return a timer per run and the last output."""
    timers: list[NetTimer] = []
    out = None
    deadline = time.perf_counter() + (seconds or 0.0)
    while not timers or (len(timers) < jobs if jobs else time.perf_counter() < deadline):
        with NetTimer() as t:
            out = job()
        timers.append(t)
    return timers, out


def measure(wl, d: str, ctx: Ctx, seconds: float | None = None,
            jobs: int | None = None) -> Measured:
    """Start (or restart) the session, warm it, time the workload job in a
    closed loop, then check the last output."""
    with RssSampler() as rss:
        with NetTimer() as setup:
            spark = sparkenv.start(ctx.work, ctx.cpus)
            wl.warm(spark, d, ctx)
        timers, out = closed_loop(lambda: wl.job(spark, d, ctx), seconds, jobs)
    attempted, failed = wl.check(spark, d, out, ctx)
    spark.stop()
    return Measured(setup, timers, rss.peak_mb, attempted, failed)


def engine_metrics(ev, tracer: Tracer) -> dict[str, float]:
    """Spark counters per traced workload job (the spans named ``job``)."""
    reps = max(len(tracer.named("job")), 1)
    return {k: v if k == "spark.peak_exec_mem_mb" else v / reps
            for k, v in spark_metrics(ev, "job").items()}


def traced(wl, d: str, ctx: Ctx, name: str) -> tuple[dict, Measured]:
    """Per-layer metrics from a session with an event log, then as many
    untraced jobs in a restarted session (same JVM, so the same JIT
    warmth) as the reference for the tracing overhead."""
    log_dir = os.path.join(ctx.work, "eventlog", name)
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = sparkenv.start(ctx.work, ctx.cpus, event_log_dir=log_dir)
    wl.warm(spark, d, ctx)
    tracer = Tracer(spark.sparkContext)
    layers = wl.layers(spark, d, tracer, ctx)
    spark.stop()  # flushes the event log
    traced_s = [s.seconds for s in tracer.named("job")]
    ref = measure(wl, d, ctx, jobs=len(traced_s))
    ev = read_event_log(log_dir)
    layers["trace.overhead_frac"] = (statistics.median(traced_s)
                                     / statistics.median(ref.walls) - 1)
    layers["peak_rss_mb"] = ref.peak_rss_mb
    layers.update(engine_metrics(ev, tracer))
    layers.update(wl.after(ev, tracer, d, statistics.median(ref.walls), ctx))
    os.makedirs(os.path.join(ctx.work, "traces"), exist_ok=True)
    tracer.write(os.path.join(ctx.work, "traces", f"{name}-s{ctx.seed}.json"))
    return layers, ref


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "wine_label_ocr_spark")):
        print("perfbench: the engine package wine_label_ocr_spark is not in "
              f"{ROOT}; nothing to measure", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    sparkenv.prepare_env(work)
    d = ensure_inputs(work, args.workload, args.seed, wl.size)
    n_docs = wl.count(d)
    ctx = Ctx(work, args.seed, len(os.sched_getaffinity(0)), WarcRuns(work))
    try:
        if args.trace:
            values, m = traced(wl, d, ctx, args.workload)
        else:
            m = measure(wl, d, ctx, seconds=args.seconds)
            values = {"docs_per_s": n_docs / m.job_s, "setup_s": m.setup.net}
    finally:
        sparkenv.shutdown()
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={ctx.cpus} docs={n_docs} "
          f"job_wall_s={[round(t.wall, 3) for t in m.jobs]} "
          f"job_net_s={[round(t.net, 3) for t in m.jobs]} "
          f"job_stolen_cpu_s={[round(t.stolen_s, 2) for t in m.jobs]} "
          f"docs_per_s={n_docs / m.job_s:.4f} "
          f"docs_per_s_wall={n_docs / statistics.median(m.walls):.4f} "
          f"setup_wall_s={m.setup.wall:.4f} setup_s={m.setup.net:.4f} "
          f"setup_stolen_cpu_s={m.setup.stolen_s:.2f} "
          f"peak_rss_mb={m.peak_rss_mb:.4f} "
          f"failed_frac={m.failed / m.attempted:.6f}")

    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    unknown = set(values) - {x["name"] for x in section}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {x["name"]: {"value": float(values.get(x["name"], 0.0)),
                           "unit": x["unit"]} for x in section}
    print(json.dumps({"correct": m.failed == 0, "attempted": m.attempted,
                      "failed": m.failed, "metrics": metrics}))
    return 0 if m.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
