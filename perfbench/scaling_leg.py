"""One leg of the weak-scaling measurement, run pinned by its caller.

``python3 perfbench/scaling_leg.py <work> <input_dir> <pages.parquet> <reps>``
starts a ``local[1]`` session, warms it on the input's warm-up pages and one
untimed job (as ``run.py`` warms before its timed jobs), then prints the
median wall seconds of ``reps`` extraction jobs (parquet →
``extract_records`` → noop sink) as its last line.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import sparkenv  # noqa: E402
from perfbench.workloads import PAGE_COLS, noop, timed  # noqa: E402


def main(work: str, d: str, pages_path: str, reps: int) -> None:
    from wine_label_ocr_spark.plans.pipeline import extract_records

    sparkenv.prepare_env(work)
    spark = sparkenv.start(work, 1)
    try:
        noop(extract_records(spark.read.parquet(
            os.path.join(d, "warm.parquet")).select(*PAGE_COLS)))
        pages = spark.read.parquet(pages_path).select(*PAGE_COLS)
        walls = [timed(lambda: noop(extract_records(pages))) for _ in range(reps + 1)]
    finally:
        sparkenv.shutdown()
    print(statistics.median(walls[1:]))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]))
