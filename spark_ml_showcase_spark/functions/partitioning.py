"""Work-aware widening of narrow scans (guide §2.6, the triangle
lesson applied to sources).

Explode-heavy text queries do their O(corpus) work — regex split, gram
explode, partial aggregation — in the SCAN stage, whose parallelism is
the file-split count: a single-file parquet fixture is ONE task on 32
cores. AQE cannot help (coalescing only resizes post-shuffle stages),
so the fix is an explicit repartition BEFORE the explode — but sized
from the scan's size statistics, never blindly to defaultParallelism:
r15's triangle verdict and an r16 A/B both showed fixture-scale stages
losing the parallelism win to per-task launch overhead when tasks get
too small (tf micro at sf0.1: 0.74 s serial, 0.63-0.74 s at 32 tasks,
0.37 s at 8).

One task per ~64 KB of parquet bytes keeps explode tasks around
~100 ms of split/explode work on the ~5x larger raw text — big enough
to amortize launch, small enough to engage the cores. At corpus scale
the session-parallelism cap engages and real scans already have >= par
splits, making the whole thing a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

BYTES_PER_TASK = 64 << 10


def widen_narrow_scan(
    df: DataFrame, *, bytes_per_task: int = BYTES_PER_TASK
) -> DataFrame:
    """Repartition ``df`` for explode-heavy downstream work when its
    scan is narrower than the size-derived width. Identical frames
    widened this way share ONE exchange at runtime (reuse dedupes the
    scan+tokenize map across consumer legs)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        in_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable — leave the frame alone
        return df
    width = max(1, min(par, in_bytes // max(1, bytes_per_task)))
    # the executed plan's own RDD, read on the JVM: no Python RDD wrapper
    if df._jdf.queryExecution().toRdd().getNumPartitions() < width:
        return df.repartition(width)
    return df
