"""Workload definitions and the metric names the harness prints.

Each workload is a fixed list of registered query names, the same on every
commit. The cold pass runs them in the listed order; warm passes permute
them with the run's ``--seed``.
"""

from __future__ import annotations

from dataclasses import dataclass

#: cores given to the single local executor (``local[CPUS]``)
CPUS = 4
#: TPC-H-style scale factor of the generated input tables
DATA_SF = 0.1


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    "tpch": Workload(
        queries=(
            "shipping_priority_top10",
            "tpch_q6_forecast_revenue",
            "tpch_q14_promo_effect",
        ),
        why="short JVM-only TPC-H joins and aggregates; frame construction "
        "and Catalyst show, the Python boundary, similarity caches and MLlib "
        "are bypassed",
    ),
    "corpus": Workload(
        queries=(
            "ivf_topk",
            "multimodal_features_decoded",
            "stream_tumbling_hourly_counts",
            "ml_feature_importances_rf",
        ),
        why="IVF similarity with its in-process cache, a mapInPandas decode, "
        "a stream to completion and an MLlib fit; stages, Python workers and "
        "stream threads show",
    ),
}

#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}

#: per-layer metrics (``--trace 1``): name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.schema_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "catalyst.python_eval_nodes": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "exec.cpu_ratio": "ratio",
    "similarity.cache_builds": "count",
    "similarity.cache_hits": "count",
    "streaming.jobs": "count",
}
