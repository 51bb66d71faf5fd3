"""The benchmark's workloads and metrics — the single source that
BENCHMARK.json mirrors (``test_perfbench.py`` checks they agree)."""

from __future__ import annotations

from dataclasses import dataclass

from spans import FIELDS, LAYERS

PKG = "graphragpart1datapipeline_spark"
COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 14


@dataclass(frozen=True)
class Workload:
    name: str
    why: str


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None


WORKLOADS = (
    Workload(
        "rag_serve",
        "set-up is the full GraphRAG batch build; then 2 closed-loop clients send Zipf-repeated "
        "hybrid/dense/community queries: per-job driver cost and index reads dominate",
    ),
    Workload(
        "rag_refresh",
        "one writer folds change micro-batches via stream_maintenance while one reader "
        "queries the newest state: upsert and versioned-storage paths under reads",
    ),
)

END_TO_END = (
    Metric("setup_s", "s", "lower", 0.25),
    Metric("build_s", "s", "lower", 0.25),
    Metric("peak_rss_mb", "MB", "lower", 0.25),
    Metric("ops_ok_ratio", "ratio", "higher", 0.01),
    Metric("op_p50_ms", "ms", "lower", 0.25),
    Metric("op_p90_ms", "ms", "lower", 0.25),
    Metric("ops_per_s", "1/s", "higher", 0.25),
    Metric("query_p50_ms", "ms", "lower", 0.25),
    Metric("query_p90_ms", "ms", "lower", 0.25),
    Metric("recall_at_10", "ratio", "higher", 0.2),
    Metric("write_amp", "ratio", "lower", 0.15),
    Metric("state_mb", "MB", "lower", 0.1),
)

RATIOS = (
    Metric("serve.spark_jobs_per_query", "count", "lower"),
    Metric("vector.ivf_topk.candidates_per_result", "count", "lower"),
    Metric("text.bm25_query.postings_per_result", "count", "lower"),
    Metric("dedup.exact_dedup.removed_per_planted", "ratio", "higher"),
    Metric("streaming.bytes_written_per_batch", "bytes", "lower"),
    Metric("trace.overhead_ms", "ms", "lower"),
)

_FIELD_UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "spark_jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "shuffle_mb": "MB",
}
PER_LAYER = tuple(
    Metric(f"{layer}.{f}", _FIELD_UNITS[f], "lower") for layer in LAYERS for f in FIELDS
) + RATIOS


def benchmark_json() -> dict:
    """BENCHMARK.json's content."""

    def metric(m: Metric) -> dict:
        d = {"name": m.name, "unit": m.unit, "better": m.better}
        if m.bound is not None:
            d["bound"] = m.bound
        return d

    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS],
        "end_to_end": [metric(m) for m in END_TO_END],
        "per_layer": [metric(m) for m in PER_LAYER],
    }


if __name__ == "__main__":
    import json

    # regenerate with: python3 perfbench/spec.py > BENCHMARK.json
    print(json.dumps(benchmark_json(), indent=2))
