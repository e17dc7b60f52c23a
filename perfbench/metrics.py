"""Metric names and units the benchmark reports; ``BENCHMARK.json``
lists the same names (``test_perfbench.py`` keeps the two in step)."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "ingest_s": "s",
    "ops_per_s": "1/s",
}

# Layers whose calls the benchmark wraps in spans; "op" is the
# benchmark's own per-operation root span.
SPAN_LAYERS = (
    "op",
    "graph.etl",
    "graph.paths",
    "graph.kernel",
    "queries",
    "io",
    "operators.dedup",
    "operators.text",
    "operators.packing",
    "operators._cache",
    "spark",
)

_ALGS = ("dijkstra", "astar", "sssp", "yens_k")

PER_LAYER = {
    **{f"trace.{k}": u for k, u in END_TO_END.items()},
    "session.get_spark_ms": "ms",
    "session.warmup_ms": "ms",
    "op.p50_ms": "ms",
    "session.peak_rss_mb": "MB",
    "host.cpu_probe_s": "s",
    "host.shuffle_probe_s": "s",
    "host.fixed_job_s": "s",
    "graph.etl.load_graph_ms": "ms",
    "graph.etl.jobs": "count",
    "graph.etl.shuffle_write_bytes": "B",
    "graph.etl.cached_bytes": "B",
    "graph.paths.build_projection_ms": "ms",
    "graph.paths.collect_arrow_ms": "ms",
    **{f"graph.paths.{a}_call_ms": "ms" for a in _ALGS},
    **{f"graph.paths.{a}_dispatch_ms": "ms" for a in _ALGS},
    "graph.paths.apsp_topk_call_ms": "ms",
    "graph.paths.jobs_per_query": "count",
    "graph.paths.tasks_per_query": "count",
    "graph.paths.broadcast_bytes": "B",
    "graph.kernel.csr_build_ms": "ms",
    **{f"graph.kernel.{a}_ms": "ms" for a in _ALGS},
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "io.write_snapshot_ms": "ms",
    "io.snapshot_merge_ms": "ms",
    "io.snapshot_delete_ms": "ms",
    "io.files_rewritten_per_commit": "count",
    "io.bytes_written_per_user_byte": "ratio",
    "io.head_files": "count",
    "io.read_at_version_ms": "ms",
    "io.change_feed_build_ms": "ms",
    "io.change_feed_exec_ms": "ms",
    "operators.dedup.exact_dedup_ms": "ms",
    "operators.dedup.minhash_lsh_pairs_ms": "ms",
    "operators.dedup.duplicate_clusters_ms": "ms",
    "operators.dedup.pairs_found": "count",
    "operators.dedup.planted_recall": "ratio",
    "operators.text.gopher_filter_ms": "ms",
    "operators.text.bm25_scores_ms": "ms",
    "operators.text.dsir_logratio_scores_ms": "ms",
    "operators.packing.pack_sequences_ms": "ms",
    "operators.packing.python_udf_ms": "ms",
    "operators._cache.persistent_rdds_after_op": "count",
    "operators._cache.bytes_held_after_op": "B",
    "operators._cache.release_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.catalyst_analysis_ms": "ms",
    "spark.catalyst_optimization_ms": "ms",
    "spark.catalyst_planning_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.busy_ratio": "ratio",
    **{f"{layer}.self_ms": "ms" for layer in SPAN_LAYERS},
}


def self_times(tracer) -> dict:
    """Self time per layer over the whole run: every span's duration
    minus its children, summed by the layer its name starts with."""
    out = {f"{layer}.self_ms": (0.0, "ms") for layer in SPAN_LAYERS}
    for name, ms in tracer.self_times().items():
        layer = max((x for x in SPAN_LAYERS if name.startswith(x + ".")), key=len, default="op")
        key = f"{layer}.self_ms"
        out[key] = (out[key][0] + ms, "ms")
    return out


def select(names: dict, got: dict) -> dict:
    """``names`` in order, each as ``(value, unit)``; a per-layer metric
    the workload never produced (a layer it does not reach) reads 0."""
    out = {}
    for name, unit in names.items():
        value = got.get(name, (0.0, unit))[0]
        out[name] = (0.0 if value is None else float(value), unit)
    return out
