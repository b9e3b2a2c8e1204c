"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json lists the same metrics; ``python3 perfbench/selftest.py``
checks the two agree.
"""

from __future__ import annotations

# bench.py HEADLINE minus the two extraction composites, with the input
# tables each registry function reads (docs_per_s and rows_per_s count them)
QUERY_TABLES = {
    "c5_confidence_filter": ("documents",),
    "agg_block_stats": ("lineitem",),
    "join_broadcast_dim": ("lineitem", "part"),
    "dedup_exact": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "cosine_topk": ("embeddings",),
    "quality_score": ("documents",),
    "token_count": ("documents",),
    "corpus_curation": ("documents",),
    "stratified_sample": ("documents",),
    "star_join_q5": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "sessionize": ("events",),
}
QUERY_MIX = tuple(QUERY_TABLES)

# (name, unit, better) — printed with --trace 0
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("rows_per_s", "rows/s", "higher"),
    ("pass_s.p50", "s", "lower"),
    ("queries_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)

# (name, unit, better) — printed with --trace 1; a layer a workload does
# not exercise reports 0
PER_LAYER = (
    ("plans.queries.build_s", "s", "lower"),
    ("plans.queries.build_jobs", "count", "lower"),
    ("plans.queries.exec_s", "s", "lower"),
    *((f"q.{q}.{part}_s", "s", "lower") for q in QUERY_MIX for part in ("build", "exec")),
    ("plans.pipeline.build_s", "s", "lower"),
    ("plans.pipeline.route.passthrough_docs", "docs", "higher"),
    ("plans.pipeline.route.kernel_docs", "docs", "lower"),
    ("plans.pipeline.route.mega_docs", "docs", "lower"),
    ("plans.pipeline.route.mega_span_share", "ratio", "lower"),
    ("plans.pipeline.resume.skipped_docs", "docs", "higher"),
    ("plans.pipeline.sink.out_mb", "MB", "lower"),
    ("plans.pipeline.sink.files", "count", "lower"),
    ("plans.pipeline.sink.bytes_per_doc", "B", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.scan.input_mb", "MB", "lower"),
    ("spark.scan.task_s", "s", "lower"),
    ("spark.shuffle.write_mb", "MB", "lower"),
    ("spark.shuffle.read_mb", "MB", "lower"),
    ("spark.shuffle.fetch_wait_s", "s", "lower"),
    ("spark.exec.task_s", "s", "lower"),
    ("spark.exec.cpu_s", "s", "lower"),
    ("spark.exec.gc_s", "s", "lower"),
    ("spark.exec.spill_mb", "MB", "lower"),
    ("spark.sink.task_s", "s", "lower"),
    ("spark.straggler.p50_s", "s", "lower"),
    ("spark.straggler.max_s", "s", "lower"),
    ("spark.straggler.skew", "ratio", "lower"),
    ("driver.gap_s", "s", "lower"),
    ("spark.python.rows_in", "rows", "lower"),
    ("spark.python.mb_in", "MB", "lower"),
    ("spark.python.mb_out", "MB", "lower"),
    ("spark.python.stage_task_s", "s", "lower"),
    ("spark.python.transfer_share", "ratio", "lower"),
    ("operators.extract.doc_ms", "ms", "lower"),
    ("operators.extract.self_ms", "ms", "lower"),
    ("operators.classify.ms", "ms", "lower"),
    ("operators.assemble.ms", "ms", "lower"),
    ("operators.tiling.ms", "ms", "lower"),
    ("operators.readingorder.ms", "ms", "lower"),
    ("operators.confidence.ms", "ms", "lower"),
    ("operators.pages", "count", "lower"),
    ("operators.lines", "count", "lower"),
    ("operators.readingorder.native", "flag", "higher"),
    ("ledger.gap_pct", "%", "lower"),
    ("tracing.overhead_pct", "%", "lower"),
    ("scaling.eff_1_to_4", "ratio", "higher"),
)
