"""Every metric the benchmark prints: name -> unit (and, end to end,
which direction is better and the bound on a regression). The
self-test checks that ``BENCHMARK.json`` lists exactly these."""

from __future__ import annotations

# The registry workload's queries: the ROADMAP's ppjoin bands (N4),
# serial stages (N5) and naive-Bayes confusion targets.
QUERY_NAMES = (
    "dedup_ppjoin",
    "dedup_ppjoin_zipf",
    "cf_als_pipeline",
    "cf_ndcg_itemknn_sub",
    "graph_triangles",
    "ml_nb_confusion",
)

END_TO_END = {
    # name: (unit, better, bound). On a shared 4-core host timings spread
    # 10-25% (quartile distance over median) across runs, mostly from one
    # JVM to the next and from host load drifting between runs.
    "pipeline_s": ("s", "lower", 0.25),
    "suite_s": ("s", "lower", 0.25),
    "rmse": ("rating", "lower", 0.1),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "ok_ratio": ("ratio", "higher", 0.01),
}

PER_LAYER = {
    "etl.populate_tables_s": "s",
    "etl.populate_tables_jobs": "count",
    "sources.write_s": "s",
    "sources.write_jobs": "count",
    "sources.write_rows": "rows",
    "sources.read_s": "s",
    "sources.truncate_s": "s",
    "ml.collabfilter.train_s": "s",
    "ml.collabfilter.train_jobs": "count",
    "ml.collabfilter.train_stages": "count",
    "ml.collabfilter.validate_s": "s",
    "ml.collabfilter.validate_jobs": "count",
    "ml.collabfilter.predict_coverage": "ratio",
    "report.results_report_s": "s",
    "report.results_report_jobs": "count",
    "report.rows": "rows",
    "pipeline.close_s": "s",
    **{
        f"plans.queries.{q}.{k}": unit
        for q in QUERY_NAMES
        for k, unit in (("build_s", "s"), ("drain_s", "s"), ("jobs", "count"), ("stages", "count"))
    },
    "trace.overhead_ratio": "ratio",
    "jvm.heap_peak_mb": "MB",
    "host.cpu_steal_pct": "%",
    "host.spin_noise_ratio": "ratio",
}
