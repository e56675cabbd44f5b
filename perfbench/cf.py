"""The paper's pipeline: CSV -> storage -> ALS train -> predict -> RMSE -> report.

Untraced repetitions run ``CollabFilterPipeline(spark,
ParquetStorage(...)).run(csv)`` and ``close()``, as a user does. The
traced repetition calls the same public functions itself, in the order
``CollabFilterPipeline.run`` and ``close`` call them, with a span
around each call and ``TimedStorage`` in place of ``ParquetStorage``.
It adds no Spark action; if ``run`` changes, this order must follow.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import checks
from perfbench.ratings import RatingsSpec, write_csv
from perfbench.spans import Tracer
from perfbench.storage import TimedStorage
from spark_cassandra_collabfiltering_spark import etl
from spark_cassandra_collabfiltering_spark.ml import collabfilter as cf
from spark_cassandra_collabfiltering_spark.pipeline import CollabFilterPipeline
from spark_cassandra_collabfiltering_spark.report import results_report
from spark_cassandra_collabfiltering_spark.sources import ParquetStorage

SPEC = {
    "bench": RatingsSpec(users=4000, products=1000, ratings_per_user=100, skew=1.0,
                         validation_share=0.01, cold_share=0.02),
    "tiny": RatingsSpec(users=200, products=60, ratings_per_user=30, skew=1.0,
                        validation_share=0.05, cold_share=0.05),
}


def run_untraced(spark, csv: str, store: str) -> tuple[float, float, str]:
    t0 = time.perf_counter()
    with CollabFilterPipeline(spark, ParquetStorage(store)) as p:
        result = p.run(csv)
    return time.perf_counter() - t0, result.rmse, result.report


def run_traced(spark, csv: str, store: str, tracer: Tracer) -> tuple[float, float, str]:
    storage = TimedStorage(store, tracer)
    with tracer.span("pipeline") as root:
        with tracer.span("pipeline.run"):
            with tracer.span("etl.populate_tables"):
                training, validation = etl.populate_tables(spark, csv, storage)
            validation = validation.cache()
            with tracer.span("ml.collabfilter.train"):
                model = cf.train(training)
            with tracer.span("ml.collabfilter.predict"):
                predictions = cf.predict(model, validation).cache()
            with tracer.span("ml.collabfilter.validate"):
                rmse = cf.validate(predictions, validation)
            with tracer.span("report.results_report"):
                report = results_report(predictions, validation, rmse)
        with tracer.span("pipeline.close"):
            validation.unpersist()
            predictions.unpersist()
            for table in (etl.RATINGS_TABLE, etl.VALIDATION_TABLE):
                storage.truncate(spark, table)
    return root.seconds, rmse, report


def layer_metrics(spans: list[dict], report: str) -> dict[str, float]:
    """Per-layer values of one traced repetition."""
    def one(name):
        return next(s for s in spans if s["name"] == name)

    def total(name, key):
        return sum(s[key] for s in spans if s["name"] == name)

    validation_rows = sum(s["rows"] for s in spans if s["name"] == "sources.write" and s["table"] == etl.VALIDATION_TABLE)
    report_rows = report.count("\n") - 1
    return {
        "etl.populate_tables_s": one("etl.populate_tables")["seconds"],
        "etl.populate_tables_jobs": one("etl.populate_tables")["jobs"],
        "sources.write_s": total("sources.write", "seconds"),
        "sources.write_jobs": total("sources.write", "jobs"),
        "sources.write_rows": total("sources.write", "rows"),
        "sources.read_s": total("sources.read", "seconds"),
        "sources.truncate_s": total("sources.truncate", "seconds"),
        "ml.collabfilter.train_s": one("ml.collabfilter.train")["seconds"],
        "ml.collabfilter.train_jobs": one("ml.collabfilter.train")["jobs"],
        "ml.collabfilter.train_stages": one("ml.collabfilter.train")["stages"],
        "ml.collabfilter.validate_s": one("ml.collabfilter.validate")["seconds"],
        "ml.collabfilter.validate_jobs": one("ml.collabfilter.validate")["jobs"],
        "ml.collabfilter.predict_coverage": report_rows / validation_rows if validation_rows else 0.0,
        "report.results_report_s": one("report.results_report")["seconds"],
        "report.results_report_jobs": one("report.results_report")["jobs"],
        "report.rows": report_rows,
        "pipeline.close_s": one("pipeline.close")["seconds"],
    }


def run(ctx) -> None:
    spec = SPEC[ctx.scale]
    t0 = time.perf_counter()
    csv = os.path.join(ctx.work, "ratings.csv")
    truth = ctx.in_child(write_csv, csv, spec, ctx.seed)
    spark = ctx.start_spark(heap="2g")
    store = os.path.join(ctx.work, "store")
    # two warm-up runs: the first timed run after a single one still
    # reads ~25% slow while the JIT catches up
    warm = [ctx.attempt(run_untraced, spark, csv, store, required=True) for _ in range(2)]
    ctx.metric("setup_s", time.perf_counter() - t0)
    for _, rmse, report in warm:
        ctx.record_check(checks.check_cf(rmse, report, truth))
    warm_rmse = warm[0][1]

    untraced, traced, layers = [], [], []

    def untraced_rep():
        out = ctx.attempt(run_untraced, spark, csv, store)
        if out is None:
            return
        seconds, rmse, report = out
        problems = checks.check_cf(rmse, report, truth)
        if abs(rmse - warm_rmse) > 1e-9 * warm_rmse:
            problems.append(f"rmse {rmse!r} differs from the warm-up's {warm_rmse!r}")
        if ctx.record_check(problems):
            untraced.append((seconds, rmse))

    def traced_rep():
        tracer = Tracer(spark.sparkContext, f"{ctx.run_id}-t{len(traced)}")
        out = ctx.attempt(run_traced, spark, csv, store, tracer)
        if out is None:
            return
        seconds, rmse, report = out
        spans = tracer.summary()
        ctx.spans.extend(spans)
        problems = checks.check_cf(rmse, report, truth)
        if abs(rmse - warm_rmse) > 1e-9 * warm_rmse:
            problems.append(f"traced rmse {rmse!r} differs from the untraced {warm_rmse!r}")
        if ctx.record_check(problems):
            traced.append(seconds)
            layers.append(layer_metrics(spans, report))

    ctx.measure([untraced_rep, traced_rep] if ctx.trace else [untraced_rep])
    shutil.rmtree(store, ignore_errors=True)

    if ctx.trace:
        if untraced and traced:
            for name in layers[0]:
                ctx.metric(name, statistics.median(m[name] for m in layers))
            ctx.metric("trace.overhead_ratio", statistics.median(traced) / statistics.median(s for s, _ in untraced))
    elif untraced:
        # one repetition of a cf workload is the pipeline, so its suite is the pipeline
        ctx.timing("pipeline_s", [s for s, _ in untraced])
        ctx.timing("suite_s", [s for s, _ in untraced])
        ctx.metric("rmse", statistics.median(r for _, r in untraced))
