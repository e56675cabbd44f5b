"""Six registry queries, each built with ``QUERIES[name].builder`` and
drained through the noop sink, as ``bench.py`` times them.

The input is a seeded corpus (``corpus.py``) written inside the run's
work directory. The warm-up pass writes every query's rows to parquet
instead of draining them, and a child process checks them once per
run: five exactly against their DuckDB oracle, and ``cf_als_pipeline``
(iterative ALS, no oracle) for its shape and error bound; the run's
``rmse`` is that pass's ``cf_als_pipeline`` error. A second warm-up
pass and the timed passes drain through the noop sink and are not
checked. Build and drain are timed apart because building some plans
runs jobs already: ``cf_als_pipeline`` fits ALS while its plan is
built.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import pandas as pd

from perfbench import checks
from perfbench.corpus import write_corpus
from perfbench.metrics import QUERY_NAMES as NAMES
from perfbench.spans import Tracer
from spark_cassandra_collabfiltering_spark.plans import oracle
from spark_cassandra_collabfiltering_spark.plans.queries import QUERIES

SCALE = {"bench": 0.01, "tiny": 0.002}

# cf_als_pipeline's rating pairs (queries.ratings_df folded to bounded
# ids, as q_cf_als does) and their variance, for its bound check
_ALS_PAIRS_SQL = """
WITH r AS (SELECT o_custkey AS u, l_partkey AS p, sum(l_quantity) AS rating
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
     b AS (SELECT u % 500, p % 200, avg(rating) AS rating FROM r GROUP BY 1, 2)
SELECT count(*) AS n, var_pop(rating) AS v FROM b
"""


def expected_outputs(sf_dir: str) -> dict:
    """DuckDB answers for the oracle-backed queries, plus the ALS bounds."""
    conn = oracle.duckdb_conn(sf_dir)
    try:
        out = {n: conn.sql(QUERIES[n].oracle).df() for n in NAMES if QUERIES[n].oracle}
        out["cf_als_pipeline"] = conn.sql(_ALS_PAIRS_SQL).fetchone()
    finally:
        conn.close()
    return out


def check(name: str, pdf, expected: dict) -> list[str]:
    if name == "cf_als_pipeline":
        n_pairs, var = expected[name]
        return checks.check_cf_als(pdf, n_pairs, var)
    return checks.check_oracle(name, pdf, expected[name])


def write_pass(spark, sf_dir: str, out_dir: str) -> None:
    """The warm-up pass: every query's rows, written for the checks."""
    for name in NAMES:
        QUERIES[name].builder(spark, sf_dir).write.mode("overwrite").parquet(os.path.join(out_dir, name))


def read_output(out_dir: str, name: str):
    return pd.read_parquet(os.path.join(out_dir, name))


def check_outputs(sf_dir: str, out_dir: str) -> tuple[list[str], float]:
    """Problems in the written outputs, and the ``cf_als_pipeline``
    rmse. Run in a child process, away from the driver."""
    expected = expected_outputs(sf_dir)
    outputs = {name: read_output(out_dir, name) for name in NAMES}
    problems = [p for name in NAMES for p in check(name, outputs[name], expected)]
    return problems, math.sqrt(outputs["cf_als_pipeline"]["sq_err"].mean())


def run_pass(spark, sf_dir: str, tracer: Tracer | None = None) -> dict[str, float]:
    """One untraced (or traced) pass over the six queries: wall seconds
    per query, and their sum under ``"suite"``. A JVM GC before each
    query (untimed, as ``bench.py`` does) keeps one query's garbage out
    of the next one's time."""
    seconds = {}
    for name in NAMES:
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        if tracer is None:
            QUERIES[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        else:
            with tracer.span(f"plans.queries.{name}"):
                with tracer.span(f"plans.queries.{name}.build"):
                    df = QUERIES[name].builder(spark, sf_dir)
                with tracer.span(f"plans.queries.{name}.drain"):
                    df.write.format("noop").mode("overwrite").save()
        seconds[name] = time.perf_counter() - t0
    seconds["suite"] = sum(seconds.values())
    return seconds


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    by_name = {s["name"]: s for s in spans}
    out = {}
    for name in NAMES:
        q = f"plans.queries.{name}"
        out[f"{q}.build_s"] = by_name[f"{q}.build"]["seconds"]
        out[f"{q}.drain_s"] = by_name[f"{q}.drain"]["seconds"]
        out[f"{q}.jobs"] = by_name[q]["jobs"]
        out[f"{q}.stages"] = by_name[q]["stages"]
    return out


def run(ctx) -> None:
    t0 = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "corpus")
    out_dir = os.path.join(ctx.work, "outputs")
    ctx.in_child(write_corpus, sf_dir, SCALE[ctx.scale], ctx.seed)
    spark = ctx.start_spark(heap="3g")
    ctx.attempt(write_pass, spark, sf_dir, out_dir, required=True)
    # a second, drained warm-up: the first pass after the checked one
    # still reads ~15% slow while the JIT catches up
    ctx.attempt(run_pass, spark, sf_dir, required=True)
    ctx.metric("setup_s", time.perf_counter() - t0)
    problems, als_rmse = ctx.in_child(check_outputs, sf_dir, out_dir)
    ctx.record_check(problems)

    untraced, traced, layers = [], [], []

    def untraced_pass():
        seconds = ctx.attempt(run_pass, spark, sf_dir)
        if seconds is not None:
            untraced.append(seconds)

    def traced_pass():
        tracer = Tracer(spark.sparkContext, f"{ctx.run_id}-t{len(traced)}")
        seconds = ctx.attempt(run_pass, spark, sf_dir, tracer)
        if seconds is not None:
            spans = tracer.summary()
            ctx.spans.extend(spans)
            traced.append(seconds["suite"])
            layers.append(layer_metrics(spans))

    ctx.measure([untraced_pass, traced_pass] if ctx.trace else [untraced_pass])

    if ctx.trace:
        if untraced and traced:
            for name in layers[0]:
                ctx.metric(name, statistics.median(m[name] for m in layers))
            ctx.metric("trace.overhead_ratio", statistics.median(traced) / statistics.median(s["suite"] for s in untraced))
    elif untraced:
        ctx.timing("suite_s", [s["suite"] for s in untraced])
        # the paper's pipeline inside the registry: its ALS query
        ctx.timing("pipeline_s", [s["cf_als_pipeline"] for s in untraced])
        ctx.metric("rmse", als_rmse)
