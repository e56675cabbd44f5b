"""Output checks, run on every repetition outside the timed region.

Each check returns a list of problems; an empty list means the output
is correct. The expected values come from the generated inputs and
from DuckDB, never from the engine under test.
"""

from __future__ import annotations

import math
import re

from spark_cassandra_collabfiltering_spark.plans.oracle import compare_frames

# The reference's report header (CollabFilterCassandra8.java:62).
REPORT_HEADER = "User\tProduct\tPredicted\tActual\tError?"
_ROW = re.compile(r"^(\d+)\t(\d+)\t(-?\d+\.\d+)\t\t(-?\d+\.\d+)\t(ERR|OK)$")
_TRAILER = re.compile(r"^RMSE = (\S+)$")
ALS_COLUMNS = ["prediction", "product", "rating", "sq_err", "user"]


def check_cf(rmse: float, report: str, truth: dict[tuple[int, int], int]) -> list[str]:
    """The reference contract ``0 <= rmse < 0.5`` (CollabFilterTest.java:36-37)
    and the report shape: header, one line per joined validation pair
    (``truth``: pair -> generated rating) in (user, product) order with
    its actual rating, and an ``RMSE = <2dp>`` trailer that agrees with
    ``rmse``."""
    problems = []
    if not 0.0 <= rmse < 0.5:
        problems.append(f"rmse {rmse!r} outside [0, 0.5)")
    lines = report.split("\n")
    if len(lines) < 3 or lines[0] != REPORT_HEADER:
        return problems + ["report lacks header, rows or trailer"]
    m = _TRAILER.match(lines[-1])
    if not m:
        problems.append(f"bad trailer {lines[-1]!r}")
    elif not abs(float(m.group(1)) - rmse) <= 0.005 + 1e-9:
        problems.append(f"trailer {m.group(1)} disagrees with rmse {rmse!r}")
    prev, sq = None, 0.0
    body = lines[1:-1]
    for line in body:
        r = _ROW.match(line)
        if not r:
            return problems + [f"bad report row {line!r}"]
        key = (int(r.group(1)), int(r.group(2)))
        pred, actual = float(r.group(3)), float(r.group(4))
        if prev is not None and key <= prev:
            return problems + [f"row {key} out of order or repeated"]
        prev = key
        if truth.get(key) != actual:
            return problems + [f"row {key}: actual {actual} is not the validation rating {truth.get(key)}"]
        gap = abs(actual - pred)  # both rounded to 1dp: only unambiguous flags are checked
        if (gap >= 1.1 and r.group(5) != "ERR") or (gap <= 0.9 and r.group(5) != "OK"):
            return problems + [f"row {key}: flag {r.group(5)} for |{actual} - {pred}|"]
        sq += (actual - pred) ** 2
    if len(body) != len(truth):  # rows are distinct pairs of truth, so this compares the sets
        problems.append(f"{len(body)} report rows for {len(truth)} joinable validation pairs")
    # 1dp rounding moves each prediction by at most 0.05
    if not abs(math.sqrt(sq / len(body)) - rmse) <= 0.05 + 1e-9:
        problems.append(f"report rows give rmse {math.sqrt(sq / len(body)):.4f}, pipeline {rmse:.4f}")
    return problems


def check_oracle(name: str, spark_pdf, oracle_pdf) -> list[str]:
    """Exact match against the DuckDB oracle, the registry's own comparator."""
    res = compare_frames(name, spark_pdf, oracle_pdf)
    return [] if res.ok else [f"{name}: {res.detail}"]


def check_cf_als(pdf, n_pairs: int, rating_var: float) -> list[str]:
    """``cf_als_pipeline`` has no oracle (iterative ALS). Its output is a
    ~10% held-out split of ``n_pairs`` rating pairs minus cold-start
    drops, with ``sq_err = (rating - prediction)^2`` per row. The
    ratings are near-random sums of quantities, so a seeded ALS fit
    cannot beat the constant-mean predictor (whose error is the rating
    variance) but stays within three times it; zero, NaN or misaligned
    predictions land far above."""
    if sorted(pdf.columns) != ALS_COLUMNS:
        return [f"cf_als_pipeline: columns {sorted(pdf.columns)}"]
    n = len(pdf)
    if not 0.05 * n_pairs <= n <= 0.15 * n_pairs:
        return [f"cf_als_pipeline: {n} rows for {n_pairs} rating pairs"]
    if pdf.duplicated(["user", "product"]).any():
        return ["cf_als_pipeline: repeated (user, product)"]
    resid = (pdf["rating"] - pdf["prediction"]) ** 2
    if not ((pdf["sq_err"] - resid).abs() <= 1e-9 * resid.abs().clip(lower=1.0)).all():
        return ["cf_als_pipeline: sq_err is not (rating - prediction)^2"]
    mse = float(pdf["sq_err"].mean())
    if not mse <= 3.0 * rating_var:
        return [f"cf_als_pipeline: mean sq_err {mse:.2f} above 3 x rating variance {rating_var:.2f}"]
    return []
