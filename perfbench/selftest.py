#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes (a few minutes).

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` lists exactly the workloads and metrics the
   benchmark prints (``metrics.py``), with their units.
2. Every workload, untraced and traced, exits 0 and prints every named
   metric with its unit, and its output checks pass; no process it
   started is still running after it exits.
3. Deliberately corrupted outputs fail their checks: a report with a
   dropped, reordered or altered line or a wrong trailer, and a query
   result with a changed or missing row.

Exits 0 when all hold; prints each failure otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

failures: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def check_manifest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    expect(sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS), "BENCHMARK.json workloads")
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    expect(e2e == END_TO_END, "BENCHMARK.json end_to_end metrics")
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(layers == PER_LAYER, "BENCHMARK.json per_layer metrics")


def stray_processes() -> list[str]:
    """Processes running in the repository that are neither this
    self-test, its ancestors nor its descendants: what a benchmark run
    left behind."""
    parent, cmd = {}, {}
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd[int(entry)] = fh.read().replace(b"\0", b" ").decode(errors="replace")[:120]
            parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError):
            continue
    mine, pid = set(), os.getpid()
    while pid in parent:  # this process and its ancestors
        mine.add(pid)
        pid = parent[pid]

    def owned(pid: int) -> bool:
        while pid in parent and pid not in mine:
            pid = parent[pid]
        return pid == os.getpid()

    stray = []
    for pid in cmd:
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
        except OSError:
            continue
        if (cwd == ROOT or cwd.startswith(ROOT + os.sep)) and pid not in mine and not owned(pid):
            stray.append(f"{pid} {cmd[pid]}")
    return stray


def check_runs() -> None:
    for workload in WORKLOADS:
        for trace, wanted in ((0, {n: s[0] for n, s in END_TO_END.items()}), (1, PER_LAYER)):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
                 "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            what = f"{workload} --trace {trace}"
            stray = stray_processes()
            expect(not stray, f"{what}: leaves no process running {stray}")
            try:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                expect(False, f"{what}: prints a JSON result\n{proc.stderr[-2000:]}")
                continue
            expect(proc.returncode == 0 and result["correct"] and result["failed"] == 0,
                   f"{what}: checks pass (exit {proc.returncode})")
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            expect(got == wanted, f"{what}: every metric with its unit")
            if trace == 0:
                expect(all(m["value"] > 0 for m in result["metrics"].values()), f"{what}: metrics are nonzero")


def check_corruption() -> None:
    """Real outputs pass their checks; corrupted copies fail them."""
    from perfbench.cf import SPEC, run_untraced
    from perfbench.corpus import write_corpus
    from perfbench.ratings import write_csv
    from perfbench.registry import expected_outputs, read_output, write_pass
    from spark_cassandra_collabfiltering_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = get_spark(app_name="perfbench-selftest", master="local[4]")
    try:
        truth = write_csv(os.path.join(work, "r.csv"), SPEC["tiny"], 5)
        _, rmse, report = run_untraced(spark, os.path.join(work, "r.csv"), os.path.join(work, "store"))
        expect(not checks.check_cf(rmse, report, truth), "cf report passes its check")
        lines = report.split("\n")
        first = lines[1].split("\t")
        bad_actual = "\t".join(first[:4] + [str(float(first[4]) + 1.0)] + first[5:])
        corrupt = {
            "dropped header": lines[1:],
            "dropped row": lines[:1] + lines[2:],
            "swapped rows": lines[:1] + [lines[2], lines[1]] + lines[3:],
            "altered actual": lines[:1] + [bad_actual] + lines[2:],
            "wrong trailer": lines[:-1] + ["RMSE = 0.01"],
        }
        for what, bad in corrupt.items():
            expect(bool(checks.check_cf(rmse, "\n".join(bad), truth)), f"cf report with {what} fails its check")
        expect(bool(checks.check_cf(0.6, report, truth)), "cf rmse 0.6 fails the contract")

        sf_dir = os.path.join(work, "corpus")
        write_corpus(sf_dir, 0.002, 5)
        expected = expected_outputs(sf_dir)
        out_dir = os.path.join(work, "outputs")
        write_pass(spark, sf_dir, out_dir)
        for name in ("ml_nb_confusion", "dedup_ppjoin_zipf"):
            pdf = read_output(out_dir, name)
            expect(not checks.check_oracle(name, pdf, expected[name]), f"{name} matches its oracle")
            changed = pdf.copy()
            col = changed.columns[-1]
            changed.loc[0, col] = changed.loc[0, col] + 1
            expect(bool(checks.check_oracle(name, changed, expected[name])), f"{name} with a changed row fails")
            expect(bool(checks.check_oracle(name, pdf.iloc[1:], expected[name])), f"{name} with a missing row fails")
        als = read_output(out_dir, "cf_als_pipeline")
        n_pairs, var = expected["cf_als_pipeline"]
        expect(not checks.check_cf_als(als, n_pairs, var), "cf_als_pipeline passes its bounds")
        zero = als.assign(prediction=0.0, sq_err=als["rating"] ** 2)
        expect(bool(checks.check_cf_als(zero, n_pairs, var)), "cf_als_pipeline with zero predictions fails")
        expect(bool(checks.check_cf_als(als.iloc[: len(als) // 4], n_pairs, var)),
               "cf_als_pipeline missing most rows fails")
    finally:
        spark.stop()
        import shutil

        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    check_manifest()
    check_corruption()
    check_runs()
    print(f"{len(failures)} failure(s)")
    raise SystemExit(1 if failures else 0)
