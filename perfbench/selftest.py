#!/usr/bin/env python3
"""Self-tests of the benchmark itself, not of the engine.

    python3 perfbench/selftest.py            # inputs, checks, contract (~2 min)
    python3 perfbench/selftest.py repeat     # traced-run repeatability (~5 min)

Run from the repository root; exit 0 means every test passed.

The default tests:

1. the same seed gives byte-identical inputs; another seed gives other
   values with the same size profile (rows per table; rows per file,
   issue month and dirt pattern of the bronze; drop size and
   re-registration count);
2. the output checks can fail: one corrupted row of a star query, of the
   jpeg leg and of the gold star fails its check, and so does a
   duplicated fact row after the drop;
3. BENCHMARK.json lists exactly the metrics the benchmark prints, and a
   directory holding only BENCHMARK.json and perfbench/ makes run.py
   exit non-zero without printing a result.

``repeat`` runs each workload twice with ``--trace 1`` on one seed and
requires every count metric of layers.COUNTS to repeat exactly.
"""

from __future__ import annotations

import collections
import csv
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, run  # noqa: E402
from perfbench.workloads import EtlJob, matches  # noqa: E402

WORK = os.path.join(run.WORK, "selftest")
failures: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def prepare(workload: str, seed: int, tag: str) -> str:
    """Inputs and oracle results of (workload, seed), as a run makes them."""
    out = os.path.join(WORK, f"{workload}-{tag}")
    for step in (["inputs", workload, str(seed), out], ["oracles", workload, out]):
        subprocess.run([sys.executable, "-m", "perfbench.prepare", *step],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    return out


def load_meta(data: str) -> dict:
    meta = {}
    for name in ("inputs.json", "expected.json"):
        with open(os.path.join(data, name), encoding="utf-8") as fh:
            meta.update(json.load(fh))
    return meta


def _dirt(row: dict) -> tuple:
    """The dirt pattern of one bronze row, read from its values."""
    fd = row["fromdate"]
    shape = re.sub(r"\d", "9", fd) if fd and fd[0].isdigit() else fd
    model = row["modelDesc"]
    return (
        shape,
        row["slno"].split("_")[1] if "_" in row["slno"] else "",
        row["OfficeCd"] == "",
        row["makerName"].endswith(".,"),
        "TRAILER" in model, " EV " in model, "@#$" in model,
        row["fuel"], row["makeYear"] if not row["makeYear"][:2].isdigit() else len(row["makeYear"]),
        row["colour"] == "", row["vehicleClass"] == "", row["seatCapacity"] == "",
    )


def bronze_profile(root: str) -> collections.Counter:
    """Rows per (file, issue month, dirt pattern); the file names hold
    the months, so they are compared as they are."""
    prof: collections.Counter = collections.Counter()
    for sub in ("full", "drop"):
        for name in sorted(os.listdir(os.path.join(root, "bronze", sub))):
            with open(os.path.join(root, "bronze", sub, name), encoding="utf-8") as fh:
                for row in csv.DictReader(fh):
                    m = re.match(r"(\d\d)/(\d\d)/(\d{4})$", row["fromdate"])
                    month = f"{m[3]}{m[2]}" if m else None
                    prof[(sub, name, month, _dirt(row))] += 1
    return prof


def table_rows(root: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    tables = os.path.join(root, "tables")
    return {f: pq.ParquetFile(os.path.join(tables, f)).metadata.num_rows
            for f in sorted(os.listdir(tables))}


def corrupt(rows: list) -> list:
    """Change one cell of one row (the first non-NULL cell of row 0)."""
    rows = [list(r) for r in rows]
    for i, v in enumerate(rows[0]):
        if v is not None:
            is_num = isinstance(v, (int, float)) and not isinstance(v, bool)
            rows[0][i] = v + 1 if is_num else f"{v}x"
            break
    return rows


def test_inputs() -> None:
    for workload in ("etl_job", "analytics_job"):
        a, b, c = (prepare(workload, s, t) for s, t in ((7, "a"), (7, "b"), (8, "c")))
        expect(same_tree(a, b), f"{workload}: seed 7 twice gives byte-identical inputs")
        expect(not same_tree(a, c), f"{workload}: seeds 7 and 8 give different inputs")
        if workload == "analytics_job":
            expect(table_rows(a) == table_rows(c), f"{workload}: same rows per table")
        else:
            expect(bronze_profile(a) == bronze_profile(c),
                   f"{workload}: same rows per file, issue month and dirt pattern")
            metas = [load_meta(d) for d in (a, c)]
            sizes = [(m["bronze_rows"], m["drop_rows"], len(m["moved_keys"]), m["drop"])
                     for m in metas]
            expect(sizes[0] == sizes[1], f"{workload}: same drop size and re-registrations {sizes}")


def test_checks() -> None:
    """Run etl_job on the seed-7 inputs, then make its outputs wrong."""
    work = os.path.join(WORK, "run")
    run.spark_env(work)
    from rta_registrations_pyspark_glue_spark.plans import queries_similarity, registry
    from rta_registrations_pyspark_glue_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    try:
        data = os.path.join(WORK, "analytics_job-a")
        expected = load_meta(data)["expected"]
        tables = os.path.join(data, "tables")
        for name, fn in (("pricing_summary", registry.queries()["pricing_summary"]),
                         ("multimodal.jpeg", queries_similarity.MULTIMODAL_LEGS["jpeg"])):
            df = fn(spark, tables)
            rows = df.collect()
            expect(matches(expected[name], df.columns, rows)[0], f"{name} matches its oracle")
            expect(not matches(expected[name], df.columns, corrupt(rows))[0],
                   f"one corrupted {name} row fails the check")

        data = os.path.join(WORK, "etl_job-a")
        meta = load_meta(data)
        job = EtlJob(run.Context(spark, data, work, meta))
        job.run()
        job.collect()
        job.check()
        expect(all(op.ok for op in job.ops),
               f"etl_job is correct ({[op.why for op in job.ops if not op.ok]})")
        star = job.gold_star()
        rows = star.collect()
        expect(not matches(meta["expected"]["gold"], star.columns, corrupt(rows))[0],
               "one corrupted gold row fails the check")
        dup = spark.read.parquet(f"{job.root}/gold_fact_registrations").limit(1)
        year = dup.collect()[0].REGISTRATION_YEAR
        dup.drop("REGISTRATION_YEAR").write.mode("append").parquet(
            f"{job.root}/gold_fact_registrations/REGISTRATION_YEAR={year}")
        for op in job.ops:
            op.ok, op.why = True, ""
        job.collect()
        job.check()
        bad = [op.why for op in job.ops if not op.ok]
        expect(bool(bad), f"a duplicated fact row fails the check ({bad})")
    finally:
        run.stop_spark(spark)


def test_contract() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    expect([m["name"] for m in bench["end_to_end"]] == list(run.E2E_UNITS),
           "BENCHMARK.json end_to_end == run.E2E_UNITS")
    expect([(m["name"], m["unit"]) for m in bench["per_layer"]] == list(layers.UNITS.items()),
           "BENCHMARK.json per_layer == layers.UNITS")
    expect([w["name"] for w in bench["workloads"]] == ["etl_job", "analytics_job"],
           "BENCHMARK.json names the workloads etl_job and analytics_job")
    bare = os.path.join(WORK, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run([*bench["command"], "--workload", "etl_job", "--seed", "1",
                          "--seconds", "1", "--trace", "0"],
                         cwd=bare, capture_output=True, text=True, timeout=180)
    expect(res.returncode != 0 and not res.stdout.strip(),
           "without the engine, run.py exits non-zero and prints no result")


def test_repeat(seed: int = 5) -> None:
    for workload in ("etl_job", "analytics_job"):
        counts = []
        for _ in range(2):
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            metrics = json.loads(res.stdout.strip().splitlines()[-1])["metrics"]
            counts.append({k: metrics[k]["value"] for k in layers.COUNTS})
        differ = [k for k in layers.COUNTS if counts[0][k] != counts[1][k]]
        expect(not differ, f"{workload}: count metrics repeat across two traced runs {differ}")


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        if sys.argv[1:] == ["repeat"]:
            test_repeat()
        else:
            test_inputs()
            test_checks()
            test_contract()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
