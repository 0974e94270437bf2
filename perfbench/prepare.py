"""Inputs and oracles of a run, made in processes of their own.

    python3 -m perfbench.prepare inputs  <workload> <seed> <dir>
    python3 -m perfbench.prepare oracles <workload> <dir>

``inputs`` writes a workload's seeded inputs into ``dir``, with
``inputs.json`` (facts the checks need), before the Spark session
starts. ``oracles`` runs DuckDB's oracles over them and writes
``expected.json``: what every checked output must be (sorted column
names, row count and the canonical hash of
``tools/oracle_check.canon_rows``). ``run.py`` starts it after the job,
so it runs beside the heap measurement and the checks, never beside the
timed job. Neither step touches the measured process tree. ``dir`` and
``expected.json`` appear whole or not at all (written under a temporary
name, then renamed), so a per-seed cache of them is safe to reuse.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb
import numpy as np

from perfbench import inputs
from perfbench.workloads import HEAVY_OPS, STAR_QUERIES
from tools.oracle_check import TABLES, canon_rows

#: Columns of dim_vehicle's deterministic winner (star.build_dim_vehicle
#: and the oracle's dimv CTE order by them).
_DIMV_ORDER = (
    "MODEL_NAME, VARIANT, EMISSION_STANDARD, FUEL, COLOUR, VEHICLE_CLASS, "
    "MAKE_YEAR, SEAT_CAPACITY, IS_ELECTRIC"
)
_BRONZE_END = "\n), rep0 AS ("


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


def _expect(cur) -> list:
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return [sorted(cols), len(rows), canon_rows(cols, rows)[0]]


def split_star_oracle(star_sql: str) -> tuple[str, str]:
    """Split the ``rta_pipeline_star`` oracle at the end of its ``bronze``
    CTE: (SQL that selects the bronze rows, SQL of the rest of the
    pipeline over a ``bronze_in`` table)."""
    if star_sql.count(_BRONZE_END) != 1 or not star_sql.lstrip().startswith("WITH base AS"):
        raise RuntimeError("rta_pipeline_star oracle no longer has the expected bronze CTE")
    cut = star_sql.index(_BRONZE_END)
    bronze = star_sql[:cut] + "\n) SELECT * FROM bronze"
    rest = "WITH bronze AS (SELECT * FROM bronze_in" + star_sql[cut:]
    return bronze, rest


def _star_sql() -> str:
    from rta_registrations_pyspark_glue_spark.plans import registry

    return registry.oracle_sql()["rta_pipeline_star"]


# ---------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------


def inputs_analytics(out: str, seed: int) -> dict:
    inputs.write_tables(os.path.join(out, "tables"), seed)
    return {}


def inputs_etl(out: str, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rta_registrations_pyspark_glue_spark.jobs import BRONZE_COLUMNS

    src = os.path.join(out, "sources")
    inputs.write_bronze_sources(src, seed)
    bronze_sql, _ = split_star_oracle(_star_sql())
    con = _connect()
    for t in ("orders", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    rows = con.execute(
        f"""SELECT b.*, CAST(strftime(o.o_orderdate, '%Y%m') AS INT) AS ym
        FROM ({bronze_sql}) b
        JOIN orders o ON o.o_orderkey = CAST(split_part(b.slno, '_', 1) AS BIGINT)
        ORDER BY ym, b.slno"""
    ).fetchall()
    con.close()
    shutil.rmtree(src)

    months = sorted({r[-1] for r in rows})
    drop_ym = months[-1]
    by_month: dict[int, list[tuple]] = {m: [] for m in months}
    for r in rows:
        by_month[r[-1]].append(tuple(r[:-1]))

    # Vehicles first registered in earlier years are registered again in
    # the drop month: the stage and the fact must keep only the newer
    # row, wherever the old one lives. One vehicle from each month of
    # inputs.RE_REGISTRATION_MONTHS, so every seed rewrites the same
    # partitions: the middle one by key of the month's rows that have a
    # parseable issue date and are not the older duplicates, so its dirt
    # pattern is the same for every seed too.
    rng = np.random.default_rng([seed, 1])
    year, month = divmod(drop_ym, 100)
    moves = []
    for m in inputs.RE_REGISTRATION_MONTHS:
        eligible = sorted((r for r in by_month[m]
                           if r[2] != "RTA HYDERABAD" and not r[0].endswith("_dup")),
                          key=lambda r: int(r[0]))
        r = eligible[len(eligible) // 2]
        day = int(rng.integers(1, 29))
        moves.append((f"{r[0]}_mv", r[1], f"{day:02d}/{month:02d}/{year}") + r[3:])

    # The full load reads one extract of every earlier month, the drop
    # one monthly file; rows in a seeded order. The same rows go to
    # parquet for the oracles, NULLs and empty strings kept apart.
    batches = {
        "full": [r for m in months if m != drop_ym for r in by_month[m]],
        "drop": by_month[drop_ym] + moves,
    }
    names = {"full": f"registrations_upto_{months[-2]}.csv",
             "drop": f"registrations_{drop_ym}.csv"}
    for kind, batch in batches.items():
        batch = [batch[i] for i in rng.permutation(len(batch))]
        inputs.write_csv(os.path.join(out, "bronze", kind, names[kind]), BRONZE_COLUMNS, batch)
        cols = list(zip(*batch))
        pq.write_table(
            pa.table({c: pa.array(v, pa.string()) for c, v in zip(BRONZE_COLUMNS, cols)}),
            os.path.join(out, f"oracle_bronze_{kind}.parquet"),
        )
    return {
        "moved_keys": sorted(m[1] for m in moves),
        "drop": [year, month],
        "bronze_rows": sum(len(b) for b in batches.values()),
        "drop_rows": len(batches["drop"]),
    }


# ---------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------


def oracles_analytics(data: str, meta: dict) -> dict:
    from rta_registrations_pyspark_glue_spark.plans import queries_similarity, registry

    tables = os.path.join(data, "tables")
    sqls = registry.oracle_sql()
    sqls["multimodal.jpeg"] = queries_similarity._MM_JPEG_ORACLE
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    expected = {q: _expect(con.execute(sqls[q])) for q in STAR_QUERIES + HEAVY_OPS}
    con.close()
    return {"expected": expected}


def oracles_etl(data: str, meta: dict) -> dict:
    from rta_registrations_pyspark_glue_spark.jobs import BRONZE_COLUMNS

    _, star_sql = split_star_oracle(_star_sql())
    con = _connect()
    # The oracle names the registration number trn.
    cols = ", ".join(f'"{c}"' + (" AS trn" if c == "tempRegistrationNumber" else "")
                     for c in BRONZE_COLUMNS)
    for kind in ("full", "drop"):
        path = os.path.join(data, f"oracle_bronze_{kind}.parquet")
        con.execute(f"CREATE OR REPLACE TABLE bronze_in AS SELECT {cols} FROM read_parquet('{path}')")
        con.execute(f"CREATE TABLE star_{kind} AS {star_sql}")
    year, month = meta["drop"]
    bad = con.execute(
        f"""SELECT count(*) FROM star_drop WHERE row_kind = 'fact'
        AND REGISTRATION_ISSUE_DATE_ID // 100 <> {year * 100 + month}"""
    ).fetchone()[0]
    if bad:
        raise RuntimeError(f"{bad} drop registrations fall outside {year}-{month:02d}")
    # The gold star after the full load and the incremental drop: the
    # drop's facts replace every fact of the same registration, the dims
    # merge by key with the same deterministic winner as a rebuild.
    # (An incremental ETL2 resolves the drop's rows against the drop's
    # own catalog, jobs.run_etl2's documented caveat, so the drop's facts
    # are the oracle over the drop alone.)
    gold_sql = f"""
        SELECT * FROM star_full WHERE row_kind = 'fact'
          AND TEMP_REGISTRATION_NUMBER NOT IN
              (SELECT TEMP_REGISTRATION_NUMBER FROM star_drop WHERE row_kind = 'fact')
        UNION ALL BY NAME
        SELECT * FROM star_drop WHERE row_kind = 'fact'
        UNION ALL BY NAME
        SELECT * FROM (
            SELECT * FROM star_full WHERE row_kind = 'dim_vehicle'
            UNION ALL BY NAME
            SELECT * FROM star_drop WHERE row_kind = 'dim_vehicle'
        ) QUALIFY row_number() OVER (PARTITION BY VEHICLE_ID ORDER BY {_DIMV_ORDER}) = 1
    """
    gold = _expect(con.execute(gold_sql))
    registrations = con.execute(
        f"SELECT count(DISTINCT TEMP_REGISTRATION_NUMBER) FROM ({gold_sql}) "
        "WHERE row_kind = 'fact'"
    ).fetchone()[0]
    con.close()
    return {"expected": {"gold": gold}, "registrations": registrations}


STEPS = {
    "analytics_job": (inputs_analytics, oracles_analytics),
    "etl_job": (inputs_etl, oracles_etl),
}


def _write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.rename(tmp, path)


def main(argv: list[str]) -> int:
    step, workload = argv[0], argv[1]
    make_inputs, make_oracles = STEPS[workload]
    if step == "inputs":
        seed, out = int(argv[2]), argv[3]
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            _write_json(os.path.join(tmp, "inputs.json"), make_inputs(tmp, seed))
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    elif step == "oracles":
        data = argv[2]
        with open(os.path.join(data, "inputs.json"), encoding="utf-8") as fh:
            meta = json.load(fh)
        _write_json(os.path.join(data, "expected.json"), make_oracles(data, meta))
    else:
        raise SystemExit(f"unknown step {step!r}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
