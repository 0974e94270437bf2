"""The benchmark's two jobs. Each runs once per run, in a fresh Spark
application, as a closed loop with one client: its operations run one
after another in a fixed order, first executions included. Outputs are
checked after the job, never inside the timed region.

An operation of ``analytics_job`` is one registry call (the plan build)
plus one fresh execution of the returned plan. A star query's calls
execute through Spark's ``noop`` sink: a plan-memo hit returns the same
DataFrame object as the first call, and collecting that object again
would reuse its shuffle output, where a sink write plans and runs it
anew. The heavy operations run once, so their ``collect()`` is a fresh
execution, and its rows are the ones checked. An operation of
``etl_job`` is one ``jobs.run_etl1`` or ``jobs.run_etl2`` call.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

#: Oracle-backed registry queries of analytics_job, in job order.
STAR_QUERIES = [
    "pricing_summary",
    "star_revenue_by_region_year",
    "sessionize_events",
    "merge_upsert_orders",
    "multiformat_date_parse",
    "running_customer_spend",
]
#: analytics_job calls each star query 1 + STAR_CALLS_K times, round by
#: round: the first round builds every plan, later rounds are plan-memo
#: hits that still execute in full.
STAR_CALLS_K = 3
#: Heavy operations of analytics_job, run once each after the star
#: queries: MinHash-LSH + connected components, and the baseline JPEG
#: decoder (one multimodal_suite leg). cosine_topk_ivf is left out for
#: the run-time budget (README.md, Run time).
HEAVY_OPS = ["near_dup_clusters", "multimodal.jpeg"]


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool = True
    why: str = ""

    def fail(self, why: str) -> None:
        self.ok = False
        self.why = self.why or why


def matches(expected: list, columns: list[str], rows: list) -> tuple[bool, str]:
    """Compare an output with its oracle: sorted column names, row count
    and the canonical hash of tools/oracle_check.canon_rows."""
    from tools.oracle_check import canon_rows

    cols, n_rows, digest = expected
    if sorted(columns) != cols:
        return False, f"columns {sorted(columns)} != {cols}"
    if len(rows) != n_rows:
        return False, f"rows {len(rows)} != {n_rows}"
    got = canon_rows(columns, [tuple(r) for r in rows])[0]
    if got != digest:
        return False, f"hash {got} != {digest}"
    return True, ""


class Job:
    """One job in one Spark application. ``ctx`` carries the session
    (``spark``), the prepared inputs (``data``, with ``meta`` read from
    its expected.json), a scratch directory (``work``) and the tracer
    (``None`` when untraced)."""

    name = ""
    #: Operations a whole job runs.
    planned = 0

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops: list[Op] = []

    def span(self, name: str):
        if self.ctx.tracer is None:
            return contextlib.nullcontext()
        return self.ctx.tracer.span(name)

    def timed(self, name: str, fn) -> None:
        """Run one operation and record its latency; an operation that
        raises is recorded as failed and re-raised."""
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:
            self.ops.append(Op(name, time.perf_counter() - t0, False, repr(exc)))
            raise
        self.ops.append(Op(name, time.perf_counter() - t0))

    def run(self) -> None:
        raise NotImplementedError

    def collect(self) -> None:
        """The Spark side of the checks: read the job's outputs back."""
        raise NotImplementedError

    def check(self) -> None:
        """Compare the collected outputs with ``ctx.meta``'s oracle
        results; a mismatch fails the operation that made the output."""
        raise NotImplementedError

    def layer_extras(self, tracer) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------
# analytics_job: read-only registry queries
# ---------------------------------------------------------------------


class AnalyticsJob(Job):
    """Six oracle-backed star queries, 1 + STAR_CALLS_K calls each, round
    by round; then near_dup_clusters and the jpeg leg of multimodal_suite
    once each. Tracked persists are released once at the end
    (``caching.release_tracked``), as a long-lived session does after a
    batch of queries; the release is part of the job's time."""

    name = "analytics_job"
    star_calls = len(STAR_QUERIES) * (1 + STAR_CALLS_K)
    planned = star_calls + len(HEAVY_OPS)

    def run(self) -> None:
        from rta_registrations_pyspark_glue_spark import caching
        from rta_registrations_pyspark_glue_spark.plans import queries_similarity, registry

        spark = self.ctx.spark
        tables = os.path.join(self.ctx.data, "tables")
        reg = registry.queries()
        reg["multimodal.jpeg"] = queries_similarity.MULTIMODAL_LEGS["jpeg"]
        self.outputs = []  # (operation index, DataFrame, rows collected in the job)
        self.memo_hits = 0
        last = {}
        calls = STAR_QUERIES * (1 + STAR_CALLS_K) + HEAVY_OPS
        for name in calls:

            def op(name=name):
                if name in HEAVY_OPS:
                    # Called once: the first action on the returned plan
                    # is its fresh execution, and its rows are what the
                    # check compares. One span around build and
                    # execution: these builds run Spark actions themselves.
                    prefix = "operators" if name.startswith("multimodal.") else "plans"
                    with self.span(f"{prefix}.{name}"):
                        df = reg[name](spark, tables)
                        rows = df.collect()
                else:
                    with self.span(f"plans.{name}.build"):
                        df = reg[name](spark, tables)
                    with self.span(f"plans.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    rows = None
                self.outputs.append((len(self.ops), df, rows))

            self.timed(name, op)
            df = self.outputs[-1][1]
            self.memo_hits += last.get(name) is df
            last[name] = df
        with self.span("caching.release_tracked"):
            caching.release_tracked()

    def collect(self) -> None:
        """Every distinct returned DataFrame (a memo hit returns the first
        call's object), collected once."""
        self.results = {}
        for _i, df, rows in self.outputs:
            if id(df) not in self.results:
                self.results[id(df)] = (df.columns, df.collect() if rows is None else rows)

    def check(self) -> None:
        expected = self.ctx.meta["expected"]
        verdict: dict[int, tuple[bool, str]] = {}
        for i, df, _rows in self.outputs:
            if id(df) not in verdict:
                verdict[id(df)] = matches(expected[self.ops[i].name], *self.results[id(df)])
            ok, why = verdict[id(df)]
            if not ok:
                self.ops[i].fail(why)

    def layer_extras(self, tracer) -> dict[str, float]:
        out = {"plans.planmemo.hit_ratio": self.memo_hits / self.star_calls}
        cands = tracer.last_result.get("operators.textdedup.minhash_lsh_candidates")
        verified = tracer.last_result.get("operators.textdedup.jaccard_verify")
        if cands is not None and verified is not None:
            out["operators.textdedup.lsh_verify_ratio"] = verified.count() / cands.count()
        return out


# ---------------------------------------------------------------------
# etl_job: the paper's two jobs, a full load and a late monthly drop
# ---------------------------------------------------------------------


class EtlJob(Job):
    """``jobs.run_etl1`` + ``jobs.run_etl2`` load the seeded bronze CSV
    (one extract of every month but the last) into an empty root; then
    the last month arrives late as a drop, with vehicles of older years
    registered again in it, and runs incremental ETL1 + ETL2 with its
    ``year``/``month``."""

    name = "etl_job"
    planned = 4

    def run(self) -> None:
        from rta_registrations_pyspark_glue_spark import jobs

        spark = self.ctx.spark
        bronze = os.path.join(self.ctx.data, "bronze")
        self.root = os.path.join(self.ctx.work, "gold")
        year, month = self.ctx.meta["drop"]
        stage = {}

        def etl1(path, **scope):
            stage["path"] = jobs.run_etl1(spark, path, self.root, **scope)

        self.timed("etl1_full", lambda: etl1(f"{bronze}/full"))
        self.timed("etl2_full", lambda: jobs.run_etl2(spark, stage["path"], self.root))
        self.timed("etl1_drop", lambda: etl1(f"{bronze}/drop", year=year, month=month))
        self.timed("etl2_drop", lambda: jobs.run_etl2(
            spark, stage["path"], self.root, year=year, month=month))
        self.stage = stage["path"]

    def gold_star(self):
        """The gold fact and dim_vehicle tables in the shape of the
        ``rta_pipeline_star`` oracle: one union, tagged by row_kind."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        fact = spark.read.parquet(f"{self.root}/gold_fact_registrations")
        dimv = spark.read.parquet(f"{self.root}/gold_dim_vehicle")
        return fact.withColumn("row_kind", F.lit("fact")).unionByName(
            dimv.withColumn("row_kind", F.lit("dim_vehicle")), allowMissingColumns=True
        )

    def collect(self) -> None:
        star = self.gold_star()
        self.gold = (star.columns, star.collect())
        staged = self.ctx.spark.read.parquet(self.stage).select("tempRegistrationNumber")
        self.stage_counts = (staged.count(), staged.distinct().count())

    def check(self) -> None:
        """The gold star after the drop against the oracle (see
        prepare.oracles_etl), the fact's and the stage's grain of one row
        per registration, and the re-registered vehicles' rows in the drop
        month. A wrong gold star fails ``etl2_drop``, a wrong stage
        ``etl1_drop``."""
        meta = self.ctx.meta
        ops = {op.name: op for op in self.ops}
        columns, rows = self.gold
        ok, why = matches(meta["expected"]["gold"], columns, rows)
        if not ok:
            ops["etl2_drop"].fail(f"gold star: {why}")
        col = {c: i for i, c in enumerate(columns)}
        facts = [r for r in rows if r[col["row_kind"]] == "fact"]
        keys = {r[col["TEMP_REGISTRATION_NUMBER"]] for r in facts}
        self.fuzzy_matches = sum(r[col["IS_FUZZY_MATCH"]] is True for r in facts)
        year, month = meta["drop"]
        moved = {
            r[col["TEMP_REGISTRATION_NUMBER"]]: r[col["REGISTRATION_ISSUE_DATE_ID"]] // 100
            for r in facts if r[col["TEMP_REGISTRATION_NUMBER"]] in set(meta["moved_keys"])
        }
        if len(facts) != len(keys) or len(keys) != meta["registrations"]:
            ops["etl2_drop"].fail(
                f"fact grain: {len(facts)} rows, {len(keys)} keys, "
                f"{meta['registrations']} registrations")
        if sorted(moved) != meta["moved_keys"] or set(moved.values()) != {year * 100 + month}:
            ops["etl2_drop"].fail("re-registered vehicles did not keep their newest row")
        n_rows, n_keys = self.stage_counts
        if n_rows != n_keys or n_keys != meta["registrations"]:
            ops["etl1_drop"].fail(f"stage grain: {n_rows} rows, {n_keys} keys")

    def layer_extras(self, tracer) -> dict[str, float]:
        files, out_bytes = _tree_files(self.root)
        in_bytes = _tree_files(os.path.join(self.ctx.data, "bronze"))[1]
        return {
            "operators.resolve.fuzzy_matches": float(self.fuzzy_matches),
            "io.write_parquet.files": float(files),
            "io.write_parquet.bytes": float(out_bytes),
            "io.bytes_per_input_byte": out_bytes / in_bytes,
        }


def _tree_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under root, leaving out markers and checksums."""
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs
        if not f.startswith((".", "_"))
    ]
    return len(sizes), sum(sizes)


JOBS = {j.name: j for j in (EtlJob, AnalyticsJob)}
