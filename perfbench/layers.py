"""The per-layer metrics of a traced run: which public functions get a
span, and how span times and Spark counters become named metrics.

Every metric is printed on both workloads; a layer a workload never
reaches reads 0 there, which is the prediction for it there. Times and
counts are totals over the job (all calls of a function), except where
a name says otherwise.
"""

from __future__ import annotations

import importlib

from perfbench.tracing import PACKAGE
from perfbench.workloads import STAR_QUERIES

#: (module, function) pairs that get a span in a traced run.
TRACED = [
    ("jobs", "run_etl1"),
    ("jobs", "run_etl2"),
    ("plans.pipeline", "clean_and_stage"),
    ("plans.pipeline", "build_star"),
    ("operators.resolve", "resolve_exact_fuzzy"),
    ("io", "read_csv"),
    ("io", "write_parquet"),
    ("io", "replace_partitions"),
    ("io", "replace_parquet"),
    ("io", "delete_stale_keys"),
    ("operators.upsert", "merge_upsert"),
    ("sources.testdata", "load_table"),
    ("operators.graph", "connected_components"),
    ("operators.textdedup", "minhash_lsh_candidates"),
    ("operators.textdedup", "jaccard_verify"),
]

SPARK_TOTALS = {
    "spark.jobs": "spark_jobs",
    "spark.stages": "spark_stages",
    "spark.tasks": "spark_tasks",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
}

#: Metric name -> unit, in BENCHMARK.json order.
UNITS: dict[str, str] = {"session.get_spark.s": "s", "tracing.job_s": "s"}
UNITS.update({
    "jobs.run_etl1.s": "s", "jobs.run_etl1.spark_jobs": "count",
    "jobs.run_etl2.s": "s", "jobs.run_etl2.spark_jobs": "count",
    "plans.pipeline.clean_and_stage.s": "s", "plans.pipeline.build_star.s": "s",
    "operators.resolve.resolve_exact_fuzzy.s": "s", "operators.resolve.fuzzy_matches": "count",
    "io.read_csv.s": "s", "io.write_parquet.s": "s", "io.write_parquet.spark_jobs": "count",
    "io.write_parquet.files": "count", "io.write_parquet.bytes": "B",
    "io.replace_partitions.s": "s", "io.replace_parquet.s": "s",
    "io.delete_stale_keys.s": "s", "io.delete_stale_keys.spark_jobs": "count",
    "io.bytes_per_input_byte": "ratio", "operators.upsert.merge_upsert.s": "s",
})
for _q in STAR_QUERIES:
    UNITS.update({f"plans.{_q}.build_s": "s", f"plans.{_q}.exec_s": "s",
                  f"plans.{_q}.spark_jobs": "count"})
UNITS.update({
    "plans.planmemo.hit_ratio": "ratio", "sources.testdata.load_table.s": "s",
    "plans.near_dup_clusters.s": "s", "plans.near_dup_clusters.spark_jobs": "count",
    "operators.graph.connected_components.s": "s",
    "operators.graph.connected_components.self_s": "s",
    "operators.graph.connected_components.spark_jobs": "count",
    "operators.graph.connected_components.spark_stages": "count",
    "operators.textdedup.lsh_verify_ratio": "ratio",
    "operators.multimodal.jpeg.s": "s", "python_workers.cpu_s": "s",
    "caching.tracked_live": "count", "caching.storage_mb": "MB",
})
UNITS.update({name: ("s" if name.endswith("_s") else "B" if name.endswith("bytes") else "count")
              for name in SPARK_TOTALS})
UNITS.update({"proc.jvm_peak_rss_mb": "MB", "proc.driver_peak_rss_mb": "MB"})

#: Count metrics that must repeat exactly across traced runs of one seed.
COUNTS = sorted(
    [n for n in UNITS if n.endswith(".spark_jobs")]
    + ["spark.jobs", "spark.stages", "spark.tasks", "io.write_parquet.files",
       "operators.resolve.fuzzy_matches"]
)


class TrackedCount:
    """Frames ``caching.tracked_persist`` newly persisted, less those
    ``caching.release_tracked`` released: the tracked persists a job
    leaves cached."""

    def __init__(self) -> None:
        self.live = 0

    def persist(self, original, df):
        # tracked_persist registers a frame only if its plan is not
        # cached yet.
        level = df.storageLevel
        fresh = not (level.useMemory or level.useDisk)
        out = original(df)
        self.live += fresh
        return out

    def release(self, original):
        released = original()
        self.live -= released
        return released


def install(tracer) -> TrackedCount:
    for mod, fn in TRACED:
        tracer.wrap(importlib.import_module(f"{PACKAGE}.{mod}"), fn)
    caching = importlib.import_module(f"{PACKAGE}.caching")
    tracked = TrackedCount()
    tracer.intercept(caching, "tracked_persist", tracked.persist)
    tracer.intercept(caching, "release_tracked", tracked.release)
    return tracked


def compute(tracer, job, facts: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, from the spans and Spark counters of the
    traced job (the root span named ``job``) and the run's ``facts``
    (the session start, the job's wall time, process figures)."""
    tracer.collect_spark_counters()
    (root,) = tracer.by_name("job")
    out = dict.fromkeys(UNITS, 0.0)
    out.update(facts)
    for name, key in SPARK_TOTALS.items():
        out[name] = tracer.inclusive(root, key)

    def total(span_name: str, key: str | None = None) -> float:
        spans = tracer.by_name(span_name)
        if key is None:
            return sum(s.end - s.start for s in spans)
        return sum(tracer.inclusive(s, key) for s in spans)

    for name in ("jobs.run_etl1", "jobs.run_etl2", "plans.pipeline.clean_and_stage",
                 "plans.pipeline.build_star", "operators.resolve.resolve_exact_fuzzy",
                 "io.read_csv", "io.write_parquet", "io.replace_partitions",
                 "io.replace_parquet", "io.delete_stale_keys", "operators.upsert.merge_upsert",
                 "sources.testdata.load_table", "plans.near_dup_clusters",
                 "operators.graph.connected_components", "operators.multimodal.jpeg"):
        out[f"{name}.s"] = total(name)
    for name in ("jobs.run_etl1", "jobs.run_etl2", "io.write_parquet", "io.delete_stale_keys",
                 "plans.near_dup_clusters", "operators.graph.connected_components"):
        out[f"{name}.spark_jobs"] = total(name, "spark_jobs")
    cc = "operators.graph.connected_components"
    out[f"{cc}.self_s"] = sum(tracer.self_time(s) for s in tracer.by_name(cc))
    out[f"{cc}.spark_stages"] = total(cc, "spark_stages")
    for q in STAR_QUERIES:
        out[f"plans.{q}.build_s"] = total(f"plans.{q}.build")
        out[f"plans.{q}.exec_s"] = total(f"plans.{q}.exec")
        out[f"plans.{q}.spark_jobs"] = (total(f"plans.{q}.build", "spark_jobs")
                                        + total(f"plans.{q}.exec", "spark_jobs"))
    out["caching.storage_mb"] = tracer.storage_mb()
    out.update(job.layer_extras(tracer))
    unlisted = set(out) - set(UNITS)
    if unlisted:
        raise RuntimeError(f"unlisted per-layer metrics {sorted(unlisted)}")
    return out
