"""Plan and job shape of one per-sink ``run_pipeline``.

The runner caches the routed frame pre-sharded on the sinks' shard
keys, so no sink write and not the aggregate shuffles the cache again;
each sink's write counts the rows it sent, so obsreport launches no
job; the side tables are local relations; the sources are read with
declared schemas, so no footer-inference job runs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark import fixtures
from opentelemetry_collector_spark.operators import batch as batch_mod
from opentelemetry_collector_spark.operators import enrich, route
from opentelemetry_collector_spark.plans import pipeline, runner
from opentelemetry_collector_spark.plans.config import TelemetryConfig
from opentelemetry_collector_spark.sinks import writers
from opentelemetry_collector_spark.sources import tables
from opentelemetry_collector_spark.state import metrics, status

# 2 dim broadcasts + the routed frame's one shuffle-map stage + the cache
# build + 5 sink writes + the aggregate + the metrics and status tables
# (before the runner pre-sharded the cache, and with inferred source
# schemas, obsreport by groupBy and Python-RDD side tables: 22)
RUN_JOBS = 12


def _plan_above_cache(df) -> str:
    """The executed plan's text above the first in-memory scan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    i = plan.find("InMemoryTableScan")
    assert i >= 0, plan
    return plan[:i]


def test_sink_writes_and_aggregate_reuse_cache_partitioning(spark, sf_dir):
    routed = (
        pipeline.routed_frame(spark, sf_dir)
        .repartition(*writers.SINK_SHARD_KEYS)
        .persist()
    )
    try:
        routed.count()  # the plans below must hold on the built cache too
        for sink in route.all_sinks():
            part = routed.filter(F.col("sink") == sink)
            shaped, _ = batch_mod.shape_for_write(
                part, shard_keys=writers.SINK_SHARD_KEYS
            )
            assert "Exchange" not in _plan_above_cache(shaped)
        agg = pipeline.aggregate_frame(routed)
        assert "Exchange" not in _plan_above_cache(agg)
    finally:
        routed.unpersist()


def _jobs(spark, group, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_run_pipeline_job_count(spark, sf_dir, tmp_path):
    def run(name, **kw):
        return _jobs(
            spark,
            f"run-shape-{name}",
            lambda: runner.run_pipeline(
                spark, sf_dir, str(tmp_path / name), run_id="r1", **kw
            ),
        )

    normal = run("normal")
    assert len(normal) == RUN_JOBS

    # metrics level 'none' costs nothing: only the two side-table writes
    # go, and they leave no directories behind
    none = run("none", telemetry=TelemetryConfig(metrics_level="none"))
    assert len(none) == len(normal) - 2
    base = tmp_path / "none" / "run_id=r1"
    assert not (base / "metrics").exists()
    assert not (base / "status").exists()
    assert (base / "agg").is_dir()


def test_observed_metrics_equal_derived(spark, sf_dir, tmp_path):
    """The observed sent counts give the exact rows the groupBy gives,
    with no job."""
    out = str(tmp_path / "m")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    written = sorted(spark.read.parquet(f"{out}/run_id=r1/metrics").collect())
    routed = pipeline.routed_frame(spark, sf_dir).persist()
    try:
        derived = metrics.collect_pipeline_metrics(routed)
        sent = {s: 0 for s in route.all_sinks()}
        for stage, metric, n in derived.rows:
            if metric == "sent_log_records":
                sent[stage.removeprefix("exporter_")] = n
        observed_jobs = _jobs(
            spark,
            "run-shape-observed",
            lambda: metrics.collect_pipeline_metrics(routed, sent),
        )
        assert observed_jobs == []
        assert metrics.collect_pipeline_metrics(routed, sent).rows == derived.rows
    finally:
        routed.unpersist()
    assert written == sorted(derived.to_df(spark).collect())


def _stage_metrics():
    m = metrics.StageMetrics()
    m.add("receiver", "accepted_log_records", 3)
    m.add("receiver", "refused_log_records", 0)
    return m, m.rows


def _status_events():
    r = status.StatusReporter()
    status.run_reported(r, "exporter/x", lambda: None)
    status.stop_all(r)
    return r, r.events


@pytest.mark.parametrize(
    "make, empty, ddl",
    [
        (_stage_metrics, metrics.StageMetrics, metrics.METRICS_SCHEMA),
        (_status_events, status.StatusReporter, status.STATUS_SCHEMA),
    ],
)
def test_side_tables_are_local_relations(spark, make, empty, ddl):
    table, rows = make()
    for obj, want in ((table, rows), (empty(), [])):
        df = obj.to_df(spark)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        # same schema and rows as a Python list handed to createDataFrame
        ref = spark.createDataFrame(want, ddl)
        assert df.schema == ref.schema
        assert df.collect() == ref.collect()


def test_declared_source_schemas_match_inferred(spark, sf_dir):
    declared = tables.read_transcripts(spark, sf_dir).schema
    assert declared == spark.read.parquet(fixtures.ensure_transcripts(sf_dir)).schema
    role_path, tool_path = fixtures.ensure_dims()
    role_dim, tool_dim = enrich.load_dims(spark)
    assert role_dim.schema == spark.read.parquet(role_path).schema
    assert tool_dim.schema == spark.read.parquet(tool_path).schema
