"""The service: run the full pipeline with fan-out writes, durable
progress, and obsreport metrics.

This is the Collector.Run analog (otelcol/collector.go:415 →
service/internal/graph.StartAll): evaluate the routed frame once and
shuffle it once (persist it pre-sharded on the sinks' shard keys — the
fanoutconsumer obligation, and Catalyst then elides the exchange in
every sink write and in the aggregate), then execute one unit-of-work
per sink under the lineage manifest so a killed run resumes without
duplicating routed rows, then write the aggregate and the metrics
table. Each sink's write also counts the rows it sent (an
``Observation``), so obsreport needs no job of its own.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import route as route_mod
from opentelemetry_collector_spark.plans import pipeline
from opentelemetry_collector_spark.sinks import writers
from opentelemetry_collector_spark.state import (
    checkpoint,
    metrics as metrics_mod,
    status as status_mod,
)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str = "run0",
    cfg: pipeline.PipelineConfig | None = None,
    crash_after: str | None = None,
    rows_per_file: int = 8192,
    single_pass: bool = False,
    telemetry=None,
    time_partition: str | None = None,
) -> dict[str, str]:
    """Execute parse→enrich→route, fan out to per-sink tables, write
    metrics + aggregate. Returns {sink: output_path}.

    single_pass=True uses write_fanout_single_pass (partitionBy sink,
    one scan, zero extra shuffles — the 100 TB default) with the whole
    fan-out as one lineage unit; False keeps per-sink units
    (persistent-queue-grade resume granularity).

    time_partition='hour'|'day' lays each per-sink table out in
    event-time partitions (write_sink_time_partitioned — the Iceberg
    hour()/day() transform analog) so downstream time-ranged reads
    prune; per-sink mode only (single-pass already partitions by sink).

    crash_after=<sink> injects a failure after that sink's write but
    before its commit record — the CheckConsumeContract kill scenario
    (exporter/exportertest/contract_checker.go:45-83).
    """
    if time_partition and single_pass:
        raise ValueError(
            "time_partition requires per-sink units (single_pass=False): "
            "silently ignoring either option would change layout or "
            "resume granularity behind the caller's back"
        )
    cfg = cfg or pipeline.PipelineConfig()
    reporter = status_mod.StatusReporter()
    routed = pipeline.routed_frame(spark, sf_dir, cfg)
    if not (single_pass or time_partition):
        # shuffle once: every sink write repartitions on these keys and
        # the aggregate groups by a superset of them, so both read the
        # cache in place instead of re-shuffling it
        routed = routed.repartition(*writers.SINK_SHARD_KEYS)
    routed = routed.persist()
    try:
        sinks = route_mod.all_sinks(list(cfg.routes))
        manifest = checkpoint.LineageManifest(str(Path(out_dir) / "_checkpoint"), run_id)
        # per-sink counts observed during the writes; None (derive them
        # from the routed frame) unless this call wrote every sink
        sent: dict[str, int] | None = None
        if single_pass:
            paths = {
                s: writers.single_pass_sink_path(out_dir, run_id, s)
                for s in sinks
            }

            def execute_all(unit: str) -> None:
                status_mod.run_reported(
                    reporter,
                    f"exporter/{unit}",
                    lambda: writers.write_fanout_single_pass(
                        routed, out_dir, run_id, rows_per_file=rows_per_file
                    ),
                )

            # single-pass mode has one unit: any requested crash point
            # maps to it (crash_after=<sink name> would otherwise be a
            # silent no-op)
            checkpoint.run_with_resume(
                manifest,
                ["fanout"],
                execute_all,
                crash_after="fanout" if crash_after is not None else None,
            )
        else:
            if time_partition:
                paths = {
                    s: writers.time_sink_path(out_dir, run_id, s) for s in sinks
                }
            else:
                paths = {s: writers.sink_path(out_dir, run_id, s) for s in sinks}

            observed: dict[str, Observation] = {}

            def execute(sink: str) -> None:
                def _write() -> None:
                    # obsreport in flight: the write's own job counts
                    # the rows it sends
                    observed[sink] = Observation()
                    part = routed.filter(F.col("sink") == sink).observe(
                        observed[sink], F.count(F.lit(1)).alias("sent")
                    )
                    if time_partition:
                        writers.write_sink_time_partitioned(
                            part, out_dir, run_id, sink,
                            granularity=time_partition,
                            rows_per_file=rows_per_file,
                        )
                    else:
                        writers.write_sink(
                            part, out_dir, run_id, sink,
                            rows_per_file=rows_per_file,
                        )

                status_mod.run_reported(reporter, f"exporter/{sink}", _write)

            ran = checkpoint.run_with_resume(
                manifest, sinks, execute, crash_after=crash_after
            )
            if ran == sinks:
                sent = {s: observed[s].get["sent"] for s in sinks}

        # aggregate + metrics land only after all sinks committed
        agg = pipeline.aggregate_frame(routed, cfg)
        agg.write.mode("overwrite").parquet(str(Path(out_dir) / f"run_id={run_id}" / "agg"))
        # self-telemetry obeys service.telemetry (metrics level 'none'
        # suppresses the obsreport + status tables)
        from opentelemetry_collector_spark.plans.config import TelemetryConfig

        telemetry = telemetry or TelemetryConfig()
        if telemetry.write_metrics:
            m = metrics_mod.collect_pipeline_metrics(routed, sent)
            m.to_df(spark).write.mode("overwrite").parquet(
                str(Path(out_dir) / f"run_id={run_id}" / "metrics")
            )
            # component lifecycle events (graph.go StartAll/StopAll)
            status_mod.stop_all(reporter)
            reporter.to_df(spark).write.mode("overwrite").parquet(
                str(Path(out_dir) / f"run_id={run_id}" / "status")
            )
        return paths
    finally:
        routed.unpersist()


def read_sink(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    sink: str,
    time_partitioned: bool = False,
) -> DataFrame:
    path = (
        writers.time_sink_path(out_dir, run_id, sink)
        if time_partitioned
        else writers.sink_path(out_dir, run_id, sink)
    )
    return spark.read.parquet(path)
