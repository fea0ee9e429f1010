"""Obsreport: accepted/refused/dropped accounting per stage.

Mirrors the reference's observability contract:
- receiver accepted/refused counts (receiver/receiverhelper/
  obsreport.go:181-201);
- processor incoming/outgoing items (processor/processorhelper/
  documentation.md:9-25);
- exporter sent/send-failed items (exporter/exporterhelper/
  documentation.md:9-105).

Spark-first: counts come from *the same DAG* rather than being
incremented imperatively. The exporter ``sent`` counts are observed in
flight: the runner attaches a ``count(1)`` ``Observation`` to each
sink's write, so the job that moved the rows also counted them (no
drift between counter and payload, which the reference has to work to
guarantee, and no extra job). Without them (a resumed run that skipped
committed sinks, or the single-pass fan-out) one ``groupBy`` over the
persisted routed frame derives the same counts. The other stages'
counters follow from the per-sink totals. Metric names follow the
reference's ``otelcol_<component>_<verb>_log_records`` convention.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.route import QUARANTINE_SINK
from opentelemetry_collector_spark.state import local_frame

METRICS_SCHEMA = "stage string, metric string, value long"


@dataclass
class StageMetrics:
    rows: list[tuple[str, str, int]] = field(default_factory=list)

    def add(self, stage: str, metric: str, value: int) -> None:
        self.rows.append((stage, metric, int(value)))

    def to_df(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, self.rows, METRICS_SCHEMA)


def collect_pipeline_metrics(
    routed: DataFrame, sent: Mapping[str, int] | None = None
) -> StageMetrics:
    """Per-sink row counts → the obsreport table.

    ``sent`` maps every sink to the rows its write observed; given it,
    no job runs. Without it, one pass over the persisted routed frame
    counts them. Either way only sinks that received rows get exporter
    rows.

    accepted: rows entering each stage; refused: admission rejections
    (0 in batch mode — Spark backpressure replaces the memorylimiter,
    we keep the metric contract); dropped: quarantined rows (permanent
    errors, the retry_sender drop path).
    """
    if sent is None:
        counts = {
            r["sink"]: r["n"]
            for r in routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    else:
        counts = {s: n for s, n in sent.items() if n}
    total = sum(counts.values())
    dropped = counts.get(QUARANTINE_SINK, 0)
    m = StageMetrics()
    m.add("receiver", "accepted_log_records", total)
    m.add("receiver", "refused_log_records", 0)
    m.add("processor_parse", "incoming_items", total)
    m.add("processor_parse", "outgoing_items", total - dropped)
    m.add("processor_parse", "dropped_items", dropped)
    m.add("processor_enrich", "incoming_items", total)
    m.add("processor_enrich", "outgoing_items", total)
    for sink, n in sorted(counts.items()):
        m.add(f"exporter_{sink}", "sent_log_records", n)
        m.add(f"exporter_{sink}", "send_failed_log_records", 0)
    return m
