"""CheckConsumeContract analog (exporter/exportertest/contract_checker.go):
drive uniquely-IDed rows through the full pipeline under kill/resume and
assert per-ID delivery sets — no loss, no duplicates.

Scenarios:
1. always-succeed → exactly-once delivery;
2. crash mid-fan-out (some sinks committed, one dispatched-but-
   uncommitted) → resume replays only incomplete units; outputs equal
   the clean run exactly;
3. repeated resume (idempotence) → byte-stable outputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import route
from opentelemetry_collector_spark.plans import pipeline, runner
from opentelemetry_collector_spark.state import checkpoint


def _collect_ids(spark, out_dir, run_id):
    ids = {}
    for s in route.all_sinks():
        df = runner.read_sink(spark, out_dir, run_id, s)
        ids[s] = {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}
    return ids


def test_exactly_once_clean_run(spark, sf_dir, transcripts, tmp_path):
    out = str(tmp_path / "clean")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    ids = _collect_ids(spark, out, "r1")
    all_ids = [i for s in ids.values() for i in s]
    assert len(all_ids) == transcripts.count()  # no loss
    assert len(all_ids) == len(set(all_ids))  # no duplicates across sinks


def test_crash_resume_no_dup_no_loss(spark, sf_dir, tmp_path):
    out_crash = str(tmp_path / "crash")
    out_clean = str(tmp_path / "clean")
    runner.run_pipeline(spark, sf_dir, out_clean, run_id="r1")

    sinks = route.all_sinks()
    crash_sink = sinks[1]  # crash after the 2nd sink wrote, before commit
    with pytest.raises(checkpoint.SimulatedCrash):
        runner.run_pipeline(spark, sf_dir, out_crash, run_id="r1", crash_after=crash_sink)

    manifest = checkpoint.LineageManifest(f"{out_crash}/_checkpoint", "r1")
    assert sinks[0] in manifest.committed()
    assert crash_sink in manifest.incomplete()  # dispatched, not committed

    # resume: replays only incomplete units (at-least-once replay,
    # idempotent overwrite → exactly-once effect)
    manifest2 = checkpoint.LineageManifest(f"{out_crash}/_checkpoint", "r1")
    ran = []
    routed = pipeline.routed_frame(spark, sf_dir).persist()
    from opentelemetry_collector_spark.sinks import writers

    def execute(sink):
        ran.append(sink)
        writers.write_sink(routed.filter(F.col("sink") == sink), out_crash, "r1", sink)

    checkpoint.run_with_resume(manifest2, sinks, execute)
    routed.unpersist()
    assert sinks[0] not in ran  # committed unit NOT replayed
    assert crash_sink in ran  # dispatched unit replayed

    assert _collect_ids(spark, out_crash, "r1") == _collect_ids(spark, out_clean, "r1")


def test_repeat_resume_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "re")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    before = _collect_ids(spark, out, "r1")
    # second full call: every unit already committed → nothing replayed,
    # outputs unchanged
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    assert _collect_ids(spark, out, "r1") == before


def test_single_pass_fanout_equals_per_sink(spark, sf_dir, tmp_path):
    """partitionBy(sink) single-pass mode writes the same routed-row
    sets as per-sink unit writes (the 100 TB default vs the
    fine-resume mode)."""
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    runner.run_pipeline(spark, sf_dir, out_a, run_id="r1")
    paths_b = runner.run_pipeline(spark, sf_dir, out_b, run_id="r1", single_pass=True)
    a = _collect_ids(spark, out_a, "r1")
    got = {}
    for s, p in paths_b.items():
        df = spark.read.parquet(p)
        got[s] = {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}
        # schema parity with per-sink mode: the sink column survives
        assert "sink" in df.columns
    assert got == a


def test_metrics_contract(spark, sf_dir, transcripts, tmp_path):
    out = str(tmp_path / "m")
    runner.run_pipeline(spark, sf_dir, out, run_id="r1")
    m = spark.read.parquet(f"{out}/run_id=r1/metrics")
    rows = {(r["stage"], r["metric"]): r["value"] for r in m.collect()}
    total = transcripts.count()
    assert rows[("receiver", "accepted_log_records")] == total
    assert rows[("receiver", "refused_log_records")] == 0
    dropped = rows[("processor_parse", "dropped_items")]
    assert dropped > 0  # malformed rows quarantined
    assert rows[("processor_parse", "outgoing_items")] == total - dropped
    sent = sum(v for (s, k), v in rows.items() if k == "sent_log_records")
    assert sent == total  # per-sink sent sums to accepted


def test_run_pipeline_time_partitioned(spark, sf_dir, tmp_path):
    """Config-reachable time layout: per-sink tables land in ts_bucket
    partitions with identical total counts to the plain layout."""
    from pathlib import Path

    from opentelemetry_collector_spark.plans import runner

    plain = runner.run_pipeline(spark, sf_dir, str(tmp_path / "a"), run_id="r")
    timed = runner.run_pipeline(
        spark, sf_dir, str(tmp_path / "b"), run_id="r", time_partition="hour"
    )
    assert set(plain) == set(timed)
    for sink in plain:
        n_plain = spark.read.parquet(plain[sink]).count()
        got = spark.read.parquet(timed[sink])
        assert got.count() == n_plain
        assert "ts_bucket" in got.columns
        assert any(
            p.name.startswith("ts_bucket=")
            for p in Path(timed[sink]).iterdir()
            if p.is_dir()
        )


def test_metrics_under_resume_equal_clean_run(spark, sf_dir, tmp_path):
    """Obsreport counts do not depend on how the sinks got committed: a
    clean run observes them in flight; a resumed run (some sinks skipped
    as committed) and a repeat call (every sink skipped) derive them
    from the routed frame. All three write the same metrics rows."""

    def metrics_rows(out):
        m = spark.read.parquet(f"{out}/run_id=r1/metrics")
        return sorted(tuple(r) for r in m.collect())

    clean = str(tmp_path / "clean")
    runner.run_pipeline(spark, sf_dir, clean, run_id="r1")
    want = metrics_rows(clean)

    resumed = str(tmp_path / "resumed")
    with pytest.raises(checkpoint.SimulatedCrash):
        runner.run_pipeline(
            spark, sf_dir, resumed, run_id="r1", crash_after=route.all_sinks()[2]
        )
    runner.run_pipeline(spark, sf_dir, resumed, run_id="r1")
    assert metrics_rows(resumed) == want

    # repeat call: every unit already committed, nothing re-written
    runner.run_pipeline(spark, sf_dir, clean, run_id="r1")
    assert metrics_rows(clean) == want
