"""Sinks (the exporter analog).

- ``write_sink``: the otlpexporter analog — append/overwrite a table per
  sink (exporter/otlpexporter/otlp.go:133-151). Writes are **idempotent
  per (run_id, sink)**: a deterministic output path written with
  overwrite mode, so a replayed partition/sink replaces rather than
  duplicates — the Spark-native replace-where. Combined with the
  lineage manifest (state/checkpoint.py) this reproduces the persistent
  queue's at-least-once-replay + exactly-once-effect contract
  (exporter/exporterhelper/internal/queue/persistent_queue.go:50-73).
- ``debug_sink``: debugexporter (exporter/debugexporter/exporter.go) —
  verbosity levels + sampling.
- ``nop_sink``: nopexporter — count-only action.
- ``retry_commit``: retry_sender analog (exporter/exporterhelper/
  internal/retry_sender.go:71-152): exponential backoff around the
  commit, permanent errors short-circuit.

Scale note: per-sink writes repartition on the sink's shard keys
(``SINK_SHARD_KEYS``) and cap records per file (batch.shape_for_write)
— the batchprocessor's send_batch_max_size split expressed as physical
file shaping. plans/runner.py pre-shards the routed frame on the same
keys before it caches it, so Catalyst elides this per-sink exchange
there; callers handing in an unsharded frame still get it. On a real
cluster the same call sites target Iceberg (write.format("iceberg"),
replaceWhere) — parquet-dir fallback here.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import batch as batch_mod

# shard keys of every per-sink table; the runner pre-shards on these too
SINK_SHARD_KEYS: tuple[str, ...] = ("conv_id",)


class PermanentError(Exception):
    """Non-retryable (consumer/consumererror/permanent.go analog)."""


class ThrottleError(Exception):
    """Retryable failure carrying a server-specified delay — the
    gRPC RetryInfo / HTTP Retry-After path the reference honors in
    exporter/otlpexporter/otlp.go:187-216 (throttle overrides the
    client backoff for that attempt)."""

    def __init__(self, msg: str, retry_after: float):
        super().__init__(msg)
        self.retry_after = float(retry_after)


@dataclass
class RetryConfig:
    """retry_sender.go:71-152 config surface."""

    initial_interval: float = 0.05
    multiplier: float = 1.5
    max_interval: float = 2.0
    max_elapsed: float = 30.0


def retry_commit(fn, cfg: RetryConfig | None = None, sleep=time.sleep):
    """Run fn() with exponential backoff; PermanentError short-circuits;
    a ThrottleError's server delay replaces the backoff wait for that
    attempt (retry_sender.go:116-129: throttle wins over backoff; the
    backoff sequence itself is not reset)."""
    cfg = cfg or RetryConfig()
    interval = cfg.initial_interval
    elapsed = 0.0
    attempt = 0
    while True:
        attempt += 1
        try:
            return fn()
        except PermanentError:
            raise
        except Exception as e:
            wait = interval
            if isinstance(e, ThrottleError):
                wait = e.retry_after
            if elapsed + wait > cfg.max_elapsed:
                raise
            sleep(wait)
            elapsed += wait
            interval = min(interval * cfg.multiplier, cfg.max_interval)


def sink_path(base_dir: str, run_id: str, sink: str) -> str:
    return str(Path(base_dir) / f"run_id={run_id}" / f"sink={sink}")


def single_pass_sink_path(base_dir: str, run_id: str, sink: str) -> str:
    """Leaf dir of one sink under a single-pass fan-out write. NB: a
    sink with zero routed rows produces no directory in this mode
    (partitionBy writes only observed values)."""
    return str(Path(base_dir) / f"run_id={run_id}" / f"_sink_part={sink}")


def write_sink(
    df: DataFrame,
    base_dir: str,
    run_id: str,
    sink: str,
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
    retry: RetryConfig | None = None,
) -> str:
    """Idempotent per-(run_id, sink) write: overwrite a deterministic path.

    Replaying the same logical write produces byte-equivalent state
    instead of duplicates (replace-where semantics on the parquet
    fallback; on Iceberg this is an overwritePartitions commit).
    """
    path = sink_path(base_dir, run_id, sink)
    shaped, opts = batch_mod.shape_for_write(df, rows_per_file, shard_keys=SINK_SHARD_KEYS)

    def _commit() -> None:
        w = shaped.write.mode("overwrite")
        w = batch_mod.apply_write_options(w, opts)
        w.parquet(path)

    retry_commit(_commit, retry)
    return path


def rejected_path(base_dir: str, run_id: str, sink: str) -> str:
    return str(Path(base_dir) / f"run_id={run_id}" / f"rejected={sink}")


def write_sink_partial(
    df: DataFrame,
    base_dir: str,
    run_id: str,
    sink: str,
    reject_predicate,
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
    retry: RetryConfig | None = None,
) -> dict:
    """Partial-success commit (otlp.go:103-110 ExportResponse
    PartialSuccess): the sink accepts most rows but rejects a subset.
    Rejected rows are NOT retried (the reference logs and drops them) —
    here they land in a quarantine side table so they stay auditable,
    and the send_failed count feeds the obsreport metrics.

    Returns {"sent", "send_failed", "path", "rejected_path"}.
    """
    # NULL-safe predicate: filter(~NULL) AND filter(NULL) both drop the
    # row, which would silently lose it from BOTH outputs — a NULL
    # verdict means "not rejected"
    rej = F.coalesce(reject_predicate, F.lit(False))
    # persist: the upstream lineage feeds two writes; without it the
    # whole plan executes twice (the fan-out evaluate-once obligation)
    df = df.persist()
    try:
        accepted = df.filter(~rej)
        rejected = df.filter(rej)
        path = write_sink(accepted, base_dir, run_id, sink, rows_per_file, retry)
        rej_path = rejected_path(base_dir, run_id, sink)

        def _commit() -> None:
            rejected.write.mode("overwrite").parquet(rej_path)

        retry_commit(_commit, retry)
        spark = df.sparkSession
        # counts from the WRITTEN state (footer metadata reads), so the
        # report reflects what actually committed
        n_sent = spark.read.parquet(path).count()
        n_failed = spark.read.parquet(rej_path).count()
        return {
            "sent": n_sent,
            "send_failed": n_failed,
            "path": path,
            "rejected_path": rej_path,
        }
    finally:
        df.unpersist()


def write_fanout_single_pass(
    routed: DataFrame,
    base_dir: str,
    run_id: str,
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
) -> str:
    """One-pass fan-out: write.partitionBy('sink') — every sink's table
    materializes in a single scan of the routed frame with ZERO extra
    shuffles (vs the per-unit mode's shuffle of the whole routed frame
    onto the sinks' shard keys).

    Tradeoff vs write_sink units: resume granularity is the whole
    fan-out (one lineage unit), not per sink. At 100 TB this is the
    default — the scan dominates and re-running one idempotent
    overwrite of the whole epoch is cheaper than a full shuffle on
    every healthy run. The per-sink mode remains for fine-grained
    resume (persistent-queue parity).
    """
    path = str(Path(base_dir) / f"run_id={run_id}")

    def _commit() -> None:
        (
            # partition on a COPY: partitionBy strips its column from the
            # data files, so reading a sink=<s> leaf directly would lose
            # the sink column and diverge from per-sink-mode schema
            routed.withColumn("_sink_part", F.col("sink"))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", str(rows_per_file))
            .partitionBy("_sink_part")
            .parquet(path)
        )

    retry_commit(_commit)
    return path


def compact_sink(
    spark,
    path: str,
    target_rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
) -> tuple[int, int]:
    """Small-file compaction (Iceberg rewrite_data_files analog).

    Streaming fan-out appends many small files per epoch; batch
    re-reads then pay per-file open costs. Compaction rewrites a sink
    table to ⌈rows / target⌉ files. Safe protocol on the parquet
    fallback: write to a shadow dir, then atomically swap directories
    (Iceberg does this as a metadata-only commit).

    Returns (files_before, files_after).
    """
    import shutil
    from pathlib import Path as P

    shadow = path.rstrip("/") + "__compact"
    old = path.rstrip("/") + "__old"
    # crash recovery: a previous run may have died between its two
    # renames (sink moved to __old, shadow not yet promoted) — restore,
    # then clear any stale work dirs before starting
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for stale in (shadow, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    df = spark.read.parquet(path)
    n = df.count()
    files_before = len(list(P(path).rglob("*.parquet")))
    n_files = max(1, -(-n // target_rows_per_file))
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", str(target_rows_per_file))
        .parquet(shadow)
    )
    # the shadow is fully written before the sink is touched, so a crash
    # in the window between these renames is recoverable (see above);
    # on Iceberg this whole swap is a single metadata commit
    os.rename(path, old)
    os.rename(shadow, path)
    shutil.rmtree(old)
    files_after = len(list(P(path).rglob("*.parquet")))
    return files_before, files_after


def debug_sink(
    df: DataFrame,
    verbosity: str = "basic",
    sample: int = 20,
    sampling_initial: int | None = None,
    sampling_thereafter: int | None = None,
    _batch_counter: list | None = None,
) -> int:
    """debugexporter: basic → count only; normal → sampled rows;
    detailed → sampled rows, untruncated.

    sampling_initial / sampling_thereafter mirror
    exporter/debugexporter/config.go:26-33 (zapcore sampler semantics
    at BATCH granularity, the reference's unit): the first
    ``sampling_initial`` invocations print, after which only every
    ``sampling_thereafter``-th invocation does. The counter lives in
    the caller-supplied ``_batch_counter`` (a 1-element list) so
    repeated sink calls of one configured exporter share it — sampling
    without a shared counter would silently reset per call (every
    batch looks like the first), so that is a ValueError, not a
    default."""
    if sampling_thereafter is not None and sampling_initial is None:
        # a caller configuring only 'thereafter' would otherwise get
        # every batch printed with no error — match the loud contract
        # the missing-_batch_counter case already gets
        raise ValueError(
            "sampling_thereafter requires sampling_initial "
            "(exporter/debugexporter/config.go pairs them)"
        )
    n = df.count()
    if verbosity not in ("normal", "detailed"):
        return n
    show = True
    if sampling_initial is not None:
        if _batch_counter is None:
            raise ValueError(
                "sampling_initial needs a shared _batch_counter "
                "(one [0] list per configured debug exporter)"
            )
        _batch_counter[0] += 1
        seen = _batch_counter[0]
        if seen > sampling_initial:
            thereafter = sampling_thereafter or 0
            show = thereafter > 0 and (seen - sampling_initial) % thereafter == 0
    if show:
        df.show(sample, truncate=verbosity != "detailed")
    return n


def nop_sink(df: DataFrame) -> int:
    """nopexporter: consume and discard (count-only action)."""
    return df.count()


def time_sink_path(base_dir: str, run_id: str, sink: str) -> str:
    """Leaf dir of one time-partitioned sink (shared by writer+runner)."""
    return str(Path(base_dir) / f"run_id={run_id}" / f"tsink={sink}")


def write_sink_time_partitioned(
    df: DataFrame,
    base_dir: str,
    run_id: str,
    sink: str,
    ts_col: str = "ts",
    granularity: str = "hour",
    rows_per_file: int = batch_mod.DEFAULT_SEND_BATCH_SIZE,
    retry: RetryConfig | None = None,
) -> str:
    """Telemetry-table layout: the sink partitioned by event-time
    bucket (`ts_bucket=2025-01-01 13:00:00/…`), so every time-ranged
    read — the dominant query pattern over log tables — prunes to the
    touched partitions instead of scanning the run (PartitionFilters
    evidence in tests/test_sinks.py). On Iceberg this is the
    `hour(ts)`/`day(ts)` partition transform; the parquet fallback
    derives an explicit bucket column (partitionBy strips it from the
    data files, the raw ts column stays).

    Late data lands in its OWN (older) partition — an idempotent replay
    of the run overwrites deterministically either way.
    """
    if granularity not in ("hour", "day"):
        raise ValueError(f"granularity must be hour|day, got {granularity!r}")
    path = time_sink_path(base_dir, run_id, sink)
    # bucket as a NON-CASTABLE formatted string, identical shape for
    # BOTH granularities ('2025-01-01-13' / '2025-01-01-00'): partition
    # type inference parses bare '2025-01-01' back as DateType, which
    # would silently retype the column between writer and reader and
    # between hour- and day-partitioned tables
    bucketed = F.date_trunc(granularity, F.col(ts_col))
    shaped = df.withColumn("ts_bucket", F.date_format(bucketed, "yyyy-MM-dd-HH"))
    # repartition on the bucket before partitionBy: without it every
    # upstream task writes one file per bucket it holds (tasks×buckets
    # tiny files — the small-files trap compact_sink exists to fix)
    shaped, opts = batch_mod.shape_for_write(
        shaped, rows_per_file, shard_keys=("ts_bucket",)
    )

    def _commit() -> None:
        w = shaped.write.mode("overwrite")
        w = batch_mod.apply_write_options(w, opts)
        w.partitionBy("ts_bucket").parquet(path)

    retry_commit(_commit, retry)
    return path
