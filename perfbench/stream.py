"""stream: one streaming increment, one part of ``fanout_stream``.

Each operation drops FILES seeded transcript files of FILE_TURNS turns
into a fresh source directory — atomically: each is copied to a
staging name first, then renamed in — and runs
``streaming.micro.run_to_sinks`` over it with the function's default
trigger (available-now) and one file per trigger, so the operation is
FILES micro-batches, each a small partitioned sink commit. Parse,
enrich, route and write are the code of ``fanout``, but fixed
per-trigger costs dominate: query start, planning, job launch, the
commit and the offset WAL. The operation ends when the query has
drained its source and stopped.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import harness as H
from harness import Result

FILE_TURNS = 5000
FILES = 2


def _phase_p50(progress, key: str) -> float:
    return statistics.median(p.durationMs.get(key, 0) for p in progress) / 1000.0


class Part:
    name = "stream"

    def __init__(self, ctx, sf, oracles):
        import pandas as pd
        import pyarrow.parquet as pq

        from opentelemetry_collector_spark import fixtures

        self.ctx = ctx
        self.files = ctx.work / "stream" / "files"
        self.files.mkdir(parents=True)
        # one seeded table sliced into files: keys are unique across files
        table = fixtures.generate_transcripts(FILE_TURNS * FILES, ctx.seed + 1)
        self.names = [f"drop{k}.parquet" for k in range(FILES)]
        for k, name in enumerate(self.names):
            part = table.slice(k * FILE_TURNS, FILE_TURNS)
            pq.write_table(part, self.files / name, row_group_size=fixtures.TRANSCRIPT_ROW_GROUP_ROWS)
        self.expected = pd.DataFrame(
            {"conv_id": table["conv_id"].to_numpy(zero_copy_only=False), "turn_idx": table["turn_idx"].to_numpy()}
        )
        # dims for the enrich stage, created before any query starts
        fixtures.ensure_dims()

    def setup(self) -> bool:
        return self.op(-1, False).ok

    def install(self) -> None:
        from opentelemetry_collector_spark.streaming import micro

        self.ctx.tracer.wrap(micro, "run_to_sinks", "streaming.micro.run_to_sinks")
        self.ctx.tracer.wrap(micro, "routed_stream", "streaming.micro.routed_stream")

    def _exactly_once(self, out) -> bool:
        """Every dropped (conv_id, turn_idx) landed exactly once across
        all epochs and sinks, and nothing else landed."""
        import pyarrow.dataset as ds

        got = ds.dataset(out, format="parquet", partitioning="hive", exclude_invalid_files=True)
        keys = got.to_table(columns=["conv_id", "turn_idx"]).to_pandas()
        if len(keys) != len(self.expected) or keys.duplicated().any():
            return False
        return len(keys.merge(self.expected, on=["conv_id", "turn_idx"])) == len(self.expected)

    def op(self, i: int, traced: bool) -> Result:
        from opentelemetry_collector_spark.streaming import micro

        ctx = self.ctx
        base = ctx.work / "stream" / f"op{i}"
        src, staging, out, ckpt = base / "src", base / "staging", base / "out", base / "checkpoint"
        src.mkdir(parents=True)
        staging.mkdir()
        for name in self.names:
            shutil.copyfile(self.files / name, staging / name)
            os.replace(staging / name, src / name)
        if traced:
            ctx.tracer.start_op(f"op{i}.{self.name}")
        t0 = time.perf_counter()
        query = micro.run_to_sinks(ctx.spark, str(src), str(out), str(ckpt), max_files_per_trigger=1)
        query.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        ok = query.exception() is None and self._exactly_once(out)
        files, nbytes = H.tree_bytes(out)
        layers = {}
        if traced:
            layers = {
                "streaming.micro.batches": len(progress),
                "streaming.micro.rows_per_batch": statistics.median(p.numInputRows for p in progress),
                "streaming.micro.trigger_s_p50": _phase_p50(progress, "triggerExecution"),
                "streaming.micro.planning_s_p50": _phase_p50(progress, "queryPlanning"),
                "streaming.micro.add_batch_s_p50": _phase_p50(progress, "addBatch"),
                "streaming.micro.wal_commit_s_p50": _phase_p50(progress, "walCommit"),
                # query start and stop: the operation's wall outside its triggers
                "streaming.micro.start_stop_s": wall - sum(p.durationMs.get("triggerExecution", 0) for p in progress) / 1000.0,
                "streaming.micro.sink_files": files,
                "streaming.micro.sink_bytes": nbytes,
            }
        shutil.rmtree(base)
        ctx.spark.catalog.clearCache()
        return Result(wall, FILE_TURNS * FILES, ok, layers, nbytes)
