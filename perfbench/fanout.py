"""fanout: the collector's service run, one part of ``fanout_stream``.

Each operation is one ``plans.runner.run_pipeline`` over the seeded
transcripts with per-sink units: five sink commits under the lineage
manifest, then the aggregate, the obsreport metrics and the status
table. Per-row scan/parse/enrich/route work and the sink commits
dominate; there is no Python boundary (native parse).
"""

from __future__ import annotations

import shutil
import statistics
import time

import harness as H
from harness import Result

TURNS = 4 * 16384
ORACLES = ("route_counts",)

# lazy layer -> the public function whose returned frame ends it, in
# pipeline order; run_pipeline calls each through its module attribute.
# The aggregate's frame is kept for its SQL metrics; its time is that of
# its write (see _layers): forcing it computes only the columns it reads,
# so it can cost less than forcing the routed frame.
LAZY_LAYERS = (
    ("sources", "opentelemetry_collector_spark.sources.tables", "read_transcripts"),
    ("functions.parse", "opentelemetry_collector_spark.functions.parse", "with_parsed"),
    ("operators.enrich", "opentelemetry_collector_spark.operators.enrich", "enrich_with_defaults"),
    ("operators.route", "opentelemetry_collector_spark.operators.route", "with_sink"),
    ("operators.aggregate", "opentelemetry_collector_spark.operators.aggregate", "sink_window_counts"),
)


def _reconcile(layers: dict, wall: float) -> dict[str, float]:
    """The operation's wall split into its steps; what no step explains
    is reported, not hidden. The lazy layers run once, inside the first
    sink commit, which also caches the routed frame (the persist)."""
    lazy = sum(
        layers[k] for k in ("sources.scan_s", "functions.parse.self_s", "operators.enrich.self_s", "operators.route.self_s")
    )
    parts = {
        "lazy_layers_s": lazy,
        "persist_cache_s": layers["plans.runner.persist_s"] - lazy,
        "sink_commits_s": layers["sinks.writers.write_s"] - layers["plans.runner.persist_s"],
        "manifest_s": layers["state.checkpoint.manifest_s"],
        "status_s": layers["state.status.envelope_s"] + layers["state.status.stop_s"],
        "aggregate_s": layers["operators.aggregate.self_s"],
        "metrics_s": layers["state.metrics.collect_s"],
        "table_writes_s": layers["plans.runner.tables_write_s"],
    }
    parts["unexplained_s"] = wall - sum(parts.values())
    return {f"trace.reconcile.{k}": v for k, v in parts.items()}


class Part:
    name = "fanout"

    def __init__(self, ctx, sf, oracles):
        self.ctx, self.sf, self.oracles = ctx, sf, oracles
        from opentelemetry_collector_spark.operators import route

        self.sinks = route.all_sinks()
        self.counts = {"commits": 0, "attempts": 0}
        self.frames: dict = {}  # lazy layer -> the frame run_pipeline built

    def setup(self) -> bool:
        """One checked operation: warms the JVM; its wall counts in
        setup_s only."""
        want = {r.sink: int(r.n_rows) for r in self.oracles.get("route_counts").itertuples()}
        self.want = {s: want.get(s, 0) for s in self.sinks}
        return self.op(-1, False).ok

    def install(self) -> None:
        import importlib

        from opentelemetry_collector_spark.operators import batch as batch_mod
        from opentelemetry_collector_spark.sinks import writers
        from opentelemetry_collector_spark.state import checkpoint, metrics, status

        t = self.ctx.tracer
        for layer, module, fn in LAZY_LAYERS:
            t.wrap(
                importlib.import_module(module),
                fn,
                f"{layer}.{fn}",
                after=lambda df, layer=layer: self.frames.setdefault(layer, df),
            )
        t.wrap(checkpoint, "run_with_resume", "state.checkpoint.run_with_resume")
        t.wrap(status, "run_reported", "state.status.run_reported")
        t.wrap(writers, "write_sink", "sinks.writers.write_sink")
        t.wrap(writers, "write_fanout_single_pass", "sinks.writers.write_fanout_single_pass")
        t.wrap(batch_mod, "shape_for_write", "operators.batch.shape_for_write")
        t.wrap(metrics, "collect_pipeline_metrics", "state.metrics.collect_pipeline_metrics")
        t.wrap(status, "stop_all", "state.status.stop_all")

        # retries: attempts of each commit beyond the first (no span, so
        # the commit's jobs stay in the write_sink job group)
        retry_commit = writers.retry_commit
        counts = self.counts

        def counted_retry_commit(fn, *args, **kwargs):
            def attempt():
                counts["attempts"] += 1
                return fn()

            counts["commits"] += 1
            return retry_commit(attempt, *args, **kwargs)

        t.patch(writers, "retry_commit", counted_retry_commit)

    def _check(self, base) -> tuple[bool, int, int, dict]:
        """Sink row counts from parquet footers against the oracle, sinks
        summing to the input, agg ``n_turns`` summing to the input.
        Returns (ok, sink files, sink bytes, rows per sink)."""
        import pyarrow.parquet as pq

        rows: dict[str, int] = {}
        nfiles = nbytes = 0
        for s in self.sinks:
            files = sorted((base / f"sink={s}").glob("*.parquet"))
            rows[s] = sum(pq.read_metadata(f).num_rows for f in files)
            nfiles += len(files)
            nbytes += sum(f.stat().st_size for f in files)
        agg = pq.read_table(base / "agg", columns=["n_turns"]).column("n_turns")
        ok = (
            rows == self.want
            and sum(rows.values()) == TURNS
            and int(agg.to_numpy().sum()) == TURNS
            and (base / "metrics").is_dir()
            and (base / "status").is_dir()
        )
        return ok, nfiles, nbytes, rows

    def op(self, i: int, traced: bool) -> Result:
        from opentelemetry_collector_spark.plans import runner

        ctx = self.ctx
        out = ctx.work / "out" / f"fanout{i}"
        if traced:
            ctx.tracer.start_op(f"op{i}.{self.name}")
            self.counts.update(commits=0, attempts=0)
            self.frames.clear()
        t0 = time.perf_counter()
        runner.run_pipeline(ctx.spark, str(self.sf), str(out), run_id="bench")
        t1 = time.perf_counter()
        wall = t1 - t0
        ok, files, nbytes, rows = self._check(out / "run_id=bench")
        shutil.rmtree(out)
        ctx.spark.catalog.clearCache()
        layers = {}
        if traced:
            layers = self._layers(f"op{i}.{self.name}", t0, t1, rows, files, nbytes)
            ctx.tracer.start_op(f"op{i}.{self.name}.prefixes")
            layers.update(self._prefixes())
            layers.update(_reconcile(layers, wall))
        return Result(wall, TURNS, ok, layers, nbytes)

    def _prefixes(self) -> dict[str, float]:
        """Self time of each lazy layer: the wall of forcing the frame
        run_pipeline built up to that layer, minus that of the layer
        before it (each the best of two), plus the scan's and the
        aggregate's SQL metrics. Every column of each frame is computed
        (see ``harness.force``)."""
        out: dict[str, float] = {}
        prev = 0.0
        for layer, _, _ in LAZY_LAYERS[:-1]:
            wall, _, plan = H.best_of(2, self.ctx.tracer, layer, self.frames[layer])
            out["sources.scan_s" if layer == "sources" else f"{layer}.self_s"] = wall - prev
            prev = wall
            if layer == "sources":
                out["sources.files_bytes"] = H.plan_sum(H.plan_nodes(plan), "FileSourceScanExec", "filesSize")
        _, plan = H.force(self.frames["operators.aggregate"])
        nodes = H.plan_nodes(plan)
        out["operators.aggregate.agg_time_ms"] = H.plan_sum(nodes, "HashAggregateExec", "aggTime")
        out["operators.aggregate.shuffle_bytes"] = H.plan_sum(nodes, "ShuffleExchangeExec", "shuffleBytesWritten")
        return out

    def _layers(self, op: str, start: float, end: float, rows: dict, files: int, nbytes: int) -> dict[str, float]:
        t = self.ctx.tracer
        spark = self.ctx.spark
        writes = [s.dur for s in t.of(op, "sinks.writers.write_sink")]
        units = t.total(op, "state.status.run_reported")
        (resume,) = t.of(op, "state.checkpoint.run_with_resume")
        (collect,) = t.of(op, "state.metrics.collect_pipeline_metrics")
        (stop,) = t.of(op, "state.status.stop_all")
        out = {
            # run_pipeline writes the aggregate, metrics and status tables
            # inline, between the spans: the gaps time them
            "operators.aggregate.self_s": collect.start - resume.end,
            "plans.runner.tables_write_s": (stop.start - collect.end) + (end - stop.end),
            "sinks.writers.write_s": sum(writes),
            "sinks.writers.commits": self.counts["commits"],
            "sinks.writers.retries": self.counts["attempts"] - self.counts["commits"],
            "sinks.writers.files": files,
            "sinks.writers.bytes": nbytes,
            # the first commit also materializes the persisted routed frame
            "plans.runner.persist_s": writes[0] - statistics.median(writes[1:]),
            "state.checkpoint.manifest_s": t.total(op, "state.checkpoint.run_with_resume") - units,
            "state.status.envelope_s": units - sum(writes),
            "state.status.stop_s": t.total(op, "state.status.stop_all"),
            "state.metrics.collect_s": t.total(op, "state.metrics.collect_pipeline_metrics"),
            "state.metrics.jobs": len(t.job_ids(op, "state.metrics.collect_pipeline_metrics")),
            "operators.batch.shape_shuffle_bytes": H.job_counters(spark, t.job_ids(op, "sinks.writers.write_sink"))[
                "shuffle_write_bytes"
            ],
        }
        for s in self.sinks:
            out[f"operators.route.rows.{s}"] = rows[s]
        parsed = sum(rows.values())
        out["functions.parse.valid_ratio"] = (parsed - rows["sink_quarantine"]) / parsed
        totals = H.job_counters(spark, t.job_ids(op))
        for k in ("jobs", "stages", "tasks"):
            out[f"plans.runner.{k}"] = totals[k]
        return out
