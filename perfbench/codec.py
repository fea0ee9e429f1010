"""codec: the OTLP signal codecs, one part of ``codec_dedup``.

Each operation runs four registered round trips over the seeded
transcripts, each forced over every output column: logs through the
``protowire`` LogRecord codec, rich spans and number points through
the ``signalwire`` codecs, and nested AnyValue attributes through the
OTLP/JSON logs envelope (``pdata``). The Python/Arrow ``mapInPandas``
boundary does most of the work; nothing is written to sinks.
"""

from __future__ import annotations

import time

import harness as H
from harness import Result

TURNS = 16384
ROUND_TRIPS = {
    "proto_roundtrip": "functions.protowire",
    "spans_roundtrip": "functions.signalwire",
    "metrics_roundtrip": "functions.signalwire",
    "logs_anyvalue_otlp": "functions.pdata",
}
ORACLES = tuple(ROUND_TRIPS)
# MapInPandasExec metric -> per-layer name
_BOUNDARY = {
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonDataSent": "bytes_to_python",
    "pythonDataReceived": "bytes_from_python",
    "pythonNumRowsReceived": "rows_through_python",
}


class Part:
    name = "codec"

    def __init__(self, ctx, sf, oracles):
        import __spark_entry__ as entry

        self.ctx, self.sf, self.oracles = ctx, sf, oracles
        self.queries = {k: entry.queries()[k] for k in ROUND_TRIPS}
        self.frames: dict = {}

    def setup(self) -> bool:
        """Every round trip's full output against its DuckDB oracle; this
        first pass also warms the JVM and the Python workers. Records
        the tasks of each round trip's scan stages."""
        spark = self.ctx.spark
        sc = spark.sparkContext
        ok, self.want_rows, scan_tasks = True, {}, {}
        for key, q in self.queries.items():
            sc.setJobGroup(f"setup|{key}", key)
            got = q(spark, str(self.sf)).toPandas()
            scan_tasks[key] = H.job_counters(spark, sc.statusTracker().getJobIdsForGroup(f"setup|{key}"))["scan_tasks"]
            want = self.oracles.get(key)
            self.want_rows[key] = len(want)
            if not H.same_rows(got, want):
                ok = False
                self.ctx.note("oracle_mismatch", key)
        self.ctx.detail["codec_scan_tasks"] = scan_tasks
        return ok

    def install(self) -> None:
        from opentelemetry_collector_spark.functions import pdata, protowire, signals, signalwire

        t = self.ctx.tracer
        for fn in ("encode_records", "decode_records"):
            t.wrap(protowire, fn, f"functions.protowire.{fn}")
        for fn in ("encode_spans", "decode_spans", "encode_number_points", "decode_number_points"):
            t.wrap(signalwire, fn, f"functions.signalwire.{fn}")
        t.wrap(signals, "span_content_signatures", "functions.signals.span_content_signatures")
        # the rich spans the spans round trip encodes, and the parsed
        # rows they are built from: the prefix pair of functions.signals
        t.wrap(
            signals,
            "rich_spans_from_turns",
            "functions.signals.rich_spans_from_turns",
            before=lambda args, kwargs: self.frames.setdefault("functions.parse", args[0]),
            after=lambda df: self.frames.setdefault("functions.signals", df),
        )
        for fn in ("nest_attrs_anyvalue_to_otlp", "flatten_attrs_anyvalue_from_otlp"):
            t.wrap(pdata, fn, f"functions.pdata.{fn}")

    def op(self, i: int, traced: bool) -> Result:
        ctx, spark = self.ctx, self.ctx.spark
        if traced:
            ctx.tracer.start_op(f"op{i}.{self.name}")
            self.frames.clear()
        ok, walls, layers = True, {}, {}
        t0 = time.perf_counter()
        for key, layer in ROUND_TRIPS.items():
            t = time.perf_counter()
            n, plan = H.force(self.queries[key](spark, str(self.sf)))
            walls[key] = time.perf_counter() - t
            ok = ok and n == self.want_rows[key]
            if traced:
                for cls, m in H.plan_nodes(plan):
                    if cls == "MapInPandasExec":
                        for src, name in _BOUNDARY.items():
                            k = f"{layer}.{name}"
                            layers[k] = layers.get(k, 0) + m.get(src, 0)
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        if traced:
            layers["functions.pdata.anyvalue_s"] = walls["logs_anyvalue_otlp"]
            ctx.tracer.start_op(f"op{i}.{self.name}.prefixes")
            layers["functions.signals.self_s"] = self._signals_self()
        return Result(wall, TURNS, ok, layers)

    def _signals_self(self) -> float:
        """Self time of ``functions.signals``: forcing the rich spans the
        round trip built minus forcing the parsed rows they came from,
        each the best of two."""
        t = self.ctx.tracer
        spans, _, _ = H.best_of(2, t, "functions.signals", self.frames["functions.signals"])
        parsed, _, _ = H.best_of(2, t, "functions.parse", self.frames["functions.parse"])
        return spans - parsed
