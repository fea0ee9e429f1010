"""Benchmark of the collector pipeline, end to end and layer by layer.

    python3 perfbench/run.py --workload fanout_stream --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Run from the root of a checkout. One invocation runs one workload in a
fresh Spark JVM on ``local[nproc]``: it generates seeded inputs, checks
outputs against the oracles, warms up, then measures for ``--seconds``.
A workload's operation runs each of its parts in turn (see WORKLOADS).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are its per-layer ones, from spans the benchmark
records around the calls into each layer and from Spark's own
counters. The line before it holds the run's details: per-part
latencies, the metrics not gated in BENCHMARK.json, the runtime
(nproc, load, versions, local dir, heap) and, when traced, where the
spans were written. ``--workload all`` runs every workload, untraced
and traced, one process each, and prints a table. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

T0 = time.perf_counter()

# workload -> the part modules one operation runs, in order
WORKLOADS = {
    "fanout_stream": ("fanout", "stream"),
    "codec_dedup": ("codec", "dedup"),
}


def metric_units(root: Path) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


@dataclass
class Sample:
    wall: float
    rows: int
    ok: bool
    traced: bool
    parts: dict
    out_bytes: int


@dataclass
class Ctx:
    work: Path
    seed: int
    seconds: int
    trace: bool
    cpus: int
    rss: object
    spark: object = None
    tracer: object = None
    setup_s: float = 0.0
    setup_ok: bool = True
    detail: dict = field(default_factory=dict)
    layer_samples: list = field(default_factory=list)

    def start_spark(self):
        import harness as H

        self.spark = H.start_spark(self.work)
        self.detail["runtime"] = H.runtime_facts(self.spark, self.cpus)
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
        return self.spark

    def note(self, key: str, value) -> None:
        self.detail.setdefault(key, []).append(value)


def operation(ctx: Ctx, parts, i: int, traced: bool) -> Sample:
    """Each part in turn. A part that raises fails the operation; the
    run goes on."""
    import harness as H

    results = {}
    for p in parts:
        t = time.perf_counter()
        try:
            results[p.name] = p.op(i, traced)
        except Exception:  # noqa: BLE001 — a failed operation is counted
            traceback.print_exc(file=sys.stderr)
            results[p.name] = H.Result(time.perf_counter() - t, 0, False)
    if traced:
        layers = {}
        for r in results.values():
            layers.update(r.layers)
        ops = [f"op{i}.{p.name}" for p in parts]
        totals = H.job_counters(ctx.spark, [j for o in ops for j in ctx.tracer.job_ids(o)])
        layers.update({f"spark.{k}": v for k, v in totals.items()})
        ctx.layer_samples.append(layers)
    return Sample(
        wall=sum(r.wall for r in results.values()),
        rows=sum(r.rows for r in results.values()),
        ok=all(r.ok for r in results.values()),
        traced=traced,
        parts={k: r.wall for k, r in results.items()},
        out_bytes=sum(r.out_bytes for r in results.values()),
    )


def timed_setup(part, phases: dict) -> bool:
    t = time.perf_counter()
    try:
        return part.setup()
    finally:
        phases[f"warm_up.{part.name}"] = time.perf_counter() - t


def closed_loop(ctx: Ctx, parts) -> list[Sample]:
    """One operation at a time until ``seconds`` have passed. In a
    traced run, operations alternate untraced / traced (the parts'
    wrappers go in for the traced ones) so one run shows the tracing
    overhead."""
    samples: list[Sample] = []
    start = time.perf_counter()
    i = 0
    while True:
        traced = ctx.trace and i % 2 == 1
        if traced:
            for p in parts:
                p.install()
        ctx.rss.active.set()
        try:
            samples.append(operation(ctx, parts, i, traced))
        finally:
            ctx.rss.active.clear()
            if traced:
                ctx.tracer.unwrap_all()
        i += 1
        # a traced run ends on an untraced operation after a traced one
        if time.perf_counter() - start >= ctx.seconds and (not ctx.trace or (i >= 3 and i % 2 == 1)):
            return samples


def run_one(args, root: Path) -> int:
    end_to_end, per_layer = metric_units(root)
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out = root / ".perfbench_out"
    import harness as H

    shutil.rmtree(work, ignore_errors=True)
    H.pin_environment(root, work, H.cpu_count())
    sys.path.insert(0, str(root))
    mods = [importlib.import_module(m) for m in WORKLOADS[args.workload]]

    load_start = H.loadavg()
    rss = H.RssSampler()
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace), H.cpu_count(), rss)
    oracles = None
    try:
        sf = H.make_inputs(
            work,
            args.seed,
            turns=max(getattr(m, "TURNS", 1000) for m in mods),
            docs=max(getattr(m, "DOCS", 200) for m in mods),
            cpus=ctx.cpus,
        )
        phases = ctx.detail["setup_phases_s"] = {"inputs": time.perf_counter() - T0}
        # DuckDB computes the oracles on a thread while the JVM starts
        oracles = H.Oracles(sf, [k for m in mods for k in getattr(m, "ORACLES", ())])
        t = time.perf_counter()
        ctx.start_spark()
        phases["spark_start"] = time.perf_counter() - t
        parts = [m.Part(ctx, sf, oracles) for m in mods]
        # each part checks its output once, which also warms it; the
        # parts do this side by side, as Spark runs concurrent jobs
        with ThreadPoolExecutor(len(parts)) as pool:
            oks = list(pool.map(lambda p: timed_setup(p, phases), parts))
        ctx.setup_ok = all(oks)
        ctx.setup_s = time.perf_counter() - T0
        cpu = H.cpu_times()
        samples = closed_loop(ctx, parts)
        ctx.detail["cpu_shares_timed"] = H.cpu_shares(cpu, H.cpu_times())
    finally:
        rss.close()
        if oracles is not None:
            oracles.close()
        if ctx.tracer is not None:
            ctx.tracer.unwrap_all()
        if ctx.spark is not None:
            H.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    plain = [s for s in samples if not s.traced]
    lat = [s.wall for s in plain]
    busy = sum(lat)
    good = [s for s in plain if s.ok]
    tail, pct, beyond = H.tail(lat)
    failed = sum(1 for s in samples if not s.ok) + (0 if ctx.setup_ok else 1)
    attempted = len(samples) + (0 if ctx.setup_ok else 1)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "samples": len(lat),
        "part_s_p50": {k: statistics.median(s.parts[k] for s in plain) for k in plain[0].parts},
        "part_s": [s.parts for s in samples],
        "latency_s_tail": {"value": tail, "unit": "s", "percentile": pct, "samples_beyond": beyond},
        "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        **ctx.detail,
    }
    if good and any(s.out_bytes for s in good):
        detail["out_bytes_per_row"] = {
            "value": sum(s.out_bytes for s in good) / sum(s.rows for s in good),
            "unit": "bytes",
        }
    detail["runtime"]["loadavg_start"] = load_start
    detail["runtime"]["loadavg_end"] = H.loadavg()
    correct = ctx.setup_ok and failed == 0

    if args.trace:
        medians: dict[str, float] = {}
        for s in ctx.layer_samples:
            for k in s:
                medians[k] = float(statistics.median(x[k] for x in ctx.layer_samples if k in x))
        # the first timed operation is untraced and still warming:
        # compare traced operations with the untraced ones after them
        first = next((i for i, s in enumerate(samples) if s.traced), len(samples))
        traced = [s.wall for s in samples if s.traced]
        later = [s.wall for s in samples[first:] if not s.traced] or lat
        medians["trace.op_s_traced"] = statistics.median(traced)
        medians["trace.op_s_untraced"] = statistics.median(later)
        medians["trace.overhead_s"] = medians["trace.op_s_traced"] - medians["trace.op_s_untraced"]
        metrics = {k: {"value": medians.get(k, 0.0), "unit": u} for k, u in per_layer.items()}
        # measured, but not listed in BENCHMARK.json (zero on a healthy
        # run: commit retries, spill bytes)
        detail["layers_unlisted"] = {k: v for k, v in medians.items() if k not in per_layer}
        detail["latency_s_p50"] = {"value": statistics.median(lat), "unit": "s"}
        spans = out / f"spans-{args.workload}-seed{args.seed}.json"
        ctx.tracer.dump(spans)
        detail["spans_file"] = str(spans.relative_to(root))
    else:
        values = {
            "setup_s": ctx.setup_s,
            "rows_per_s": sum(s.rows for s in good) / busy,
            "latency_s_p50": statistics.median(lat),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def run_all(args, here: Path) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rows = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(here / "run.py"), "--workload", w, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-4000:])
                print(f"{w} trace={trace}: FAILED (exit {p.returncode})")
                return 1
            rows.append((w, trace, json.loads(lines[-2])["detail"], json.loads(lines[-1])))
    for w, trace, detail, res in rows:
        print(f"== {w} (trace={trace}) correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for k, v in res["metrics"].items():
            print(f"   {k:44s} {v['value']:>16.6g} {v['unit']}")
        for k, v in detail.items():
            if isinstance(v, dict) and "unit" in v:
                print(f"   {k:44s} {v['value']:>16.6g} {v['unit']}")
        print(f"   per part, p50 s: {detail['part_s_p50']}")
        if trace:
            print(f"   tracing overhead (traced - untraced op, same run) {res['metrics']['trace.overhead_s']['value']:+.4f} s")
        else:
            t = detail["latency_s_tail"]
            print(f"   latency_s_tail is p{t['percentile']} with {t['samples_beyond']} samples beyond it, of {detail['samples']}")
    print(json.dumps({f"{w}/trace{t}": res for w, t, _, res in rows}))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    here = Path(__file__).resolve().parent
    root = here.parent
    if not (root / "opentelemetry_collector_spark" / "__init__.py").is_file():
        sys.stderr.write(f"perfbench: no opentelemetry_collector_spark package under {root}\n")
        return 2
    import harness as H

    # a run leaves no process behind, on any way out of it: a signal
    # unwinds the stack like an exception, so every finally runs
    def unwind(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, unwind)
    H.adopt_orphans()
    try:
        return run_all(args, here) if args.workload == "all" else run_one(args, root)
    finally:
        H.stop_descendants()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
