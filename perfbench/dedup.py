"""dedup: the composed training-corpus pipeline, one part of
``codec_dedup``.

Each operation runs ``plans.corpus_pipeline.corpus_pipeline`` over a
seeded ``fixtures.ensure_scalegrowth`` corpus with the registered mix
rates, forced over every output column: quality rules, decontamination
and mix sampling, MinHash-LSH near-duplicate pairs and their connected
components over the survivors (``operators.dedup``, per-round actions
while the components are built), then sequence packing. Shuffles and
self-joins dominate; there is no Python boundary and nothing is
written to sinks.
"""

from __future__ import annotations

import time

import harness as H
from harness import Result

DOCS = 300
ORACLES = ("corpus_pipeline",)


class Part:
    name = "dedup"

    def __init__(self, ctx, sf, oracles):
        self.ctx, self.sf, self.oracles = ctx, sf, oracles
        self.frames: dict = {}
        self.stats: dict = {}

    def _pipeline(self, handles: list):
        import __spark_entry__ as entry

        from opentelemetry_collector_spark.plans import corpus_pipeline
        from opentelemetry_collector_spark.sources import tables

        docs = tables.read_table(self.ctx.spark, str(self.sf), "documents")
        return corpus_pipeline.corpus_pipeline(docs, entry.MIX_RATES_PPM, persist_handle=handles)

    def setup(self) -> bool:
        """The full output against the DuckDB oracle of the registered
        ``corpus_pipeline`` query; this first pass also warms the JVM.
        Later operations must reproduce the same row count."""
        handles: list = []
        got = self._pipeline(handles).toPandas()
        self._free(handles)
        want = self.oracles.get("corpus_pipeline")
        self.want_rows = len(want)
        self.ctx.detail["docs"] = DOCS
        if not H.same_rows(got, want):
            self.ctx.note("oracle_mismatch", "corpus_pipeline")
            return False
        return True

    def _free(self, handles: list) -> None:
        # blocking: the stage prefixes after a traced operation must not
        # read blocks still being dropped
        for h in handles:
            h.unpersist(True)
        self.ctx.spark.catalog.clearCache()

    def install(self) -> None:
        from opentelemetry_collector_spark.operators import dedup
        from opentelemetry_collector_spark.plans import corpus_pipeline

        t = self.ctx.tracer
        t.wrap(corpus_pipeline, "corpus_pipeline", "plans.corpus_pipeline.corpus_pipeline")
        t.wrap(corpus_pipeline, "clean_corpus", "plans.corpus_pipeline.clean_corpus")
        # the frames the pipeline builds, kept for the stage prefixes
        for owner, fn, span, stage in (
            (corpus_pipeline, "prefilter_corpus", "plans.corpus_pipeline.prefilter_corpus", "survivors"),
            (dedup, "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs", "candidates"),
            (dedup, "neardup_pairs_minhash", "operators.dedup.neardup_pairs_minhash", "verified"),
        ):
            t.wrap(owner, fn, span, after=lambda df, stage=stage: self.frames.setdefault(stage, df))

        def with_stats(args, kwargs):
            self.stats.clear()
            kwargs.setdefault("stats_handle", self.stats)

        t.wrap(dedup, "neardup_components", "operators.dedup.neardup_components", before=with_stats)

    def op(self, i: int, traced: bool) -> Result:
        ctx = self.ctx
        if traced:
            ctx.tracer.start_op(f"op{i}.{self.name}")
            self.frames.clear()
        handles: list = []
        t0 = time.perf_counter()
        n, _ = H.force(self._pipeline(handles))
        wall = time.perf_counter() - t0
        self._free(handles)
        layers = {}
        if traced:
            op = f"op{i}.{self.name}"
            comps = ctx.tracer.total(op, "operators.dedup.neardup_components")
            layers["operators.dedup.components_rounds"] = self.stats.get("rounds", 0)
            layers["operators.dedup.shuffle_bytes"] = H.job_counters(
                ctx.spark, ctx.tracer.job_ids(op, "operators.dedup.neardup_components")
            )["shuffle_write_bytes"]
            ctx.tracer.start_op(f"{op}.prefixes")
            layers.update(self._stages(comps))
        return Result(wall, DOCS, n == self.want_rows, layers)

    def _stages(self, components_span: float) -> dict[str, float]:
        """Self times of the dedup stages: the wall of forcing each frame
        the pipeline built (survivors, candidate pairs with their
        shingles, verified pairs) minus that of the one before it, each
        the best of two. The
        signatures are the package's ``with_minhash`` over the
        survivors. Building the components forces the verified pairs
        first, so their wall comes off the components span."""
        from opentelemetry_collector_spark.operators import dedup

        walls, rows = {}, {}
        frames = {
            "survivors": self.frames["survivors"],
            "signatures": dedup.with_minhash(self.frames["survivors"]),
            "candidates": self.frames["candidates"],
            "verified": self.frames["verified"],
        }
        for stage, df in frames.items():
            walls[stage], rows[stage], _ = H.best_of(2, self.ctx.tracer, stage, df)
        return {
            "plans.corpus_pipeline.prefilter_s": walls["survivors"],
            "operators.dedup.signature_s": walls["signatures"] - walls["survivors"],
            "operators.dedup.band_join_s": walls["candidates"] - walls["signatures"],
            "operators.dedup.verify_s": walls["verified"] - walls["candidates"],
            "operators.dedup.components_s": components_span - walls["verified"],
            "operators.dedup.candidate_pairs": rows["candidates"],
            "operators.dedup.verified_pairs": rows["verified"],
            "operators.dedup.pair_yield": rows["verified"] / rows["candidates"] if rows["candidates"] else 0.0,
        }
