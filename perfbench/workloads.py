"""The benchmark's workloads and their operations.

An operation is one call into the engine that a user would make: a
registered query or operator run to a ``noop`` write, or one streaming
pipeline run over the replayed event files into a memory sink. Each
operation is timed in two parts (the builder call and the action), counts
the jobs it launched, and can check its own output, untimed.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from tracing import job_counts

# (layer, name) of each workload's operations. ``queries`` and
# ``operators`` are registered builders (``sol_spark.registry``); ``stream``
# names a transform of ``sol_spark.streaming.pipelines``.
WORKLOADS = {
    # Catalyst planning, parquet scans, shuffle/broadcast joins, and one
    # incrementally planned aggregation over replayed event files; no
    # operator loops. The control for any driver-round-trip change.
    "relational": (("queries", "tpch_q9"), ("queries", "tpcds_q67"), ("stream", "tumbling_counts")),
    # An eager-checkpoint loop through ``dedup.iterate`` /
    # ``local_checkpoint``: almost all of its jobs run inside the builder.
    "iterative": (("operators", "dedup_clusters"),),
}
STREAM_MODES = {"tumbling_counts": "complete"}
STREAM_FILES = 2  # event files replayed, one per trigger


class OpFailure(Exception):
    """An operation whose output or side effects are wrong."""


class QueryOp:
    """A registered query or operator (``sol_spark.registry``), built by its
    builder and executed to a ``noop`` write."""

    def __init__(self, name: str, layer: str, spec) -> None:
        self.name, self.layer, self.spec = name, layer, spec
        self._df = None

    def run(self, ctx, group: str, rec: dict) -> None:
        sc = ctx.spark.sparkContext
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        rec["start_ms"] = time.time() * 1000.0
        with ctx.spans.span(f"{self.layer}.{self.name}", group=group):
            with ctx.spans.span("build"):
                self._df = self.spec.fn(ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            with ctx.spans.span("exec"):
                self._df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rec["end_ms"] = time.time() * 1000.0
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, **job_counts(sc, group))

    def check(self, ctx) -> None:
        from sol_spark.oracle import compare

        ok, msg = compare(self._df, self.spec.oracle, ctx.data_dir, exact=True)
        if not ok:
            raise OpFailure(f"{self.name}: oracle mismatch: {msg}")

    def release(self, ctx) -> None:
        from sol_spark.operators.dedup import release_result

        if self._df is not None:
            release_result(self._df)
            self._df = None


class StreamOp:
    """One streaming pipeline from ``sol_spark.streaming.pipelines`` run over
    the replayed event files until all input is processed."""

    layer = "stream"

    def __init__(self, name: str, mode: str) -> None:
        self.name, self.mode = name, mode
        self._sink = None

    def transform(self, events):
        from sol_spark.streaming import pipelines as P

        return getattr(P, self.name)(events)

    def run(self, ctx, group: str, rec: dict) -> None:
        sc = ctx.spark.sparkContext
        sc.setJobGroup(group, group)
        self._sink = f"pb_{self.name}_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(ctx.run_dir, "checkpoints", self._sink)
        t0 = time.perf_counter()
        rec["start_ms"] = time.time() * 1000.0
        with ctx.spans.span(f"stream.{self.name}", group=group):
            with ctx.spans.span("build"):
                query = (
                    self.transform(ctx.stream)
                    .writeStream.format("memory")
                    .queryName(self._sink)
                    .outputMode(self.mode)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
            t1 = time.perf_counter()
            try:
                with ctx.spans.span("exec"):
                    query.processAllAvailable()
            finally:
                query.stop()
        t2 = time.perf_counter()
        rec["end_ms"] = time.time() * 1000.0
        # Micro-batches run under the query's run id, not the caller's group.
        rec["group"] = str(query.runId)
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, **job_counts(sc, rec["group"]))
        rec["batches"] = [
            {
                "rows": p["numInputRows"],
                "durations_ms": dict(p["durationMs"]),
                "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
                "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])),
            }
            for p in query.recentProgress
            if p["numInputRows"] > 0
        ]
        shutil.rmtree(ckpt, ignore_errors=True)

    def check(self, ctx) -> None:
        """Sink equals the same transform applied in batch mode. Sums are
        compared to one decimal, as the engine's stream==batch tests do:
        the incremental and batch plans add doubles in different orders."""
        got = ctx.spark.table(self._sink).collect()
        want = self.transform(ctx.tables["events"]).collect()
        if _rows(got) != _rows(want):
            raise OpFailure(f"{self.name}: stream sink differs from the batch transform")

    def release(self, ctx) -> None:
        if self._sink is not None:
            ctx.spark.catalog.dropTempView(self._sink)
            self._sink = None


def _rows(rows) -> list:
    def norm(r):
        d = r.asDict()
        if d.get("sum_value") is not None:
            d["sum_value"] = round(d["sum_value"], 1)
        return tuple(sorted(d.items()))

    return sorted(norm(r) for r in rows)


class FailingOp(QueryOp):
    """A deliberately broken operation: its builder raises. Used by the
    smoke check to prove a failure reaches ``failed_ratio``."""

    def __init__(self) -> None:
        super().__init__("deliberate_failure", "queries", None)

    def run(self, ctx, group: str, rec: dict) -> None:
        rec["start_ms"] = rec["end_ms"] = time.time() * 1000.0
        ctx.spark.range(1).select("no_such_column").collect()


def operations(workload: str, inject_failure: bool = False) -> list:
    from sol_spark.registry import all_queries

    specs = all_queries()
    ops = [
        StreamOp(name, STREAM_MODES[name]) if layer == "stream" else QueryOp(name, layer, specs[name])
        for layer, name in WORKLOADS[workload]
    ]
    if inject_failure:
        ops.append(FailingOp())
    return ops
