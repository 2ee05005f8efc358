#!/usr/bin/env python3
"""Warm-pass benchmark of the solspark engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

One process runs one workload (``relational`` or ``iterative``, see
``workloads.py``) at ``local[N]`` with N <= nproc, on tables generated
inside the checkout (``datagen.py``):

1. set-up, several times: session start, catalog load and, when the
   workload streams, stream input materialization (``setup_s`` is the
   median);
2. a cold pass that also checks every output, untimed (DuckDB oracle for
   batch operations, batch-mode equality for stream sinks);
3. the rest of a fixed number of untimed warm-up passes;
4. timed passes until ``--seconds`` have been measured (``pass_s`` is the
   median pass).

With ``--trace 1`` the session is then restarted with Spark's event log on
and the same passes run again with layer spans recorded; the per-layer
metrics are printed instead, and spans and per-operation records are
written to ``.perfbench_out/``. Every metric is printed by name with its
unit; the last line of standard output is one JSON object. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SF = 0.01
CORES = 4  # local[N] with N = min(CORES, nproc)
SETUPS = 3
WARMUP = 4  # untimed passes, the cold one included
TRACED_WARMUP = 2  # the JVM is warm by then; only the new context's first pass is cold
MIN_TIMED = 3  # a median survives one disturbed pass
DEADLINE_S = 170
_T0 = time.perf_counter()


class DeadlineExceeded(BaseException):
    """Raised by the run's alarm; not an ``Exception``, so no per-operation
    handler counts it as a failed operation and carries on."""


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("relational", "iterative"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="scale factor of the generated tables")
    ap.add_argument("--inject-failure", action="store_true", help="add one operation that always fails")
    return ap.parse_args(argv)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    all CPUs (field 8 of /proc/stat's ``cpu`` line); 0 where unavailable."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def pin_environment(run_dir: str) -> dict:
    """Cores, driver memory and scratch directories, set before the engine
    is imported (``sol_spark.session`` reads the core count at import)."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(CORES, nproc)
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gb = max(1, min(4, int(phys_gb // 4)))
    for sub in ("local", "tmp", "warehouse", "checkpoints", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_MASTER", None)
    return {"nproc": nproc, "cores": cores, "driver_mem_gb": mem_gb, "phys_mem_gb": round(phys_gb, 1)}


class Context:
    """What the operations need: the live session and the run's inputs."""

    def __init__(self, run_dir: str, data_dir: str, cores: int, spans) -> None:
        self.run_dir, self.data_dir, self.cores, self.spans = run_dir, data_dir, cores, spans
        self.spark = self.tables = self.stream = self.stream_dir = None

    def setup(self, traced: bool, stream: bool) -> dict[str, float]:
        from sol_spark.session import session_builder
        from sol_spark.streaming.pipelines import events_stream
        from sol_spark.tables import load_tables

        from workloads import STREAM_FILES

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(self.run_dir, "checkpoints"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        with self.spans.span("setup", traced=traced):
            t0 = time.perf_counter()
            with self.spans.span("session.start"):
                builder = session_builder("perfbench", extra_conf=conf).master(f"local[{self.cores}]")
                self.spark = builder.getOrCreate()
                self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            with self.spans.span("tables.load"):
                self.tables = load_tables(self.spark, self.data_dir)
            t2 = time.perf_counter()
            if stream:
                with self.spans.span("stream.prepare"):
                    self.stream, self.stream_dir = events_stream(self.spark, self.data_dir, n_files=STREAM_FILES)
            t3 = time.perf_counter()
        out = {"session.start_s": t1 - t0, "tables.load_s": t2 - t1, "total_s": t3 - t0}
        if stream:
            out["stream.prepare_s"] = t3 - t2
        return out

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.stream_dir:
            shutil.rmtree(self.stream_dir, ignore_errors=True)
            self.stream_dir = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_pass(ctx: Context, ops: list, phase: str, index: int, seed: int, check: bool) -> dict:
    """One pass over every operation, in an order drawn from the seed."""
    from tracing import persisted_rdds

    from workloads import OpFailure

    sc = ctx.spark.sparkContext
    order = random.Random(f"{seed}/{phase}/{index}").sample(ops, len(ops))
    records = []
    with ctx.spans.span("pass", phase=phase, index=index):
        for op in order:
            group = f"perfbench/{phase}/{index}/{op.name}"
            rec = {"op": op.name, "layer": op.layer, "phase": phase, "pass": index, "group": group, "error": None}
            before = persisted_rdds(sc)
            try:
                op.run(ctx, group, rec)
                if rec["jobs"] == 0:
                    raise OpFailure(f"{op.name}: launched no Spark jobs")
                if check:
                    sc.setJobGroup("perfbench/check", "untimed output check")
                    with ctx.spans.span("check"):
                        op.check(ctx)
            except Exception as exc:  # noqa: BLE001 — every failure is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {str(exc).strip()[:400]}"
                traceback.print_exc(file=sys.stderr)
            finally:
                try:
                    op.release(ctx)
                except Exception as exc:  # noqa: BLE001
                    rec["error"] = rec["error"] or f"release failed: {exc}"
            if rec["error"] is None and persisted_rdds(sc) != before:
                rec["error"] = f"{op.name}: persisted storage not back at its pre-operation level"
            if rec["error"]:
                log(f"FAILED {phase} pass {index}: {rec['error']}")
            records.append(rec)
    sc.setJobGroup("perfbench/idle", "between passes")
    wall = sum(r.get("wall_s", 0.0) for r in records)
    log(f"{phase} pass {index}: {wall:.3f} s (" + ", ".join(f"{r['op']} {r.get('wall_s', 0):.3f}" for r in records) + ")")
    return {"phase": phase, "index": index, "wall_s": wall, "ops": records}


def run_phase(ctx: Context, ops: list, phase: str, seed: int, seconds: float, check: bool, warmup_passes: int) -> dict:
    """``warmup_passes`` untimed passes (the first one checks every output
    when ``check``), then timed passes until ``seconds`` have been measured."""
    warmup = [run_pass(ctx, ops, phase, i, seed, check and i == 0) for i in range(warmup_passes)]
    timed, t0 = [], time.perf_counter()
    while len(timed) < MIN_TIMED or time.perf_counter() - t0 < seconds:
        timed.append(run_pass(ctx, ops, phase, warmup_passes + len(timed), seed, False))
    return {"warmup": warmup, "timed": timed}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(setups: list[dict], phase: dict) -> dict[str, float]:
    timed = phase["timed"]
    return {
        "setup_s": _median(s["total_s"] for s in setups),
        "pass_s": _median(p["wall_s"] for p in timed),
    }


def per_layer(setups, untraced, traced, spark_ops) -> dict[str, float]:
    """Layer metrics from the traced timed passes (medians over passes).
    Layers the workload does not call read 0."""
    from workloads import WORKLOADS

    op_names = {"queries": [], "operators": [], "stream": []}
    for layer, name in (pair for pairs in WORKLOADS.values() for pair in pairs):
        op_names[layer].append(name)
    passes = traced["timed"]
    m = {k: _median(s.get(k, 0.0) for s in setups) for k in ("session.start_s", "tables.load_s", "stream.prepare_s")}

    def per_pass(fn):
        return _median(fn([r for r in p["ops"] if r["error"] is None]) for p in passes)

    for layer in ("queries", "operators"):
        for key in ("build_s", "exec_s", "jobs", "stages", "tasks"):
            m[f"{layer}.{key}"] = per_pass(lambda rs: sum(r[key] for r in rs if r["layer"] == layer))
        for name in op_names[layer]:
            m[f"{layer}.{name}_s"] = per_pass(lambda rs: sum(r["wall_s"] for r in rs if r["op"] == name))
            m[f"{layer}.{name}_jobs"] = per_pass(lambda rs: sum(r["jobs"] for r in rs if r["op"] == name))

    def batches(rs):
        return [b for r in rs if r["layer"] == "stream" for b in r["batches"]]

    m["stream.batches"] = per_pass(lambda rs: len(batches(rs)))
    m["stream.rows_in"] = per_pass(lambda rs: sum(b["rows"] for b in batches(rs)))
    for phase_name in ("addBatch", "queryPlanning", "walCommit", "getBatch"):
        m[f"stream.{phase_name}_s"] = per_pass(
            lambda rs: sum(b["durations_ms"].get(phase_name, 0) for b in batches(rs)) / 1000.0
        )
    m["stream.state_rows"] = per_pass(lambda rs: sum(r["batches"][-1]["state_rows"] for r in rs if r.get("batches")))
    m["stream.state_bytes"] = per_pass(lambda rs: sum(r["batches"][-1]["state_bytes"] for r in rs if r.get("batches")))
    all_batches = [b for p in passes for b in batches([r for r in p["ops"] if r["error"] is None])]
    trigger_s = sum(b["durations_ms"].get("triggerExecution", 0) for b in all_batches) / 1000.0
    m["stream.rows_per_s"] = sum(b["rows"] for b in all_batches) / trigger_s if trigger_s else 0.0
    for name in op_names["stream"]:
        m[f"stream.{name}_batch_p50_s"] = _median(
            b["durations_ms"].get("triggerExecution", 0) / 1000.0
            for p in passes
            for r in p["ops"]
            if r["op"] == name and r["error"] is None
            for b in r["batches"]
        )

    timed_groups = {r["group"] for p in passes for r in p["ops"]}
    by_pass: dict[int, list[dict]] = {}
    for acc in spark_ops:
        if acc["op"]["group"] in timed_groups:
            by_pass.setdefault(acc["op"]["pass"], []).append(acc)
    sums = list(by_pass.values())

    def spark_sum(key, scale=1.0):
        return _median(sum(a[key] for a in accs) * scale for accs in sums)

    m["spark.executor_run_s"] = spark_sum("executor_run_ms", 1e-3)
    m["spark.gc_s"] = spark_sum("gc_ms", 1e-3)
    m["spark.shuffle_read_bytes"] = spark_sum("shuffle_read_bytes")
    m["spark.shuffle_write_bytes"] = spark_sum("shuffle_write_bytes")
    m["spark.spill_bytes"] = spark_sum("spill_bytes")
    m["spark.driver_gap_s"] = spark_sum("driver_gap_ms", 1e-3)
    m["spark.failed_tasks"] = spark_sum("failed_tasks")
    m["warmup.pass_s"] = untraced["warmup"][0]["wall_s"]
    m["trace.overhead"] = _median(p["wall_s"] for p in passes) / _median(p["wall_s"] for p in untraced["timed"])
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "sol_spark", "__init__.py")):
        print(f"perfbench: no sol_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(run_dir)
    env["loadavg_start"], steal0 = list(os.getloadavg()), steal_s()
    sys.path.insert(0, ROOT)

    def on_deadline(signum, frame):  # noqa: ANN001
        raise DeadlineExceeded(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)

    import datagen
    import pyspark
    from tracing import Spans, read_event_log, spark_layer

    import workloads

    spans = Spans()
    ctx = Context(run_dir, os.path.join(run_dir, "data"), env["cores"], spans)
    try:
        rows = datagen.generate(ctx.data_dir, args.seed, args.sf)
        log(f"generated {sum(rows.values())} rows")
        ops = workloads.operations(args.workload, args.inject_failure)
        streams = any(op.layer == "stream" for op in ops)
        setups = []
        for i in range(SETUPS):
            if i:
                ctx.stop()
            setups.append(ctx.setup(traced=False, stream=streams))
            log("setup {}: ".format(i) + " ".join(f"{k}={v:.2f}" for k, v in setups[-1].items()))
        java = ctx.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        env.update(pyspark=pyspark.__version__, java=str(java))
        untraced = run_phase(ctx, ops, "untraced", args.seed, args.seconds, check=True, warmup_passes=WARMUP)
        phases = [untraced]
        if args.trace:
            ctx.stop()
            spans.enabled = True
            ctx.setup(traced=True, stream=streams)
            traced = run_phase(ctx, ops, "traced", args.seed, args.seconds, check=False, warmup_passes=TRACED_WARMUP)
            phases.append(traced)
            ctx.stop()
            groups = {r["group"]: r for p in traced["warmup"] + traced["timed"] for r in p["ops"] if "start_ms" in r}
            spark_ops = spark_layer(read_event_log(os.path.join(run_dir, "eventlog")), groups)
            metrics = per_layer(setups, untraced, traced, spark_ops)
            wanted = spec["per_layer"]
        else:
            metrics = end_to_end(setups, untraced)
            wanted = spec["end_to_end"]
        env["loadavg_end"], env["steal_s"] = list(os.getloadavg()), round(steal_s() - steal0, 2)

        records = [r for ph in phases for p in ph["warmup"] + ph["timed"] for r in p["ops"]]
        attempted, failed = len(records), sum(1 for r in records if r["error"])
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            spans.dump(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                {"env": env, "rows": rows, "operations": records, "spark": [
                    {k: v for k, v in acc.items() if k != "op"} | {"group": acc["op"]["group"]} for acc in spark_ops
                ]},
            )
    finally:
        signal.alarm(0)
        try:
            ctx.stop()
        finally:
            shutdown_jvm()
            shutil.rmtree(run_dir, ignore_errors=True)
        log("stopped")

    print(f"# workload {args.workload} seed {args.seed} sf {args.sf} trace {args.trace}")
    for key in ("nproc", "cores", "driver_mem_gb", "phys_mem_gb", "pyspark", "java", "loadavg_start", "loadavg_end", "steal_s"):
        print(f"# env {key} = {env[key]}")
    out = {}
    for m in wanted:
        out[m["name"]] = {"value": metrics[m["name"]], "unit": m["unit"]}
        print(f"{m['name']} = {metrics[m['name']]:.6g} {m['unit']}")
    print(f"failed_ratio = {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
