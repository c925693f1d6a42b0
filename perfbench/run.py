#!/usr/bin/env python3
"""Benchmark of the engine: one process per run, one workload per run.

    python3 perfbench/run.py --workload text_dedup_wide --seed 1 --seconds 25 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``
(``perfbench/gen.py``; cached under ``.perfbench/inputs``), starts a
session with ``get_spark`` at local[nproc], runs one cold pass whose
outputs are checked against the DuckDB oracle, a fixed number of warm-up
passes, then timed passes for ``--seconds`` (at least ``MIN_TIMED`` of
them), and reports medians over the timed passes.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is the run's provenance row. ``--trace 1`` alternates
untraced and traced timed passes, reports per-layer medians over the
traced ones and writes every span to ``.perfbench/traces/`` as JSON
lines. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("text_dedup_wide", "lakehouse_upsert")
# passes per run: a fixed warm-up, then timed passes until --seconds have
# passed, at least MIN_TIMED of them. With the JIT held at C1 (see JIT_OPTS)
# the pass time is flat after the warm-up, so the count may follow host
# speed without moving the median.
WARMUP = {"text_dedup_wide": 2, "lakehouse_upsert": 2}
MIN_TIMED = {"text_dedup_wide": 5, "lakehouse_upsert": 3}
SOURCE_SPANS = {
    "versioned": ("create", "merge", "vacuum", "read"),
    "delta_export": ("create", "merge", "read"),
    "iceberg": ("create", "merge", "vacuum", "read"),
}
SOURCE_WRITES = ("create", "merge")  # the data commits
CALIB_N = 3_000_000
# driver heap: a bounded heap keeps the JVM's resident set a function of
# the program's live data, not of G1 expanding a 16 GB default heap; a
# fixed initial heap and young generation keep it from following G1's
# timing-driven sizing, which moved with host speed
DRIVER_MEM = "3g"
YOUNG_GEN = "512m"
# the JIT's first tier only: C2 was still compiling 0.5-0.9 CPU-s per pass
# after a dozen passes, so a timed pass sat on a slope whose steepness
# followed host speed; C1 reaches its plateau within two passes. C1 alone
# gets a 48 MB code cache, which the lakehouse passes filled by pass 5: the
# sweeper then flushed it and the JIT compiled everything again. A code
# cache of the tiered size, never flushed, keeps the passes flat.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UseCodeCacheFlushing"

END_TO_END = {
    "setup_s": "s", "warm_pass_s": "s", "warm_cpu_s": "s", "peak_rss_mb": "MB", "ok_frac": "frac",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s", "plans.registry_load_s": "s",
        "tables.load_s": "s", "tables.load_calls": "count",
        "tables.spread_s": "s", "tables.spread_calls": "count",
        "plans.build_s": "s", "plans.build_jobs": "count",
        "exec.driver_gap_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.action_s": "s", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
        "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
        "exec.shuffle_records": "count", "exec.spill_mb": "MB",
        "operators.pairs_out": "count", "operators.pairs_per_shuffle_record": "ratio",
        "cpu.driver_py_s": "s", "cpu.jvm_task_s": "s", "cpu.jvm_gc_s": "s",
        "cpu.pyworker_s": "s", "cpu.jvm_compiler_s": "s",
    }
    for proto, ops in SOURCE_SPANS.items():
        for op in ops:
            units[f"sources.{proto}.{op}_s"] = "s"
    units.update({
        "sources.jobs_per_commit": "ratio", "sources.files_rewritten_uniform_merge": "count",
        "sources.files_rewritten_recent_merge": "count",
        "sources.bytes_written_mb": "MB", "sources.bytes_stored_per_user_byte": "ratio",
        "sources.tmp_entries_leaked": "count",
    })
    for q in wl.TEXT_QUERIES:
        units[f"query.{q}_s"] = "s"
    units.update({"oracle.check_s": "s", "jvm.first_pass_s": "s", "host.calib_s": "s",
                  "trace.overhead_frac": "frac"})
    return units


def calibrate() -> float:
    """A fixed pure-Python loop: host speed, independent of the engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_N):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_etl_pipeline_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                         timeout=30, check=False)
    return out.stdout.strip() or None


class Context:
    """What a workload pass needs: the session, the tracer, and the
    attempt/failure accounting of its operations."""

    def __init__(self, spark, tracer: tr.Tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.pass_no = 0
        self.op_walls: list[float] = []
        self.check_s = 0.0

    @property
    def ok_frac(self) -> float:
        """Share of attempted operations that completed with the right output."""
        return (self.attempted - self.failed) / max(1, self.attempted)

    def op(self, name: str, fn):
        """Run one operation in its span; an exception counts as a failure."""
        self.attempted += 1
        layer, _, _ = name.partition(".")
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                return fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self.op_walls.append(time.perf_counter() - t0)

    def query(self, name: str, data_dir: str, collect: bool):
        from data_etl_pipeline_spark.plans.registry import QUERIES

        def run():
            with self.tracer.span(f"plans.{name}", "plans"):
                df = QUERIES[name].fn(self.spark, data_dir)
            with self.tracer.span("exec.action", "exec"):
                if collect:
                    return self.collect_digest(df)
                self.noop(df)
            return None
        return self.op(f"query.{name}", run)

    def collect_digest(self, df) -> dict:
        rows = df.collect()
        t0 = time.perf_counter()
        got = wl.digest(df.columns, rows)
        self.check_s += time.perf_counter() - t0
        return got

    @staticmethod
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def verify(self, name: str, got: dict, expected: dict) -> None:
        """A completed operation whose output differs from the oracle
        counts as failed."""
        if got != expected:
            self.failed += 1
            print(f"[perfbench] {name}: output differs from the oracle: {got} != {expected}", file=sys.stderr)


def setup_env(scratch: str) -> None:
    """Environment the engine needs, owned by the benchmark: the package
    importable in Python workers, and every temp directory (Python's,
    the JVM's, Spark's local dirs) inside the run's scratch root."""
    os.makedirs(os.path.join(scratch, "spark-local"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    java_opts = f"-Djava.io.tmpdir={scratch} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} {JIT_OPTS}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def stop_tree(spark, pids: list[int]) -> None:
    """Stop the session, then the JVM, and wait for every process the run
    started to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    alive = [p for p in pids if p != os.getpid()]
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive and time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        return tr._stat_fields(f"/proc/{pid}/stat")[1][0] == "Z"
    except OSError:
        return False


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: tr.Tracer, passes: list[dict], workload) -> dict[str, float]:
    """Per-layer medians over the traced timed passes."""
    rows = []
    for p in passes:
        spans = [s for s in tracer.spans if s["pass"] == p["no"]]
        jobs = set().union(*(s["jobs"] for s in spans)) if spans else set()
        stage_m, intervals = tracer.job_metrics(jobs)
        m = {f"exec.{k}": v for k, v in stage_m.items()}
        m["exec.jobs"] = len(jobs)
        m["exec.driver_gap_s"] = p["wall"] - tr.union_s(intervals, p["t0"], p["t1"])
        m["exec.action_s"] = sum(s["end"] - s["start"] for s in spans if s["layer"] == "exec")
        plans = [s for s in spans if s["layer"] == "plans"]
        m["plans.build_s"] = sum(tr.self_time(spans, s) for s in plans)
        m["plans.build_jobs"] = len(set().union(*(tr.inclusive_jobs(spans, s) for s in plans))) if plans else 0
        for attr in ("load", "spread"):
            calls = [s for s in spans if s["name"] == f"tables.{attr}"]
            m[f"tables.{attr}_s"] = sum(s["end"] - s["start"] for s in calls)
            m[f"tables.{attr}_calls"] = len(calls)
        for s in spans:
            if s["layer"] in ("query", "sources"):
                key = f"{s['name']}_s"
                m[key] = m.get(key, 0.0) + s["end"] - s["start"]
        writes = [s for s in spans if s["layer"] == "sources" and s["name"].rsplit(".", 1)[1] in SOURCE_WRITES]
        if writes:
            m["sources.jobs_per_commit"] = sum(len(tr.inclusive_jobs(spans, s)) for s in writes) / len(writes)
        pair_spans = [s for s in spans if s["name"].removeprefix("query.") in wl.PAIR_QUERIES]
        if pair_spans:
            pair_jobs = set().union(*(tr.inclusive_jobs(spans, s) for s in pair_spans))
            pair_m, _ = tracer.job_metrics(pair_jobs)
            pairs = sum(getattr(workload, "pairs_out", {}).values())
            m["operators.pairs_out"] = pairs
            m["operators.pairs_per_shuffle_record"] = pairs / max(1.0, pair_m.get("shuffle_records", 0))
        for k, v in p["cpu"].items():
            m[f"cpu.{k}"] = v
        rows.append(m)
    keys = set().union(*rows) if rows else set()
    return {k: _median([r.get(k, 0.0) for r in rows]) for k in keys}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = tr.process_start_epoch()
    tracing = bool(args.trace)

    state = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(state, "tmp", str(os.getpid()))
    setup_env(scratch)
    calib_start = calibrate()

    # inputs: excluded from every metric (subtracted from setup_s)
    t_gen = time.time()
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_tag = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = os.path.join(state, "inputs", f"seed{args.seed}-{gen_tag}")
    marker = os.path.join(inputs, "HASH")
    if not os.path.exists(marker):
        tmp_inputs = inputs + f".tmp{os.getpid()}"
        input_hash = gen.generate(tmp_inputs, args.seed)
        with open(os.path.join(tmp_inputs, "HASH"), "w") as f:
            f.write(input_hash)
        os.replace(tmp_inputs, inputs)
    with open(marker) as f:
        input_hash = f.read().strip()
    gen_s = time.time() - t_gen

    from data_etl_pipeline_spark.plans.registry import _ensure_loaded
    from data_etl_pipeline_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    try:
        t1 = time.time()
        _ensure_loaded()
        t2 = time.time()
        spark.range(10).count()
        t_ready = time.time()
        setup_s = (t_ready - t_proc) - gen_s - calib_start
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        default_parallelism = spark.sparkContext.defaultParallelism
        tracer = tr.Tracer(spark, tracing)
        tracer.spans += [
            {"id": 0, "name": "session.get_spark", "layer": "session", "parent": None, "pass": None,
             "start": t0, "end": t1, "jobs": []},
            {"id": 1, "name": "plans.registry_load", "layer": "plans", "parent": None, "pass": None,
             "start": t1, "end": t2, "jobs": []},
        ] if tracing else []
        tmp_baseline = set(os.listdir(scratch))

        if args.workload == "text_dedup_wide":
            workload = wl.QueryWorkload(wl.TEXT_QUERIES, os.path.join(inputs, "text"), args.seed)
        else:
            workload = wl.LakehouseWorkload(os.path.join(inputs, "lakehouse"), os.path.join(scratch, "tables"))
        ctx = Context(spark, tracer)
        t_or = time.perf_counter()
        workload.prepare(ctx)
        ctx.check_s += time.perf_counter() - t_or

        undo = []
        if tracing:
            from data_etl_pipeline_spark import tables

            undo = tracer.patch_module_attr(tables, "load", "tables") + tracer.patch_module_attr(tables, "spread", "tables")

        passes: list[dict] = []

        def one_pass(no: int, check: bool, traced: bool) -> dict:
            ctx.pass_no = no
            ctx.op_walls = []
            tracer.enabled = traced
            tracer.pass_no = no
            cpu0 = tr.cpu_snapshot(jvm_pid)
            p0 = time.time()
            workload.run_pass(ctx, check)
            p1 = time.time()
            cpu1 = tr.cpu_snapshot(jvm_pid)
            tracer.enabled = False
            if traced:
                tracer.collect_jobs([s for s in tracer.spans if s["pass"] == no])
            elif tracing:
                tracer.skip_jobs()
            rec = {"no": no, "t0": p0, "t1": p1, "wall": p1 - p0, "traced": traced, "ops": ctx.op_walls,
                   "cpu": tr.cpu_delta(cpu0, cpu1)}
            passes.append(rec)
            return rec

        cold = one_pass(0, check=True, traced=tracing)
        if tracing:  # modules the cold pass imported lazily bound their own copies
            from data_etl_pipeline_spark import tables

            undo += tracer.patch_module_attr(tables, "load", "tables") + tracer.patch_module_attr(tables, "spread", "tables")
        for i in range(WARMUP[args.workload]):
            one_pass(1 + i, check=False, traced=False)
        timed: list[dict] = []
        t_timed = time.time()
        n = 1 + WARMUP[args.workload]
        while len(timed) < MIN_TIMED[args.workload] or time.time() - t_timed < args.seconds:
            timed.append(one_pass(n, check=False, traced=tracing and len(timed) % 2 == 1))
            n += 1
        rss = tr.peak_rss_mb(jvm_pid)
        leaked = len(set(os.listdir(scratch)) - tmp_baseline - {"tables"})
        untraced = [p for p in timed if not p["traced"]]

        if tracing:
            traced = [p for p in timed if p["traced"]]
            metrics = layer_metrics(tracer, traced, workload)
            for k in ("driver_py", "jvm_task", "jvm_gc", "pyworker", "jvm_compiler"):
                metrics[f"cpu.{k}_s"] = metrics.pop(f"cpu.{k}", 0.0)
            metrics.update({
                "session.get_spark_s": t1 - t0,
                "plans.registry_load_s": t2 - t1,
                "oracle.check_s": ctx.check_s,
                "jvm.first_pass_s": cold["wall"],
                "trace.overhead_frac": _median([p["wall"] for p in traced]) / _median([p["wall"] for p in untraced]) - 1,
                "sources.tmp_entries_leaked": leaked / len(passes),
            })
            if isinstance(workload, wl.LakehouseWorkload):
                for name, counts in workload.files_rewritten.items():
                    metrics[f"sources.files_rewritten_{name}_merge"] = _median(counts)
                metrics["sources.bytes_written_mb"] = _median(workload.written_bytes) / 2**20
                metrics["sources.bytes_stored_per_user_byte"] = (
                    _median(workload.stored_bytes) / workload.expected["user_bytes"])
        else:
            metrics = {
                "setup_s": setup_s,
                "warm_pass_s": _median([p["wall"] for p in untraced]),
                "warm_cpu_s": _median([p["cpu"]["tree"] for p in untraced]),
                "peak_rss_mb": rss["total"],
                "ok_frac": ctx.ok_frac,
            }

        tracer.unpatch(undo)
    finally:
        stop_tree(spark, tr.process_tree())
        shutil.rmtree(scratch, ignore_errors=True)
    calib_end = calibrate()
    if tracing:
        metrics["host.calib_s"] = (calib_start + calib_end) / 2
    provenance = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": default_parallelism,
        "input_hash": input_hash, "git_commit": git_commit(), "source_hash": source_hash(),
        "calib_start_s": calib_start, "calib_end_s": calib_end,
        "passes": [{k: p[k] for k in ("no", "wall", "traced", "cpu", "ops")} for p in passes],
        "peak_rss_mb": rss,
        "pass_counts": {"warmup": WARMUP[args.workload], "timed": len(timed)},
    }
    if tracing:
        tracer.dump(os.path.join(state, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"),
                    provenance)

    units = per_layer_units() if tracing else END_TO_END
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
