#!/usr/bin/env python
"""Profile declared queries on the engine's own session (``get_spark``).

Jobs and stages come from Spark's in-process status store, the one the
UI would serve. It is kept with ``spark.ui.enabled=false`` too, so a
profile runs under exactly the confs the bench runs and needs no UI port
or REST call. A run's jobs are the job ids that appear around it; that
also catches jobs a query submits from worker threads, which carry no
job group.

Modes (default sf_dir /root/testdata/sf0.1):

  jobs <name> [sf_dir] [warmups]
      every Spark job of one run into a noop sink: duration, driver gap
      before it, tasks, job group, description. One JSON line for the
      run, then one per job.
  repeat <name> [sf_dir] [repeats]
      ``repeats`` timed runs into a noop sink, then the shuffle and scan
      bytes of one further run. One JSON line.
  shuffles [sf_dir]
      shuffle bytes of the second run of every bench tier 1 and 2 query;
      writes SHUFFLES.md.

Usage: python scripts/profile_queries.py <mode> ...
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from py4j.protocol import Py4JJavaError

from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
from data_etl_pipeline_spark.session import get_spark

DEFAULT_SF = "/root/testdata/sf0.1"


def _items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def profiled(spark, action: Callable[[], object]) -> tuple[float, list]:
    """Run ``action``; return its wall seconds and the status-store
    records (``v1.JobData``) of the jobs it submitted, in id order."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    sc.listenerBus().waitUntilEmpty()
    before = {j.jobId() for j in _items(store.jobsList(None))}
    t0 = time.perf_counter()
    action()
    wall = time.perf_counter() - t0
    sc.listenerBus().waitUntilEmpty()
    jobs = [j for j in _items(store.jobsList(None)) if j.jobId() not in before]
    return wall, sorted(jobs, key=lambda j: j.jobId())


def stage_bytes(spark, jobs: list) -> tuple[int, int, int]:
    """(shuffle write, shuffle read, scan input) bytes summed over the
    completed stages of ``jobs``; skipped stages moved nothing."""
    store = spark.sparkContext._jsc.sc().statusStore()
    w = r = i = 0
    for sid in sorted({s for j in jobs for s in _items(j.stageIds())}):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was never submitted
            continue
        if st.status().toString() == "COMPLETE":
            w += st.shuffleWriteBytes()
            r += st.shuffleReadBytes()
            i += st.inputBytes()
    return w, r, i


def _noop_run(spark, name: str, sf_dir: str) -> Callable[[], None]:
    return lambda: QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def jobs_mode(spark, name: str, sf_dir: str, warmups: int) -> None:
    run = _noop_run(spark, name, sf_dir)
    for _ in range(warmups):
        run()
    wall, jobs = profiled(spark, run)
    rows = []
    total_job = 0.0
    prev_end = None
    for j in jobs:
        start = _opt(j.submissionTime()).getTime() / 1000
        end = _opt(j.completionTime()).getTime() / 1000
        total_job += end - start
        rows.append(
            {
                "job": j.jobId(),
                "sec": round(end - start, 3),
                "gap_before_sec": round(start - prev_end, 3) if prev_end is not None else 0.0,
                "tasks": j.numTasks(),
                "group": _opt(j.jobGroup()),
                "desc": (_opt(j.description()) or j.name() or "")[:110],
            }
        )
        prev_end = end
    print(
        json.dumps(
            {
                "query": name,
                "wall_sec": round(wall, 3),
                "sum_job_sec": round(total_job, 3),
                "driver_gap_sec": round(wall - total_job, 3),
                "n_jobs": len(rows),
            }
        )
    )
    for row in rows:
        print(json.dumps(row))


def repeat_mode(spark, name: str, sf_dir: str, repeats: int) -> None:
    run = _noop_run(spark, name, sf_dir)
    runs = [round(profiled(spark, run)[0], 3) for _ in range(repeats)]
    # shuffle/scan bytes of ONE further run
    w, r, i = stage_bytes(spark, profiled(spark, run)[1])
    warm = runs[1:] if len(runs) > 1 else runs
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "runs_sec": runs,
                "cold_sec": runs[0],
                "warm_min_sec": min(warm),
                "warm_median_sec": sorted(warm)[len(warm) // 2],
                "warm_spread_sec": round(max(warm) - min(warm), 3),
                "shuffle_write_mb": round(w / 1e6, 2),
                "shuffle_read_mb": round(r / 1e6, 2),
                "scan_input_mb": round(i / 1e6, 2),
            }
        )
    )


def shuffles_mode(spark, sf_dir: str) -> None:
    def measure(tier: int):
        rows = []
        for name, spec in QUERIES.items():
            if spec.bench_tier != tier:
                continue
            spec.fn(spark, sf_dir).collect()  # warm (cache plans, JIT)
            out: list = []
            _, jobs = profiled(spark, lambda: out.extend(spec.fn(spark, sf_dir).collect()))
            w, r, _i = stage_bytes(spark, jobs)
            rows.append((name, len(out), w, r))
            print(f"{name}: rows={len(out)} jobs={len(jobs)} shuffle_write={w:,} B read={r:,} B")
        return rows

    rows = measure(1)
    rows2 = measure(2)

    out = [
        "# SHUFFLES — measured shuffle volume per bench-tier query\n",
        f"Generated by `python scripts/profile_queries.py shuffles {sf_dir}` "
        "(second run of each query; stage totals of that run's own jobs, "
        "read from the in-process status store).",
        "",
        "What the numbers show (SCALE.md's budget table, measured):",
        "",
        "- **Aggregation/join queries shuffle bytes-to-KBs over a 150k-row fact**",
        "  (`revenue_by_nation` 495 B, `pricing_summary` ~2 KB) — map-side",
        "  partial aggregation and broadcast dims mean the exchange carries",
        "  reduced rows only.",
        "- **Candidate generators shuffle LINEAR-in-corpus postings plus the",
        "  pairs that share a key, never the ~n² of all document pairs**:",
        "  `doc_ngram_jaccard_pairs` writes 27 MB for a ~1.5 MB corpus, most of",
        "  it partially counted (pair, size) rows. Its (shingle, id, size)",
        "  postings (~6 MB) are written once and read by both sides of the",
        "  posting self-join, whose second side is a `ReusedExchange`, so it",
        "  reads 33 MB; `doc_minhash_lsh_pairs` carries 16 minima + band keys per",
        "  doc the same way (4 MB written, 7 MB read).",
        "- **Windows/as-of shuffle each row once** (`events_asof_orders` 6 MB",
        "  for 100k joined events = one partitioning, reused).",
        "",
        "(Stage `inputBytes` is omitted: the local-mode vectorized parquet",
        "reader under-reports it, which would overstate the ratios.)",
        "",
        "Matched-condition profile (round 11, 10 repeats, quiet session; now",
        "`scripts/profile_queries.py repeat`): `doc_ngram_jaccard_pairs` shuffle",
        "write/read was **23.7 MB on every run** — byte-identical to the",
        "r6 measurement — with scan input < 1 MB and zero spill, while",
        "warm wall time varied 4.41–5.73 s in the same session. The",
        "r8→r10 driver drift (3.43 → 5.03 s) is therefore CPU contention",
        "on an unchanged plan; track this query by shuffle bytes, not",
        "wall seconds.",
        "",
        "| query | rows | shuffle write | shuffle read |",
        "|---|---|---|---|",
    ]
    for name, n, w, r in rows:
        out.append(f"| {name} | {n:,} | {w:,} B | {r:,} B |")
    out += [
        "",
        "## Tier 2 (modern-surface heavies, bench `value_tier2`)",
        "",
        "Caveats that make two of these rows look big: "
        "`delta_cdf_materialized_view` and `table_diff_bucket_checksums` "
        "BUILD their fixture tables in-query (export + snapshots / drifted "
        "replica) before the operator under test runs, so their shuffle "
        "totals include fixture construction, not just the consume path; "
        "`semantic_dedup`'s shuffle carries the bounded candidate pairs "
        "from the LSH buckets (never the corpus squared).",
        "",
        "| query | rows | shuffle write | shuffle read |",
        "|---|---|---|---|",
    ]
    for name, n, w, r in rows2:
        out.append(f"| {name} | {n:,} | {w:,} B | {r:,} B |")
    with open(os.path.join(ROOT, "SHUFFLES.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote SHUFFLES.md")


def main() -> None:
    args = sys.argv[1:]
    mode = args[0] if args else ""
    if mode not in ("jobs", "repeat", "shuffles") or (mode != "shuffles" and len(args) < 2):
        sys.exit(__doc__)
    _ensure_loaded()
    spark = get_spark(f"profile-{mode}")
    if mode == "shuffles":
        shuffles_mode(spark, args[1] if len(args) > 1 else DEFAULT_SF)
    else:
        name = args[1]
        sf_dir = args[2] if len(args) > 2 else DEFAULT_SF
        if mode == "jobs":
            jobs_mode(spark, name, sf_dir, int(args[3]) if len(args) > 3 else 1)
        else:
            repeat_mode(spark, name, sf_dir, int(args[3]) if len(args) > 3 else 10)
    spark.stop()


if __name__ == "__main__":
    main()
