"""Span recording and process-tree accounting for the benchmark.

Spans are recorded only around calls the benchmark makes into the
engine's modules (or, for ``tables.load``/``tables.spread``, around the
module attributes the plan modules bound at import). Each operation runs
under its own Spark job group, so after the pass the jobs it launched,
their stages and their task/shuffle/spill/executor-time metrics can be
attributed to its spans from ``SparkContext.statusTracker()`` and the
JVM's status store. Jobs launched from helper threads carry no group;
they are attributed to the span that was open when they were submitted.

CPU comes from ``/proc``: the driver interpreter, the JVM split by thread
name, and the Python workers (every other process in the tree).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc ----

def _stat_fields(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1: raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def process_start_epoch() -> float:
    """Wall-clock instant this process started (10 ms resolution)."""
    _, fields = _stat_fields("/proc/self/stat")
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(fields[19]) / _CLK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                _, fields = _stat_fields(f"/proc/{entry}/stat")
            except OSError:
                continue
            kids[int(fields[1])].append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_s(pid: int, with_children: bool = True) -> float:
    try:
        _, f = _stat_fields(f"/proc/{pid}/stat")
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12]) + (int(f[13]) + int(f[14]) if with_children else 0)
    return ticks / _CLK


_THREAD_CLASSES = (
    ("jvm_task", ("Executor task l",)),
    ("jvm_gc", ("GC Thread", "G1 ")),
    ("jvm_compiler", ("C1 CompilerThre", "C2 CompilerThre")),
)


def _jvm_threads(jvm_pid: int) -> dict[int, tuple[str, float]]:
    """Thread id -> (class, CPU seconds) for the JVM threads of a class."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            name, f = _stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        cls = next((c for c, prefixes in _THREAD_CLASSES if name.startswith(prefixes)), None)
        if cls:
            out[int(tid)] = (cls, (int(f[11]) + int(f[12])) / _CLK)
    return out


def cpu_snapshot(jvm_pid: int) -> dict:
    """Cumulative CPU seconds of the process tree, split by layer. Dead
    children count through their parent's reaped-children fields, so the
    sum over live processes never counts a process twice."""
    me = os.getpid()
    tree = process_tree(me)
    snap = {"driver_py": _cpu_s(me, with_children=False), "jvm": _cpu_s(jvm_pid)}
    snap["pyworker"] = sum(_cpu_s(p) for p in tree if p not in (me, jvm_pid))
    snap["tree"] = snap["driver_py"] + snap["jvm"] + snap["pyworker"]
    snap["threads"] = _jvm_threads(jvm_pid)
    return snap


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds spent between two snapshots, per layer. JVM thread
    classes sum over the threads alive at ``after`` (a thread that exited
    in between, such as an idle compiler thread, drops out rather than
    making the sum negative)."""
    out = {k: after[k] - before[k] for k in ("driver_py", "jvm", "pyworker", "tree")}
    for cls, _ in _THREAD_CLASSES:
        out[cls] = 0.0
    for tid, (cls, cpu) in after["threads"].items():
        out[cls] += cpu - before["threads"].get(tid, (cls, 0.0))[1]
    return out


def peak_rss_mb(jvm_pid: int) -> dict:
    """Peak resident set (``VmHWM``) of each live process of the tree, in
    MB: the JVM, the driver interpreter, the Python workers, and their sum."""
    me = os.getpid()
    by_pid = {}
    for pid in process_tree(me):
        try:
            with open(f"/proc/{pid}/status") as f:
                by_pid[pid] = next(int(line.split()[1]) for line in f if line.startswith("VmHWM")) / 1024.0
        except (OSError, StopIteration):
            continue
    return {"total": sum(by_pid.values()), "jvm": by_pid.pop(jvm_pid, 0.0),
            "driver": by_pid.pop(me, 0.0), "workers": sorted(by_pid.values())}


# --------------------------------------------------------------- spans ----

class Tracer:
    """In-memory span recorder. Disabled, ``span`` is a plain context
    manager that records nothing and sets no job group."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None
        self._next_job = 0
        self._jobs: dict[int, dict] = {}
        self._stages: dict[int, dict | None] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no, "group": f"perfbench-{os.getpid()}-{sid}", "jobs": [], **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if rec["parent"] is None:  # one job group per operation
            sc.setJobGroup(rec["group"], f"{layer}:{name}")
        rec["start"] = time.time()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if rec["parent"] is None:
                sc._jsc.clearJobGroup()

    def wrap(self, fn, name: str, layer: str):
        """``fn`` wrapped in a span; the original is kept as ``__wrapped__``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def patch_module_attr(self, target, attr: str, layer: str) -> list[tuple]:
        """Wrap ``target.attr`` in every loaded engine module that bound
        it (``from ... import load`` copies the function into the caller's
        namespace). Returns what ``unpatch`` needs to restore."""
        orig = inspect.unwrap(getattr(target, attr))
        wrapped = self.wrap(orig, f"{layer}.{attr}", layer)
        undo = []
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("data_etl_pipeline_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                undo.append((mod, attr, orig))
        return undo

    @staticmethod
    def unpatch(undo: list[tuple]) -> None:
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)

    # ---- Spark job/stage data -----------------------------------------

    def collect_jobs(self, spans: list[dict]) -> None:
        """Attribute every job launched since the last call to one of
        ``spans``: the innermost span open at its submission, within the
        operation its job group names (jobs from helper threads carry no
        group). Runs after the pass, so the lookups cost the timed region
        nothing."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        by_group = {s["group"]: s for s in spans if s["parent"] is None}
        for _ in range(self._next_job, self._job_counter()):
            info = tracker.getJobInfo(self._next_job)
            if info is None:  # evicted from the status store
                self._jobs[self._next_job] = {"interval": (None, None), "stages": []}
                self._next_job += 1
                continue
            jd = store.job(self._next_job)
            sub = jd.submissionTime().get().getTime() / 1000.0 if jd.submissionTime().isDefined() else None
            end = jd.completionTime().get().getTime() / 1000.0 if jd.completionTime().isDefined() else sub
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            # the innermost span open at submission, inside the job's
            # operation when it carries one of ours
            scope = by_group.get(group)
            open_at = [s for s in spans if sub is not None and s["start"] <= sub <= s["end"]
                       and (scope is None or _descends(spans, s, scope))]
            owner = max(open_at, key=lambda s: s["start"], default=scope)
            if owner is not None:
                owner["jobs"].append(self._next_job)
            self._jobs[self._next_job] = {"interval": (sub, end), "stages": list(info.stageIds)}
            self._next_job += 1

    def skip_jobs(self) -> None:
        """Forget the jobs launched since the last call (untraced passes)."""
        self._next_job = self._job_counter()

    def _job_counter(self) -> int:
        counter = self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return counter if isinstance(counter, int) else counter.get()

    def job_metrics(self, jobs) -> tuple[dict, list]:
        """Stage metrics summed over the distinct completed stages of
        ``jobs`` (a stage reused by a later job counts once), and the
        jobs' [submission, completion] intervals."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        metrics = defaultdict(float)
        intervals = [self._jobs[j]["interval"] for j in jobs if self._jobs[j]["interval"][0] is not None]
        for sid in sorted({sid for j in jobs for sid in self._jobs[j]["stages"]}):
            if sid not in self._stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # never attempted (skipped) or evicted
                    self._stages[sid] = None
                    continue
                self._stages[sid] = None if sd.status().toString() != "COMPLETE" else {
                    "tasks": sd.numCompleteTasks(),
                    "executor_run_s": sd.executorRunTime() / 1000.0,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
                    "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
                    "shuffle_records": sd.shuffleWriteRecords(),
                    "spill_mb": sd.diskBytesSpilled() / 2**20,
                }
            if self._stages[sid] is not None:
                metrics["stages"] += 1
                for k, v in self._stages[sid].items():
                    metrics[k] += v
        return dict(metrics), intervals

    def dump(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"provenance": header}) + "\n")
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def _descends(spans: list[dict], rec: dict, ancestor: dict) -> bool:
    by_id = {s["id"]: s for s in spans}
    while rec is not None:
        if rec["id"] == ancestor["id"]:
            return True
        rec = by_id.get(rec["parent"])
    return False


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[dict], rec: dict) -> float:
    """Duration of ``rec`` minus the part its child spans cover."""
    kids = [(s["start"], s["end"]) for s in spans if s.get("parent") == rec["id"]]
    return (rec["end"] - rec["start"]) - union_s(kids, rec["start"], rec["end"])


def inclusive_jobs(spans: list[dict], rec: dict) -> set[int]:
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s.get("parent")].append(s)
    out, todo = set(), [rec]
    while todo:
        s = todo.pop()
        out |= set(s.get("jobs", []))
        todo.extend(by_parent[s["id"]])
    return out
