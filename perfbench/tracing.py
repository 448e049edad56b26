"""Spans around calls into the package's layers, and the Spark status
counters of the jobs each span fired.

Everything is read from outside the package: spans wrap public
functions (module attributes are swapped for timing wrappers while a
traced run is active), and job, stage and task counters come from
Spark's status tracker and status store, matched by job group. Each
span sets its own job group, so the jobs a call fires are attributed
to the innermost span that was open.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    item: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. A disabled tracer records nothing and
    leaves the job group alone."""

    def __init__(self, spark, enabled: bool, tag: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, item: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            item=item or (parent.item if parent else ""),
            parent=parent.span_id if parent else None,
            group=f"{self.tag}/{len(self.spans)}",
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, interruptOnCancel=False)
            else:
                self.clear_group()

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def mark(self) -> int:
        return len(self.spans)

    def since(self, mark: int) -> list[Span]:
        return self.spans[mark:]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.span_id, "name": s.name, "item": s.item,
                    "parent": s.parent, "group": s.group, "start": s.start,
                    "end": s.end, "jobs": s.jobs,
                }) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    of one span run one after another, so their durations add)."""
    child = {s.span_id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.duration
    return {s.span_id: s.duration - child[s.span_id] for s in spans}


# --------------------------------------------------------------------------
# Status-store counters
# --------------------------------------------------------------------------

def stage_counters(spark, job_ids: list[int]) -> dict[str, float]:
    """Sum stage counters over the stages of ``job_ids``, read from the
    status tracker (job → stage ids) and the status store's last
    attempt of each stage. ``task_skew`` is Σ max task run time over
    Σ median task run time. Shuffle records repeat exactly from run to
    run; shuffle bytes can differ by a few bytes where rows reach a
    compressed block in another order."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = dict(jobs=0, stages=0, tasks=0, failed_tasks=0, shuffle_records=0,
               shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0, cpu_s=0.0)
    med_sum = max_sum = 0.0
    seen: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: a stage that was skipped never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["shuffle_records"] += st.shuffleWriteRecords()
            out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            out["cpu_s"] += st.executorCpuTime() / 1e9
            dist = store.taskSummary(sid, st.attemptId(), quantiles)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med_sum += run.apply(0)
                max_sum += run.apply(1)
    out["task_skew"] = max_sum / med_sum if med_sum > 0 else 1.0
    return out


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def storage_mb(spark) -> float:
    rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    total = 0
    it = rdds.iterator()
    while it.hasNext():
        r = it.next()
        total += r.memoryUsed() + r.diskUsed()
    return total / 1e6


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc/.../stat file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 1:].split()


def _cpu(fields: list[str]) -> float:
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class JvmCpu:
    """CPU seconds of the Spark JVM, with its JIT compiler threads apart.

    The compiler threads compile for minutes after start-up, at a rate
    that follows the host's load, and HotSpot starts and stops them as
    its compile queue grows and drains. A background thread therefore
    samples them by (tid, start time) every ``interval`` seconds; a
    compiler thread is stopped only after it has idled, so its last
    sample holds all of its CPU time.
    """

    COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid = pid
        self._jit: dict[tuple[str, str], float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._sample()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                comm, fields = _stat(f"{task_dir}/{tid}/stat")
            except (OSError, ValueError):
                continue  # the thread ended
            if comm.startswith(self.COMPILER_THREADS):
                key = (tid, fields[19])
                with self._lock:  # the sampler and read() may race
                    self._jit[key] = max(self._jit.get(key, 0.0), _cpu(fields))

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self._sample()

    def read(self) -> tuple[float, float]:
        """(all CPU seconds of the JVM, of which its JIT compiler threads)."""
        self._sample()
        total = _cpu(_stat(f"/proc/{self.pid}/stat")[1])
        with self._lock:
            return total, sum(self._jit.values())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM that runs Spark, from /proc/<pid>/status."""
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


# --------------------------------------------------------------------------
# Wrappers around package functions
# --------------------------------------------------------------------------

class Patches:
    """Swaps module attributes for span-recording wrappers and counts
    reuse-memo hits; ``restore`` puts the originals back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []
        self.persist = {"hit": 0, "miss": 0}
        self.count = {"hit": 0, "miss": 0}

    def _swap(self, module, attr: str, new) -> None:
        self._saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def install(self, harness_modules) -> None:
        from etl_tj_project_spark import io as lake_io
        from etl_tj_project_spark.operators import dedup
        from etl_tj_project_spark.sources import testdata

        tracer = self.tracer
        orig_load = testdata.load_table

        def load_table(spark, sf_dir, name):
            with tracer.span("sources.load_table"):
                return orig_load(spark, sf_dir, name)

        # Harness modules bind load_table at import time; replace each
        # binding as well as the source module's own.
        for mod in [testdata, *harness_modules]:
            if getattr(mod, "load_table", None) is orig_load:
                self._swap(mod, "load_table", load_table)

        orig_commit = lake_io.commit_partitions_atomic

        def commit_partitions_atomic(*args, **kwargs):
            with tracer.span("io.commit_partitions_atomic"):
                return orig_commit(*args, **kwargs)

        self._swap(lake_io, "commit_partitions_atomic", commit_partitions_atomic)

        orig_persist = dedup._persist_once
        persist = self.persist

        def _persist_once(df):
            lvl = df.storageLevel
            persist["hit" if (lvl.useMemory or lvl.useDisk) else "miss"] += 1
            return orig_persist(df)

        self._swap(dedup, "_persist_once", _persist_once)

        orig_count = dedup._count_once
        count = self.count

        def _count_once(df):
            before = len(dedup._COUNT_MEMO)
            n = orig_count(df)
            count["miss" if len(dedup._COUNT_MEMO) > before else "hit"] += 1
            return n

        self._swap(dedup, "_count_once", _count_once)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()
