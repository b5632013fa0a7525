"""Measurement helpers: spans, Spark status-store attribution, RSS sampling
and the host probe. Nothing here changes program code; spans are recorded
around the benchmark's own calls into the program's public functions.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


def host_probe() -> float:
    """Seconds for a fixed numpy matmul: the host-capacity bracket also used
    by the repo's bench.py, at a size that costs ~0.2 s on a healthy host."""
    a = np.random.RandomState(0).rand(1500, 1500)
    t0 = time.perf_counter()
    (a @ a).sum()
    return time.perf_counter() - t0


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, then its JVM (which exits when its stdin closes),
    and wait until the JVM and every Python worker it forked have ended."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in tree[1:]:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                break
            if state == "Z":
                break
            time.sleep(0.05)


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM plus its
    Python workers), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        total = 0
        for pid in process_tree(self.root_pid):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)


class Tracer:
    """Spans (name, start, end, parent, trace id) kept in memory.

    While ``enabled`` is false, :meth:`span` is a no-op, so the untraced
    run executes exactly the same benchmark code path. Spark jobs are
    attributed to spans after the run (:meth:`resolve`): by job group when
    the job carries one, else by submission time inside the innermost span
    (the pipeline's internal thread pool drops the caller's job group;
    spans are sequential, so the time window is unambiguous).
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id = 0
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def codegen(self) -> tuple[int, float]:
        """(compilations so far, mean compile ms of the recent ones) from
        Spark's CodegenMetrics histogram."""
        return self._codegen.getCount(), self._codegen.getSnapshot().getMean()

    def gc_ms(self) -> int:
        beans = self._gc_beans
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield counts
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "trace": self._trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "counts": counts,
            "codegen_n0": self.codegen()[0],
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{sid}", name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield counts
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            n, mean_ms = self.codegen()
            rec["codegen_s"] = (n - rec.pop("codegen_n0")) * mean_ms / 1e3
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                sc._jsc.clearJobGroup()

    def resolve(self) -> None:
        """Attach Spark job/stage totals and self time to every span."""
        if not self.spans:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages_raw = json.loads(
            mapper.writeValueAsString(
                store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
            )
        )
        stages: dict[int, list[dict]] = {}
        for st in stages_raw:
            stages.setdefault(st["stageId"], []).append(st)

        for s in self.spans:
            s.update(jobs=0, task_s=0.0, cpu_s=0.0, shuffle_write_bytes=0, spill_bytes=0)
        counted: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            # A job lists the stages it reuses from earlier jobs too; each
            # stage's work belongs to the first job that lists it.
            new = set(job["stageIds"]) - counted
            counted |= new
            sid = self._owner(job)
            if sid is None:
                continue
            s = self.spans[sid]
            s["jobs"] += 1
            for stage_id in new:
                for st in stages.get(stage_id, []):
                    s["task_s"] += st["executorRunTime"] / 1e3
                    s["cpu_s"] += st["executorCpuTime"] / 1e9
                    s["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    s["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        for s in self.spans:
            child = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - child

    def _owner(self, job: dict) -> int | None:
        group = job.get("jobGroup") or ""
        if group.startswith("perfbench-"):
            return int(group.split("-", 1)[1])
        t = (job.get("submissionTime") or 0) / 1e3
        owner = None
        for s in self.spans:  # innermost = latest-started span containing t
            if s["start"] <= t <= s["end"]:
                owner = s["id"]
        return owner

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
