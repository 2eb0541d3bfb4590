"""Counters the benchmark reads from outside the program.

- ``ProcTree``: CPU seconds and peak RSS of this process and every
  descendant (the Spark JVM and its Python workers), from ``/proc``.
- ``Isolation``: what an op left in the session (persisted RDDs,
  cached plans, changed conf), recorded and then released so no op is
  served by an earlier op's leftovers.
- ``StatusProbe``: jobs, stages and SQL executions of one op, read from
  Spark's in-process status stores (populated with the UI disabled),
  scoped by job group.
"""

from __future__ import annotations

import json
import os
import re

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


class ProcTree:
    """This process and its descendants, re-listed on every read."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system CPU of the tree, including reaped children
        (a Python worker's time lands in its daemon's cutime/cstime)."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak RSS (VmHWM)."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024


CHECKPOINT_KEY = "sparkContext.checkpointDir"


class Isolation:
    """Snapshot the session before an op; afterwards count and release
    what the op left behind.

    Leftover RDDs are found through the status store's storage list
    (every RDD that still holds cached blocks) rather than
    ``getPersistentRDDs``, whose weakly held entries vanish whenever a
    JVM GC collects an RDD the op no longer references: its blocks stay
    in the block manager all the same."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.jsc = spark.sparkContext._jsc
        self.cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def snapshot(self) -> dict[str, str]:
        conf = dict(self.spark.conf.getAll)
        ckpt = self.sc.getCheckpointDir()
        conf[CHECKPOINT_KEY] = ckpt.get() if ckpt.isDefined() else ""
        return conf

    def release(self, before: dict[str, str]) -> dict[str, int]:
        """Count the op's leftovers, then clear the cache, unpersist
        every RDD with cached blocks or a persist mark, and restore the
        conf keys the op changed."""
        after = self.snapshot()
        drift = [k for k in before.keys() | after.keys() if before.get(k) != after.get(k)]
        self.sc.listenerBus().waitUntilEmpty(60_000)  # block updates reach the store
        cached = self.sc.statusStore().rddList(True)
        cached_ids = [cached.apply(i).id() for i in range(cached.size())]
        left = {
            "cache.persisted_rdds": len(cached_ids),
            "cache.cached_plans": self.cache_manager.cachedData().size(),
            "session.conf_drift": len(drift),
        }
        self.spark.catalog.clearCache()
        for rdd_id in cached_ids:
            self.sc.unpersistRDD(rdd_id, True)
        for rdd in list(self.jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        for key in drift:
            if key == CHECKPOINT_KEY:
                if before[key]:
                    self.sc.setCheckpointDir(before[key])
            elif key in before:
                self.spark.conf.set(key, before[key])
            else:
                self.spark.conf.unset(key)
        return left


# plan-node names in an executed SQL plan that the digest counts
_PLAN_NODES = {
    "plan.exchanges": lambda n: n == "Exchange",
    "plan.broadcast_joins": lambda n: n.startswith("Broadcast") and n.endswith("Join"),
    "plan.sort_merge_joins": lambda n: n == "SortMergeJoin",
    "plan.cached_scans": lambda n: n == "InMemoryTableScan",
    "plan.python_evals": lambda n: "Python" in n or "Pandas" in n or "InArrow" in n,
}
# a tree line: branch drawing, an optional codegen star, the node name
_TREE_LINE = re.compile(r"^[\s:|+\-]*(?:\* )?([A-Za-z]\w*)")


def plan_digest(description: str) -> dict[str, int]:
    """Count nodes of an executed plan's tree, from its text form. For
    an adaptive plan only the final plan is read, and
    ``plan.aqe_final`` counts plans whose final form is in place."""
    counts = {k: 0 for k in _PLAN_NODES}
    counts["plan.aqe_final"] = int("isFinalPlan=true" in description)
    lines = description.split("== Physical Plan ==", 1)[-1].strip("\n").split("\n")
    for line in lines:
        if not line.strip() or "== Initial Plan ==" in line:
            break
        m = _TREE_LINE.match(line)
        if m is None:
            continue
        for key, test in _PLAN_NODES.items():
            counts[key] += test(m.group(1))
    return counts


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


class StatusProbe:
    """Reads one op's jobs, stages and SQL executions from the status
    stores. Stage and job records are serialized to JSON on the JVM
    side, one call each."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(scala.__getattr__("MODULE$"))

    def executions_count(self) -> int:
        return self.sql.executionsCount()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _json(self, obj) -> dict:
        return json.loads(self.mapper.writeValueAsString(obj))

    def read(self, groups: list[str], exec_from: int, t0: float, t1: float) -> tuple[dict, list[dict]]:
        """Counters and job/stage spans of the op that ran between
        wall-clock times ``t0`` and ``t1`` under ``groups`` (its plan
        group first, then its exec group)."""
        self.bus.waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        jobs = []
        for group in groups:
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                job = self._json(self.store.job(job_id))
                job["group"] = group
                jobs.append(job)
        stages: dict[int, dict] = {}
        for job in jobs:
            for sid in job["stageIds"]:
                if sid not in stages:
                    stage = self._json(self.store.lastStageAttempt(sid))
                    stage["jobId"] = job["jobId"]
                    stages[sid] = stage
        ran = [s for s in stages.values() if s["status"] != "SKIPPED"]
        c = {
            "queries.plan_jobs": sum(j["group"] == groups[0] for j in jobs),
            "exec.jobs": len(jobs),
            "exec.stages_run": len(ran),
            "exec.stages_skipped": len(stages) - len(ran),
            "exec.tasks": sum(s["numCompleteTasks"] for s in ran),
            "exec.run_ms": sum(s["executorRunTime"] for s in ran),
            "exec.cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
            "exec.gc_ms": sum(s["jvmGcTime"] for s in ran),
            "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "exec.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
            "io.input_rows": sum(s["inputRecords"] for s in ran),
            "io.input_bytes": sum(s["inputBytes"] for s in ran),
            "io.output_bytes": sum(s["outputBytes"] for s in ran),
        }
        lo, hi = t0 * 1000, t1 * 1000
        busy = [
            (max(lo, s["submissionTime"]), min(hi, s["completionTime"]))
            for s in ran
            if s.get("submissionTime") and s.get("completionTime")
        ]
        c["exec.driver_gap_ms"] = max(0.0, (hi - lo) - _union_ms([b for b in busy if b[1] > b[0]]))
        digest = {k: 0 for k in (*_PLAN_NODES, "plan.aqe_final")}
        execs = self.sql.executionsList(exec_from, 1_000_000)
        for i in range(execs.size()):
            for k, v in plan_digest(execs.apply(i).physicalPlanDescription()).items():
                digest[k] += v
        c.update(digest)
        spans = [
            {
                "kind": "job",
                "id": f"job{j['jobId']}",
                "parent": j["group"],
                "start": j.get("submissionTime", 0) / 1000,
                "end": (j.get("completionTime") or 0) / 1000,
                "attrs": {"status": j["status"], "tasks": j["numTasks"]},
            }
            for j in jobs
        ] + [
            {
                "kind": "stage",
                "id": f"stage{s['stageId']}",
                "parent": f"job{s['jobId']}",
                "start": (s.get("submissionTime") or 0) / 1000,
                "end": (s.get("completionTime") or 0) / 1000,
                "attrs": {
                    "status": s["status"],
                    "tasks": s["numCompleteTasks"],
                    "run_ms": s["executorRunTime"],
                    "cpu_ms": s["executorCpuTime"] / 1e6,
                    "gc_ms": s["jvmGcTime"],
                    "shuffle_read_bytes": s["shuffleReadBytes"],
                    "shuffle_write_bytes": s["shuffleWriteBytes"],
                },
            }
            for s in stages.values()
        ]
        return c, spans
