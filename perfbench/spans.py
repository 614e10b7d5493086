"""Span tracer for traced benchmark runs.

Spans are recorded from the benchmark side, around calls into the
program's layers: name, start, end, parent span, and a trace id of
``<run>:<op index>``. Each span runs under its own Spark job group, so
the jobs it submits — and their stages in the status store — are
attributed to it afterwards. Spans live in memory until the run ends.
A disabled tracer records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_index = 0
        # seconds spent in the tracer's own bookkeeping while spans run
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": f"{self.run_id}:{self.op_index}",
            "group": f"perfbench-{self.run_id}-{idx}",
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = b1 = time.perf_counter()
        self.overhead_s += b1 - b0
        try:
            yield rec
        finally:
            rec["end"] = e0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - e0

    def leak_counts(self) -> tuple[int, int]:
        """(persisted RDDs, broadcast blocks held by the block manager),
        read after a JVM GC so that dropped references are released."""
        import gc

        from py4j.protocol import Py4JJavaError

        gc.collect()  # drop Python proxies first, so the JVM objects are free
        jvm = self.sc._jvm
        jvm.System.gc()
        time.sleep(0.2)  # the context cleaner releases dropped blocks async
        n_rdds = self.sc._jsc.getPersistentRDDs().size()
        store = jvm.org.apache.spark.SparkEnv.get().blockManager().memoryStore()
        field = store.getClass().getDeclaredField("entries")
        field.setAccessible(True)
        entries = field.get(store)
        for attempt in range(10):
            try:  # the block map is read unlocked; retry a concurrent change
                names = entries.keySet().toString().strip("[]").split(", ")
                break
            except Py4JJavaError:
                if attempt == 9:
                    raise
                time.sleep(0.05)
        n_bcast = sum(1 for b in names if b.startswith("broadcast_") and "piece" not in b)
        return n_rdds, n_bcast

    def attach_stage_metrics(self) -> None:
        """Give each span the jobs and stage metrics of its job group.
        Call once after the measured region (reads the status store)."""
        if not self.spans:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            stats = dict.fromkeys(
                ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "shuffle_write_bytes", "input_bytes"), 0)
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                stats["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - stage never submitted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numCompleteTasks()
                    stats["executor_run_s"] += st.executorRunTime() / 1e3
                    stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["input_bytes"] += st.inputBytes()
            rec["spark"] = stats

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its child spans cover
        (children of one span run one after another)."""
        child_s = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        return [
            (rec["end"] - rec["start"]) - child_s[i] for i, rec in enumerate(self.spans)
        ]

    def subtree(self, idx: int) -> list[dict]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(j for j, r in enumerate(self.spans) if r["parent"] == i)
        return out

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        agg: dict[str, dict] = {}
        for rec, self_s in zip(self.spans, self.self_times()):
            a = agg.setdefault(rec["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            a["count"] += 1
            a["total_s"] += rec["end"] - rec["start"]
            a["self_s"] += self_s
        return agg
