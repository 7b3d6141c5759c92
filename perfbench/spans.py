"""Span recorder for the traced run, with Spark work attributed from
outside the program through the status store.

Spans are recorded only here, in the benchmark, around calls into the
package's public functions. Spark jobs are attributed to spans by job-id
range: the benchmark drives Spark from one thread, so job ids grow
monotonically and every job submitted between a span's start and end
belongs to that span (micro-batch jobs included, which a job group would
miss because Structured Streaming relabels them with the query's run id).
"""

from __future__ import annotations

import contextlib
import importlib
import time

from py4j.protocol import Py4JJavaError

_PKG = "airflow_project_flight_price_analysis_spark"


class Tracer:
    """Spans and Spark status-store records of one process.

    Disabled, ``span`` is a no-op and nothing is read from the JVM."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.executions: dict[int, dict] = {}
        self._stack: list[dict] = []
        if enabled:
            sc = spark.sparkContext
            self._sc = sc._jsc.sc()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._seq = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
            # only work started after this point is read
            self._job_mark = self._next_job()
            self._exec_mark = max((e.executionId() for e in self._seq(
                self._sql_store.executionsList())), default=-1)

    def _next_job(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Record ``name`` around the block; the yielded dict takes counts."""
        if not self.enabled:
            yield {}
            return
        s = {"id": len(self.spans), "name": name, "run": self.run_id,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "job_lo": self._next_job(), "start": time.time(), "counts": counts}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s["counts"]
        finally:
            s["end"] = time.time()
            s["job_hi"] = self._next_job()
            self._stack.pop()

    @contextlib.contextmanager
    def around(self, targets: list[tuple[str, str, str]]):
        """Wrap public package functions in spans while the block runs.

        ``targets`` holds (module, attribute, span name); the attribute is
        replaced in the module the caller looks it up from and restored
        afterwards. Nothing is patched when tracing is off."""
        if not self.enabled:
            yield
            return
        saved = []
        for mod_name, attr, span_name in targets:
            mod = importlib.import_module(f"{_PKG}.{mod_name}")
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, span_name))
        try:
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def _wrap(self, fn, span_name):
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)
        return traced

    # -- status store ------------------------------------------------------

    def harvest(self) -> None:
        """Copy jobs, their stages and SQL executions newer than the last
        harvest out of the status store. Spark retains only the last
        ~1000 jobs and stages, so this runs after every workload step."""
        if not self.enabled:
            return
        store = self._sc.statusStore()
        hi = self._next_job()
        for jid in range(self._job_mark, hi):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # already evicted from the store: unattributed
                continue
            stages = [self._stage(store, sid) for sid in self._seq(j.stageIds())]
            self.jobs[jid] = {
                "start": _ms(j.submissionTime()), "end": _ms(j.completionTime()),
                "stages": [s for s in stages if s is not None],
            }
        self._job_mark = hi
        # executions are listed oldest first; read back from the newest
        # until one already seen turns up
        total, offset, batch = self._sql_store.executionsCount(), None, []
        while offset != 0 and not (batch and batch[0].executionId() <= self._exec_mark):
            offset = max((total if offset is None else offset) - 64, 0)
            batch = list(self._seq(self._sql_store.executionsList(offset, total - offset)))
        for e in batch:
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            self.executions[eid] = {
                "desc": e.description(),
                "jobs": sorted(int(k) for k in self._seq(e.jobs().keySet())),
                "start": e.submissionTime() / 1000.0,
                "end": _ms(e.completionTime()),
            }
        self._exec_mark = max([self._exec_mark, *self.executions])

    @staticmethod
    def _stage(store, sid: int) -> dict | None:
        st = store.lastStageAttempt(sid)
        if str(st.status()) == "SKIPPED":
            return None
        return {
            "id": sid, "tasks": st.numCompleteTasks() + st.numFailedTasks(),
            "failed_tasks": st.numFailedTasks(),
            "run_s": st.executorRunTime() / 1e3, "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_bytes": st.shuffleWriteBytes(),
            "output_bytes": st.outputBytes(),
        }

    # -- attribution -------------------------------------------------------

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_s(self, span: dict) -> float:
        """Span duration minus the time its child spans cover."""
        return (span["end"] - span["start"]) - sum(
            c["end"] - c["start"] for c in self.children(span))

    def stats(self, spans: list[dict]) -> dict:
        """Spark work of the jobs in ``spans``' id ranges, summed."""
        out = {"wall_s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0,
               "python_wait_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
               "output_bytes": 0, "failed_tasks": 0, "driver_gap_s": 0.0}
        for s in spans:
            jids = [j for j in range(s["job_lo"], s["job_hi"]) if j in self.jobs]
            out["wall_s"] += s["end"] - s["start"]
            out["jobs"] += s["job_hi"] - s["job_lo"]
            busy = _union([(max(self.jobs[j]["start"], s["start"]),
                            min(self.jobs[j]["end"], s["end"])) for j in jids])
            out["driver_gap_s"] += (s["end"] - s["start"]) - busy
            seen = set()
            for j in jids:
                for st in self.jobs[j]["stages"]:
                    if st["id"] in seen:
                        continue
                    seen.add(st["id"])
                    out["tasks"] += st["tasks"]
                    out["failed_tasks"] += st["failed_tasks"]
                    out["cpu_s"] += st["cpu_s"]
                    out["python_wait_s"] += max(st["run_s"] - st["cpu_s"], 0.0)
                    out["gc_s"] += st["gc_s"]
                    out["shuffle_bytes"] += st["shuffle_bytes"]
                    out["output_bytes"] += st["output_bytes"]
        return out

    def executions_in(self, spans: list[dict], prefix: str) -> tuple[int, float]:
        """(count, summed seconds) of SQL executions whose description
        starts with ``prefix`` (``count``, ``parquet``) inside ``spans``."""
        n, secs = 0, 0.0
        for e in self.executions.values():
            if e["jobs"] and e["desc"].startswith(prefix) and any(
                    s["job_lo"] <= e["jobs"][0] < s["job_hi"] for s in spans):
                n += 1
                secs += e["end"] - e["start"]
        return n, secs

    def record(self) -> dict:
        """Spans with self times; self times of each root's tree add up to
        the root's duration (checked here, reported as ``self_sum_ok``)."""
        spans = [{**s, "self_s": self.self_s(s)} for s in self.spans]
        roots = [s for s in spans if s["parent"] is None]

        def tree_self(s):
            return s["self_s"] + sum(tree_self(c) for c in spans if c["parent"] == s["id"])
        ok = all(abs(tree_self(r) - (r["end"] - r["start"])) < 1e-6 for r in roots)
        return {"run": self.run_id, "spans": spans, "self_sum_ok": ok,
                "jobs": len(self.jobs), "executions": len(self.executions)}


def _ms(opt) -> float:
    """Seconds since the epoch from a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else time.time()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
