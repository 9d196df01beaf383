"""Per-call Spark counters read from the in-process status stores, and
the span tracer of the traced run.

Each call into a layer runs under ``setJobGroup(<layer>, <function>)``.
Right after the call the reader drains the listener bus and reads that
group's new jobs from ``SparkContext.statusStore`` (stages: run, CPU,
GC, shuffle, spill, task quantiles) and the SQL executions started
since the previous read from the SQL status store (Python/Arrow
boundary metrics). Reading after every call keeps each call's entries
inside the stores' retention limits. No event log is written.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

KINDS = ("wall_s", "driver_s", "task_cpu_s", "gc_s", "shuffle_mb",
         "spill_mb", "py_run_s", "py_sent_mb", "jobs", "skew")

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_MB = 1e6


def metric_total(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or bytes. Spark
    prints either ``"9.5 s"`` or ``"total (min, med, max ...)\\n9.5 s
    (2.3 s, ...)"``."""
    num, unit = text.strip().split("\n")[-1].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


def _union_ms(intervals: list[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _some(opt):
    return opt.get() if opt.isDefined() else None


class _Part:
    """Counters of one share of a span's jobs."""

    def __init__(self) -> None:
        self.c = dict.fromkeys(KINDS, 0.0)
        self.stage_ids: set[int] = set()
        self.active: list[tuple[float, float]] = []  # task-running spans
        self.longest = (-1, None)  # (run time, (stage, attempt))
        self.job_ms = 0.0

    def finish(self, wall_ms: float, t0: float, t1: float) -> dict:
        self.c["wall_s"] = wall_ms / 1e3
        self.c["driver_s"] = max(
            0.0, wall_ms - _union_ms(self.active, t0, t1)) / 1e3
        return self.c


class StatusStore:
    """Reader over the live application and SQL status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        core = sc._jsc.sc()
        self._app = core.statusStore()
        self._bus = core.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # taskSummary takes a Scala Array[Double]; a Python list does
        # not resolve through py4j
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._seen_jobs: set[int] = set()
        self._last_exec = self._newest_exec()

    def _newest_exec(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def persistent_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    def read(self, group: str, t0_ms: float, t1_ms: float,
             split_marker: str | None = None) -> tuple[dict, dict | None]:
        """Counters of the jobs ``group`` started since the last read.

        Jobs of SQL executions whose physical plan mentions
        ``split_marker`` are counted apart and returned second (the
        checkpoint's own metrics-table writes inside a stage call);
        the rest are returned first.
        """
        self._bus.waitUntilEmpty()
        job_ids = [j for j in
                   self._sc.statusTracker().getJobIdsForGroup(group)
                   if j not in self._seen_jobs]
        self._seen_jobs.update(job_ids)

        main, split = _Part(), _Part()
        split_jobs: set[int] = set()
        newest = self._newest_exec()
        for eid in range(self._last_exec + 1, newest + 1):
            ex = _some(self._sql.execution(eid))
            if ex is None:
                continue
            keys = ex.jobs().keySet().iterator()
            jobs = set()
            while keys.hasNext():
                jobs.add(int(keys.next()))
            part = main
            if split_marker and split_marker in ex.physicalPlanDescription():
                split_jobs |= jobs
                part = split
            values = self._sql.executionMetrics(eid)
            metrics = ex.metrics().iterator()
            seen_acc = set()
            while metrics.hasNext():
                m = metrics.next()
                name = m.name()
                if name not in (PY_RUN, PY_SENT):
                    continue
                acc = m.accumulatorId()
                text = _some(values.get(acc))
                if acc in seen_acc or text is None:
                    continue
                seen_acc.add(acc)
                if name == PY_RUN:
                    part.c["py_run_s"] += metric_total(text)
                else:
                    part.c["py_sent_mb"] += metric_total(text) / _MB
        self._last_exec = max(self._last_exec, newest)

        for jid in job_ids:
            job = self._app.job(jid)
            part = split if jid in split_jobs else main
            part.c["jobs"] += 1
            sub, done = _some(job.submissionTime()), _some(job.completionTime())
            if sub is not None and done is not None:
                part.job_ms += done.getTime() - sub.getTime()
            stages = job.stageIds().iterator()
            while stages.hasNext():
                sid = int(stages.next())
                if sid in part.stage_ids:
                    continue
                part.stage_ids.add(sid)
                st = self._app.lastStageAttempt(sid)
                first, end = (_some(st.firstTaskLaunchedTime()),
                              _some(st.completionTime()))
                # a stage this job skipped keeps the status and counters
                # of the earlier job that ran it
                if (str(st.status()) == "SKIPPED" or end is None
                        or end.getTime() < t0_ms):
                    continue
                part.c["task_cpu_s"] += st.executorCpuTime() / 1e9
                part.c["gc_s"] += st.jvmGcTime() / 1e3
                part.c["shuffle_mb"] += (st.shuffleReadBytes()
                                         + st.shuffleWriteBytes()) / _MB
                part.c["spill_mb"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled()) / _MB
                if first is not None:
                    part.active.append((first.getTime(), end.getTime()))
                run = st.executorRunTime()
                if run > part.longest[0]:
                    part.longest = (run, (sid, st.attemptId()))
        for part in (main, split):
            stage = part.longest[1]
            if stage is None:
                continue
            summary = _some(self._app.taskSummary(stage[0], stage[1],
                                                  self._quantiles))
            if summary is not None:
                q = summary.executorRunTime()
                part.c["skew"] = q.apply(1) / max(q.apply(0), 1.0)

        wall = t1_ms - t0_ms
        split_ms = min(split.job_ms, wall) if split_jobs else 0.0
        out_main = main.finish(wall - split_ms, t0_ms, t1_ms)
        if not split_jobs:
            return out_main, None
        return out_main, split.finish(split_ms, t0_ms, t1_ms)


class Tracer:
    """Spans around calls into layers, kept in memory until the run
    ends. A span records its name, start, end, parent, the run id, its
    attributes and its own counters."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.run_id = run_id
        self.spans: list[dict] = []
        self._parent: int | None = None

    def _record(self, name: str, layer: str, t0: float, t1: float,
                parent: int | None, attrs: dict, counters: dict | None) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "layer": layer,
            "start": t0, "end": t1, "parent": parent,
            "run_id": self.run_id, "attrs": attrs, "self": counters,
        })
        return len(self.spans) - 1

    @contextmanager
    def iteration(self, index: int):
        """Parent span of one pass over the workload's calls."""
        t0 = time.time()
        sid = self._record("run", "", t0, t0, None, {"iteration": index},
                           None)
        self._parent = sid
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.time()
            self._parent = None

    @contextmanager
    def span(self, layer: str, function: str,
             checkpoint_stage: str | None = None, **attrs):
        """Trace one call. With ``checkpoint_stage`` the call is a
        ``CheckpointedPipeline.run_stage``: the metrics-table writes of
        that stage are counted to ``plans.checkpoint`` as the parent
        span and the rest to ``layer`` as its child."""
        self._sc.setJobGroup(layer, function)
        rdds0 = self.store.persistent_rdds()
        t0 = time.time()
        status = "ok"
        try:
            yield attrs  # the call may add what it observed
        except BaseException:
            status = "error"
            raise
        finally:
            t1 = time.time()
            self._sc._jsc.clearJobGroup()
            marker = (f"/{checkpoint_stage}/metrics"
                      if checkpoint_stage else None)
            mine, ckpt = self.store.read(layer, t0 * 1e3, t1 * 1e3, marker)
            mine["rdds_left"] = self.store.persistent_rdds() - rdds0
            attrs = dict(attrs, function=function, status=status)
            parent = self._parent
            if checkpoint_stage:
                ckpt = ckpt or dict.fromkeys(KINDS, 0.0)
                ckpt["rdds_left"] = 0
                parent = self._record(
                    "plans.checkpoint.run_stage", "plans.checkpoint",
                    t0, t1, parent,
                    {"stage": checkpoint_stage, "function": "run_stage"},
                    ckpt)
            self._record(f"{layer}.{function}", layer, t0, t1, parent,
                         attrs, mine)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Own counters summed per layer (``skew``: the maximum)."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["self"] is None:
                continue
            acc = out.setdefault(s["layer"], {k: 0.0 for k in KINDS})
            acc.setdefault("rdds_left", 0.0)
            for k, v in s["self"].items():
                acc[k] = max(acc[k], v) if k == "skew" else acc[k] + v
        return out
