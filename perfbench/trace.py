"""Spans and per-layer counters, measured from outside the engine.

A span has a name, start, end, parent and request id. The benchmark opens
spans around its own calls into each layer; Spark jobs come from the JVM
status store (submission and completion times) and micro-batches from a
``StreamingQueryListener``. Spans are kept in memory and written out when
the run ends. With tracing off every method is a cheap no-op, so the
untraced run measures the engine alone.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id: str | None = None
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list] = defaultdict(list)
        self.request_jobs: dict[str, int] = {}
        self.overhead_s = 0.0
        self._spark = None
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self._batches: list = []

    # -- spans ------------------------------------------------------------
    def _add(self, name, start, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "request": self.request_id, **attrs,
        })
        return sid

    @contextmanager
    def span(self, name: str, metric: str | None = None, **attrs):
        """Time a block as a span nested under the innermost open span; its
        duration is also added to the counter ``metric`` when given."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = self._add(name, time.time(), None, parent, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[sid]
            s["end"] = time.time()
            if metric:
                self.counters[metric] += s["end"] - s["start"]

    # -- Spark status store ---------------------------------------------------
    def attach(self, spark) -> None:
        """Bind to a (new) session: drain its bus, remember the last job id
        and register the micro-batch listener."""
        self._spark = spark
        self._last_job = -1
        self._seen_stages = set()
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self._batches

        class _BatchListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_BatchListener())
        self._drain()
        self._last_job = self._max_job_id()

    def _jsc(self):
        return self._spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        self._jsc().listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self._jsc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    @contextmanager
    def request(self, rid: str, kind: str):
        """A client request: its span, plus every Spark job and micro-batch
        that ran while it was open."""
        if not self.enabled:
            yield
            return
        self.request_id = rid
        start = time.time()
        with self.span("request", kind=kind):
            yield
        end = time.time()
        t0 = time.perf_counter()
        req_span = len(self.spans) - 1
        while self.spans[req_span]["name"] != "request":
            req_span -= 1
        with self.span("trace"):
            self._drain()
            self.request_jobs[rid] = self._collect_jobs(req_span, start, end, kind)
            self._collect_batches(req_span)
        self.request_id = None
        self.overhead_s += time.perf_counter() - t0

    def _collect_jobs(self, req_span: int, start: float, end: float, kind: str) -> int:
        store = self._jsc().statusStore()
        jid = self._last_job + 1
        n_jobs = n_stages = n_tasks = 0
        intervals = []
        m = defaultdict(float)
        while True:
            try:
                job = store.job(jid)
            except Exception:  # py4j wraps NoSuchElementException: no more jobs
                break
            sub = _epoch(job.submissionTime())
            fin = _epoch(job.completionTime())
            if sub is not None and fin is not None:
                parent = self._enclosing(req_span, sub)
                self._add("spark.job", sub, fin, parent, job_id=jid)
                intervals.append((sub, fin))
            n_jobs += 1
            n_tasks += job.numCompletedTasks()
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran, has no attempt
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                n_stages += 1
                m["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["spark.gc_s"] += sd.jvmGcTime() / 1e3
                m["spark.input_bytes"] += sd.inputBytes()
                m["spark.output_bytes"] += sd.outputBytes()
                m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            self._last_job = jid
            jid += 1
        covered = _union(intervals, start, end)
        wall = end - start
        for k, v in m.items():
            self.counters[k] += v
        self.counters["spark.jobs"] += n_jobs
        self.counters["spark.stages"] += n_stages
        self.counters["spark.tasks"] += n_tasks
        self.counters["spark.job_s"] += covered
        self.counters["request.driver_self_s"] += wall - covered
        self.counters["request.wall_s"] += wall
        self.samples[f"jobs.{kind}"].append(n_jobs)
        return n_jobs

    def _collect_batches(self, req_span: int) -> None:
        for p in self._batches:
            d = p.durationMs
            start = _iso(p.timestamp)
            trig = d.get("triggerExecution", 0) / 1e3
            self._add("stream.batch", start, start + trig,
                      self._enclosing(req_span, start), batch_id=p.batchId)
            self.counters["stream.batches"] += 1
            self.counters["stream.empty_batches"] += 1 if p.numInputRows == 0 else 0
            self.counters["stream.input_rows"] += p.numInputRows
            self.counters["stream.trigger_s"] += trig
            self.counters["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            self.counters["stream.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            self.counters["stream.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            self.counters["stream.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
            for op in p.stateOperators:
                self.counters["state.rows_total"] += op.numRowsTotal
                self.counters["state.memory_bytes"] += op.memoryUsedBytes
                self.counters["state.commit_s"] += op.commitTimeMs / 1e3
        self._batches.clear()

    def _enclosing(self, req_span: int, t: float) -> int:
        """The innermost span of the current request open at time ``t``."""
        best = req_span
        for s in self.spans[req_span + 1:]:
            if s["request"] != self.spans[req_span]["request"] or s["name"].startswith(("spark.", "stream.")):
                continue
            if s["start"] <= t <= (s["end"] or t):
                best = s["id"]
        return best

    def catalyst(self, df) -> None:
        """Catalyst phase times of the query behind an executed frame."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.counters[f"catalyst.{phase}_s"] += opt.get().durationMs() / 1e3

    # -- reporting ------------------------------------------------------------
    def request_coverage(self) -> float:
        """Share of the summed request walls that the request's named layer
        spans explain: the union of its ``call``, ``action``, Spark job and
        micro-batch spans, clipped to the request."""
        named = ("call", "action", "spark.job", "stream.batch")
        inside = defaultdict(list)
        for s in self.spans:
            if s["request"] is not None and s["name"] in named:
                inside[s["request"]].append((s["start"], s["end"]))
        covered = wall = 0.0
        for s in self.spans:
            if s["name"] == "request":
                wall += s["end"] - s["start"]
                covered += _union(inside[s["request"]], s["start"], s["end"])
        return covered / wall if wall else 0.0

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = defaultdict(float)
        for s in self.spans:
            dur = s["end"] - s["start"]
            out[s["name"]] += dur - _union(children[s["id"]], s["start"], s["end"])
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, default=str)


def _epoch(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
