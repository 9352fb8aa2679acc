"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded by wrapping public functions of the engine at import
time, from this file only; the engine itself is not changed. A span is
recorded only inside an op opened with ``Tracer.op`` on the same thread,
so untraced ops pay one attribute lookup per wrapped call. Spark counters
come from the job group each traced op runs under and from the status
stores, which are read after the timed phase.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError, Py4JJavaError

# (module, owner attribute or None, function, span name): the layer
# boundaries named in perfbench/RATIONALE.md
WRAPPED = (
    ("blacklab_spark.corpus", "Corpus", "build", "index.build"),
    ("blacklab_spark.corpus", "Corpus", "open", "corpus.open"),
    ("blacklab_spark.corpus", "Corpus", "term_stats", "corpus.term_stats"),
    ("blacklab_spark.corpus", "Corpus", "topk", "corpus.topk"),
    ("blacklab_spark.corpus", "Corpus", "find", "corpus.find"),
    ("blacklab_spark.search.bm25", None, "topk_bm25", "search.bm25.topk"),
    ("blacklab_spark.cql.parser", None, "parse", "cql.parse"),
    ("blacklab_spark.cql.engine", None, "find", "cql.find"),
    ("blacklab_spark.search.facade", None, "search", "search.facade.search"),
    ("blacklab_spark.search.results", "Hits", "count", "search.results.count"),
    ("blacklab_spark.search.results", "Hits", "window", "search.results.window"),
    ("blacklab_spark.search.results", "Hits", "kwic", "search.results.kwic"),
    ("blacklab_spark.search.results", "Hits", "per_doc", "search.results.per_doc"),
    ("blacklab_spark.search.server", None, "hits_response", "search.server.render"),
    ("blacklab_spark.search.server", None, "docs_response", "search.server.render"),
    ("blacklab_spark.search.server", None, "doc_contents_response", "search.server.render"),
    ("blacklab_spark.search.webservice", None, "hits_response", "search.server.render"),
    ("blacklab_spark.search.webservice", None, "docs_response", "search.server.render"),
    ("blacklab_spark.index.incremental", None, "add_documents", "index.incremental.add"),
    ("blacklab_spark.index.incremental", None, "delete_documents", "index.incremental.delete"),
    ("blacklab_spark.index.incremental", None, "compact", "index.incremental.compact"),
)


class Tracer:
    """In-memory spans: name, start, end, parent span id, op id."""

    def __init__(self):
        self.sc = None  # the SparkContext job groups go to, once started
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def install(self) -> None:
        """Wrap every function in WRAPPED (once per process) and turn
        recording on."""
        import importlib

        self.enabled = True

        # import everything first: a module that binds a name from
        # another at import time must keep the unwrapped original, or
        # the call would be recorded twice
        for mod_name, *_ in WRAPPED:
            importlib.import_module(mod_name)
        for mod_name, owner_name, fn_name, span in WRAPPED:
            owner = importlib.import_module(mod_name)
            if owner_name is not None:
                owner = getattr(owner, owner_name)
            raw = owner.__dict__[fn_name] if isinstance(owner, type) else getattr(owner, fn_name)
            if isinstance(raw, staticmethod):
                setattr(owner, fn_name, staticmethod(self._wrap(raw.__func__, span)))
            else:
                setattr(owner, fn_name, self._wrap(raw, span))

    def _wrap(self, fn, name: str):
        local = self._local

        def wrapper(*args, **kwargs):
            op = getattr(local, "op", None)
            if op is None:
                return fn(*args, **kwargs)
            sid = next(self._ids)
            parent = local.stack[-1] if local.stack else None
            local.stack.append(sid)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                local.stack.pop()
                with self._lock:
                    self.spans.append({"id": sid, "name": name, "start": t0,
                                       "end": t1, "parent": parent, "op": op})

        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def op(self, op_id: str, traced: bool = True):
        """Run one op on this thread: spans and a Spark job group when
        ``traced`` and recording is on, neither otherwise."""
        if not (traced and self.enabled):
            yield
            return
        local = self._local
        local.op, local.stack = op_id, []
        if self.sc is not None:
            self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            local.op = None
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def by_op(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["op"], []).append(s)
        return out


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in segs:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: dict, spans: list[dict], jobs: list[tuple[float, float]],
              minus: tuple[str, ...] = ()) -> float:
    """Span duration minus what ``jobs`` and the descendant spans
    named in ``minus`` cover."""
    kids = {span["id"]}
    covered = list(jobs)
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in kids:
            kids.add(s["id"])
            if s["name"] in minus:
                covered.append((s["start"], s["end"]))
    return span["end"] - span["start"] - union_len(covered, span["start"], span["end"])


# ---- Spark status stores ---------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_PY_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("1.4 s", "59.2 KiB", or the multi-task
    "total (min, med, max ...)\\n2.1 s (...)") as seconds or bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def drain_listener_bus(sc) -> None:
    """Wait until the status stores have seen every finished job."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Py4JError:  # the bus API is internal; fall back to a pause
        time.sleep(2.0)


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs with their (submit, complete) wall interval,
    stages and tasks run, executor run/CPU time, input and shuffle
    bytes, failed tasks, and the Python-worker SQL metrics."""
    sc = spark.sparkContext
    drain_listener_bus(sc)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    job_group: dict[int, str] = {}
    out = {}
    for g in groups:
        c = dict(jobs=[], stages=0, tasks=0, run_s=0.0, cpu_s=0.0, input_bytes=0,
                 shuffle_bytes=0, failed_tasks=0, python_start_s=0.0,
                 python_run_s=0.0, python_bytes=0.0)
        seen_stages = set()
        for j in tracker.getJobIdsForGroup(g):
            job_group[j] = g
            jd = store.job(j)
            t0, t1 = _opt_s(jd.submissionTime()), _opt_s(jd.completionTime())
            if t0 is not None and t1 is not None:
                c["jobs"].append((t0, t1))
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                c["failed_tasks"] += sd.numFailedTasks()
        out[g] = c
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = e.jobs().keySet().toSeq()
        owners = {job_group.get(jobs.apply(k)) for k in range(jobs.size())} - {None}
        if len(owners) != 1:
            continue
        c = out[owners.pop()]
        ms = e.metrics()
        names = {}
        for k in range(ms.size()):
            m = ms.apply(k)
            if m.name() in _PY_METRICS:
                names[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not names:
            continue
        it = sql.executionMetrics(e.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            key = names.get(kv._1())
            if key:
                c[key] += parse_metric(kv._2())
    return out
