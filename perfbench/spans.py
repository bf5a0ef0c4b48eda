"""Spans around the program's public functions, timed from outside.

``Tracer.install`` replaces module attributes with timing wrappers for
the duration of the traced phase, including names a module re-bound at
import (``api.with_score``, ``api.index_text_df``, ...), so every call
path into a layer opens a span. A span records its name, start, end,
parent span, request id and the Spark job ids it started (read from the
scheduler's job counter, one JVM call per boundary).

Spark figures are never read inside a span: ``harvest`` runs after each
top-level operation, outside its timed region and before the status
store evicts old jobs (it keeps 1000), and reads per-stage metrics from
the ``AppStatusStore`` plus the Python worker time from the SQL store.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import statistics
import time
from contextlib import contextmanager

# (module, attribute path, span name). Names re-bound at import are
# listed in the module that calls them.
TARGETS = [
    ("gistdex_spark.mcp_server", "MCPServer.t_search", "mcp_server.t_search"),
    ("gistdex_spark.mcp_server", "MCPServer.t_query_simple", "mcp_server.t_query_simple"),
    ("gistdex_spark.mcp_server", "MCPServer.t_index", "mcp_server.t_index"),
    ("gistdex_spark.mcp_server", "MCPServer.t_list", "mcp_server.t_list"),
    ("gistdex_spark.mcp_server", "MCPServer.t_read_cached", "mcp_server.t_read_cached"),
    ("gistdex_spark.mcp_server", "MCPServer._rows", "mcp_server._rows"),
    ("gistdex_spark.api", "GistdexSpark.search", "api.search"),
    ("gistdex_spark.api", "GistdexSpark.index_text", "api.index_text"),
    ("gistdex_spark.api", "GistdexSpark.search_batch", "api.search_batch"),
    ("gistdex_spark.api", "with_score", "queries.with_score"),
    ("gistdex_spark.api", "embed_text", "embedder.embed_text"),
    ("gistdex_spark.api", "index_text_df", "indexer.index_text_df"),
    ("gistdex_spark.api", "write_chunk_store", "indexer.write_chunk_store"),
    ("gistdex_spark.sources.indexer", "chunk_documents", "chunking.chunk_documents"),
    ("gistdex_spark.functions.embedder", "embed_text", "embedder.embed_text"),
    ("gistdex_spark.queries", "with_score", "queries.with_score"),
    ("gistdex_spark.sources.cache_store", "append_query_cache", "cache_store.append_query_cache"),
    ("gistdex_spark.operators.search", "bm25", "search.bm25"),
    ("gistdex_spark.operators.search", "rrf_fuse", "search.rrf_fuse"),
    ("gistdex_spark.operators.search", "mmr_select", "search.mmr_select"),
    ("gistdex_spark.operators.dedup", "simhash_pairs", "dedup.simhash_pairs"),
    ("gistdex_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("gistdex_spark.operators.dedup", "connected_components", "dedup.connected_components"),
    ("gistdex_spark.operators.dedup", "knn_graph_multitable", "dedup.knn_graph_multitable"),
    ("gistdex_spark.sources.shard_writer", "write_packed_shards", "shard_writer.write_packed_shards"),
]

# "<acc id> -> total (min, med, max (stageId: taskId))\n<total> <unit> (..."
_TIMING = re.compile(r"(\d+) -> total \(min, med, max[^\n]*\n\s*([0-9.]+) (ms|s|m|h) ")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PY_TIME = "time to run Python workers"


class Span:
    __slots__ = ("name", "start", "end", "parent", "req", "job0", "job1", "attrs")

    def __init__(self, name, start, parent, req, job0, attrs):
        self.name, self.start, self.end = name, start, None
        self.parent, self.req, self.job0, self.job1 = parent, req, job0, None
        self.attrs = attrs

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> range:
        return range(self.job0, self.job1)


class Tracer:
    """Span recorder. ``enabled`` is False outside the traced phase, where
    ``span`` costs one attribute check."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.req = None
        self._patched: list[tuple[object, str, object]] = []
        self.job_stats: dict[int, dict] = {}
        self._harvested_job = 0
        self._next_exec = 0
        self._seen_stages: set[int] = set()
        self.bookkeeping_s = 0.0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        s = Span(name, 0.0, self._stack[-1] if self._stack else None, self.req,
                 self._dag.nextJobId(), attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.job1 = self._dag.nextJobId()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - s.end

    def install(self) -> None:
        self._harvested_job = self._dag.nextJobId()
        n = self._sql.executionsCount()
        while self._sql.execution(n).isDefined():
            n += 1
        self._next_exec = n
        for mod_name, path, name in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    # -- Spark figures, read between operations ------------------------------

    def harvest(self) -> None:
        """Read stage metrics of every job started since the last call, and
        the Python worker time of every SQL execution since then."""
        t = time.perf_counter()
        self._bus.waitUntilEmpty()
        end = self._dag.nextJobId()
        for jid in range(self._harvested_job, end):
            self.job_stats[jid] = self._job(jid)
        self._harvested_job = end
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                break
            self._python_time(self._next_exec, ex.get())
            self._next_exec += 1
        self.bookkeeping_s += time.perf_counter() - t

    def _job(self, jid: int) -> dict:
        st = dict(stages=0, tasks=0, single_task_stages=0, run_s=0.0, cpu_s=0.0,
                  shuffle_read=0, shuffle_write=0, spill=0, gc_s=0.0, input_rows=0,
                  python_s=0.0)
        try:
            sids = [int(x) for x in re.findall(r"\d+", self._store.job(jid).stageIds().toString())]
        except Exception:  # noqa: BLE001 — job evicted or never registered
            return st
        for sid in sids:
            if sid in self._seen_stages:
                continue
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            n = sd.numTasks()
            st["stages"] += 1
            st["tasks"] += n
            st["single_task_stages"] += n == 1
            st["run_s"] += sd.executorRunTime() / 1e3
            st["cpu_s"] += sd.executorCpuTime() / 1e9
            st["shuffle_read"] += sd.shuffleReadBytes()
            st["shuffle_write"] += sd.shuffleWriteBytes()
            st["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            st["gc_s"] += sd.jvmGcTime() / 1e3
            st["input_rows"] += sd.inputRecords()
        return st

    def _python_time(self, eid: int, ex) -> None:
        ids = set(re.findall(re.escape(PY_TIME) + r",(\d+),", ex.metrics().toString()))
        if not ids:
            return
        text = self._sql.executionMetrics(eid).toString()
        secs = sum(float(m.group(2)) * _UNIT_S[m.group(3)]
                   for m in _TIMING.finditer(text) if m.group(1) in ids)
        jobs = [int(j) for j in re.findall(r"(\d+) ->", ex.jobs().toString())]
        if jobs and min(jobs) in self.job_stats:
            self.job_stats[min(jobs)]["python_s"] += secs

    # -- summaries -----------------------------------------------------------

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def spark_totals(self, spans: list[Span]) -> dict:
        tot: dict = {}
        for s in spans:
            for j in s.jobs:
                for k, v in self.job_stats.get(j, {}).items():
                    tot[k] = tot.get(k, 0) + v
            tot["jobs"] = tot.get("jobs", 0) + len(s.jobs)
        return tot

    def write(self, path: str) -> None:
        kids = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                kids[s.parent] += s.dur
        out = []
        for i, s in enumerate(self.spans):
            if s.end is None:
                continue
            rec = {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                   "request": s.req, "jobs": [s.job0, s.job1], "self_s": s.dur - kids[i]}
            rec.update(s.attrs)
            if s.parent is None:
                rec["spark"] = self.spark_totals([s])
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f)


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0
