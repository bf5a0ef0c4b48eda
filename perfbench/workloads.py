"""The three workloads. Each drives the program only through its public
entry points and returns timed operations; correctness checks run after
the timed phases, from data read back with pyarrow.

A workload provides ``setup`` (inputs, store, warm-up), ``measure``
(operations until the deadline; callable again for the traced phase),
``check`` (a list of failures) and ``metrics`` (the end-to-end figures
plus the workload's own per-layer figures).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracle
from spans import p50

SOURCE_SCHEMA = "source_id STRING, content STRING, source_type STRING, title STRING"
COMPOSITIONS = [
    "rag_retrieval_pipeline",
    "prf_expanded_search",
    "dedup_survivors",
    "dedup_minhash_lsh",
    "corpus_curation_funnel_blocked",
    "curated_shard_write_census",
]
RETRIEVAL = ("rag_retrieval_pipeline", "prf_expanded_search")
WRITER = "curated_shard_write_census"


class Op:
    """One timed operation: its kind, wall seconds and what checking it needs."""

    def __init__(self, kind: str, dur: float):
        self.kind, self.dur = kind, dur
        self.error: str | None = None
        self.rows = 0  # result rows returned to the caller
        self.check: dict | None = None


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def store_stats(path: str) -> dict:
    t = pq.read_table(path, columns=["source_id"])
    return {"bytes": dir_bytes(path), "files": len(parquet_files(path)),
            "chunks_per_doc": len(t) / max(1, len(set(t.column("source_id").to_pylist())))}


class StoreReader:
    """Chunk-store files read with pyarrow, cached per immutable file."""

    def __init__(self):
        self._files: dict[str, tuple[list[str], np.ndarray, str | None]] = {}

    def _file(self, path: str):
        if path not in self._files:
            t = pq.read_table(path, columns=["id", "embedding"])
            emb = t.column("embedding").combine_chunks()
            vecs = emb.values.to_numpy(zero_copy_only=False).reshape(len(t), -1)
            part = next((p.split("=", 1)[1] for p in path.split(os.sep) if p.startswith("source_type=")), None)
            self._files[path] = (t.column("id").to_pylist(), vecs, part)
        return self._files[path]

    def corpus(self, files: list[str], source_type: str | None = None):
        ids, vecs = [], []
        for f in files:
            i, v, part = self._file(f)
            if source_type is None or part == source_type:
                ids.extend(i)
                vecs.append(v)
        return ids, (np.concatenate(vecs) if vecs else np.zeros((0, inputs.DIM), np.float32))

    def ranking(self, files, query: str, n: int, source_type=None):
        ids, vecs = self.corpus(files, source_type)
        scores = oracle.cosine(vecs, oracle.embed(query))
        return oracle.top(ids, scores, n), dict(zip(ids, scores.tolist()))


class Workload:
    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.digests: dict[str, str] = {}

    ops_per_unit = 1  # operations per request, round or pass
    run_checks: tuple[str, ...] = ()  # run-level checks, each one attempted operation
    # Nominal wall seconds of one unit (a block of requests, a round, a
    # pass) on a 4-core host. A run measures a fixed number of units sized
    # from --seconds, so every commit does the same work.
    unit_s = 10.0
    cold_first = False  # the first measured unit is also the first run of its plans

    def measure(self, seconds: float) -> list[Op]:
        ops = []
        for _ in range(max(1, round(seconds / self.unit_s))):
            ops += self._unit()
        return ops

    def _now(self) -> float:
        return time.perf_counter()

    def primary(self, ops: list[Op]) -> list[float]:
        """Wall seconds of each request, round or pass: what the tracing
        overhead is measured on."""
        units = [ops[i:i + self.ops_per_unit] for i in range(0, len(ops), self.ops_per_unit)]
        return [sum(o.dur for o in u) for u in units]

    def _after_op(self) -> None:
        if self.tracer.enabled:
            self.tracer.harvest()


# -- agent_session -------------------------------------------------------------

TOOL = {"search": "gistdex_search", "page2": "gistdex_search", "simple": "gistdex_query_simple",
        "list": "gistdex_list", "read_cached": "gistdex_read_cached", "index": "gistdex_index"}
READS = ("search", "page2", "simple")


class AgentSession(Workload):
    """One MCP client, closed loop, no think time, over an 8k-source store."""

    name = "agent_session"
    run_checks = ("store chunk ids unique",)

    def setup(self) -> None:
        from gistdex_spark.api import GistdexSpark
        from gistdex_spark.mcp_server import MCPServer

        inp = inputs.agent_inputs(self.seed)
        self.digests["agent_inputs"] = inputs.digest(inp)
        self.store = os.path.join(self.work, "chunks")
        GistdexSpark(self.spark, self.store).index_text(
            self.spark.createDataFrame(inp["sources"], SOURCE_SCHEMA)
        )
        self.server = MCPServer(self.spark, db=self.store)
        self.requests = inp["requests"]
        self.input_bytes = sum(len(s[1].encode()) for s in inp["sources"])
        self.pos = 0
        self.n = 0
        self.cursor = None
        self.reader = StoreReader()

    def warmup(self) -> None:
        """First call of every tool, so the timed phase sees warm paths."""
        for req in (
            {"kind": "search", "query": "warm up search"},
            {"kind": "simple", "query": "warm up simple", "hybrid": False, "type": None},
            {"kind": "list"},
            {"kind": "read_cached"},
            {"kind": "index", "title": "note-warmup", "content": "note warm up text"},
        ):
            op = self._request(req)
            if op.error:
                raise RuntimeError(f"warm-up {req['kind']} failed: {op.error}")

    def _call(self, tool: str, args: dict) -> dict:
        self.n += 1
        self.tracer.req = self.n
        return self.server.handle(
            {"jsonrpc": "2.0", "id": self.n, "method": "tools/call",
             "params": {"name": tool, "arguments": args}}
        )

    def _args(self, req: dict) -> dict:
        kind = req["kind"]
        if kind == "search":
            return {"goal": "find related material", "query": req["query"]}
        if kind == "page2":
            return {"goal": "find related material", "query": "", "cursor": self.cursor}
        if kind == "simple":
            args = {"query": req["query"], "k": 5, "hybrid": req["hybrid"]}
            if req["type"]:
                args["type"] = req["type"]
            return args
        if kind == "list":
            return {"limit": 20}
        if kind == "read_cached":
            return {"type": "queries"}
        return {"type": "text", "text": {"content": req["content"], "title": req["title"]}}

    def _request(self, req: dict) -> Op:
        kind = req["kind"]
        if kind == "page2" and not self.cursor:
            kind, req = "search", {"kind": "search", "query": "follow up"}
        tool, args = TOOL[kind], self._args(req)
        t0 = self._now()
        with self.tracer.span("mcp_server." + tool, tool=tool, kind=kind):
            resp = self._call(tool, args)
        op = Op(kind, self._now() - t0)
        payload = _payload(resp)
        if "error" in payload:
            op.error = str(payload["error"])
            return op
        if kind in READS:
            results = payload.get("results") or []
            op.rows = len(results)
            offset = 5 if kind == "page2" else 0
            op.check = {
                "files": parquet_files(self.store),
                "query": payload.get("query", req.get("query")),
                "type": req.get("type"),
                "lo": offset, "hi": offset + 5,
                "ordered": kind != "simple",
                "got": [(r["id"], float(r["score"])) for r in results],
            }
        elif kind == "list":
            op.rows = len(payload.get("sources") or [])
        elif kind == "read_cached":
            op.rows = len(payload.get("queries") or [])
        else:
            op.rows = int(payload.get("chunksCreated", 0))
        if kind == "search":
            self.cursor = payload.get("cursor")
        if kind == "index":
            self._read_your_write(op, req["content"])
        return op

    def _read_your_write(self, op: Op, text: str) -> None:
        """The note just written comes back at rank 1 with its exact text."""
        with self.tracer.span("check.read_your_write"):
            payload = _payload(self._call("gistdex_query_simple", {"query": text, "k": 5, "section": True}))
        results = payload.get("results") or []
        if not results or results[0].get("content") != text:
            top = results[0].get("content") if results else None
            op.error = f"read-your-writes: rank 1 is {top!r}, expected {text!r}"

    def primary(self, ops: list[Op]) -> list[float]:
        return [o.dur for o in ops if o.kind in READS and not o.error]

    def _unit(self) -> list[Op]:
        ops = []
        for _ in inputs.AGENT_BLOCK:
            req = self.requests[self.pos % len(self.requests)]
            self.pos += 1
            ops.append(self._request(req))
            self._after_op()
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        for op in ops:
            if op.check is None or op.error:
                continue
            c = op.check
            expect, score_of = self.reader.ranking(c["files"], c["query"], c["hi"], c["type"])
            err = oracle.check_ranks(c["got"], expect[c["lo"]:c["hi"]], score_of, c["ordered"])
            if err:
                op.error = f"{op.kind} {c['query']!r}: {err}"
        ids = pq.read_table(self.store, columns=["id"]).column("id").to_pylist()
        return [] if len(ids) == len(set(ids)) else ["store holds duplicate chunk ids"]

    def metrics(self, ops: list[Op]) -> dict:
        timed = [o for o in ops if not o.error]
        reads = [o.dur * 1e3 for o in timed if o.kind in READS]
        writes = [o.dur * 1e3 for o in timed if o.kind == "index"]
        notes = sum(len(r["content"].encode()) for r in self.requests[: self.pos] if r["kind"] == "index")
        t = store_stats(self.store)
        return {
            "read_p50_ms": p50(reads),
            "write_p50_ms": p50(writes),
            "throughput_per_s": _rate(len(timed), sum(o.dur for o in timed)),
            "store_bytes_per_input_byte": t["bytes"] / (self.input_bytes + notes),
            "report": {
                "search_p50_ms": (p50(reads), "ms", len(reads)),
                "search_p90_ms": (_pct(reads, 90), "ms", len(reads)),
                "write_p50_ms": (p50(writes), "ms", len(writes)),
                "repeated_query_share": (_repeat_share(self.requests[: self.pos]), "ratio", None),
            },
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {}
        for tool in ("gistdex_search", "gistdex_query_simple", "gistdex_list",
                     "gistdex_read_cached", "gistdex_index"):
            spans = tr.of("mcp_server." + tool)
            out[f"mcp_server.{tool}.p50_ms"] = p50([s.dur * 1e3 for s in spans])
            out[f"mcp_server.{tool}.jobs"] = p50([len(s.jobs) for s in spans])
        idx = {id(s): i for i, s in enumerate(tr.spans)}
        requests = {idx[id(s)] for s in tr.of("mcp_server.gistdex_query_simple")}
        qs = [idx[id(s)] for s in tr.of("mcp_server.t_query_simple") if s.parent in requests]
        collect = [s for s in tr.of("mcp_server._rows") if s.parent in qs]
        out["api.search.collect_ms"] = p50([s.dur * 1e3 for s in collect])
        search_jobs = []
        for i in qs:
            kids = [s for s in tr.spans if s.parent == i and s.name in ("api.search", "mcp_server._rows")]
            search_jobs.append(sum(len(s.jobs) for s in kids))
        out["api.search.jobs"] = p50(search_jobs)
        out["cache_store.files"] = len(parquet_files(self.store + ".cache/queries"))
        t = store_stats(self.store)
        out["indexer.chunks_per_doc"] = t["chunks_per_doc"]
        out["indexer.store_files"] = t["files"]
        return out


def _payload(resp: dict | None) -> dict:
    if not resp or "result" not in resp:
        return {"error": (resp or {}).get("error", "no response")}
    payload = json.loads(resp["result"]["content"][0]["text"])
    if resp["result"].get("isError") and "error" not in payload:
        payload["error"] = "tool error"
    return payload


def _pct(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return float(np.percentile(xs, q))


def _rate(n: float, seconds: float) -> float:
    return n / seconds if seconds > 0 else 0.0


def _repeat_share(reqs: list[dict]) -> float:
    first = [r for r in reqs if r["kind"] in ("search", "simple")]
    return sum(r.get("repeat", False) for r in first) / max(1, len(first))


# -- ingest_batch_search -------------------------------------------------------


class IngestBatchSearch(Workload):
    """Rounds of index_text on a 1k-document batch (15% re-sent), each
    followed by one search_batch of 16 queries over the grown store."""

    name = "ingest_batch_search"
    ops_per_unit = 2
    unit_s = 10 / 3
    run_checks = ("re-sent sources add no chunk ids", "store sources match the sources sent")

    def setup(self) -> None:
        from gistdex_spark.api import GistdexSpark

        self.inp = inputs.IngestInputs(self.seed)
        self.store = os.path.join(self.work, "chunks")
        self.eng = GistdexSpark(self.spark, self.store)
        self.eng.index_text(self.spark.createDataFrame(self.inp.base, SOURCE_SCHEMA))
        self.round = 0
        self.reader = StoreReader()

    def warmup(self) -> None:
        """One small round: the first incremental write and first search."""
        batch = self.inp.next_batch(100)
        self.eng.index_text(self.spark.createDataFrame(batch, SOURCE_SCHEMA))
        self.eng.search_batch(self.inp.queries, k=5).collect()

    def _unit(self) -> list[Op]:
        try:
            ops = self._round()
            self._after_op()
            return ops
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            ops = [Op("index", 0.0), Op("search_batch", 0.0)]
            for op in ops:
                op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            return ops

    def _round(self) -> list[Op]:
        batch = self.inp.next_batch()
        self.round += 1
        df = self.spark.createDataFrame(batch, SOURCE_SCHEMA)
        self.tracer.req = self.round
        t0 = self._now()
        with self.tracer.span("ingest.index_text", docs=len(batch)):
            self.eng.index_text(df)
        w = Op("index", self._now() - t0)
        w.rows = len(batch)
        files = parquet_files(self.store)
        t0 = self._now()
        with self.tracer.span("ingest.search_batch"):
            df = self.eng.search_batch(self.inp.queries, k=5)
            with self.tracer.span("api.search_batch.collect"):
                rows = df.collect()
        r = Op("search_batch", self._now() - t0)
        r.rows = len(rows)
        got: dict[int, list] = {}
        for row in sorted(rows, key=lambda x: (x["query_id"], -x["score"], x["id"])):
            got.setdefault(row["query_id"], []).append((row["id"], float(row["score"])))
        r.check = {"files": files, "got": got}
        return [w, r]

    def check(self, ops: list[Op]) -> list[str]:
        self.digests["ingest_inputs"] = self.inp.digest()
        for op in ops:
            if op.check is None:
                continue
            for qi, q in enumerate(self.inp.queries):
                expect, score_of = self.reader.ranking(op.check["files"], q, 5)
                err = oracle.check_ranks(op.check["got"].get(qi, []), expect, score_of, True)
                if err:
                    op.error = f"search_batch query {qi}: {err}"
                    break
        t = pq.read_table(self.store, columns=["id", "source_id"])
        ids = t.column("id").to_pylist()
        fails = []
        if len(ids) != len(set(ids)):
            fails.append(f"re-sent sources added {len(ids) - len(set(ids))} duplicate chunk ids")
        if set(t.column("source_id").to_pylist()) != {s[0] for s in self.inp.sent}:
            fails.append("store sources differ from the sources sent")
        return fails

    def metrics(self, ops: list[Op]) -> dict:
        timed = [o for o in ops if not o.error]
        writes = [o for o in timed if o.kind == "index"]
        reads = [o for o in timed if o.kind == "search_batch"]
        docs_per_s = _rate(sum(o.rows for o in writes), sum(o.dur for o in writes))
        nq = len(self.inp.queries)
        input_bytes = sum(len(s[1].encode()) for s in self.inp.sent)
        return {
            "read_p50_ms": p50([o.dur * 1e3 for o in reads]),
            "write_p50_ms": p50([o.dur * 1e3 for o in writes]),
            "throughput_per_s": docs_per_s,
            "store_bytes_per_input_byte": dir_bytes(self.store) / input_bytes,
            "report": {
                "ingest_docs_per_s": (docs_per_s, "docs/s", len(writes)),
                "batch_queries_per_s": (_rate(nq * len(reads), sum(o.dur for o in reads)), "queries/s", len(reads)),
                "store_bytes_per_input_byte": (dir_bytes(self.store) / input_bytes, "ratio", None),
                "resent_share": (self.inp.resent / self.inp.batch_docs, "ratio", None),
            },
        }

    def layer_metrics(self) -> dict:
        t = store_stats(self.store)
        ids = pq.read_table(self.store, columns=["id"]).column("id").to_pylist()
        dup = len(ids) - len(set(ids))
        return {
            "indexer.chunks_per_doc": t["chunks_per_doc"],
            "indexer.store_files": t["files"],
            "indexer.resent_skipped_ratio": 1.0 - dup / max(1, self.inp.resent),
            "api.search_batch.collect_s": p50([s.dur for s in self.tracer.of("api.search_batch.collect")]),
        }


# -- curation_registry ---------------------------------------------------------


def result_hash(rows) -> str:
    lines = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class CurationRegistry(Workload):
    """Passes over six registry compositions, each sunk through the noop
    writer, on a seeded documents + embeddings directory."""

    name = "curation_registry"
    ops_per_unit = len(COMPOSITIONS)
    unit_s = 35.0
    cold_first = True
    run_checks = ("results identical across passes", "survivors match the SimHash oracle",
                  "one survivor per exact-duplicate group", "shard census matches read-back rows")

    def setup(self) -> None:
        import tempfile

        from gistdex_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.inp = inputs.curation_inputs(self.seed)
        self.digests["curation_inputs"] = inputs.digest(self.inp)
        self.sf_dir = os.path.join(self.work, "sf")
        inputs.write_curation_tables(self.inp, self.sf_dir)
        self.shards = os.path.join(
            tempfile.gettempdir(), f"gistdex_shards_curated_{os.path.basename(self.sf_dir)}"
        )
        self.hashes: dict[str, set[str]] = {n: set() for n in COMPOSITIONS}
        self.survivors: set[int] | None = None
        self.census: list[tuple[int, int]] = []  # (census docs, rows read back)
        self.shard_bytes: list[int] = []
        self.input_bytes = sum(len(d[1].encode()) for d in self.inp["documents"])

    def warmup(self) -> None:
        """Nothing: a curation job compiles its plans on every run, so the
        first pass over the compositions is the one timed."""

    def _unit(self) -> list[Op]:
        ops = []
        for name in COMPOSITIONS:
            t0 = self._now()
            try:
                with self.tracer.span(f"queries.{name}.build", composition=name):
                    df = self.registry[name](self.spark, self.sf_dir)
                t1 = self._now()
                with self.tracer.span(f"queries.{name}.exec", composition=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — counted as a failed operation
                op = Op(name, self._now() - t0)
                op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
                ops.append(op)
                continue
            t2 = self._now()
            op = Op(name, t2 - t0)
            self._after_op()
            # Outside the timed region: the frame is re-executed once for
            # its rows, before the next composition can release its
            # checkpoints.
            rows = df.collect()
            op.rows = len(rows)
            self.hashes[name].add(result_hash(rows))
            if name == "dedup_survivors":
                self.survivors = {r["doc_id"] for r in rows}
            if name == WRITER:
                read_back = pq.read_table(self.shards).num_rows
                self.census.append((sum(r["n_docs"] for r in rows), read_back))
                self.shard_bytes.append(dir_bytes(self.shards))
            ops.append(op)
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        fails = [f"{n}: result differs between passes" for n, h in self.hashes.items() if len(h) != 1]
        docs = self.inp["documents"]
        expect = oracle.dedup_survivors([d[0] for d in docs], [d[1] for d in docs])
        if self.survivors is None:
            return fails + ["dedup_survivors returned no result to check"]
        if self.survivors != expect:
            fails.append(f"dedup_survivors: {len(self.survivors ^ expect)} ids differ from the SimHash oracle")
        bad = [g for g in self.inp["exact_groups"] if len(self.survivors & set(g)) != 1]
        if bad:
            fails.append(f"{len(bad)} exact-duplicate groups do not keep exactly one survivor")
        fails += [f"shard census {c} docs, {r} rows read back" for c, r in self.census if c != r]
        return fails

    def metrics(self, ops: list[Op]) -> dict:
        timed = [o for o in ops if not o.error]
        passes = [ops[i:i + len(COMPOSITIONS)] for i in range(0, len(ops), len(COMPOSITIONS))]
        walls = [sum(o.dur for o in p) for p in passes]
        docs_per_s = _rate(len(self.inp["documents"]), p50(walls))
        return {
            "read_p50_ms": p50([sum(o.dur for o in p if o.kind in RETRIEVAL) * 1e3 for p in passes]),
            "write_p50_ms": p50([o.dur * 1e3 for o in timed if o.kind == WRITER]),
            "throughput_per_s": docs_per_s,
            "store_bytes_per_input_byte": p50(self.shard_bytes) / self.input_bytes,
            "report": {
                "curation_docs_per_s": (docs_per_s, "docs/s", len(passes)),
                "result_hashes": ({n: [x[:16] for x in sorted(h)] for n, h in self.hashes.items()}, "sha256", None),
            },
        }

    def layer_metrics(self) -> dict:
        out = {}
        traced = [s for s in self.tracer.spans if s.parent is None]
        for name in COMPOSITIONS:
            b = [s for s in traced if s.name == f"queries.{name}.build"]
            e = [s for s in traced if s.name == f"queries.{name}.exec"]
            out[f"queries.{name}.build_s"] = p50([s.dur for s in b])
            out[f"queries.{name}.exec_s"] = p50([s.dur for s in e])
            out[f"queries.{name}.build_jobs"] = p50([len(s.jobs) for s in b])
        out["shard_writer.bytes_written"] = dir_bytes(self.shards)
        return out


WORKLOADS = {w.name: w for w in (AgentSession, IngestBatchSearch, CurationRegistry)}
