#!/usr/bin/env python3
"""gistdex benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The command generates every input from
``--seed``, starts Spark ``local[<nproc>]`` in this one driver process
through ``gistdex_spark.session.get_spark``, sets the workload up, warms
it, measures operations for ``--seconds``, checks the outputs against
independent oracles and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` a
second, traced phase follows the untraced one; its per-layer metrics
replace the end-to-end ones and its spans go to
``perfbench/.work/spans/<workload>-seed<seed>.json``.

Everything the run writes (stores, Spark local dirs, temp files, spans)
stays under ``perfbench/.work``; a workload's data directory is removed
at the start and end of each run. See README.md for the workloads, the
metrics and the layer each one measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from sampler import Sampler
from spans import Tracer, p50
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "store_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

TOOLS = ["gistdex_search", "gistdex_query_simple", "gistdex_list", "gistdex_read_cached", "gistdex_index"]
COMPOSITIONS = ["rag_retrieval_pipeline", "prf_expanded_search", "dedup_survivors",
                "dedup_minhash_lsh", "corpus_curation_funnel_blocked", "curated_shard_write_census"]
# name -> (unit, span name, measure) for figures read straight off the
# spans of one wrapped function: median duration or median jobs per call.
SPAN_LAYERS = {
    "api.search.call_ms": ("ms", "api.search", "ms"),
    "api.index_text.s": ("s", "api.index_text", "s"),
    "api.index_text.jobs": ("count", "api.index_text", "jobs"),
    "embedder.embed_text_ms": ("ms", "embedder.embed_text", "ms"),
    "queries.with_score_ms": ("ms", "queries.with_score", "ms"),
    "cache_store.append_query_cache_ms": ("ms", "cache_store.append_query_cache", "ms"),
    "indexer.index_text_df_ms": ("ms", "indexer.index_text_df", "ms"),
    "indexer.write_chunk_store_s": ("s", "indexer.write_chunk_store", "s"),
    "search.bm25.call_s": ("s", "search.bm25", "s"),
    "search.rrf_fuse.call_s": ("s", "search.rrf_fuse", "s"),
    "search.mmr_select.call_s": ("s", "search.mmr_select", "s"),
    "search.mmr_select.jobs": ("count", "search.mmr_select", "jobs"),
    "dedup.simhash_pairs.call_s": ("s", "dedup.simhash_pairs", "s"),
    "dedup.minhash_lsh_pairs.call_s": ("s", "dedup.minhash_lsh_pairs", "s"),
    "dedup.connected_components.call_s": ("s", "dedup.connected_components", "s"),
    "dedup.connected_components.jobs": ("count", "dedup.connected_components", "jobs"),
    "dedup.knn_graph_multitable.call_s": ("s", "dedup.knn_graph_multitable", "s"),
    "shard_writer.write_packed_shards.s": ("s", "shard_writer.write_packed_shards", "s"),
    "shard_writer.write_packed_shards.jobs": ("count", "shard_writer.write_packed_shards", "jobs"),
}
# Per timed operation unit (request, round or pass) of the traced phase.
SPARK_LAYERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.single_task_stages": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.slot_util": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s", "spark.python_eval_s": "s",
    "spark.scan_rows_per_result": "ratio",
}
# Figures a workload reads off its own spans or data; 0 on a workload
# that bypasses the layer.
OWN_LAYERS = {
    **{f"mcp_server.{t}.p50_ms": "ms" for t in TOOLS},
    **{f"mcp_server.{t}.jobs": "count" for t in TOOLS},
    "api.search.collect_ms": "ms", "api.search.jobs": "count",
    "api.search_batch.collect_s": "s",
    "cache_store.files": "count",
    "indexer.chunks_per_doc": "ratio", "indexer.store_files": "count",
    "indexer.resent_skipped_ratio": "ratio",
    **{f"queries.{c}.{m}": u for c in COMPOSITIONS
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"))},
    "spark.live_persisted_rdds": "count",
    "shard_writer.bytes_written": "bytes",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    **{k: v[0] for k, v in SPAN_LAYERS.items()}, **SPARK_LAYERS, **OWN_LAYERS,
    "host.cpu_steal_frac": "ratio", "trace.overhead_frac": "ratio",
    "trace.bookkeeping_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Python workers import the program from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM that spark-submit started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def span_layers(tracer) -> dict:
    out = {}
    for name, (_, span, measure) in SPAN_LAYERS.items():
        spans = tracer.of(span)
        if measure == "jobs":
            out[name] = p50([len(s.jobs) for s in spans])
        else:
            out[name] = p50([s.dur * (1e3 if measure == "ms" else 1.0) for s in spans])
    return out


def spark_layers(tracer, ops, units: float, slots: int) -> dict:
    top = [s for s in tracer.spans
           if s.parent is None and s.end is not None and not s.name.startswith("check.")]
    t = tracer.spark_totals(top)
    wall = sum(s.dur for s in top)
    rows = sum(o.rows for o in ops)
    n = max(units, 1)
    return {
        "spark.jobs": t.get("jobs", 0) / n,
        "spark.stages": t.get("stages", 0) / n,
        "spark.tasks": t.get("tasks", 0) / n,
        "spark.single_task_stages": t.get("single_task_stages", 0) / n,
        "spark.executor_run_s": t.get("run_s", 0.0) / n,
        "spark.executor_cpu_s": t.get("cpu_s", 0.0) / n,
        "spark.slot_util": t.get("run_s", 0.0) / (wall * slots) if wall else 0.0,
        "spark.shuffle_read_bytes": t.get("shuffle_read", 0) / n,
        "spark.shuffle_write_bytes": t.get("shuffle_write", 0) / n,
        "spark.spill_bytes": t.get("spill", 0) / n,
        "spark.gc_s": t.get("gc_s", 0.0) / n,
        "spark.python_eval_s": t.get("python_s", 0.0) / n,
        "spark.scan_rows_per_result": t.get("input_rows", 0) / rows if rows else 0.0,
    }


def check_hash_record(workload, fails: list[str], clean: bool) -> None:
    """A composition's result hash must match the one an earlier run of
    this checkout recorded for the same inputs."""
    hashes = getattr(workload, "hashes", None)
    if not hashes:
        return
    path = os.path.join(WORK, "result_hashes.json")
    record = {}
    if os.path.exists(path):
        with open(path) as f:
            record = json.load(f)
    key = next(iter(workload.digests.values()))
    now = {n: sorted(h) for n, h in hashes.items()}
    before = record.get(key)
    if before is not None:
        fails += [f"{n}: result hash differs from an earlier run of this seed"
                  for n in now if before.get(n) != now[n]]
    elif clean and not fails:
        record[key] = now
        with open(path, "w") as f:
            json.dump(record, f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gistdex_spark")):
        print(f"perfbench: no gistdex_spark package in {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    slots = len(os.sched_getaffinity(0))
    layer: dict = {}
    with Sampler() as sampler:
        t0 = time.perf_counter()
        from gistdex_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", cpus=slots)
        layer["session.get_spark_s"] = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark)
            wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
            wl.setup()
            inputs_s = time.perf_counter() - t0 - layer["session.get_spark_s"]
            t1 = time.perf_counter()
            wl.warmup()
            layer["session.warmup_s"] = time.perf_counter() - t1
            setup_s = time.perf_counter() - t0
            ops = wl.measure(args.seconds)
            traced, base = [], []
            if args.trace:
                # The untraced phase right before the traced one is the
                # baseline the tracing overhead is measured against; a cold
                # first phase needs a warm one after it.
                base = wl.measure(args.seconds) if wl.cold_first else []
                tracer.install()
                t2 = time.perf_counter()
                try:
                    traced = wl.measure(args.seconds)
                finally:
                    traced_wall = time.perf_counter() - t2
                    tracer.uninstall()
                    tracer.harvest()
            fails = wl.check(ops + base + traced)
            check_hash_record(wl, fails, clean=not any(o.error for o in ops + base + traced))
            m = wl.metrics(ops)
            if args.trace:
                layer.update({k: 0 for k in OWN_LAYERS})
                layer.update(span_layers(tracer))
                layer.update(spark_layers(tracer, traced, len(traced) / wl.ops_per_unit, slots))
                layer.update(wl.layer_metrics())
                layer["spark.live_persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
                b, tr = wl.primary(base or ops), wl.primary(traced)
                layer["trace.overhead_frac"] = p50(tr) / p50(b) - 1.0 if b and tr else 0.0
                layer["trace.bookkeeping_frac"] = tracer.bookkeeping_s / traced_wall
                os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
                tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json"))
        finally:
            stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    m["setup_s"] = setup_s
    m["peak_rss_mb"] = sampler.peak_rss / 2**20
    layer["host.cpu_steal_frac"] = sampler.steal_frac()
    all_ops = ops + base + traced
    failed_ops = [o for o in all_ops if o.error]
    attempted = len(all_ops) + len(wl.run_checks)
    failed = len(failed_ops) + len(fails)

    tag = f"# {args.workload} seed={args.seed}"
    print(f"{tag} setup: session {layer['session.get_spark_s']:.2f} s, inputs and store "
          f"{inputs_s:.2f} s, warm-up {layer['session.warmup_s']:.2f} s; "
          f"{len(ops)} timed operations")
    print(f"{tag} timed: " + " ".join(f"{o.kind}={o.dur * 1e3:.0f}ms" for o in ops), file=sys.stderr)
    for k, v in wl.digests.items():
        print(f"{tag} input {k} sha256={v}")
    for k, (v, unit, n) in m.pop("report").items():
        print(f"{tag} {k} = {v} {unit}" + (f" (n={n})" if n is not None else ""))
    print(f"{tag} error_rate = {failed / attempted} ({failed} failed of {attempted} attempted)")
    for o in failed_ops:
        print(f"{tag} FAILED {o.kind}: {o.error}")
    for f in fails:
        print(f"{tag} FAILED check: {f}")
    if args.trace:
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(m[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
