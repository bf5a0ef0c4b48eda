"""End-to-end facade test: index → store → search → reconstruct → stats,
mirroring the reference's integration flow
(`tests/integration/search-flow.test.ts` scenarios)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gistdex_spark.api import GistdexSpark


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store") / "chunks")
    eng = GistdexSpark(spark, store, dim=32)
    # non-periodic corpora: the deterministic embedder is hash-random (no
    # semantic signal), so relevance assertions go through the keyword
    # paths; reconstruction needs locally-unique overlaps
    docs = [
        (
            "doc-a",
            " ".join(f"spark shuffle partition broadcast join w{i:03d}" for i in range(24)),
            "docs",
        ),
        (
            "doc-b",
            " ".join(f"vector embedding cosine similarity search v{i:03d}" for i in range(24)),
            "docs",
        ),
        (
            "doc-c",
            "\n".join(f"def chunker_{i}(text):\n    return text.split()" for i in range(12)),
            "code",
        ),
    ]
    df = spark.createDataFrame(
        docs, schema="source_id STRING, content STRING, source_type STRING"
    )
    eng.index_text(df, size=150, overlap=30)
    return eng


def test_index_created_chunks(engine):
    chunks = engine.chunks()
    assert chunks.count() > 3
    assert chunks.select("source_id").distinct().count() == 3
    # ids deterministic + unique
    assert chunks.select("id").distinct().count() == chunks.count()
    # every chunk embedded at the configured dim
    assert chunks.select(F.min(F.size("embedding"))).first()[0] == 32


def test_search_finds_relevant_source(engine):
    # hybrid with a dominant keyword weight: the embedder carries no
    # semantic signal, so relevance must come from the keyword ratio
    n = engine.count()
    hits = engine.search(
        "cosine similarity search", k=n, hybrid=True, keyword_weight=0.9
    ).collect()
    assert hits
    assert hits[0].source_id == "doc-b"
    scores = [h.score for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_search_source_type_filter(engine):
    hits = engine.search("chunker text split", k=5, source_type="code").collect()
    assert hits and all(h.source_type == "code" for h in hits)


def test_hybrid_vs_rerank_paths(engine):
    sem = engine.search("spark broadcast join", k=3, rerank=False).collect()
    rr = engine.search("spark broadcast join", k=3, rerank=True).collect()
    hy = engine.search("spark broadcast join", k=3, hybrid=True).collect()
    assert {h.id for h in sem} == {h.id for h in rr} == {h.id for h in hy}, (
        "rerank/hybrid re-score the SAME candidate set"
    )
    assert any(r.score != s.score for r, s in zip(rr, sem)) or any(
        h.score != s.score for h, s in zip(hy, sem)
    )


def test_search_batch_topk_per_query(engine):
    out = engine.search_batch(["broadcast join", "cosine similarity"], k=2)
    counts = {r.query_id: r["cnt"] for r in out.groupBy("query_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts == {0: 2, 1: 2}


def test_search_plan_has_no_broadcast(engine):
    """The query vector rides in the plan as a literal: no createDataFrame
    row, no broadcast exchange, no extra job per search."""
    from gistdex_spark.plans.inspect import executed_plan

    assert "BroadcastExchange" not in executed_plan(engine.search("broadcast join"))


def test_search_batch_norms_fold_below_the_join(engine):
    """knn_batch folds each side's l2_norm once per row, below the query
    cross join; the projection above the join runs only the dot fold."""
    from gistdex_spark.plans.inspect import executed_plan

    lines = executed_plan(engine.search_batch(["broadcast join", "cosine"])).splitlines()
    join = next(i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln)
    norms = [i for i, ln in enumerate(lines) if "SQRT(" in ln]
    assert len(norms) == 2 and min(norms) > join


def test_original_content_roundtrip(engine):
    rebuilt = engine.original_content("doc-a").first()["content"]
    # every unique marker word survives reconstruction exactly once
    for i in range(24):
        assert rebuilt.count(f"w{i:03d}") == 1
    assert rebuilt.count("shuffle") == 24


def test_incremental_index_skips_existing(engine, spark):
    before = engine.count()
    df = spark.createDataFrame(
        [("doc-a", "totally new text that would add chunks", "docs")],
        schema="source_id STRING, content STRING, source_type STRING",
    )
    engine.index_text(df)  # incremental: doc-a already indexed
    assert engine.count() == before


def test_stats_and_point_lookup(engine):
    stats = {r.source_type: r.n_chunks for r in engine.stats().collect()}
    assert set(stats) == {"docs", "code"}
    some_id = engine.chunks().select("id").first()["id"]
    assert engine.get(some_id).count() == 1


def test_delete_source(engine):
    remaining = engine.delete(["doc-c"])
    assert remaining.filter(F.col("source_id") == "doc-c").count() == 0
    assert remaining.select("source_id").distinct().count() == 2


def test_search_strips_embedding(engine):
    """F9: result rows never carry the embedding column."""
    assert "embedding" not in engine.search("vector cosine", k=3).columns
    assert "embedding" not in engine.search_batch(["vector", "cosine"], k=2).columns


def test_index_files_honors_explicit_chunk_size(spark, tmp_path):
    """--chunk-size must reach the chunker on the file path (it was
    silently ignored in favor of the X13 optimizer defaults)."""
    from gistdex_spark.api import GistdexSpark

    doc = tmp_path / "doc.txt"
    doc.write_text("word " * 400)  # ~2000 chars
    eng = GistdexSpark(spark, str(tmp_path / "store"))
    small = eng.index_files(
        str(doc), base_dir=str(tmp_path), allowed_base_paths=(str(tmp_path),),
        size=200, overlap=0,
    ).count()
    eng2 = GistdexSpark(spark, str(tmp_path / "store2"))
    big = eng2.index_files(
        str(doc), base_dir=str(tmp_path), allowed_base_paths=(str(tmp_path),),
        size=2000, overlap=0,
    ).count()
    assert small > big, (small, big)
    assert big == 1
