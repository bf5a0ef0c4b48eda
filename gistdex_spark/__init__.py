"""gistdex_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ushironoko/gistdex (RAG semantic search:
chunk → embed → top-k cosine search with rerank/hybrid/filters/analytics),
extended with large-scale LLM-data-pipeline operators (dedup, similarity
join, text analysis, multimodal plumbing).

Design stance (see SURVEY.md):
- DataFrame/SQL only; Catalyst supplies the optimizer the reference lacks.
- Embeddings are ``ARRAY<FLOAT>`` columns; scores are computed JVM-side with
  ``zip_with``/``aggregate`` (interpreted folds), not Python UDFs.
- Every operator is written for a 1000-executor / 100 TB deployment:
  broadcast small sides, single-shuffle aggregations, window top-k per
  group, LSH banding instead of O(n^2) pairs.
"""

__version__ = "0.1.0"
