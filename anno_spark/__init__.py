"""anno_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the capabilities of the ``anno``
information-extraction pipeline (reference: /root/reference, Rust), recast
as a distributed KG-construction engine over web-page tables:

    pages(url, warc_ts, html, text, lang)
      -> mentions (NER over extracted text)
      -> triples  (subj, pred, obj)
      -> tracks   (within-doc coreference)
      -> identities (cross-doc entity resolution: MinHash/LSH blocking +
                     iterative connected components)
      -> nodes / edges (graph materialization)

Layout:
  anno_spark.core      pure-Python operator payloads (also the pytest oracle)
  anno_spark.operators DataFrame operators: mapInPandas extraction, LSH
                       resolve + CC, graph build, dedup, similarity
                       search, text statistics, multimodal plumbing
  anno_spark.plans     staged pipeline with snapshot commit/resume and
                       lineage metrics, size gates, DuckDB oracles
  anno_spark.sources   testdata parquet tables, pages, WARC, JSONL
  anno_spark.streaming Structured Streaming surfaces
  anno_spark.functions column-level helpers
  anno_spark.eval      evaluation metrics and gold corpora
  anno_spark.cli       the ``python -m anno_spark`` command line
  anno_spark.corpus    deterministic synthetic Common-Crawl-style corpus
  anno_spark.session   the tuned SparkSession factory
"""

__version__ = "0.1.0"
