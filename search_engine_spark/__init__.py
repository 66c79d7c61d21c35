"""search_engine_spark — a PySpark-native inverted-index builder + BM25 top-k query engine.

A from-scratch reimplementation of the *capabilities* of jialincai/search-engine
(reference at /root/reference, a Java KVS + Flame-RDD course search engine) as an
idiomatic Spark DataFrame engine:

- input: a `pages` table of Common-Crawl-style web pages
  ``(url string, warc_ts timestamp, html binary, text string, lang string)``
- HTML→text extraction / tokenization / Porter stemming as vectorized pandas UDFs
  (reference: src/cis5550/jobs/IndexerProject.java:262-421)
- posting lists built by explode → skew-salted repartition by term → groupBy →
  delta-gap + varint compressed blocks with block-max metadata
  (replaces the reference's side-effect KVS writes, IndexerProject.java:54-167)
- query-time exact BM25 top-k with block-at-a-time block-max pruning
  (replaces the reference's sampled tf-idf + boosts, frontend/Master.java:356-601)
- resumable builds with per-partition checkpoints, lineage and metrics tables.

Everything here derives from public knowledge only: the Apache Spark / PySpark
API, the published Porter (1980) stemming algorithm, standard IR textbook
posting-list compression (delta-gap + varint), BM25 (Robertson/Sparck Jones),
and block-max indexes (Ding & Suel, SIGIR 2011).
"""

__version__ = "0.1.0"
