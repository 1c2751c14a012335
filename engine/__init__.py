"""PySpark-native full-text search engine (inverted index + BM25 top-k).

A from-scratch rebuild of the capabilities of
``xinyue27/WORK_SAMPLE_spark_cloud_based_distributed_search_engine``
(reference at /root/reference — a Java KVS + Flame dataflow + TF-IDF searcher),
re-expressed Spark-first per SURVEY.md:

- storage: typed columnar DataFrames instead of schema-free KVS rows
  (reference: searchEngine/src/cis5550/kvs/Row.java:6-14)
- dataflow: one lazy Catalyst DAG instead of eager per-op KVS materialization
  (reference: searchEngine/src/cis5550/flame/FlameContextImpl.java:71-222)
- index: varint/delta-compressed binary postings instead of comma-joined
  strings (reference: searchEngine/src/cis5550/search/Searcher.java:80-101)
- scoring: BM25 (k1=1.2, b=0.75) conjunctive + ranked, per BASELINE.json,
  with the reference's TF-IDF formula kept as a secondary scorer
  (reference: searchEngine/src/cis5550/search/Searcher.java:108,113,139-159)
"""

from .compat import install as _install_compat

_install_compat()  # before any task runs engine code on a worker

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
