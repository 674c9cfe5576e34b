"""PySpark-native analytics engine with the capabilities of
``gasparian/lsh-search-go`` (Annoy-style LSH ANN search), re-expressed
Spark-first, plus the relational / LLM-data-pipeline query pack the
north-star baseline requires.

Layout (SURVEY.md section 7 build plan):

- ``config``     — immutable engine config (reference lsh/lsh.go:59-82)
- ``session``    — SparkSession builder tuned for local[nproc] testing
- ``io``         — parquet table loading (replaces HDF5 scan, annbench.go:195-218)
- ``functions``  — native column expressions: metrics, vector math, text
- ``operators``  — exact KNN, stats, recall, dedup, text analysis, multimodal
- ``lsh``        — the LSH index: tree build, hashing, bucket store, search
- ``relational`` — relational query pack over the TPC-H-ish tables
- ``streaming``  — Structured Streaming ingest of the events table
- ``oracle``     — DuckDB-SQL builders mirroring our Spark expressions
- ``worker_daemon`` — Python worker daemon: zip importers re-read only changed archives
"""

__version__ = "0.2.0"
