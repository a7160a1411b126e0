"""PySpark-native analytics engine re-expressing the data-processing surface of
``sarafa19/Data-Lakes-tp2-student`` (a pandas medallion-style data-lake ETL
pipeline), rebuilt Spark-first per SURVEY.md.

Layout
------
- ``session``    : SparkSession builder with scale-sane defaults (AQE, UTC, Arrow).
- ``io``         : sources/sinks (CSV-with-imposed-schema, Parquet zones, s3a config).
- ``operators``  : relational + bespoke operators (stats, label-encode, stratified
                   split, class weights, tokenize, dedup, similarity, joins, windows).
- ``functions``  : reusable column expressions (portable hashing, text, vectors).
- ``streaming``  : Structured Streaming variants (event-time windows, stateful dedup).
- ``pipeline``   : raw -> staging -> curated pipeline parity with the reference.
- ``registry``   : query registry wiring operators to the driver harness
                   (``__spark_entry__.py``) with DuckDB oracle SQL per query.
- ``scratch``    : per-process scratch roots, removed at interpreter exit.

Everything here uses only public PySpark APIs; no custom Catalyst rules are
needed (SURVEY.md §4).
"""

__version__ = "0.1.0"
