"""PySpark-native analytics engine with the capabilities of the reference
``chenshuting-nancy/Fund-Data-ETL-Pipeline`` (see SURVEY.md), rebuilt
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, Pandas
UDFs only where relational operators can't express the semantics.

Layout
------
- ``session``    SparkSession factory tuned for local[N] dev and cluster scale
- ``schemas``    explicit StructTypes for every dataset (no inference)
- ``sources``    parquet star-schema loaders, document corpus, dimension tables
- ``functions``  expression library: cleaning, extraction (P1-P16), text, vectors
- ``operators``  classify, normalize, aggregate, dedup, similarity, sinks, and
                 the JPEG / CCITT fax decoders behind scanned-PDF images
                 (plus standalone media codecs no job reaches yet)
- ``plans``      registered queries (DataFrame builder + DuckDB oracle SQL)
- ``streaming``  Structured Streaming file ingest + windowed aggregations
"""

__version__ = "0.1.0"
