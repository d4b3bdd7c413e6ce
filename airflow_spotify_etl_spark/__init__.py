"""airflow_spotify_etl_spark — a PySpark-native analytics engine.

A brand-new engine with the query / data-processing capabilities of the
reference ETL project (``ish-codes-magic/airflow-spotify-etl``), re-expressed
Spark-first: declarative DataFrame / Spark SQL plans optimized by Catalyst,
Structured Streaming for incremental ingest, and Pandas-UDF-backed operators
only where built-ins cannot express the semantics.

Layout
------
- ``session``    : SparkSession factory tuned for local testing + cluster scale.
- ``sources``    : file scans with explicit schemas, REST micro-connector.
- ``functions``  : scalar expression helpers (lenient dates, string ops).
- ``operators``  : flatten-with-defaults, data-quality suite, top-k, joins
                   (as-of / range / anti-dedup), dedup (exact / MinHash-LSH /
                   SimHash / n-gram Jaccard), similarity search, text analysis,
                   multimodal column plumbing.
- ``plans``      : named query definitions over the test star schema.
- ``streaming``  : Structured Streaming jobs and per-micro-batch store maintenance.
- ``sinks``      : CSV/Parquet/console/summary writers.
"""

__version__ = "0.1.0"
