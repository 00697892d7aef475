"""PySpark-native analytics engine with the capabilities of
Leo200467/Inbev-Data-Engineering-Case (the BEES/InBev breweries medallion
pipeline), rebuilt Spark-first.

The reference (see SURVEY.md) is a bronze→silver→gold medallion lake:
paginated REST ingestion, text cleansing/normalization, Hive-partitioned
parquet layers, and a group-by-count gold aggregate, orchestrated by Airflow.
This package re-expresses that surface as an idiomatic PySpark library —
declarative DataFrame plans that Catalyst/Tungsten optimize — and extends it
with the operators a large-scale (100 TB design point) training-data pipeline
needs: joins, window functions, event-time windowing, deduplication
(exact/MinHash-LSH/SimHash/n-gram-Jaccard), embedding similarity search,
text analysis, and multimodal-column plumbing (binary payload columns with
a text stand-in featurizer, byte-chunk frame sampling, and perceptual
image near-dup over binary PNM; every other image payload dead-letters).

Modules
-------
- ``session``     SparkSession factory with scale-aware defaults (AQE on).
- ``schemas``     Explicit StructTypes (brewery 16-col, silver 8-col, gold).
- ``sources``     Paginated REST source (parallel, executor-side), typed readers.
- ``operators``   The operator library: normalize, aggregate, joins, windows,
                  dedup, similarity, textops, multimodal.
- ``functions``   Reusable Column expression helpers (portable hash, vector ops).
- ``streaming``   Structured Streaming variants of the event-window operators.
- ``layers``      Medallion sinks + snapshot catalog (latest/_SUCCESS resolver).
- ``pipeline``    Plain-Python stage driver replacing the reference's Airflow DAGs.
"""

__version__ = "0.1.0"
