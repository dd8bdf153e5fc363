"""hfp_loader_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of HSLdevcom/hfp-loader.

The reference (/root/reference, ~944 LoC TypeScript) is a batch ETL job that
streams daily HFP (High-Frequency Positioning) CSV archives from blob storage
into Postgres with day-scoped dedup.  This package re-expresses that surface —
plus a large-scale analytics extension tier (dedup, similarity search, text
analysis, streaming) — as idiomatic Spark DataFrame plans optimized by
Catalyst, designed for 100 TB-scale clusters while remaining testable on
``local[N]``.

Layout
------
- ``session``   SparkSession factory with scale-aware defaults
- ``schema``    canonical HFP schemas and event-group maps
- ``sources``   CSV / parquet / JDBC scans and manifests
- ``operators`` typed projection, dedup (anti-join + exact/minhash/simhash),
                routing, relational helpers, similarity search, text
                analysis, multimodal binary columns
- ``errors``    error classification shared by sources/sinks/job
- ``plans``     the declared query catalog (Spark impl + DuckDB oracle SQL)
- ``memo``      the one in-process cache for catalog artifacts (stamped,
                session-scoped where it holds DataFrames)
- ``streaming`` Structured Streaming variants (windows, sessions, dedup)
- ``sink``      routed append writes (parquet staging or JDBC)
- ``job``       the end-to-end HFP load orchestration
"""

__version__ = "0.1.0"
