"""big_data_pr_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference Lambda-architecture OHLCV analytics
system (``ducnghia0509/Big_Data_Pr``), built Spark-first:

- batch layer   -> DataFrame pipelines over partitioned Parquet
                   (:mod:`big_data_pr_spark.ohlcv.batch`)
- speed layer   -> Structured Streaming three-query topology
                   (:mod:`big_data_pr_spark.streaming.pipeline`)
- serving layer -> in-memory Arrow snapshots, one per committed table
                   version; no Spark job per request
                   (:mod:`big_data_pr_spark.ohlcv.serving`)

plus first-class large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) under
:mod:`big_data_pr_spark.operators`.

Everything is declarative DataFrame/SQL so Catalyst handles pushdown,
pruning, join selection and AQE; Python UDFs appear only where the
built-in operators cannot express the semantics, and then always as
Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"
