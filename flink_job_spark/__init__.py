"""flink_job_spark — a PySpark-native snapshot-ingestion & audit engine.

Brand-new implementation of the query/data-processing capabilities of the
reference `damir-kalin/flink-job` (a Flink Firebird→Iceberg snapshot job with a
dual-engine row-hash consistency audit), re-expressed Spark-first:

- dynamic type lattice → ``StructType``            (flink_job_spark.types)
- canonical MD5 row hashing, one Spark-SQL builder (flink_job_spark.functions.hashing)
- frozen-watermark snapshot-cutoff protocol        (flink_job_spark.operators.snapshot)
- 11-column audit envelope                         (flink_job_spark.operators.envelope)
- differential consistency audit                   (flink_job_spark.operators.audit)
- end-to-end ingest pipeline + CLI                 (flink_job_spark.pipeline / .cli)
- LLM-data-pipeline extensions: dedup, similarity search, text analysis,
  multimodal plumbing, streaming windows           (operators/, streaming/)

Everything on the hot path is built-in Column expressions (whole-stage
codegen-able); Python/pandas UDFs appear only where Spark lacks the operator.
"""

__version__ = "0.1.0"
