"""Sources & sinks: parquet table catalog, Kafka/rate/memory streams, JDBC."""

from big_data_trend_analysis_spark.sources.tables import TABLES, load_table

__all__ = ["TABLES", "load_table"]
