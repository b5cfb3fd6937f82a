from aggregator_spark.streaming.ingest import streaming_dedup_counts

__all__ = ["streaming_dedup_counts"]
