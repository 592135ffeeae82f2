from imposm3_spark.streaming.replication import StreamingReplicator

__all__ = ["StreamingReplicator"]
