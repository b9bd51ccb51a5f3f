from hipipe_spark.streaming import drift_stream, quality_stream, sketch_stream

__all__ = ["drift_stream", "quality_stream", "sketch_stream"]
