"""Benchmark for the fs2_kinesis_firehose_spark engine; see LAYERS.md."""
