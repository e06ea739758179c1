"""Benchmark of the post_processor_spark engine (see BENCHMARK.json)."""
