"""Benchmark for journal_batch_processer_spark; see README.md."""
