"""Incremental ("watch mode") dedup: snapshot-driven batches and a
Structured Streaming wrapper, both matching through watch.batch_alerts."""
