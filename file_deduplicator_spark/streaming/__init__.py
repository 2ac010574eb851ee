"""Incremental ("watch mode") dedup: one driver, watch.process_new_snapshots,
matching each commit through watch.batch_alerts."""
