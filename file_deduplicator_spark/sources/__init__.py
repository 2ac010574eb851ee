"""Sources & sinks: clips tables, the Iceberg table format (incremental
snapshot reads, the watch state), report/action/metrics sinks."""
