"""Table materialization: bucketed parquet writes with a lineage sidecar."""
