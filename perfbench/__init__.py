"""CDC ingest benchmark for sap_spark (see perfbench/README.md)."""
