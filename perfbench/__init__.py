"""Cell-store benchmark: ingest, lookup and traverse workloads."""
