"""Sources/sinks: WebDataset-style tar shards."""
