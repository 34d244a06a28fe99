"""Stand-ins for pyspark's worker-side modules (see ``daemon``)."""
