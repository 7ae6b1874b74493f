"""Zoo-only writers (training shards, clustered layouts, ORC, WAP)."""
