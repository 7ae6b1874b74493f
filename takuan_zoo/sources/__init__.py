"""Zoo-only readers (JSON, CSV, ORC, Avro)."""
