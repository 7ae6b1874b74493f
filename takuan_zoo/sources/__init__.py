"""Zoo-only readers (ORC, Avro)."""
