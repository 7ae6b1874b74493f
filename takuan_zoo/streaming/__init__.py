"""Zoo streaming maintainers: windows, stateful alerts, sketch, MinHash,
ANN, Bloom, dedup, moments, session and profile folds."""
