"""takuan_zoo — the retired breadth workloads, kept apart from the
service.

Before the service was carved out, ``takuan_spark`` also carried a
query zoo: TPC-H and relational queries, multimodal, training and
governance pipelines, web/corpus curation, and the sketch, LSH, ANN,
dedup, graph, CDC and timeseries operators with their streaming
maintainers. None of it is reachable from ``python -m takuan_spark``.
It lives here, unchanged in behaviour, so its tests keep running until
each family is retired with its tests.

The dependency is one way: the zoo imports ``takuan_spark`` (session,
tables, the query registry, ``spread``, the service sinks), and nothing
in ``takuan_spark`` imports the zoo.

- ``queries``    — the zoo's registered (spark_builder, oracle_sql)
                   pairs; ``takuan_zoo.queries._load()`` adds them to
                   ``takuan_spark.queries.REGISTRY`` next to the
                   service's own queries.
- ``operators``, ``streaming``, ``functions`` — what those queries
                   build on.
- ``sinks``, ``sources``, ``tables`` — the zoo-only writers, readers and
                   table helpers.
- ``bench``      — the legacy whole-registry timing harness
                   (``python -m takuan_zoo.bench``); ``perfbench/`` is
                   the benchmark of record.
- ``scratch``    — shared scratch-directory naming and cleanup.
"""
