"""thread_based_map_reduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``eitanste/Thread-Based-Map-Reduce`` (a C++11 thread-based
MapReduce framework, see ``SURVEY.md``), re-expressed Spark-first:

- The reference's map → sort → shuffle → reduce pipeline
  (``MapReduceFramework.cpp:270-295``) becomes Spark's stage graph: lazy
  DataFrame plans with an Exchange exactly where the reference's barrier sat.
- The reference's opaque user ``map``/``reduce`` callbacks
  (``MapReduceClient.h:55-65``) become :mod:`.mapreduce` — a generic
  ``run_map_reduce`` built on Arrow-batched ``mapInPandas`` /
  ``applyInPandas``.
- Async job handles + stage/percentage progress
  (``MapReduceFramework.h:18-24``) become :mod:`.jobs` over
  ``SparkStatusTracker``.
- Everything a client of the reference would hand-write inside callbacks
  (projection, filter, join, aggregation, …) is exposed as declarative
  DataFrame builders in :mod:`.operators` so Catalyst can optimize them.

Layout:
    session.py    SparkSession factory tuned for local[N] testing
    sources/      parquet/csv/json readers + testdata table registry
    functions/    portable column builders (cross-engine hash, vectors, text)
    operators/    relational + dedup + similarity + text + multimodal ops
    plans/        the named-query catalog (drives __spark_entry__ and perfbench)
    streaming/    Structured Streaming flavors of the event queries
    mapreduce.py  reference-parity generic map/reduce surface
    jobs.py       async job handles with stage/percentage progress
"""

__version__ = "0.1.0"
