"""twawler_spark — a PySpark-native crawl/analytics engine.

A from-scratch re-creation of the capabilities of the reference crawler
(polyvios/twAwler, see /root/reference): a URL/user frontier + fetch
scheduler with a partitioned seen-filter, politeness budgets, robots
gating, priority scoring, and append-only interleaved-span document
storage — expressed as Spark DataFrame plans (Catalyst-optimized), with
vectorized Arrow UDFs only where built-ins cannot express the semantics.

Layout:
  hashing       portable XXH64 (Spark-parity) + splitmix64 PRNG streams
  schemas       fixed StructTypes (schema-on-write, unlike the reference's
                schemaless Mongo collections)
  synth         deterministic distributed generators (frontier/seen/budgets)
  io_catalog    snapshot-versioned parquet tables (Iceberg-fallback storage)
  functions/    urls, text, spans — scalar/vectorized kernels
  operators/    admission, seen_filter (bloom), scoring, dedup,
                similarity, multimodal
  plans/        fetcher + the per-round scheduling batch job
  streaming/    structured-streaming ingest wrapper
  reference_sim sequential pure-Python semantics oracle for tests
"""

__version__ = "0.1.0"
