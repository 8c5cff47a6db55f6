"""spark_graft: a PySpark-native analytics engine.

Brand-new, idiomatic Spark implementation of the query and data-processing
capabilities of the reference medallion pipeline
``MikeWilliamm/project-crypto-data-engineering-gcp`` (see ``SURVEY.md``), plus
LLM-data-pipeline superset operators (dedup, similarity search, text analysis)
designed for 100 TB scale.

Layout:
    session      SparkSession factory with scale-aware defaults
    sources/     readers/writers (JSON envelope ingest, parquet and txlog
                 tables, the Silver ingest record)
    operators/   reusable DataFrame-level operators (argmax dedup, top-k,
                 share-of-total, as-of join, minhash/simhash dedup, ANN)
    functions/   column-level expression helpers (cross-engine hashing,
                 exact decimal aggregation, text & vector math)
    plans/       applications: the crypto medallion pipeline and the
                 oracle-checked query corpus over the TPC-H-ish testdata
    streaming/   Structured Streaming operators (windowed rollups,
                 sessions, stream joins, streaming dedup)
"""

__version__ = "0.1.0"
