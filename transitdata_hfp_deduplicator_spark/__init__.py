"""PySpark-native analytics engine with the capabilities of
HSLdevcom/transitdata-hfp-deduplicator (reference, read-only at
/root/reference) — re-expressed Spark-first, plus the LLM-data-pipeline
operator surface (dedup, similarity search, multimodal columns, text
analysis) designed for 100 TB scale.

Not a port: the reference is a ~250-LoC Java stateful streaming
deduplicator (Pulsar in → payload-hash first-wins dedup → Pulsar out,
plus a 1-minute tumbling duplicate-ratio analytics side channel).  Here
every capability is declared as a DataFrame / Structured Streaming plan
so Catalyst + Tungsten pick the physical strategy.

Layout:
    __main__   — the application: hfp_text source → stream dedup → parquet
    config     — the env vars the application reads
    session    — tuned SparkSession builder
    tables     — testdata table loaders
    sinks      — checkpointed streaming parquet append
    functions/ — digest, text-analysis, vector column expressions
    operators/ — dedup (exact + near-dup), joins (as-of), top-k, similarity
    sources/   — HFP line parsing, the ``hfp_text`` source the app reads,
                 message-envelope schema + typed canonicalization
    streaming/ — stateful streaming dedup, feed-health listener + alerts
    plans/     — plan-inspection helpers (pushdown / broadcast asserts)
    queries    — the declared query registry (driver contract)
"""

__version__ = "0.1.0"
