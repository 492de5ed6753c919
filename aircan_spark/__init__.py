"""aircan_spark — a PySpark-native data-processing engine with the query and
pipeline capabilities of datopian/aircan, re-expressed Spark-first.

The reference (studied at /root/reference) is an Airflow ELT pipeline that
pushes all relational work (row numbering, MERGE upsert, ordered export,
schema evolution) down to BigQuery/Postgres. Here every one of those
operations is a Spark DataFrame plan, optimized by Catalyst and designed to
scale to a multi-executor cluster:

- ``schema``    frictionless Table Schema <-> StructType, sanitization, keys
- ``sources``   format-dispatching reads (csv/tsv/json/ndjson/parquet, gzip);
                parquet schemas from a footer, with no inference job
- ``rownum``    distributed contiguous row numbering (no global window)
- ``frames``    scoped lifetime of the frames the library persists
- ``table``     Parquet-backed managed tables: overwrite/append/upsert/export
- ``upsert``    join-based MERGE semantics (change detection, _id preserve)
- ``validate``  row-level schema/constraint validation reports
- ``export``    ordered export to csv/ndjson/parquet (sharded or single-file)
- ``bucketed``  hash-bucketed tables with partial-rewrite upsert (scale path)
- ``skew``      salted aggregation / salted replicate join for hot keys
- ``pipeline``  the end-to-end resource ingestion lifecycle
- ``sinks``     Postgres COPY / batched HTTP sinks, format transcode
- ``streaming`` incremental ingest, windowed + session + stateful aggs
- ``callbacks`` status reporting / failure email side-channel
- ``ext``       beyond-reference operators: dedup (exact/jaccard/minhash/
                simhash/embedding/components), similarity search (brute/
                LSH/IVF), text analysis (stats/quality/lang-id/repetition/
                PII/fingerprints/tf-idf), as-of + range joins, top-k/
                rollup/percentiles/pivot, deterministic shuffle/split/
                stratified/weighted sampling, token chunking, vector
                norms/centroids, per-user sequence features, multimodal
                column plumbing
"""

__version__ = "0.1.0"

ROW_NUMBER_COLUMN = "_id"
UPDATED_AT_COLUMN = "_updated_at"
