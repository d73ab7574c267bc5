"""stripe_sync_engine_spark — a PySpark-native analytics + CDC/ETL engine.

A from-scratch re-expression of the capabilities of supabase/stripe-sync-engine
(reference at /root/reference, read-only) on top of Apache Spark:

* **Sync layer** (reference: ``packages/sync-engine/src/stripeSync.ts``):
  webhook-event ingestion, entity routing, timestamp-protected merge/upsert,
  dependency backfill, child-table explosion, replace-set and soft-delete
  reconciliation — expressed as DataFrame transformations + a
  single-shuffle clustered merge writer (Delta-style MERGE semantics over
  Parquet).
* **Analytics layer** (reference delegates to Postgres; we delegate to
  Spark SQL / Catalyst): joins, aggregations, windows, top-k, set ops over
  the synced tables.
* **Training-data layer**: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard), similarity search over embeddings, text analysis, multimodal
  column plumbing — the operations a 100 TB data pipeline needs.

Design stance: declare logical plans with the DataFrame/SQL API and let
Catalyst + Tungsten choose physical strategies; Python UDFs only where
built-ins genuinely cannot express the semantics (and then Arrow-batched).
"""

__version__ = "0.1.0"
