"""Streaming webhook ingestion.

The reference consumes webhooks one HTTP POST at a time
(routes/webhooks.ts:5-21); the Spark-native shape is a landing zone
(files/Kafka) consumed by Structured Streaming with ``foreachBatch``
applying the same set-oriented batch pipeline as the batch path — one
code path for both (SURVEY §3.1 "Spark shape").

Exactly-once effect (T2): webhooks are at-least-once and unordered; the
merge is idempotent (keyed, timestamp-protected) so replays and
out-of-order batches converge to the same table state. Checkpointing
makes the stream restartable; re-processing a micro-batch after a crash
is harmless by construction — this is effectively exactly-once without
transactional sinks.

Late data (T1): deliberately NO watermark. A watermark would *drop* late
events; the reference's semantics are keyed last-write-wins with
unbounded lateness — arbitrarily late events still apply when the row
hasn't advanced past them. The merge condition enforces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from stripe_sync_engine_spark.operators.incremental_dedup import apply_gate_window
from stripe_sync_engine_spark.sources.webhook import with_signature_verified
from stripe_sync_engine_spark.sync.engine import StripeSparkSync

LANDING_SCHEMA = StructType([StructField("value", StringType())])

# Signed landing format: one JSON object per line wrapping the RAW request
# body with its Stripe-Signature header (the HTTP edge writes these —
# api/http.py). Verification must run on the exact raw body bytes, so the
# body travels as an opaque string, never re-serialized.
ENVELOPE_TYPE = "struct<payload string, signature string>"

REJECTED_TABLE = "_rejected_webhooks"


def start_webhook_stream(
    engine: StripeSparkSync,
    landing_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    secret: str | None = None,
    vacuum_landing_every: int | None = None,
) -> StreamingQuery:
    """File-source stream of JSON-lines Stripe events → foreachBatch.

    ``available_now=True`` drains everything currently in the landing zone
    then stops (the scheduled-sync T4 shape); ``False`` runs continuously
    (the webhook hot path).

    With ``secret`` set, each line is a signed envelope (``ENVELOPE_TYPE``)
    and the batch is HMAC-verified BEFORE any parse — the reference's
    order of operations (stripeSync.ts:97-105: constructEvent throws before
    processEvent sees the body). Rows failing verification never reach the
    merge pipeline; they are appended to ``_rejected_webhooks`` for audit
    (the batch analog of the reference's 401 response).

    ``vacuum_landing_every=N`` runs :func:`vacuum_landing_zone` every N
    micro-batches from inside ``foreachBatch`` — landing-zone retention
    rides the stream itself, no external scheduler. Safe by construction:
    the vacuum keys off the COMMITS log, and the in-flight batch has not
    committed yet when its foreachBatch runs, so only strictly older,
    durably-committed batches' envelopes are reclaimed.
    """
    spark: SparkSession = engine.spark
    raw = (
        spark.readStream.schema(LANDING_SCHEMA)
        .text(landing_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vacuum_landing_every and batch_id % vacuum_landing_every == 0:
            vacuum_landing_zone(landing_dir, checkpoint_dir)
        if batch_df.isEmpty():
            return
        events = batch_df
        if secret is not None:
            env = F.from_json(F.col("value"), ENVELOPE_TYPE)
            unwrapped = batch_df.select(
                env["payload"].alias("payload"), env["signature"].alias("signature")
            )
            checked = with_signature_verified(
                unwrapped, secret, payload_col="payload", header_col="signature"
            ).persist()
            try:
                rejected = checked.where(~F.col("signature_valid")).select(
                    F.col("payload").alias("value"),
                    F.col("signature"),
                    F.lit(batch_id).alias("batch_id"),
                    F.current_timestamp().alias("rejected_at"),
                )
                if not rejected.isEmpty():
                    # an insert-only gate window: only buckets receiving
                    # new rejected rows are rewritten. A crash-replayed
                    # micro-batch (foreachBatch is at-least-once; the file
                    # source re-delivers the same batch_id with identical
                    # content) appends NOTHING the second time: incoming
                    # rows anti-probe against rows ALREADY STORED for the
                    # same (value, signature, batch_id). Within one batch,
                    # genuine duplicate rejections (the same bad body
                    # posted twice) are preserved — the dedup is against
                    # the store, never within the batch. The commit is a
                    # single atomic manifest swap, so a crash can't leave
                    # a batch half-appended and defeat the anti-probe.
                    dedup_keys = ["value", "signature", "batch_id"]
                    apply_gate_window(
                        engine.store,
                        REJECTED_TABLE,
                        "value",
                        dedup_keys,
                        dedup_keys,
                        ins=rejected,
                    )
                events = checked.where(F.col("signature_valid")).select(
                    F.col("payload").alias("value")
                )
                engine.process_webhook_events(events)
            finally:
                checked.unpersist()
            return
        engine.process_webhook_events(events)

    writer = raw.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def vacuum_landing_zone(landing_dir: str, checkpoint_dir: str) -> list[str]:
    """Delete envelope files the stream has durably committed past.

    The HTTP edge lands ONE file per webhook (api/app.py Router._land) and
    the file source never deletes its inputs, so a long-lived deployment
    accumulates envelopes without bound (and file listing slows with them).
    Retention is keyed to the stream's OWN checkpoint — the only safe
    source of truth:

    * ``<ckpt>/commits/<batchId>`` marks batches whose effects are durable
      (foreachBatch completed and the commit log was written);
    * ``<ckpt>/sources/0/<batchId>[.compact]`` is the file-source log
      naming exactly which files each batch read (compact files carry
      per-entry batchIds).

    A file is reclaimed only when it appears in the source log with a
    batchId ≤ the newest committed batch — an envelope that has been
    listed but not yet committed survives, so a crash between listing and
    commit loses nothing (the restarted stream re-reads it). Files outside
    ``landing_dir`` are never touched. Returns the paths deleted.

    Idempotent and safe to run from cron/a maintenance thread while the
    stream is live: Spark's file source tracks seen files by its log, not
    by directory contents, so deleting consumed envelopes never causes
    re-processing or loss on restart."""
    import json
    import os
    from urllib.parse import unquote, urlparse

    commits_dir = os.path.join(checkpoint_dir, "commits")
    src_dir = os.path.join(checkpoint_dir, "sources", "0")
    if not (os.path.isdir(commits_dir) and os.path.isdir(src_dir)):
        return []
    committed = [int(n) for n in os.listdir(commits_dir) if n.isdigit()]
    if not committed:
        return []
    last = max(committed)
    consumed: set[str] = set()
    for name in os.listdir(src_dir):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if not base.isdigit():
            continue
        try:
            with open(os.path.join(src_dir, name)) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue  # version header / blank
                    try:
                        entry = json.loads(line)
                    except ValueError:
                        continue
                    if not isinstance(entry, dict) or "path" not in entry:
                        continue
                    if int(entry.get("batchId", base)) <= last:
                        consumed.add(entry["path"])
        except OSError:
            continue
    root = os.path.realpath(landing_dir)
    removed = []
    for p in consumed:
        local = unquote(urlparse(p).path) if "://" in p or p.startswith("file:") else p
        local = os.path.realpath(local)
        if os.path.commonpath([local, root]) != root:
            continue  # never touch files outside the landing zone
        try:
            os.unlink(local)
            removed.append(local)
        except FileNotFoundError:
            pass  # already vacuumed
    return removed
