"""Continuous derived-index maintenance — the Structured Streaming twin
of ``engine.maintain_corpus_indexes``.

The cron form polls one change window per call; this form subscribes the
index fan-out to the corpus's change-feed STREAM
(``engine.read_changes_stream``: offsets are store commits, Spark's
checkpoint is the cursor), so the retrieval and dedup layers track a
mutating corpus continuously — each micro-batch is one net change window
applied to every target before the checkpoint advances.

Crash-safety is the same argument as the cron form's, inherited from the
targets: foreachBatch is at-least-once, and every target's
``apply_changes`` is replay-idempotent (their own tests pin it), so a
crash anywhere inside a batch re-delivers that window and converges.
Batch ids are namespaced ``<run_id>:<spark_batch_id>`` with the
checkpoint-lifetime run id (``documents._checkpoint_run_id`` — Spark
batch ids are only unique per checkpoint), which is the epoch convention:
the postings fold ledger stays O(runs) over unbounded micro-batches
(``incremental_dedup.sub_batch_id``).

Reference analog: none (training-data-pipeline extension; the reference's
consumers poll Postgres).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

# _local_checkpoint_path: the SHARED normalizer for every stream with
# local side-car state (documents.py defines it; both streams apply it
# at entry). Without it, os.listdir('file:/ckpt/offsets') raises
# FileNotFoundError and a legitimately RESUMED checkpoint is misread as
# fresh, making the initial-load guard below spuriously raise.
from stripe_sync_engine_spark.streaming.documents import (
    _checkpoint_run_id,
    _local_checkpoint_path,
)


def _checkpoint_is_fresh(checkpoint_dir: str) -> bool:
    """True when no micro-batch has ever committed an offset under this
    checkpoint — the only situation where ``starting_commit_ms`` decides
    what the first batch contains (a resumed checkpoint replays its own
    recorded offsets and ignores the parameter)."""
    offsets = os.path.join(checkpoint_dir, "offsets")
    try:
        return not os.listdir(offsets)
    except FileNotFoundError:
        return True


def _existing_target_state(gates, postings, ann, mixture_folds=()) -> list[str]:
    """Names of every target state table that already exists — the
    evidence that an initial load would re-deliver rows these indexes
    already absorbed. Mixture folds count too: a fold with a non-zero
    cursor has absorbed commits an initial load would re-fold."""
    existing: list[str] = []
    for target in (*gates, postings, ann):
        if target is None:
            continue
        for attr in ("table", "stats_table", "forward_table"):
            name = getattr(target, attr, None)
            if name and target.store.exists(name):
                existing.append(name)
    for fold in mixture_folds:
        if fold.cursor() > 0:
            existing.append(fold.identity()["state"])
    return existing


#: the reader-owned fold-bounds record, kept INSIDE the checkpoint dir
#: (the bounds are checkpoint metadata: a wiped checkpoint must wipe
#: them with it, so a renumbered initial load lands on the folds'
#: alignment guard exactly like before)
_FOLD_BOUNDS_NAME = "_fold_window_bounds.json"


def _read_fold_bounds(checkpoint_dir: str) -> dict | None:
    import json

    try:
        with open(os.path.join(checkpoint_dir, _FOLD_BOUNDS_NAME)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_fold_bounds(checkpoint_dir: str, rec: dict) -> None:
    from stripe_sync_engine_spark.commitio import atomic_write_json

    atomic_write_json(os.path.join(checkpoint_dir, _FOLD_BOUNDS_NAME), rec)


def _offsets_end_of(checkpoint_dir: str, bid: int) -> int:
    """LEGACY FALLBACK (pre-r15 resumed checkpoints / a wiped bounds
    side file only): the end offset of micro-batch ``bid``, parsed from
    Spark's private OffsetSeqLog v1 layout (version line, batch
    metadata, then ONE offset line per source — this stream's single
    source offset is the reader's ``{"commit_ms": N}`` dict). Since r15
    the primary window bounds come from the feed itself
    (``emit_window_bounds`` stamps the planned end offset on every row)
    plus the reader-owned ``_fold_window_bounds.json`` record, so a
    routine Spark upgrade that changes this layout no longer halts
    standing mixtures — this parse runs only for the FIRST batch after
    resuming a checkpoint that predates the record. Layout drift still
    fails LOUDLY rather than folding under guessed bounds."""
    import json

    path = os.path.join(checkpoint_dir, "offsets", str(bid))
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    try:
        return int(json.loads(lines[-1])["commit_ms"])
    except (ValueError, KeyError, TypeError, IndexError) as e:
        # fail LOUDLY rather than fold under guessed bounds — the
        # gates/postings/ANN targets are unaffected (they key on batch
        # ids); only fold delivery stops, uncorrupted
        raise RuntimeError(
            f"cannot read the micro-batch's commit-ms bounds from "
            f"{path!r} (expected the last non-empty line to be this "
            "stream's single source offset, a JSON dict with "
            f"'commit_ms') — got {lines[-3:]!r}. Mixture folds "
            "cannot be delivered without exact window bounds; "
            "re-onboard them with rebase(at_ms=<stream cursor>) once "
            "the bounds source is restored"
        ) from e


def _resolve_fold_window(
    checkpoint_dir: str,
    run_id: str,
    batch_id: int,
    starting_commit_ms: int,
    until_from_rows: int | None,
) -> tuple[int, int] | None:
    """The ``(since, until]`` commit-ms window of micro-batch
    ``batch_id`` — READER-OWNED (VERDICT r15 #3): the upper bound is
    stamped on the batch's own rows by the change-feed source
    (``emit_window_bounds`` — the planned end offset, byte-stable
    across replays because replays re-plan the identical pinned
    window), the lower bound is the previous delivery's upper bound
    from the durable ``_fold_window_bounds.json`` record this function
    maintains through ``commitio``, and the record is written BEFORE
    the folds apply so a crash between record and fold replays under
    identical bounds. Spark's private OffsetSeqLog layout is touched
    only by the backfill fallback: the first batch after resuming a
    checkpoint whose deliveries predate the record (``_offsets_end_of``
    — loud on drift, never guessed bounds).

    Returns None for an EMPTY batch (no rows → no stamped bound → no
    record written): nothing to fold, and the next non-empty window's
    lower bound stays at the last DELIVERED upper bound, which is
    exactly where every fold's cursor sits. Batch 0's lower bound is
    ``starting_commit_ms`` (the reader's initialOffset) — keep that
    parameter stable across restarts; it is already part of the
    checkpoint contract. Batch ids alone could never carry folds: they
    renumber on a checkpoint wipe, and this record lives INSIDE the
    checkpoint so a wipe removes both and the renumbered initial load
    lands on ``apply_window``'s alignment guard instead of
    double-folding."""
    rec = _read_fold_bounds(checkpoint_dir)
    ours = rec is not None and rec.get("run_id") == run_id
    if ours and int(rec["batch_id"]) == int(batch_id):
        # crash replay of a batch whose bounds were already committed:
        # prefer the record (identical by construction, and immune to
        # any bounds-source hiccup during the retry)
        return int(rec["since"]), int(rec["until"])
    if until_from_rows is None:
        return None
    if ours:
        if int(rec["batch_id"]) > int(batch_id):
            raise RuntimeError(
                f"fold-bounds record at {checkpoint_dir!r} is at batch "
                f"{rec['batch_id']} but Spark delivered batch {batch_id} "
                "— the checkpoint and the bounds record diverged (a "
                "partially restored checkpoint?); refusing to fold "
                "under ambiguous bounds. Restore both from the same "
                "backup, or wipe the checkpoint and re-onboard the "
                "folds with rebase()"
            )
        since = int(rec["until"])
    elif batch_id > 0:
        # resumed pre-record checkpoint (or a wiped side file): recover
        # the previous delivery's end from the OffsetSeqLog, once
        since = _offsets_end_of(checkpoint_dir, int(batch_id) - 1)
    else:
        since = int(starting_commit_ms)
    until = int(until_from_rows)
    _write_fold_bounds(
        checkpoint_dir,
        {
            "run_id": run_id,
            "batch_id": int(batch_id),
            "since": since,
            "until": until,
        },
    )
    return since, until


def start_index_maintenance_stream(
    engine,
    entity: str,
    checkpoint_dir: str,
    gates=(),
    postings=None,
    ann=None,
    emit_update_preimages: bool = False,
    available_now: bool = True,
    starting_commit_ms: int = 0,
    allow_initial_load_over_existing: bool = False,
    mixture_folds=(),
) -> StreamingQuery:
    """Subscribe the index fan-out to ``entity``'s change feed: every
    micro-batch applies to ``gates`` (objects with ``apply_changes(feed)``
    — the exact/near/embedding gates), ``postings``
    (``PersistedPostingsIndex``), and ``ann`` (``PersistedIVFPQ``), via
    the SAME fan-out body as the cron form
    (``engine._apply_change_window``).

    ``starting_commit_ms`` is part of the correctness contract, not a
    convenience: a fresh checkpoint's first batch is the table AS OF
    that offset delivered as inserts. Default 0 means the initial load
    BUILDS the indexes — correct only when they start EMPTY. Subscribing
    to indexes that already exist (e.g. built by
    ``maintain_corpus_indexes``) must pass the commit they are current
    to (``engine.store.commits(entity)[-1]``), or the re-delivered
    initial load double-counts the postings corpus stats (postings rows
    dedupe on (term_h, doc_id), but the N/avgdl increment is per
    batch_id — a second whole-table row under the new run's id would
    silently corrupt every later BM25 score). Same rule when wiping a
    checkpoint: wipe or re-baseline the indexes with it.

    The contract is ENFORCED, not just documented: a fresh checkpoint
    whose first batch would be an initial load (``starting_commit_ms=0``)
    raises at start when any target already has state, naming the tables
    — the same loud-failure standard as the packer's params pin and the
    fold-horizon refusal. ``allow_initial_load_over_existing=True`` is
    the explicit override for the one legitimate shape (targets known to
    be behind commit 0 — e.g. manually truncated stats after a forensic
    rebuild); by default the misuse path cannot silently corrupt.

    ``emit_update_preimages=True`` lets the content-keyed gates retire
    updated-away state incrementally (id-keyed targets ignore the extra
    rows). Pass ``available_now=False`` for a continuously-running
    query. Each applied micro-batch is appended to the store's durable
    ``_maintenance_log.jsonl`` with its window id and net row count.

    Mixture folds (``operators/mixing._MaintainedFold``) ride this
    stream the same way they ride the cron fan-out: each micro-batch's
    ``(since, until]`` commit-ms bounds are READER-OWNED (r15) — the
    feed itself stamps the planned end offset on every row
    (``emit_window_bounds``; requested automatically when folds are
    passed) and ``_resolve_fold_window`` chains the lower bound through
    the durable ``_fold_window_bounds.json`` record inside the
    checkpoint, written through ``commitio`` BEFORE the folds apply —
    so fold delivery no longer depends on Spark's private OffsetSeqLog
    layout (the one remaining parse is the backfill fallback for the
    first batch after resuming a pre-r15 checkpoint, still loud on
    drift). Every fold gets ``apply_window(batch, since, until)`` — a
    crash-restart's replayed batch is skipped by the fold's
    ``applied_until`` match, a wiped checkpoint's renumbered initial
    load lands on the alignment guard instead of double-folding (the
    reason batch ids alone could never carry folds), and a fold that
    missed windows raises with its ``rebase(at_ms=...)`` onboarding
    pointer.
    ``emit_update_preimages=True`` is REQUIRED with folds (enforced
    loudly) — without pre-images an update cannot move its weight out
    of the old (category, stratum). Don't mix standalone ``poll()``
    with stream delivery (the fold's guards raise in both directions);
    the gates/postings/ANN targets stay shared across both surfaces
    via ``engine._apply_change_window``."""
    gates = tuple(gates)
    mixture_folds = tuple(mixture_folds)
    engine._require_fold_preimages(mixture_folds, emit_update_preimages)
    checkpoint_dir = _local_checkpoint_path(checkpoint_dir)
    if (
        starting_commit_ms == 0
        and not allow_initial_load_over_existing
        and _checkpoint_is_fresh(checkpoint_dir)
    ):
        existing = _existing_target_state(gates, postings, ann, mixture_folds)
        if existing:
            raise RuntimeError(
                "fresh checkpoint with starting_commit_ms=0 would deliver "
                "the whole table as an initial load, but these target "
                f"state tables already exist: {sorted(set(existing))} — "
                "the re-delivered rows would double-count batch-id-keyed "
                "state (postings N/avgdl) and non-empty fold counts. Pass "
                "starting_commit_ms=engine.store.commits(entity)[-1] (the "
                "commit the targets are current to), or "
                "allow_initial_load_over_existing=True "
                "if the initial load is genuinely intended"
            )
    run_id = _checkpoint_run_id(checkpoint_dir)
    feed = engine.read_changes_stream(
        entity,
        starting_commit_ms=starting_commit_ms,
        emit_update_preimages=emit_update_preimages,
        # folds need each batch's exact (since, until] — the feed stamps
        # the planned end offset on its own rows (the reader-owned
        # bounds source); without folds the feed schema is unchanged
        emit_window_bounds=bool(mixture_folds),
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        window = f"{run_id}:{batch_id}"
        until_from_rows = None
        if mixture_folds:
            # ONE materialization serves the bounds probe and the
            # fan-out (whose own localCheckpoint then copies from
            # memory instead of re-running the diff lineage)
            batch_df = batch_df.localCheckpoint(eager=True)
            until_from_rows = batch_df.agg(
                F.max("_window_until_ms").alias("u")
            ).first()["u"]
            # the stamp is bounds plumbing, not data: the index targets
            # see the same schema they see without folds
            batch_df = batch_df.drop("_window_until_ms")
        n, applied = engine._apply_change_window(
            batch_df, window, gates, postings, ann
        )
        if mixture_folds:
            bounds = _resolve_fold_window(
                checkpoint_dir,
                run_id,
                batch_id,
                starting_commit_ms,
                None if until_from_rows is None else int(until_from_rows),
            )
            if bounds is not None:
                since_ms, until_ms = bounds
                for fold in mixture_folds:
                    # an empty DELIVERED window still advances the
                    # fold's cursor (bounds recorded => a window was
                    # planned); a zero-row BATCH (bounds None) has no
                    # window at all and the cursor correctly holds
                    fold.apply_window(applied, since_ms, until_ms)
        engine._log_fanout(
            {"op": "corpus_cdc_fanout_stream", "entity": entity, "window": window},
            n,
            applied,
            gates,
            postings,
            ann,
            mixture_folds,
        )

    writer = feed.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
