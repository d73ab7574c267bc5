"""Streaming document ingestion with incremental dedup gates.

The training-data counterpart of the webhook stream: document batches
land as JSON-lines files, and each micro-batch runs the curation gates
(``operators/incremental_dedup``) before surviving rows are merged into
a corpus table — the 100 TB steady-state shape where dedup is a per-batch
gate against persisted state, not a periodic global job.

Crash-safety ordering (foreachBatch is at-least-once):
SELECT (pure; the optional span-clip stage is replay-pure too — its
spans_in excludes the batch's own namespaced batch_id, so a replay
clips the same bytes) → SINK MERGE (keyed by doc_id: bucket-pruned
anti-join append, replays re-insert nothing) → near.register →
span.register (idempotent per namespaced batch id) → exact.register.
Replays converge after a crash at ANY point:

* before the sink merge             → replay redoes everything;
* between sink and near.register    → replay's selects PASS the same
  docs (nothing registered; near self-matches never gate), the keyed
  sink merge drops them as present, then both registrations complete;
* between near- and exact-register  → same: exact.select passes (not
  yet fingerprinted), near.select passes (self-matches excluded —
  the reason that rule exists), sink no-op, near.register no-op,
  exact.register completes;
* after exact.register              → exact.select yields zero
  survivors; the batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StringType, StructField, StructType

from stripe_sync_engine_spark.operators.incremental_dedup import (
    ContaminationGate,
    IncrementalDeduper,
    IncrementalNearDeduper,
    apply_gate_window,
)

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)

CORPUS_TABLE = "corpus_documents"

FUNNEL_FILE = "funnel_metrics.jsonl"
FUNNEL_GATES = (
    "input",
    "quality_cut",
    "lm_cut",
    "contaminated",
    "span_dropped",
    "exact_dup",
    "near_dup",
    "inserted",
)


def _append_funnel(checkpoint_dir: str, record: dict) -> None:
    """Durable per-batch funnel record (single writer: the stream's own
    serial foreachBatch; one write call per line). Appended once the
    batch's counts are final but BEFORE the sink merge / registers: a
    crash later in the batch replays it, and the replay — whose exact
    gate may now reject everything it registered — appends a SECOND line
    for the same batch_id that ``read_funnel_metrics`` ignores (first
    wins: the first line is the one computed against pre-batch gate
    state, i.e. the true attribution; the replay's effects on the corpus
    are byte-identical per the module's crash-ordering argument)."""
    import json
    import os

    from stripe_sync_engine_spark.commitio import append_line

    append_line(os.path.join(checkpoint_dir, FUNNEL_FILE), json.dumps(record))


def read_funnel_metrics(checkpoint_dir: str) -> list[dict]:
    """Per-batch gate counts for a stream started with
    ``funnel_metrics=True``, in batch order, replays collapsed (FIRST
    line per batch_id wins — see ``_append_funnel``: the first line
    carries the original delivery's attribution; a replay's line counts
    its own docs as exact dups because the first delivery registered
    them). Torn lines (a crash mid-append) are skipped, not fatal — the
    batch's replay appends a parseable line anyway. Each record
    satisfies ``input == quality_cut + lm_cut + contaminated +
    span_dropped + exact_dup + near_dup + inserted`` — where a 100 TB
    operator sees documents die. ``span_clipped_docs`` counts surviving
    docs that lost at least one span (they continue down the funnel)."""
    import json
    import os

    path = os.path.join(checkpoint_dir, FUNNEL_FILE)
    if not os.path.exists(path):
        return []
    by_batch: dict = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            try:
                rec = json.loads(line)
            except ValueError:
                continue  # torn append from a crash mid-write: self-heals
            by_batch.setdefault(rec["batch_id"], rec)
    return [by_batch[b] for b in sorted(by_batch)]


def _merge_documents(store, table: str, rows: DataFrame) -> None:
    """Keyed idempotent append: insert rows whose doc_id the sink has not
    seen — an insert-only gate window (``apply_gate_window``: only the
    buckets gaining rows are rewritten, OCC re-plans on a concurrent
    commit). The table's first batch births it even when empty, so the
    sink exists once a batch passed the gates."""
    if store.exists(table):
        apply_gate_window(store, table, "doc_id", ["doc_id"], ["doc_id"], ins=rows)
    else:
        store.write(table, rows, key="doc_id")


def _local_checkpoint_path(checkpoint_dir: str) -> str:
    """Normalize ``checkpoint_dir`` to a plain local path — the SHARED
    rule for every stream that keeps side-car state beside a Spark
    checkpoint (the run-id file here, the fan-out's offset freshness
    probe, funnel metrics, landing-zone vacuum bookkeeping): those read
    the directory with ``os`` calls, so a ``file:``-scheme URI must be
    unwrapped or the side-cars silently land in a literal ``./file:/...``
    tree while Spark checkpoints to the real path. A remote scheme
    (hdfs://, s3a://, ...) can't host the local side-cars at all and is
    rejected loudly.

    Only genuinely URI-shaped inputs are parsed as URIs: ``file:...`` or
    ``scheme://...``. A plain relative path whose first segment happens
    to contain a colon (``run:3/ckpt`` — urlparse would call ``run`` a
    scheme) passes through untouched — paths were never rejected for
    colons before the URI support landed, and must not be now."""
    import os
    import re
    from urllib.parse import urlparse

    if not (
        checkpoint_dir.startswith("file:")
        or re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", checkpoint_dir)
    ):
        return checkpoint_dir  # a plain path, colons and all
    parsed = urlparse(checkpoint_dir)
    if len(parsed.scheme) == 1 and os.name == "nt":
        return checkpoint_dir  # a Windows drive letter, not a scheme
    if parsed.scheme == "file":
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"file: checkpoint URI with a remote host is unsupported: "
                f"{checkpoint_dir}"
            )
        return parsed.path
    raise ValueError(
        f"checkpoint_dir {checkpoint_dir!r} uses scheme "
        f"{parsed.scheme!r}: this stream keeps side-car state (run id, "
        "offset freshness probe, funnel metrics) on the local "
        "filesystem, so only plain local paths or file: URIs are "
        "supported"
    )


def _checkpoint_run_id(checkpoint_dir: str) -> str:
    """The run id tied to this checkpoint's lifetime: minted on first
    use, re-read on restart, gone (re-minted) when the checkpoint is
    wiped. Write-to-tmp + hardlink-style exclusive rename: the file only
    ever appears with COMPLETE content, so a racer (or a crash between
    create and write) can never observe an empty id — two racing
    starters both end up reading whichever complete file won.

    The namespaced ``<run_id>:<batch_id>`` format is the span gate's
    batch-id scheme; changing the scheme against a checkpoint that has
    in-flight batches requires draining the stream first (same contract
    as ``fold_history``'s replay horizon)."""
    import os
    import time
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, "span_gate_run_id")

    def read_existing() -> str | None:
        try:
            with open(path) as fh:
                rid = fh.read().strip()
        except FileNotFoundError:
            return None
        if not rid:
            # Zero-byte debris: an empty id would collapse every run into
            # the '' namespace, and deleting it here could race a minter
            # and delete a VALID file an instant later. The atomic mint
            # below never produces an empty file, so this can only be
            # external mutation — fail loudly and let the operator clear
            # it (same stance as the store's OCC conflicts).
            raise RuntimeError(
                f"{path} exists but is empty — not written by this engine; "
                "delete the file and restart the stream"
            )
        return rid

    rid = read_existing()
    if rid:
        return rid
    # Reclaim tmp files of CRASHED minters (age-gated so a live racer's
    # in-flight tmp is never touched).
    for name in os.listdir(checkpoint_dir):
        # both tmp shapes: the link path's own (bare) and the commitio
        # fallback's dot-prefixed — neither may accumulate forever
        if name.startswith("span_gate_run_id.tmp.") or name.startswith(
            ".span_gate_run_id.tmp."
        ):
            p = os.path.join(checkpoint_dir, name)
            try:
                if time.time() - os.path.getmtime(p) > 3600:
                    os.unlink(p)
            except OSError:
                pass
    run_id = uuid.uuid4().hex
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(run_id)
    try:
        # link() is atomic and FAILS if the target exists (unlike
        # rename) — the loser of a race adopts the winner's id.
        os.link(tmp, path)
    except FileExistsError:
        adopted = read_existing()
        if adopted is None:
            # The winner's file vanished between link-failure and re-read:
            # only external deletion can do that. Returning our local id
            # would namespace batches under an id NO file records.
            raise RuntimeError(
                f"{path} vanished while minting — the checkpoint dir is "
                "being mutated externally"
            )
        run_id = adopted
    except OSError:
        # Filesystem without hardlinks (some FUSE/SMB/object mounts):
        # degrade to the engine's atomic-replace commit primitive — still
        # never an empty file; a same-instant race can split ids until
        # the next restart re-reads.
        from stripe_sync_engine_spark.commitio import atomic_write_text

        atomic_write_text(path, run_id)
        return run_id
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return run_id


def start_document_stream(
    store,
    landing_dir: str,
    checkpoint_dir: str,
    corpus_table: str = CORPUS_TABLE,
    near_threshold: float | None = 0.5,
    available_now: bool = True,
    vacuum_landing_every: int | None = None,
    contamination_max_frac: float | None = None,
    quality_min_tokens: int | None = None,
    quality_min_diversity: float | None = None,
    lm_model=None,
    lm_min_score: float | None = None,
    span_k: int | None = None,
    span_min_repeats: int = 2,
    funnel_metrics: bool = False,
) -> StreamingQuery:
    """JSON-lines document files → (optional) decontamination gate →
    exact gate → (optional) near gate → keyed merge into
    ``corpus_table``.

    ``near_threshold=None`` disables the near gate (exact only). The
    gates' state tables (``_document_fingerprints``, ``_band_index``)
    live in the same store and ride the same retention/vacuum policy.
    ``vacuum_landing_every=N`` reclaims committed-past landing files
    every N micro-batches, same contract as the webhook stream
    (``pipeline.vacuum_landing_zone``: the in-flight batch is never
    committed when its vacuum fires).

    ``contamination_max_frac`` enables the benchmark-decontamination
    gate (``ContaminationGate`` over the persisted ``_benchmark_grams``
    table — register the eval suites before starting the stream): docs
    above the fraction never reach the dedup gates or the corpus. The
    gate is PURE (no per-batch state), so it runs first and adds
    nothing to the crash-ordering argument above.

    ``quality_min_tokens`` / ``quality_min_diversity`` enable the quality
    gate — the same whitespace-token-count cut as
    ``dd_keeplist_pipeline`` and the same lexical-diversity feature as
    ``txt_doc_profile``, applied per batch: low-quality docs never reach
    the dedup state or the corpus (their near-identical high-quality twin
    arriving later is NOT shadowed by a rejected doc's fingerprints).
    Pure row filters, so they also add nothing to the crash ordering.

    ``lm_model`` + ``lm_min_score`` add the learned quality cut: a
    trained ``functions/ngram_lm.NgramLM`` (broadcast via closure) scores
    each batch and docs below the mean-log-prob floor are dropped with
    the other quality rejects — same purity, same crash-ordering
    neutrality.

    ``span_k`` enables the ExactSubstr stage (``IncrementalSpanDeduper``
    over the persisted ``_gram_counts`` table): token sequences of
    ``span_k``+ words already seen ``span_min_repeats``+ times — in
    history or within this batch — are CLIPPED from the text before the
    dedup gates fingerprint it; fully-clipped docs drop. It runs after
    decontamination (clipping first could cut exactly the benchmark
    grams and sneak a contaminated doc through) and registers the
    PRE-clip gram counts just before the exact register. Replay-stable
    by construction: ``spans_in`` excludes the batch's own batch_id, so
    a replayed batch clips identically and the downstream selects see
    the same bytes (micro-batches replay in checkpoint order, so no
    later batch's registrations can land before a crashed batch's
    replay). Run ``IncrementalSpanDeduper(store).fold_history()`` from
    maintenance once the checkpoint's replay horizon has passed.

    ``funnel_metrics=True`` records one JSON line per batch
    (``read_funnel_metrics``) with where its documents died: quality cut,
    LM cut, contaminated, span-dropped, exact dup, near dup, inserted —
    the observability a 100 TB operator needs to see which gate is eating
    the corpus. Counting costs a few extra jobs per batch, but each
    counts an already-materialized (localCheckpoint'ed) frame or a
    single-pass aggregate, never a recomputation of a gate."""
    checkpoint_dir = _local_checkpoint_path(checkpoint_dir)
    spark = store.spark
    exact = IncrementalDeduper(store)
    # explicit None check: a caller's threshold of 0.0 (gate on ANY
    # candidate) must not silently become 0.5
    near = IncrementalNearDeduper(
        store, threshold=0.5 if near_threshold is None else near_threshold
    )
    contam = (
        ContaminationGate(store, max_frac=contamination_max_frac)
        if contamination_max_frac is not None
        else None
    )
    span_gate = None
    span_run_id = None
    if span_k is not None:
        from stripe_sync_engine_spark.operators.span_dedup import (
            IncrementalSpanDeduper,
        )

        span_gate = IncrementalSpanDeduper(
            store, k=span_k, min_repeats=span_min_repeats
        )
        # Spark batch ids are only unique per CHECKPOINT: a wiped
        # checkpoint (or a second stream sharing the store) restarts at 0
        # and its registers would anti-probe straight into another run's
        # rows — silently dropping counts. Namespace the gate's batch_ids
        # with a run id minted once per checkpoint lifetime (stored next
        # to Spark's own checkpoint state, so same-checkpoint restarts
        # reuse it and replays stay idempotent).
        span_run_id = _checkpoint_run_id(checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if vacuum_landing_every and batch_id % vacuum_landing_every == 0:
            from stripe_sync_engine_spark.streaming.pipeline import vacuum_landing_zone

            vacuum_landing_zone(landing_dir, checkpoint_dir)
        # Funnel counts ride the frames the pipeline materializes anyway
        # (localCheckpoint'ed), so each gate costs one cached count or one
        # single-pass aggregate — never a gate recomputation.
        funnel = None
        if funnel_metrics:
            funnel = dict.fromkeys(FUNNEL_GATES, 0)
            funnel["batch_id"] = int(batch_id)
            funnel["span_clipped_docs"] = 0
        if batch_df.isEmpty():
            if funnel is not None:
                _append_funnel(checkpoint_dir, funnel)
            return
        keep = F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        toks = F.split(F.col("text"), " ")
        if quality_min_tokens is not None:
            keep = keep & (F.size(toks).cast("long") >= quality_min_tokens)
        if quality_min_diversity is not None:
            keep = keep & (
                F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks).cast("double")
                >= quality_min_diversity
            )
        gated = batch_df.where(keep)
        n_gated = None
        if funnel is not None:
            gated = gated.localCheckpoint(eager=True)
            funnel["input"] = batch_df.count()
            n_gated = gated.count()
            funnel["quality_cut"] = funnel["input"] - n_gated
        if lm_model is not None and lm_min_score is not None:
            from stripe_sync_engine_spark.functions.ngram_lm import score_documents

            ok_ids = (
                score_documents(gated, lm_model)
                .where(F.col("lm_score") >= lm_min_score)
                .select("doc_id")
            )
            gated = gated.join(F.broadcast(ok_ids), "doc_id", "left_semi")
        docs = gated.localCheckpoint(
            eager=True
        )  # one deterministic snapshot feeds every gate
        n_prev = None
        if funnel is not None:
            n_prev = docs.count()
            funnel["lm_cut"] = n_gated - n_prev
        if docs.isEmpty():
            if funnel is not None:
                _append_funnel(checkpoint_dir, funnel)
            return
        # SELECT (pure, pre-batch gate state) → SINK MERGE → REGISTER —
        # the crash-ordering argument in the module docstring. Survivors
        # are materialized once so registration (which mutates + vacuums
        # the gate tables) never re-evaluates a lineage over them.
        if contam is not None:
            docs = contam.select_clean(docs)
            if funnel is not None:
                docs = docs.localCheckpoint(eager=True)
                n_clean = docs.count()
                funnel["contaminated"] = n_prev - n_clean
                n_prev = n_clean
        span_docs = None
        if span_gate is not None:
            from stripe_sync_engine_spark.operators.span_dedup import (
                clip_repeated_spans,
            )

            # The POST-contam, PRE-clip batch is both the clip input and
            # (below) what registers — replays must re-derive the same
            # counts the first delivery recorded. `docs` is already an
            # eager checkpoint (always, or via the funnel's contam count);
            # only an uncounted contamination select adds lineage worth
            # snapshotting again.
            span_docs = (
                docs
                if contam is None or funnel is not None
                else docs.localCheckpoint(eager=True)
            )
            span_batch = f"{span_run_id}:{batch_id}"
            spans = span_gate.spans_in(span_docs, exclude_batch_id=span_batch)
            clipped = clip_repeated_spans(span_docs, spans)
            if funnel is not None:
                clipped = clipped.localCheckpoint(eager=True)
                s = clipped.agg(
                    F.count(F.when(F.col("text") == "", 1)).alias("ndrop"),
                    F.count(
                        F.when(
                            (F.col("tokens_clipped") > 0) & (F.col("text") != ""), 1
                        )
                    ).alias("nclip"),
                ).collect()[0]
                funnel["span_dropped"] = s["ndrop"]
                funnel["span_clipped_docs"] = s["nclip"]
                n_prev -= s["ndrop"]
            docs = clipped.drop("tokens_clipped").where(F.col("text") != "")
        survivors = exact.select_new(docs)
        near_rows = None
        if near_threshold is not None:
            # ONE signature materialization feeds the near select AND the
            # near register below (shingling is the batch-side cost)
            survivors = survivors.localCheckpoint(eager=True)
            if funnel is not None:
                n_exact = survivors.count()
                funnel["exact_dup"] = n_prev - n_exact
                n_prev = n_exact
            near_rows = near._band_rows(survivors).localCheckpoint(eager=True)
            survivors = near.select_new(survivors, _rows=near_rows)
        survivors = survivors.localCheckpoint(eager=True)
        if funnel is not None:
            funnel["inserted"] = survivors.count()
            if near_threshold is not None:
                funnel["near_dup"] = n_prev - funnel["inserted"]
            else:
                funnel["exact_dup"] = n_prev - funnel["inserted"]
            # Counts are final here; append BEFORE the sink/registers so
            # the batch's first (authoritative) line carries the original
            # attribution even if a crash forces a replay whose exact
            # gate then rejects everything (see _append_funnel).
            _append_funnel(checkpoint_dir, funnel)
        _merge_documents(store, corpus_table, survivors)
        # exact LAST: its select governs replay passage, so everything
        # before it must already be idempotent when it finally commits
        if near_threshold is not None:
            surv_rows = near_rows.join(
                F.broadcast(survivors.select(F.col("doc_id"))), "doc_id", "left_semi"
            ).localCheckpoint(eager=True)
            near.register(survivors, _rows=surv_rows)
        if span_gate is not None:
            # Pre-clip counts, idempotent per namespaced batch id; before
            # the exact register so a crash here still replays
            # (exact.select still passes) and this registration completes
            # as a no-op-or-heal.
            span_gate.register(span_docs, f"{span_run_id}:{batch_id}")
        exact.register(survivors)

    raw = (
        spark.readStream.schema(DOCUMENT_SCHEMA)
        .json(landing_dir)
    )
    writer = raw.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
