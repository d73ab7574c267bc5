"""Span-level (substring) deduplication — find and clip token sequences
that repeat across the corpus, the ExactSubstr stage of a training-data
pipeline (Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better": repeated 50-token spans are memorization fuel even when
whole documents are unique; doc-level dedup cannot see them).

The suffix-array formulation of that paper is a single-machine design;
the standard distributed approximation is k-gram hashing, which this
module implements Spark-first:

1. **Gram generation** — per doc, every k-token window becomes one row
   ``(doc, pos, xxhash64(gram))`` via sequence/slice/posexplode — all
   JVM-side expressions, no Python. This explode is O(total tokens)
   rows, the irreducible cost of substring-level dedup at any scale;
   each row is 24 bytes (two longs + an int), not the gram text.
2. **Repeated-gram filter** — ``groupBy(hash).count() >= min_repeats``
   is a map-side-combined partial aggregation: the shuffle carries one
   partial count per distinct gram per partition, NOT one row per
   occurrence. Duplicates-in-one-doc count too (a doc that repeats its
   own boilerplate gets clipped — same as the reference algorithm).
3. **Occurrence recovery** — a left-semi join of the gram rows against
   the surviving hashes; hash collisions (2^-64) can only over-mark a
   span, never lose one, which is the conservative direction for dedup.
4. **Interval merge** — duplicated windows at positions p cover tokens
   [p, p+k); same-length intervals sorted by start merge with a
   lag-window break flag + running sum, then one groupBy — the window
   and the groupBy share the doc_id exchange, so steps 3→4 cost one
   shuffle on the (small) surviving rows.

At 100 TB: step 1's row count is the token count — partition-local and
never collected; step 2's shuffle is bounded by DISTINCT grams (Heaps'
law sublinear); everything after operates only on duplicated positions,
which real corpora keep to a few percent. No driver-side state at all.

Reference analog: none (training-data-pipeline extension; the synced
Stripe tables have no long-text columns to clip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stripe_sync_engine_spark.operators.incremental_dedup import (
    FoldLedger,
    anti_probe,
    commit_window,
    fold_batch_rows,
    with_occ_retry,
)


# Whitespace tokens with empties dropped — the ONE shared expression
# (plans/textops.tokens_nonempty), so span indices line up with the BM25
# scan, the postings index, and the LM scorer's convention.
from stripe_sync_engine_spark.plans.textops import tokens_nonempty as _tokens  # noqa: E402


def gram_occurrences(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, pos, h)`` — one row per k-token window, h = xxhash64 of the
    gram text. Docs shorter than ``k`` tokens produce no rows."""
    # Materialize the token array BEFORE the per-window lambda: an
    # expression (split+filter) referenced inside a HOF lambda re-evaluates
    # per element — O(n²) per doc; a bound column is an O(k) array slice.
    base = docs.select(F.col(id_col), _tokens(text_col).alias("_toks")).where(
        F.size("_toks") >= k
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - k),
        lambda i: F.xxhash64(F.array_join(F.slice("_toks", i + 1, k), " ")),
    )
    return base.select(F.col(id_col), F.posexplode(grams).alias("pos", "h"))


def merge_positions(hits: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """``(id, span_start, span_end)`` — merge per-doc window positions
    into maximal [pos, pos+k) intervals. The lag window and the final
    groupBy share the ``id_col`` exchange — one shuffle."""
    w = Window.partitionBy(id_col).orderBy("pos")
    # Two selects: window functions can't nest, so the break flag
    # (lag) materializes before the running sum that groups spans.
    flagged = hits.select(
        id_col,
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))
        .alias("brk"),
    )
    grouped = flagged.select(
        id_col,
        "pos",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    return (
        grouped.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def repeated_spans(
    docs: DataFrame,
    k: int = 20,
    min_repeats: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, span_start, span_end)`` — maximal merged token-index
    intervals [start, end) covered by at least one k-token window whose
    content occurs ``min_repeats``+ times corpus-wide. Docs shorter than
    ``k`` tokens produce no rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_repeats < 2:
        raise ValueError(f"min_repeats must be >= 2, got {min_repeats}")
    occ = gram_occurrences(docs, k, id_col, text_col)
    # Keep the gram rows alive across the count and the semi-join — the
    # two consumers below would otherwise re-run the explode scan.
    occ = occ.persist()
    try:
        dup = (
            occ.groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= min_repeats)
            .select("h")
        )
        hits = occ.join(dup, "h", "left_semi")
        out = merge_positions(hits, k, id_col)
        # Materialize before unpersisting so callers never re-trigger the
        # lineage against a released cache.
        out = out.localCheckpoint(eager=True)
    finally:
        occ.unpersist()
    return out


def clip_repeated_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``docs`` with every span's tokens removed from ``text_col`` (plus
    ``tokens_clipped``). The conventional ExactSubstr treatment keeps ONE
    copy of each duplicated sequence; dropping every marked occurrence is
    deliberate here — which copy to keep is corpus-policy (the keep-list
    pipeline's job), while clipping is a pure function of the spans.
    Clipping can create NEW adjacencies that form previously-absent
    k-grams; iterate to a fixed point if that matters (one pass removes
    >99% in practice, per the paper's own appendix)."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    clipped = (
        docs.join(agg, id_col, "left")
        .withColumn("_spans", F.coalesce(F.col("_spans"), F.array()))
        # Bound column, not an inline expression: the lambdas below
        # reference the token array per element (see repeated_spans).
        .withColumn("_toks", _tokens(text_col))
    )
    # Keep the GAPS between spans instead of testing every token against
    # every span: sort, then slice the token array between consecutive
    # spans. The two producers emit disjoint merged intervals already
    # (merge_positions), so the COMMON path is a disjointness check over
    # adjacent pairs — O(spans) — and the defensive re-merge fold (which
    # rebuilds its accumulator array per element, O(spans²) copies) runs
    # ONLY for public callers handing in overlapping intervals. Either
    # way this replaces the interpreted per-token F.exists scan whose
    # O(tokens × spans) bites on boilerplate-heavy corpora.
    srt = F.array_sort("_spans")
    tail_len = F.greatest(F.size(srt) - 1, F.lit(0))
    adjacent_overlap = F.exists(
        F.zip_with(
            F.slice(srt, 1, tail_len),
            F.slice(srt, 2, tail_len),
            lambda a, b: b["span_start"] <= a["span_end"],
        ),
        lambda x: x,
    )
    empty_spans = "CAST(array() AS array<struct<span_start:bigint,span_end:bigint>>)"
    merge_fold = F.aggregate(
        srt,
        F.expr(empty_spans),
        lambda acc, sp: F.when(
            (F.size(acc) > 0)
            & (sp["span_start"] <= F.element_at(acc, -1)["span_end"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["span_start"].alias("span_start"),
                        F.greatest(
                            F.element_at(acc, -1)["span_end"], sp["span_end"]
                        ).alias("span_end"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(sp))),
    )
    merged = F.when(adjacent_overlap, merge_fold).otherwise(srt)
    gap_starts = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform("_merged", lambda sp: sp["span_end"]),
    )
    gap_ends = F.concat(
        F.transform("_merged", lambda sp: sp["span_start"]),
        F.array(F.size("_toks").cast("long")),
    )
    kept = F.flatten(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda a, b: F.slice(
                F.col("_toks"), (a + 1).cast("int"), F.greatest(b - a, F.lit(0)).cast("int")
            ),
        )
    )
    return (
        clipped.withColumn("_merged", merged)
        .withColumn("_kept", kept)
        .withColumn(
            "tokens_clipped",
            (F.size("_toks") - F.size("_kept")).cast("long"),
        )
        .withColumn(
            text_col,
            # Span-free docs keep their ORIGINAL bytes: rejoining tokens
            # would normalize runs of whitespace, silently changing the
            # stored text (and its exact-dedup fingerprint) of documents
            # the operator never matched.
            F.when(F.size("_merged") == 0, F.col(text_col)).otherwise(
                F.array_join("_kept", " ")
            ),
        )
        .drop("_spans", "_merged", "_toks", "_kept")
    )


class IncrementalSpanDeduper:
    """Span dedup for ARRIVING batches against persisted gram counts —
    the streaming-corpus shape of ExactSubstr, in the same two-phase
    contract as the other incremental gates (``incremental_dedup``).

    State: one row per (gram hash, batch_id) with that batch's
    occurrence count, in a table BUCKETED BY HASH. Keeping counts
    per-batch (instead of one mutable total) is what makes ``register``
    IDEMPOTENT and partially-crash-convergent: a replayed batch probes
    the exact buckets its hashes land in, finds its own (h, batch_id)
    rows, and commits only what is missing — a half-committed crash
    heals on replay instead of double-counting. Read amplification is
    one SUM over the probed rows; rows per gram grow with the number of
    batches that contained it, so a long-lived deployment periodically
    folds history (``fold_history``) once its replay horizon has passed
    — the same retention contract a streaming checkpoint has.

    Semantics: a batch's spans are windows whose TOTAL count — history
    plus this batch — reaches ``min_repeats``. Equivalent to running the
    global ``repeated_spans`` over (history ∪ batch) and keeping the
    batch docs' rows (pytest-pinned), which is exactly keep-first
    ExactSubstr: already-ingested copies stay, arriving repeats clip.

    At 100 TB: per-batch work is O(batch grams) plus a scan of only the
    store buckets the batch's hashes touch; nothing global, no driver
    state. The gram table holds 24-byte rows for DISTINCT (gram, batch)
    pairs — sublinear in corpus tokens (Heaps' law) and foldable.

    DELETION contract (PINNED, deliberately different from the exact/
    near gates' ``unregister``): gram counts are aggregate CORPUS
    STATISTICS, not per-document provenance — after a fold they are not
    even attributable to documents — so deleting a corpus document does
    NOT decrement them, exactly as deleting a document does not un-train
    an n-gram LM. Consequence: spans the deleted document contributed to
    keep clipping, which is the conservative direction for a dedup gate
    (over-clipping repeated boilerplate, never under-clipping). The
    takedown path for the statistics themselves is a REBUILD: register
    the surviving corpus into a fresh table (pytest-pinned in
    ``tests/test_span_dedup.py``)."""

    def __init__(
        self,
        store,
        table: str = "_gram_counts",
        k: int = 20,
        min_repeats: int = 2,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        if min_repeats < 2:
            raise ValueError(f"min_repeats must be >= 2, got {min_repeats}")
        self.store = store
        self.table = table
        self.k = k
        self.min_repeats = min_repeats
        self.id_col = id_col
        self.text_col = text_col

    def _batch_counts(self, batch: DataFrame) -> DataFrame:
        return (
            gram_occurrences(batch, self.k, self.id_col, self.text_col)
            .groupBy("h")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    def spans_in(self, batch: DataFrame, exclude_batch_id: str | None = None) -> DataFrame:
        """PURE: ``(id, span_start, span_end)`` for the batch's docs,
        thresholded on history + batch counts. No state is mutated —
        pair with ``register`` for durability.

        ``exclude_batch_id``: ignore history rows this batch itself
        registered — without it, a REPLAY of an already-registered batch
        counts its own grams twice and marks everything. ``filter_batch``
        passes its batch_id; self-exclusion only holds until
        ``fold_history`` absorbs the rows (the fold-horizon contract)."""
        occ = gram_occurrences(batch, self.k, self.id_col, self.text_col).persist()
        try:
            counts = occ.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("bn"))
            store, table = self.store, self.table
            if store.exists(table):
                touched = store.buckets_of(counts, key="h", table=table)
                known = store.read_buckets(table, touched)
                if exclude_batch_id is not None:
                    known = known.where(F.col("batch_id") != exclude_batch_id)
                # Scan stays map-side against the broadcast batch hashes
                # (gate contract: batches are micro-batch sized).
                hist = (
                    known.join(F.broadcast(counts.select("h")), "h", "left_semi")
                    .groupBy("h")
                    .agg(F.sum("n").alias("hn"))
                )
                counts = counts.join(F.broadcast(hist), "h", "left").withColumn(
                    "bn", F.col("bn") + F.coalesce(F.col("hn"), F.lit(0))
                )
            dup = counts.where(F.col("bn") >= self.min_repeats).select("h")
            out = merge_positions(
                occ.join(F.broadcast(dup), "h", "left_semi"), self.k, self.id_col
            ).localCheckpoint(eager=True)
        finally:
            occ.unpersist()
        return out

    def register(self, batch: DataFrame, batch_id: str) -> None:
        """Durably add the batch's per-gram counts under ``batch_id``.
        Idempotent per batch_id (replays commit nothing; a half-committed
        crash completes on replay). Distinct concurrent registrars
        serialize externally — batches are the unit, as for the other
        gates. Raises if ``batch_id`` was already absorbed by
        ``fold_history`` (the enforced replay horizon — re-registering a
        folded batch would double-count its grams)."""
        FoldLedger(self.store, self.table).check_replayable(batch_id)
        with_occ_retry(lambda: self._register_once(batch, batch_id))

    def _register_once(self, batch: DataFrame, batch_id: str) -> None:
        rows = self._batch_counts(batch).select(
            "h", F.lit(batch_id).alias("batch_id"), "n"
        )
        store, table = self.store, self.table
        if not store.exists(table):
            store.write(table, rows, key="h")
            return
        manifest = store._read_manifest(table)
        touched = store.buckets_of(rows, key="h", table=table)
        known = store._scan_manifest(table, manifest, touched)
        fresh = (
            anti_probe(rows, known, ["h", "batch_id"])
            # materialize BEFORE the commit: the lineage reads the
            # pre-commit bucket files, which the commit's vacuum deletes
            # (retain=0) — later re-evaluation would scan vanished paths
            .localCheckpoint(eager=True)
        )
        commit_window(store, table, "h", manifest, fresh)

    def filter_batch(self, batch: DataFrame, batch_id: str) -> DataFrame:
        """spans_in + clip + register in one call: the batch with
        repeated spans clipped, its counts durably recorded. Clipping
        uses the PRE-clip counts — registration must too, so replays
        recognize the original content. The batch's own batch_id is
        excluded from the history side, making a replay return exactly
        the first delivery's output. Folded batch ids are refused up
        front (before any clipping work), like ``register``."""
        FoldLedger(self.store, self.table).check_replayable(batch_id)
        spans = self.spans_in(batch, exclude_batch_id=batch_id)
        clipped = clip_repeated_spans(
            batch, spans, self.id_col, self.text_col
        ).localCheckpoint(eager=True)
        self.register(batch, batch_id)
        return clipped

    def fold_history(self, into_batch_id: str = "_folded") -> dict | None:
        """Collapse all per-batch rows to one row per gram under
        ``into_batch_id`` — bounds table growth for long-lived
        deployments. Only run once the replay horizon has passed (drain
        consumers first — same contract as expiring a checkpoint); the
        horizon is ENFORCED: the folded batch ids are committed to a
        durable ledger BEFORE the rewrite, and ``register`` /
        ``filter_batch`` refuse them afterwards instead of silently
        double-counting (a crash between ledger and fold is conservative:
        ids refused, rows still per-batch, re-running the fold heals).
        Returns the fold-stats record (``fold_batch_rows``) or None."""
        return fold_batch_rows(
            self.store,
            self.table,
            key="h",
            collapse=lambda rows: rows.groupBy("h")
            .agg(F.sum("n").cast("long").alias("n"))
            .select("h", F.lit(into_batch_id).alias("batch_id"), "n"),
            into_batch_id=into_batch_id,
        )
