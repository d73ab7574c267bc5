"""Persisted inverted index with incremental maintenance — BM25 retrieval
over a growing corpus without rescanning it per query.

``plans/textops.bm25_topk`` scans the corpus once per query: right for
ad-hoc questions, wrong for a retrieval endpoint. This is the lexical
sibling of the engine's other persisted indexes (exact fingerprints,
MinHash bands, embedding LSH, IVF-PQ codes): postings live in a store
table BUCKETED BY TERM HASH, so a query reads only the buckets its own
terms occupy — O(query terms ∩ buckets) IO per query, never O(corpus).

Scale note: a query's read set (its terms' buckets plus the stats
rows) is known on the driver before any row is read, so ``topk`` picks
its placement by size. When the probed buckets' files total at most
``spark.sql.autoBroadcastJoinThreshold`` — the size Spark already ships
to every task — pyarrow reads them and numpy scores them on the driver,
with ZERO Spark jobs; above it (or with the threshold at -1) the pruned
bucket scan runs as a Spark plan. The one-shot scan pays a full corpus
scan + tokenize per query either way; at 100 TB that is hours, while
both placements stay proportional to the query's buckets.

Tables:

* ``_postings`` (term_h, term, doc_id, tf, dl, batch_id), bucketed by
  ``term_h``. One row per (document, distinct term). Term TEXT rides
  along (hash-collision safety at the exact-filter step + debuggability);
  the 8-byte hash is the bucket key, so shuffle/bucket routing never
  touches strings.
* ``_postings_stats`` (batch_id, n_docs, n_dl_docs, total_dl), bucketed
  by batch_id. BM25's corpus-level N and avgdl as per-batch increments,
  summed at query time. One row per batch BETWEEN FOLDS — a long-lived
  deployment runs ``fold_stats`` once its replay horizon passes, which
  collapses history to one ``_folded`` row and durably refuses replays
  of the folded batch ids (``incremental_dedup.FoldLedger``). ``n_dl_docs`` counts docs with non-NULL text so
  avgdl = total_dl/n_dl_docs matches the one-shot scan's ``avg(dl)``
  exactly (count(*)/avg treat NULL text differently, and the parity
  contract mirrors that).

* ``_postings_docs`` (doc_id, term_h, dl, batch_id), bucketed by
  ``doc_id`` — the FORWARD index (r8): a document's term hashes and
  length, the structure that makes deletes bucket-pruned (without it,
  deleting a doc means scanning every postings bucket for its id).
  Token-less docs keep a NULL-term sentinel row so their stats
  contribution stays reversible.

Every write is one window of ``incremental_dedup.apply_forward_window``,
the routine IVF-PQ shares: a set of doc ids to delete and a batch of
documents to add, committed as one merged version per table in the
order stats (the side commit) → postings → forward. ``register`` is an
insert-only window, ``unregister`` a delete-only window,
``apply_changes`` (the CDC-driven path that keeps the index tracking a
mutating corpus without rescans) both, and the index's birth is a
window against empty state. Idempotence follows the span gate's
per-batch design (``operators/span_dedup``): postings anti-probe on
(term_h, doc_id) — a replayed batch, or a half-committed crash, commits
only what is missing; stats anti-probe on batch_id. Feed each document
ONCE per registration (the document stream's exact-dedup gate upstream
guarantees it); re-feeding the same doc under a new batch_id would
inflate stats while the postings dedupe. To CHANGE or REMOVE a
document, use ``unregister`` / ``apply_changes``.

Reference analog: none (training-data-pipeline extension; the ranking
math is ``plans/textops``' BM25, parity pytest-pinned against the
one-shot scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stripe_sync_engine_spark.operators.incremental_dedup import (
    FoldLedger,
    apply_forward_window,
    feed_id_halves,
    fold_batch_rows,
    sub_batch_id,
)
from stripe_sync_engine_spark.plans.textops import bm25_part, tokens_nonempty


class PersistedPostingsIndex:
    def __init__(
        self,
        store,
        table: str = "_postings",
        stats_table: str = "_postings_stats",
        id_col: str = "doc_id",
        text_col: str = "text",
        forward_table: str = "_postings_docs",
    ):
        self.store = store
        self.table = table
        self.stats_table = stats_table
        self.id_col = id_col
        self.text_col = text_col
        # Forward index (doc_id → its term hashes + dl), bucketed by
        # doc_id: the structure that makes DELETE/UPDATE bucket-pruned —
        # without it, removing a document means scanning every postings
        # bucket for its doc_id. One row per (doc, distinct term), plus a
        # NULL-term sentinel row for docs with no tokens so their n_docs
        # contribution remains reversible.
        self.forward_table = forward_table

    def _tokenized(self, batch: DataFrame) -> DataFrame:
        """``(doc_id, dl, _toks)`` — the ONE tokenization of a batch that
        registration's three derivations (postings rows, forward rows,
        stats increment) all share, so an expensive upstream lineage runs
        once, not three times. Caller localCheckpoints it."""
        toks = tokens_nonempty(self.text_col)
        return batch.select(
            F.col(self.id_col).alias("doc_id"),
            F.size(toks).cast("long").alias("dl"),
            toks.alias("_toks"),
        )

    def _rows(self, base: DataFrame, batch_id: str | None) -> DataFrame:
        return (
            base.select("doc_id", "dl", F.explode("_toks").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select(
                F.xxhash64("term").alias("term_h"),
                "term",
                "doc_id",
                "tf",
                "dl",
                F.lit(batch_id).cast("string").alias("batch_id"),
            )
        )

    def register(self, batch: DataFrame, batch_id: str) -> None:
        """Durably add the batch's postings + stats increment: an
        insert-only window (``apply_forward_window``). Idempotent per
        (term_h, doc_id) and per stats batch_id — replays and
        half-committed crashes heal. Raises if ``batch_id`` was already
        absorbed by ``fold_stats`` (the enforced replay horizon: a folded
        batch's stats row is gone, so the anti-probe would re-admit its
        increment and inflate N/avgdl silently)."""
        self._window(None, batch, None, batch_id)

    def fold_stats(self, into_batch_id: str = "_folded") -> dict | None:
        """Collapse the per-batch stats rows into ONE ``into_batch_id``
        row — ``_postings_stats`` otherwise grows a row per registered
        batch forever (reads are whole-table, so millions of micro-batches
        would eventually hurt). The postings rows themselves never need
        folding: they are keyed (term_h, doc_id), not per-batch.

        Horizon contract, enforced like the span gate's ``fold_history``:
        folded batch ids are committed to a durable ledger BEFORE the
        rewrite and ``register`` refuses them afterwards; a crash between
        ledger and fold is conservative (ids refused, rows still
        per-batch — query-time SUM is unchanged; re-running heals).
        Returns the fold-stats record (``fold_batch_rows``) or None."""
        return fold_batch_rows(
            self.store,
            self.stats_table,
            key="batch_id",
            collapse=lambda rows: rows.agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_dl_docs").cast("long").alias("n_dl_docs"),
                F.sum("total_dl").cast("long").alias("total_dl"),
            ).select(
                F.lit(into_batch_id).alias("batch_id"), "n_docs", "n_dl_docs", "total_dl"
            ),
            into_batch_id=into_batch_id,
        )

    def _forward_rows(self, base: DataFrame, batch_id: str | None) -> DataFrame:
        # explode_outer keeps token-less docs (empty or NULL text) as one
        # NULL-term sentinel row, so a delete can reverse their n_docs
        # (and, for empty-text, n_dl_docs) contribution.
        return base.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(F.transform("_toks", lambda t: F.xxhash64(t)))
            ).alias("term_h"),
            "dl",
            F.lit(batch_id).cast("string").alias("batch_id"),
        )

    def _commit_stats(
        self,
        base: DataFrame | None,
        targets: DataFrame | None,
        del_id: str | None,
        ins_id: str | None,
    ) -> None:
        """The window's side commit: idempotently append stats rows
        (anti-probed on batch_id) — the negative delta under ``del_id``
        from the forward ``targets`` the window deletes (they outlive
        this commit) and the increment under ``ins_id`` from the batch's
        tokenization ``base`` (so a replay of a partially committed
        window records the SAME totals); query-time SUM nets them out.
        NULL-text docs count in n_docs but not n_dl_docs/total_dl —
        exactly how the one-shot scan's count(*)/avg(dl) treat them. A
        row with ``n_docs == 0`` (an empty half of the window) carries
        nothing and is skipped: writing it would only grow the stats
        table and burn its batch id in the fold ledger.

        The rows are a HANDFUL by construction (one per sub-batch), so
        the ENTIRE commit runs driver-side (r16 — the window's cost is
        per-commit overhead, not compute):
        ONE Spark job collects the rows plus their bucket ids; the
        freshness probe reads the touched buckets' few rows with pyarrow,
        and the partial write lands via the store's driver-side
        tiny-commit path (``write_rows_buckets`` — same manifest swap,
        OCC precondition, and footer-stat harvest as a Spark write).
        This replaced a probe scan job + a write job per window (r15's
        form itself replaced the generic anti-probe machinery, ~1s of
        jobs to commit two 4-column rows). A missing stats table is
        created by a plain ``store.write``."""
        from functools import reduce

        import pyarrow as pa

        def delta(docs: DataFrame, sign: int, batch_id: str | None) -> DataFrame:
            return docs.agg(
                (sign * F.count(F.lit(1))).cast("long").alias("n_docs"),
                (sign * F.count("dl")).cast("long").alias("n_dl_docs"),
                (sign * F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("total_dl"),
            ).select(
                F.lit(batch_id).cast("string").alias("batch_id"),
                "n_docs",
                "n_dl_docs",
                "total_dl",
            )

        halves = []
        if targets is not None:
            per_doc = targets.groupBy("doc_id").agg(F.max("dl").alias("dl"))
            halves.append(delta(per_doc, -1, del_id))
        if base is not None:
            halves.append(delta(base, 1, ins_id))
        if not halves:
            return
        store = self.store
        inc = reduce(DataFrame.unionByName, halves).where(F.col("n_docs") != 0)
        manifest = store._read_manifest(self.stats_table)
        if manifest is None:
            store.write(self.stats_table, inc, key="batch_id")
            return
        nb = int(manifest["n_buckets"])
        rows = inc.withColumn("_b", store.bucket_expr("batch_id", nb)).collect()
        if not rows:
            return
        touched = sorted({int(r["_b"]) for r in rows})
        stored = {b: store.read_arrow(self.stats_table, [b], manifest) for b in touched}
        known_ids = {i for t in stored.values() for i in t.column("batch_id").to_pylist()}
        fresh = {}
        for r in rows:
            if r["batch_id"] not in known_ids:
                fresh.setdefault(int(r["_b"]), []).append(r.asDict())
        if not fresh:
            return
        store.write_rows_buckets(
            self.stats_table,
            {
                b: pa.concat_tables(
                    [stored[b], pa.Table.from_pylist(new, schema=stored[b].schema)]
                )
                for b, new in fresh.items()
            },
            planned_n_buckets=nb,
            planned_versions=dict(manifest["buckets"]),
        )

    def unregister(self, doc_ids: DataFrame, batch_id: str) -> None:
        """Remove documents from the index: a delete-only window,
        forward-index bucket-pruned (O(batch) probes, never a postings
        scan), with a NEGATIVE stats delta row so query-time N/avgdl net
        out. Idempotent per ``batch_id``; a crash anywhere replays to the
        same state (``apply_forward_window`` has the replay matrix). Raises
        on indexes built before the forward table existed — rebuild to
        enable deletes.

        Scale note: a doc's postings spread across its DISTINCT TERMS'
        buckets, so a delete's write set fans out wider than any other
        operation in this engine (a 100-doc window can touch thousands
        of term buckets), each rewritten whole — the touched-bucket
        write amplification every bucketed-store mutation here pays, at
        postings' fan-out. The costs amortize per WINDOW, not per doc
        (the union of a window's pairs rewrites each touched bucket
        once), so batch deletes through the change feed rather than
        issuing them one document at a time; the eager rewrite is what
        keeps ``topk`` free of any tombstone filtering."""
        self._window(doc_ids, None, batch_id, None)

    def apply_changes(self, feed: DataFrame, batch_id: str) -> None:
        """Maintain the index from one corpus change-feed window
        (``engine.changes`` / ``consume_changes`` output: table columns +
        ``_change_type``): deletes and updates remove the old postings
        (forward-index pruned), inserts and updates add the post-images
        — the CDC-driven steady state where the retrieval index tracks a
        mutating corpus without ever rescanning it. The delete half
        commits under ``<batch_id>:del`` and the insert half under
        ``<batch_id>:ins`` (``sub_batch_id`` — epoch-convention window
        ids stay epoch-convention in the fold ledger, so a long-lived CDC
        consumer's ledger stays O(consumers), not O(windows)). Idempotent
        per ``batch_id``: a replay of a completed window tears nothing
        down (the update's new rows carry the ins id) and a crash at any
        point heals — the first window on an empty store included.
        ``update_preimage`` rows (a pre-image feed) are ignored here —
        postings deletes are id-keyed via the forward table."""
        old_ids, new_docs = feed_id_halves(feed, self.id_col)
        self._window(
            old_ids, new_docs, sub_batch_id(batch_id, "del"), sub_batch_id(batch_id, "ins")
        )

    def _window(
        self,
        old_ids: DataFrame | None,
        new_docs: DataFrame | None,
        del_id: str | None,
        ins_id: str | None,
    ) -> None:
        """``apply_forward_window`` (which has the commit order and the
        replay matrix) on postings rows bucketed by term hash and forward
        rows bucketed by doc_id, both fresh on (term_h, doc_id). One
        tokenization feeds both derivations and the stats increment, so a
        batch's upstream lineage runs once; the stats commit is the side
        commit."""
        ledger = FoldLedger(self.store, self.stats_table)
        for b in (del_id, ins_id):
            if b is not None:
                ledger.check_replayable(b)
        apply_forward_window(
            self.store,
            (self.table, "term_h", ["term_h", "doc_id"]),
            (self.forward_table, "doc_id", ["doc_id", "term_h"]),
            lambda base: (self._rows(base, ins_id), self._forward_rows(base, ins_id)),
            None if new_docs is None else self._tokenized(new_docs),
            None if old_ids is None else old_ids.select(F.col(self.id_col).alias("doc_id")),
            ins_id,
            side=lambda base, targets: self._commit_stats(base, targets, del_id, ins_id),
            remedy="rebuild the index into fresh tables to enable deletes",
        )

    def topk(self, query_terms: list[str], k: int = 20) -> DataFrame:
        """``(doc_id, score)`` — BM25 top-k from the index, ordered by
        (score desc, doc_id asc): reads ONLY the buckets the query's term
        hashes land in, plus the (tiny) stats table. Empty when no query
        term is indexed.

        The read set is known before any row is read: the bucket probe
        runs driver-side (the terms are driver-known strings —
        ``buckets_of_values``), and N/avgdl come from a driver-side
        pyarrow read of the stats table's few rows. It then runs in one
        of two placements, picked by ``store.driver_read``:

        * **driver** (zero Spark jobs): pyarrow reads the probed
          buckets, numpy scores them, and the top-k comes back as an
          Arrow-built local frame;
        * **Spark**, where ``driver_read`` declines (buckets over the
          bound, or the threshold at -1): the pruned bucket scan,
          semi-joined to the query terms, scored and reduced by a
          TakeOrdered — the scale path.

        Both score with ``textops.bm25_part``; they agree to float
        rounding (JVM vs libm ``ln`` and summation order differ by ulps)."""
        if not query_terms:
            raise ValueError("query_terms must be non-empty")
        store, spark = self.store, self.store.spark
        if not store.exists(self.table) or not store.exists(self.stats_table):
            raise RuntimeError(
                f"postings index {self.table!r} is empty — register() at least "
                "one batch before querying"
            )
        terms = sorted(set(query_terms))
        probe = None
        # the table is bucketed by term_h (the signed xxhash64 of the
        # term), so the driver-side probe hashes twice: term → term_h,
        # then the store's bucket hash over term_h's decimal rendering
        from stripe_sync_engine_spark.functions import xxh64

        if xxh64.driver_hash_matches(spark):
            touched = store.buckets_of_values(
                [xxh64.spark_xxhash64_str(t) for t in terms], table=self.table
            )
        else:
            probe = self._term_probe(terms)
            touched = store.buckets_of(probe, key="term_h", table=self.table)
        sm = store._read_manifest(self.stats_table)
        stats = store.read_arrow(self.stats_table, [int(b) for b in sm["buckets"]], sm)
        n_docs, n_dl, total_dl = (
            sum(stats[c].to_pylist()) for c in ("n_docs", "n_dl_docs", "total_dl")
        )
        # same IEEE double division the Spark agg performed; an all-empty
        # corpus (n_dl == 0) has no postings rows, so avgdl is never read
        avgdl = (float(total_dl) / float(n_dl)) if n_dl else float("nan")
        hits = store.driver_read(self.table, touched, columns=["term", "doc_id", "tf", "dl"])
        if hits is not None:
            return self._topk_driver(hits, terms, n_docs, avgdl, k)
        if probe is None:
            probe = self._term_probe(terms)
        hits = store.read_buckets(self.table, touched).join(
            F.broadcast(probe), ["term_h", "term"], "left_semi"
        )
        dfreq = hits.groupBy("term").agg(
            F.count_distinct(F.col("doc_id")).cast("double").alias("df")
        )
        part = bm25_part(
            F.col("tf").cast("double"), F.col("dl"), F.col("df"), n_docs, avgdl, F.log
        )
        scored = (
            hits.join(F.broadcast(dfreq), "term")
            .groupBy("doc_id")
            .agg(F.sum(part).alias("score"))
        )
        return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def _term_probe(self, terms: list[str]) -> DataFrame:
        return self.store.spark.createDataFrame(
            [(t,) for t in terms], "term string"
        ).select(F.xxhash64("term").alias("term_h"), "term")

    def _topk_driver(self, hits, terms: list[str], n_docs: int, avgdl: float, k: int):
        """The driver placement of ``topk`` over the probed buckets' rows
        (a ``pa.Table``): the query terms' postings, sorted by (doc_id,
        term) so each document's parts sum in one fixed order whatever
        the file layout."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        rows = (
            hits.filter(pc.is_in(hits["term"], pa.array(terms)))
            .sort_by([("doc_id", "ascending"), ("term", "ascending")])
            .to_pandas()
        )
        df = rows.groupby("term")["doc_id"].transform("nunique").astype("float64")
        part = bm25_part(rows["tf"].astype("float64"), rows["dl"], df, n_docs, avgdl, np.log)
        scores = (
            part.groupby(rows["doc_id"], sort=False).sum().rename("score").reset_index()
            .sort_values(["score", "doc_id"], ascending=[False, True], kind="stable")
            .head(k)
        )
        out = pa.table(
            {
                "doc_id": pa.array(scores["doc_id"], hits.schema.field("doc_id").type),
                "score": pa.array(scores["score"], pa.float64()),
            }
        )
        return self.store.spark.createDataFrame(out)
