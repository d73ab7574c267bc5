"""Sequence packing over ARBITRARY per-doc token counts — the generic
core of ``plans/textops.txt_bpe_tokens``'s packing stage.

The registered query packs by the fixed ceil(len/4) subword ESTIMATE
(oracle-mirrored); production packs by the REAL counts a trained
tokenizer produces (``functions/bpe.encode_documents``). Same layout
either way: docs concatenate in id order within their md5 shard and cut
every ``budget`` tokens. Packing is per SHARD, not global — a global
cumulative sum is a single-partition window (the 100 TB anti-pattern),
while ``n_shards`` independent windows run in parallel and each shard's
packs are self-contained. The shard formula is the exporter's
(``operators/export._shard_col``), so a pack never straddles an export
shard file.

Parity with the registered query's packing columns is pytest-pinned
(``tests/test_operators.py`` asset-profile-style stage test in
``tests/test_bpe.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stripe_sync_engine_spark.operators.export import _shard_col


def epoch_position(epoch: int, id_col: str = "doc_id"):
    """Deterministic per-epoch shuffle key: xxhash64(epoch ⊕ id).

    Training epochs need a DIFFERENT but REPRODUCIBLE document order each
    pass — ``df.sample``/``orderBy(rand())`` reshuffle per run, per
    layout, per engine. A hash of (epoch, id) is a pure function of both:
    epoch 3 orders identically on every run of every cluster, and
    distinct epochs decorrelate. Compose with ``assign_packs(order_col=
    epoch_position(...))`` so each epoch re-packs in its own order."""
    return F.xxhash64(F.lit(int(epoch)).cast("long"), F.col(id_col))


def materialize_packs(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    order_col=None,
) -> DataFrame:
    """``(shard, pack_id, n_docs, n_tokens, tokens)`` — the ACTUAL
    concat-and-chunk training sequences: every doc's token array lands at
    its ``assign_packs`` position, docs straddling a pack boundary SPLIT
    across the packs they span, and each pack except a shard's last holds
    exactly ``budget`` tokens (pytest-pinned). The last mile from pack
    bookkeeping to dataloader tensors.

    All JVM-side: per doc, one HOF builds its ≤packs_spanned (pack, local
    slice) pieces; one explode + one groupBy(shard, pack_id) later, each
    pack's pieces sort by their global position (array_sort on the
    collected structs — tie-free since positions are distinct) and
    flatten. ONE exchange total (measured via executedPlan): the groupBy's
    ClusteredDistribution on (shard, pack_id) is satisfied by the window's
    hashpartitioning(shard) — shard alone determines the partition — so no
    second shuffle is planned. Pack rows are bounded by ``budget`` tokens
    each, so no group outgrows memory regardless of document length.
    Generic over the token element type (subword strings or ids)."""
    assigned = assign_packs(
        df.withColumn("_n", F.size(tokens_col).cast("long")),
        "_n",
        budget,
        n_shards,
        id_col,
        order_col,
    )
    start = F.col("pack_id") * budget + F.col("pack_offset")
    pieces = F.transform(
        F.sequence(F.lit(0), F.col("packs_spanned") - 1),
        lambda j: F.struct(
            (F.col("pack_id") + j).alias("pid"),
            F.greatest((F.col("pack_id") + j) * budget - start, F.lit(0).cast("long")).alias("lo"),
            F.least(F.col("_n"), (F.col("pack_id") + j + 1) * budget - start).alias("hi"),
        ),
    )
    piece_rows = (
        assigned.select(
            "shard",
            F.col(tokens_col).alias("_toks"),
            start.alias("_start"),
            F.explode(pieces).alias("p"),
        )
        .where(F.col("p.hi") > F.col("p.lo"))  # zero-count docs place, not pack
        .select(
            "shard",
            F.col("p.pid").alias("pack_id"),
            (F.col("_start") + F.col("p.lo")).cast("long").alias("_gpos"),
            F.slice("_toks", F.col("p.lo") + 1, F.col("p.hi") - F.col("p.lo")).alias("_piece"),
        )
    )
    return (
        piece_rows.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("_gpos").alias("o"), F.col("_piece").alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                )
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
        .select("shard", "pack_id", "n_docs", "n_tokens", "tokens")
    )


def assign_packs(
    df: DataFrame,
    count_col: str,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    order_col=None,
    _base: DataFrame | None = None,
) -> DataFrame:
    """``df`` + (shard, pack_id, pack_offset, packs_spanned).

    One shuffle total (the per-shard window's exchange); the cumulative
    sum never crosses shards, so parallelism is ``n_shards`` regardless
    of corpus size. Zero-count docs still occupy a position (they span 1
    pack at their offset), matching the registered query's
    ``greatest(n, 1)`` convention for boundary accounting.

    ``order_col``: optional Column (or name) ordering docs WITHIN their
    shard — default is id order (the registered query's layout); pass
    ``epoch_position(epoch)`` for a deterministic per-epoch shuffle. The
    id is always the tiebreak, so ordering stays total.

    ``_base``: internal (``IncrementalPacker``) — a tiny per-shard
    ``(shard, _base_tokens)`` frame, broadcast-joined so every position
    in this df continues where the shard's already-packed stream ended."""
    shard = _shard_col(id_col, n_shards)
    order = [id_col] if order_col is None else [order_col, id_col]
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(count_col).over(w), F.lit(0).cast("long"))
    if _base is not None:
        # incremental mode: each shard's stream continues where history
        # left off — the broadcast per-shard base shifts every position
        df = df.withColumn("shard", shard).join(
            F.broadcast(_base), "shard", "left"
        )
        shard = F.col("shard")
        start = start + F.coalesce(F.col("_base_tokens"), F.lit(0).cast("long"))
    out = (
        df.withColumn("shard", shard)
        .withColumn("pack_id", F.floor(start / budget).cast("long"))
        .withColumn("pack_offset", (start % budget).cast("long"))
        .withColumn(
            "packs_spanned",
            (
                F.floor((start + F.greatest(F.col(count_col), F.lit(1)) - 1) / budget)
                - F.floor(start / budget)
                + 1
            ).cast("long"),
        )
    )
    return out.drop("_base_tokens") if _base is not None else out


class IncrementalPacker:
    """Pack assignment for ARRIVING batches — the streaming-corpus shape
    of ``assign_packs``, in the same two-phase idempotent contract as the
    engine's other incremental gates (``operators/incremental_dedup``).

    A one-shot pack layout recomputes a global (per-shard) cumulative sum
    whenever the corpus grows — O(corpus) per refresh. Here each shard's
    token stream instead CONTINUES where it left off: state is one row
    per (shard, batch_id) with that batch's token/doc contribution,
    bucketed by shard in the store, so planning a batch reads only the
    shards the batch touches and the per-shard base is a tiny broadcast.
    Documents therefore pack in ARRIVAL order (batch sequence, id within
    batch-shard) — equivalent to a one-shot ``assign_packs`` over the
    concatenated corpus with the batch sequence as ``order_col``
    (pytest-pinned).

    Idempotence follows the span gate's per-batch design: ``assign_batch``
    EXCLUDES the batch's own batch_id from the base (a replay assigns the
    exact positions of the first delivery), and ``register`` anti-probes
    on (shard, batch_id) so replays and half-committed crashes heal.
    ``fold_progress`` collapses history to one row per shard under the
    same enforced ``FoldLedger`` replay horizon as the other folds.

    At 100 TB: per-batch work is O(batch) plus a read of the touched
    shards' state buckets; nothing global. The state table holds
    n_shards × batches-since-last-fold rows — tiny, and foldable.
    Reference analog: none (training-data-pipeline extension)."""

    def __init__(
        self,
        store,
        budget: int,
        n_shards: int = 8,
        table: str = "_pack_progress",
        id_col: str = "doc_id",
    ):
        if budget < 1:
            raise ValueError(f"budget must be >= 1, got {budget}")
        self.store = store
        self.budget = budget
        self.n_shards = n_shards
        self.table = table
        self.id_col = id_col

    def _params_path(self) -> str:
        import os

        return os.path.join(self.store.root, self.table, "_packer_params.json")

    def _check_params(self, write_if_missing: bool = False) -> None:
        """budget/n_shards are part of the PERSISTED layout: history rows
        assume them, so a packer reconstructed with different parameters
        would sum the wrong shard subsets and emit positions overlapping
        already-materialized packs — silently. Pin them in a side file
        BEFORE the first state-table write (a crash between pin and write
        leaves a pinned-but-empty layout, which is conservative: positions
        may already have been handed out via assign_batch, so a later
        packer with different parameters must fail loudly, and does) and
        fail loudly on mismatch ever after (the same discipline the store
        applies to rebuckets)."""
        import json

        from stripe_sync_engine_spark.commitio import atomic_write_json

        path = self._params_path()
        try:
            with open(path) as f:
                rec = json.load(f)
        except FileNotFoundError:
            if write_if_missing:
                atomic_write_json(
                    path, {"budget": self.budget, "n_shards": self.n_shards}
                )
            return
        if rec != {"budget": self.budget, "n_shards": self.n_shards}:
            raise RuntimeError(
                f"pack progress table {self.table!r} was built with "
                f"budget={rec['budget']} n_shards={rec['n_shards']}, but this "
                f"packer was constructed with budget={self.budget} "
                f"n_shards={self.n_shards}; continuing would corrupt the pack "
                "layout — reconstruct with the recorded parameters or start a "
                "new progress table"
            )

    def _batch_rows(self, batch: DataFrame, count_col: str, batch_id: str) -> DataFrame:
        return (
            batch.withColumn("shard", _shard_col(self.id_col, self.n_shards))
            .groupBy("shard")
            .agg(
                F.sum(count_col).cast("long").alias("n_tokens"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            )
            .select("shard", F.lit(batch_id).alias("batch_id"), "n_tokens", "n_docs")
        )

    def _base_for(self, batch: DataFrame, exclude_batch_id: str | None) -> DataFrame | None:
        store, table = self.store, self.table
        if not store.exists(table):
            return None
        shards = batch.select(
            _shard_col(self.id_col, self.n_shards).alias("shard")
        ).distinct()
        touched = store.buckets_of(shards, key="shard", table=table)
        known = store.read_buckets(table, touched)
        if exclude_batch_id is not None:
            known = known.where(F.col("batch_id") != exclude_batch_id)
        return (
            known.join(F.broadcast(shards), "shard", "left_semi")
            .groupBy("shard")
            .agg(F.sum("n_tokens").cast("long").alias("_base_tokens"))
        )

    def assign_batch(
        self, batch: DataFrame, count_col: str, batch_id: str
    ) -> DataFrame:
        """PURE: ``batch`` + (shard, pack_id, pack_offset, packs_spanned),
        positions continuing each shard's already-registered stream. No
        state is mutated — pair with ``register`` for durability. The
        batch's own ``batch_id`` is excluded from the base so a replay
        assigns the first delivery's exact positions. Raises if the batch
        was already absorbed by ``fold_progress`` (same enforced horizon
        as ``register``): past the fold the batch's own contribution is
        inside the collapsed base and cannot be excluded, so a replay
        would silently return SHIFTED positions."""
        from stripe_sync_engine_spark.operators.incremental_dedup import FoldLedger

        FoldLedger(self.store, self.table).check_replayable(batch_id)
        self._check_params()
        base = self._base_for(batch, exclude_batch_id=batch_id)
        return assign_packs(
            batch, count_col, self.budget, self.n_shards, self.id_col, _base=base
        )

    def register(self, batch: DataFrame, count_col: str, batch_id: str) -> None:
        """Durably record the batch's per-shard contribution under
        ``batch_id``. Idempotent per (shard, batch_id); raises if the
        batch was already folded (enforced replay horizon)."""
        from stripe_sync_engine_spark.operators.incremental_dedup import (
            FoldLedger,
            anti_probe,
            commit_window,
            with_occ_retry,
        )

        FoldLedger(self.store, self.table).check_replayable(batch_id)
        # Pin (or verify) the layout parameters BEFORE any state write:
        # the old pin-after-commit ordering had a crash window (state
        # written, params not yet pinned) in which a differently-configured
        # packer would silently pass the check and pin ITS parameters over
        # a table laid out with the originals.
        self._check_params(write_if_missing=True)

        def once() -> None:
            store, table = self.store, self.table
            rows = self._batch_rows(batch, count_col, batch_id).localCheckpoint(
                eager=True
            )
            if not store.exists(table):
                store.write(table, rows, key="shard")
                return
            manifest = store._read_manifest(table)
            touched = store.buckets_of(rows, key="shard", table=table)
            known = store._scan_manifest(table, manifest, touched)
            fresh = anti_probe(rows, known, ["shard", "batch_id"]).localCheckpoint(
                eager=True
            )
            commit_window(store, table, "shard", manifest, fresh)

        with_occ_retry(once)

    def pack_batch(self, batch: DataFrame, count_col: str, batch_id: str) -> DataFrame:
        """assign_batch + register in one call; returns the assigned
        batch, positions replay-stable per the class contract."""
        out = self.assign_batch(batch, count_col, batch_id).localCheckpoint(eager=True)
        self.register(batch, count_col, batch_id)
        return out

    def fold_progress(self, into_batch_id: str = "_folded") -> dict | None:
        """Collapse per-batch rows to one row per shard — same enforced
        horizon contract as the other folds (``FoldLedger``: folded ids
        commit BEFORE the rewrite and refuse replays afterwards; a crash
        in between is conservative and re-running heals). Returns the
        fold-stats record (``fold_batch_rows``) or None."""
        from stripe_sync_engine_spark.operators.incremental_dedup import fold_batch_rows

        return fold_batch_rows(
            self.store,
            self.table,
            key="shard",
            collapse=lambda rows: rows.groupBy("shard")
            .agg(
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.sum("n_docs").cast("long").alias("n_docs"),
            )
            .select("shard", F.lit(into_batch_id).alias("batch_id"), "n_tokens", "n_docs"),
            into_batch_id=into_batch_id,
        )
