"""Incremental embedding index: persisted LSH buckets of quantized
vectors — the per-batch counterpart of ``plans/similarity``'s one-shot
ANN/near-dup plans, completing the incremental-gate family
(``operators/incremental_dedup``: exact text, near text; here: near
embedding).

The store table holds (vec_id, bucket, qv) — the random-hyperplane LSH
bucket key and the floor(v·1e7) int64 quantization, computed by the
EXACT pipeline the corpus plans use (``plans/similarity.
buckets_and_quant_for``: measured numpy-in-Arrow assignment, bit-equal
arithmetic) — BUCKETED BY THE LSH BUCKET KEY. An arriving batch of
vectors probes only the store buckets its own keys hash into, joins on
the bucket key, and scores candidates with the exact quantized cosine
(int64 dot products — ``plans/similarity._idot`` semantics, norms
hoisted per side before the join). Same two-phase contract as the text
gates: pure ``neighbors``/``select_new``, idempotent OCC-guarded
``register``, ``filter_new`` composing both; self-matches (same vec_id)
never gate.

Recall is tunable with ``n_bands``: band 0 is the corpus plans' plane
set (a 1-band index reproduces ``dd_embed_cosine``'s candidate
semantics), and each added band is an independent hyperplane draw OR'd
into candidate generation — a near pair split by one band's planes is
recovered by another (tested), the standard LSH amplification. Index
rows grow linearly with bands; per-candidate scoring does not (pairs
dedup before the cosine). The index is ~bands × (8 + 8·64) bytes per
vector, a ~1%-per-band shadow of fp32 embeddings.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stripe_sync_engine_spark.operators.incremental_dedup import (
    apply_gate_window,
    feed_halves,
)


def band_planes(band: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes for one band. Band 0 IS the corpus
    plans' plane set (``plans/similarity.lsh_planes`` — parity pinned in
    tests); higher bands namespace the md5 seed, giving independent
    plane draws: each added band is an OR over a fresh partition of the
    sphere, the standard LSH recall amplification."""
    from stripe_sync_engine_spark.plans.similarity import N_DIMS, N_PLANES, lsh_planes

    if band == 0:
        return lsh_planes()
    return [
        [
            1 if int(hashlib.md5(f"b{band}/{p}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1
            for d in range(N_DIMS)
        ]
        for p in range(N_PLANES)
    ]


class IncrementalEmbeddingIndex:
    """LSH-bucketed near-duplicate gate for an ``array<float>`` column.

    ``n_bands`` > 1 amplifies recall: every band is an independent
    hyperplane set, a pair is a candidate if ANY band co-buckets it, and
    index size grows linearly with bands while per-candidate scoring
    cost does not (pairs are deduped before the cosine). Band 0 equals
    the corpus plans' planes, so a 1-band index reproduces
    ``dd_embed_cosine``'s candidate semantics exactly."""

    def __init__(
        self,
        store,
        table: str = "_embedding_index",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        threshold: float = 0.92,
        n_bands: int = 1,
    ):
        self.store = store
        self.table = table
        self.vec_col = vec_col
        self.id_col = id_col
        self.threshold = threshold
        self.n_bands = max(1, n_bands)
        self._format_checked = False

    def _ensure_band_format(self) -> None:
        """Fail LOUDLY on an index whose bucket keys predate the
        ``{band}|{bits}`` format (early builds stored raw bit strings):
        probing it with banded keys would silently never match — every
        already-indexed vector would re-register and near-dups would pass
        the gate. One ``limit(1)`` scan per instance."""
        if self._format_checked:
            return
        if self.store.exists(self.table):
            row = self.store.read(self.table).select("bucket").first()
            if row is not None and "|" not in row["bucket"]:
                raise RuntimeError(
                    f"{self.table!r} holds pre-band bucket keys (no '|'); rebuild the "
                    "index (drop the table and re-register the corpus) before probing"
                )
        self._format_checked = True

    def _bq(self, batch: DataFrame) -> DataFrame:
        """(vec_id, bucket, qv), one row per (vector, band); bucket is
        ``"{band}|{bits}"``. ONE Arrow pass computes every band: the
        (n, 64) @ (64, 8·bands) matmul is the same microseconds-per-batch
        shape as the corpus plans' single-band assignment (the measured
        numpy-over-HOF decision, plans/similarity._buckets_and_quant),
        and the quantization is bit-identical (float64, ×1e7, floor,
        int64). Worker closes over plain literals only."""
        from stripe_sync_engine_spark.plans.similarity import QUANT

        all_planes = [band_planes(b) for b in range(self.n_bands)]
        quant = QUANT
        id_col, vec_col = self.id_col, self.vec_col

        def assign(batches):
            import numpy as np
            import pandas as pd

            stacked = np.array(
                [row for planes in all_planes for row in planes], dtype=np.int64
            )  # (bands*8, 64)
            n_planes = len(all_planes[0])
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                q = np.floor(v * quant).astype(np.int64)
                signs = q @ stacked.T > 0  # (n, bands*8)
                ids, buckets, qvs = [], [], []
                for i, vid in enumerate(pdf[id_col].values):
                    for b in range(len(all_planes)):
                        bits = "".join(
                            "1" if s else "0"
                            for s in signs[i, b * n_planes : (b + 1) * n_planes]
                        )
                        ids.append(vid)
                        buckets.append(f"{b}|{bits}")
                        qvs.append(q[i])
                yield pd.DataFrame({"vec_id": ids, "bucket": buckets, "qv": qvs})

        return batch.select(self.id_col, self.vec_col).mapInPandas(
            assign, schema="vec_id long, bucket string, qv array<long>"
        )

    def neighbors(self, batch: DataFrame, _rows: DataFrame | None = None) -> DataFrame:
        """(vec_id, seen_vec_id, cosine) — indexed vectors sharing the
        batch vectors' LSH buckets, scored with the exact quantized
        cosine. Bucket-pruned: only the batch's own bucket keys' store
        buckets are read. Self-pairs excluded. ``_rows``: precomputed
        ``_bq(batch)`` so ``filter_new`` shares one Arrow assignment pass
        between select and register."""
        from stripe_sync_engine_spark.plans.similarity import _idot

        self._ensure_band_format()
        rows = _rows if _rows is not None else self._bq(batch)
        store, table = self.store, self.table
        if not store.exists(table):
            return rows.select(
                F.col("vec_id"),
                F.col("vec_id").alias("seen_vec_id"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        touched = store.buckets_of(rows, key="bucket", table=table)
        index = store.read_buckets(table, touched)
        # hoist norms per SIDE before the join (the similarity module's
        # rule: |pairs| >> |rows|, never recompute per pair)
        left = rows.select(
            "bucket",
            F.col("vec_id"),
            F.col("qv").alias("qa"),
            F.sqrt(_idot(F.col("qv"), F.col("qv")).cast("double")).alias("na"),
        )
        right = index.select(
            "bucket",
            F.col("vec_id").alias("seen_vec_id"),
            F.col("qv").alias("qb"),
            F.sqrt(_idot(F.col("qv"), F.col("qv")).cast("double")).alias("nb"),
        )
        return (
            # batch rows are the broadcastable side; the index scan stays
            # map-side at any store size
            F.broadcast(left)
            .join(right, "bucket")
            .where(F.col("vec_id") != F.col("seen_vec_id"))
            .select(
                "vec_id",
                "seen_vec_id",
                (_idot(F.col("qa"), F.col("qb")).cast("double") / (F.col("na") * F.col("nb"))).alias(
                    "cosine"
                ),
            )
            # a pair co-bucketed by several bands scores identically in
            # each; collapse to one row per pair
            .groupBy("vec_id", "seen_vec_id")
            .agg(F.max("cosine").alias("cosine"))
        )

    def select_new(self, batch: DataFrame, _rows: DataFrame | None = None) -> DataFrame:
        """PURE: batch rows with no indexed neighbor at ``threshold``
        cosine (original schema). No state is mutated."""
        dup_ids = (
            self.neighbors(batch, _rows)
            .where(F.col("cosine") >= self.threshold)
            .select("vec_id")
            .distinct()
            .withColumnRenamed("vec_id", self.id_col)
        )
        # ≤|batch| behind a join+agg: hint the broadcast (see text gates)
        return batch.join(F.broadcast(dup_ids), self.id_col, "left_anti")

    def _window(self, ins=None, dels=None) -> None:
        """``apply_gate_window`` on ``_bq`` rows, deleted and fresh on
        (bucket, vec_id); a pre-band index fails loudly first."""
        self._ensure_band_format()
        keys = ["bucket", "vec_id"]
        apply_gate_window(self.store, self.table, "bucket", keys, keys, ins, dels)

    def register(self, batch: DataFrame, _rows: DataFrame | None = None) -> None:
        """Durably index ``batch``'s vectors — an insert-only window,
        idempotent (already-indexed (bucket, vec_id) rows register
        nothing); one OCC-guarded partial commit. Freshness is per
        (BUCKET, vec_id) — strictly finer than per vec_id — which buys
        two properties at once: after raising ``n_bands``,
        re-registering an already-indexed vector writes exactly its
        missing higher-band rows (the recall upgrade back-fills
        incrementally instead of silently applying only to vectors
        registered after the switch); and an UPDATED embedding's
        new-bucket rows commit instead of being skipped by an id-only
        probe — the old rows stay as ghosts (the corpus DID contain that
        embedding; same keep-seen pin as the text gates'
        ``apply_changes``), except the same-bucket coincidence (changed
        vector, unchanged bits) where the stale qv row survives — rare
        and conservative. Out-of-band writers (``engine.maintain()``
        compacting the index) re-plan via ``with_occ_retry``, same as
        the text gates. ``_rows``: precomputed ``_bq(batch)``
        (re-derivable without reading store files — materialized, or a
        pure projection over materialized frames; a retry re-reads)."""
        self._window(ins=_rows if _rows is not None else self._bq(batch))

    def unregister(self, vecs: DataFrame) -> None:
        """Remove ``vecs``' index rows — a delete-only window, the
        embedding gate's takedown path (mirrors
        ``IncrementalNearDeduper.unregister``): a vector deleted from the
        corpus must stop suppressing future near-identical embeddings.
        ``vecs`` carries the PRE-IMAGE embeddings AS REGISTERED (a change
        feed's delete rows); bucket keys are recomputed from them, so
        deletion reads only the ids' own LSH buckets — O(batch), never an
        index scan. Matched on (bucket, vec_id), idempotent,
        OCC-guarded."""
        self._window(dels=self._bq(vecs))

    def apply_changes(self, feed: DataFrame) -> None:
        """The text gates' ``apply_changes`` contract
        (``IncrementalDeduper.apply_changes``), on ``_bq`` rows: one
        window, one commit. With pre-images an update leaves NO ghost
        rows (the keep-seen note on ``register`` applies to the default
        feed only)."""
        dels, ins = feed_halves(feed)
        self._window(self._bq(ins), self._bq(dels))

    def filter_new(self, batch: DataFrame) -> DataFrame:
        """select_new + register in one call — sharing ONE bucket-
        assignment materialization between the phases (the text gates'
        filter_new pattern)."""
        self._ensure_band_format()
        rows = self._bq(batch).localCheckpoint(eager=True)
        survivors = self.select_new(batch, _rows=rows).localCheckpoint(eager=True)
        surv_ids = survivors.select(F.col(self.id_col).alias("vec_id"))
        # LAZY (r16): both parents are checkpointed, so this projection is
        # re-derivable without reading any store file — register's OCC
        # retry re-evaluates it safely, and the eager materialization was
        # one whole extra driver-waited job per batch (see the near gate).
        surv_rows = rows.join(F.broadcast(surv_ids), "vec_id", "left_semi")
        self.register(survivors, _rows=surv_rows)
        return survivors
