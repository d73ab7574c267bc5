"""Product quantization for embedding search — the memory-compression
scale path of approximate nearest neighbor at 100 TB.

The similarity plans already give the recall paths (brute force, LSH
multiprobe, IVF coarse cells). PQ attacks the MEMORY wall instead: a
64-dim float32 vector is 256 bytes; its PQ code is ``m`` bytes (one
centroid id per subspace) — 32× smaller at ``m=8``, which is what lets a
billion-vector index fit a cluster's RAM (the FAISS IVF-PQ layout).

Spark shape, mirroring the BPE trainer's split:

1. **Deterministic bounded sample** → driver k-means per subspace
   (``train_pq``): vectors ordered by id, ``sample_limit`` collected;
   init = evenly spaced sample rows, fixed Lloyd iterations, empty
   clusters keep their previous centroid — training is a pure function
   of the sampled rows, no RNG anywhere.
2. **Distributed encode** (``encode_pq``): codebook broadcasts via the
   closure (m·k·d floats, a few KB); one Arrow ``mapInPandas`` argmins
   each subvector against its subspace centroids — zero shuffle, the
   codes table is the only output a deployment persists.
3. **ADC query** (``pq_topk``): per query ONE (m × k) distance table —
   ``approx_dist(code) = Σ_s table[s, code[s]]`` — broadcast to the
   codes scan; each partition computes its partial top-k in numpy and
   only ``n_queries × k`` candidate rows reach the final
   TakeOrdered-style reduction. Asymmetric distance (query stays
   un-quantized) — the standard estimator.

Accuracy is pytest-gated against the exact L2 ranking (recall@k floor +
monotone improvement with finer codebooks); no SQL oracle — a DuckDB
re-implementation of Lloyd's would test the oracle, not the operator.
Reference analog: none (training-data-pipeline extension).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _lloyd(xs: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic Lloyd's: init = evenly spaced sample rows (the
    sample is id-ordered, so this is a pure function of the sampled
    rows, no RNG), fixed iterations, empty clusters keep their previous
    centroid."""
    n = len(xs)
    c = xs[np.linspace(0, n - 1, k).round().astype(int)].copy()
    for _ in range(iters):
        d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                c[j] = xs[mask].mean(axis=0)
    return c


@dataclass(frozen=True)
class PQCodebook:
    """``centroids[s][c]`` = centroid ``c`` of subspace ``s`` (plain
    nested tuples so the codebook rides worker closures)."""

    m: int
    k: int
    dim: int
    centroids: tuple  # (m, k, dim//m) nested tuples of float

    def as_array(self) -> np.ndarray:
        return np.asarray(self.centroids, dtype=np.float64)


def train_pq(
    vecs: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_limit: int = 10_000,
    iters: int = 10,
) -> PQCodebook:
    """Train an (m × k) codebook from a deterministic bounded sample.

    The sample is the first ``sample_limit`` vectors in id order (a
    TakeOrdered, not a full sort) — deterministic across runs, engines
    and layouts, like every other sampling decision in this repo. At
    100 TB the sample is the training set by design: k-means needs
    thousands of points per centroid, not the corpus.
    """
    rows = (
        vecs.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_limit)
        .collect()
    )
    x = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    if n < k:
        raise ValueError(f"sample of {n} vectors cannot seed k={k} centroids")
    centroids = np.empty((m, k, sub), dtype=np.float64)
    for s in range(m):
        centroids[s] = _lloyd(x[:, s * sub : (s + 1) * sub], k, iters)
    return PQCodebook(
        m=m,
        k=k,
        dim=dim,
        centroids=tuple(tuple(tuple(v) for v in band) for band in centroids),
    )


CODES_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
)


def encode_pq(
    vecs: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes): each vector's m centroid ids — the persisted
    index payload (m ints vs dim floats). One Arrow pass, zero shuffle."""
    cb = codebook.centroids
    m, sub = codebook.m, codebook.dim // codebook.m

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = np.asarray(cb, dtype=np.float64)  # (m, k, sub)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * sub : (s + 1) * sub]
                d2 = ((xs[:, None, :] - c[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "codes": list(codes),
                }
            )

    return vecs.select(id_col, vec_col).mapInPandas(run, CODES_SCHEMA)


TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("vec_id", LongType()),
        StructField("approx_dist", DoubleType()),
    ]
)


def pq_topk(
    codes: DataFrame,
    codebook: PQCodebook,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
) -> DataFrame:
    """Approximate L2 top-k of each query against the codes table (ADC).

    ``queries`` is a bounded driver-side list (the serving path's batch of
    incoming queries, not a table — for table-vs-table joins use the LSH/
    IVF plans). Distance tables — (n_queries, m, k_centroids), a few KB —
    ride the closure; each partition emits only its ``k`` best rows PER
    QUERY, so the final exact reduction sees n_partitions × n_queries × k
    rows regardless of corpus size."""
    cb = codebook.centroids
    m, sub = codebook.m, codebook.dim // codebook.m
    q_ids = [int(q[0]) for q in queries]
    q_vecs = [list(map(float, q[1])) for q in queries]
    kk = k

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = np.asarray(cb, dtype=np.float64)  # (m, kc, sub)
        qv = np.asarray(q_vecs, dtype=np.float64)  # (nq, dim)
        # tables[qi, s, cj] = ||q_sub - centroid||² per subspace
        tables = np.stack(
            [
                ((qv[:, s * sub : (s + 1) * sub][:, None, :] - c[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                for s in range(m)
            ],
            axis=1,
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes_arr = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            ids = pdf["vec_id"].to_numpy()
            # (nq, n): sum subspace table lookups
            dist = tables[:, np.arange(m)[None, :], codes_arr[None, :, :]].sum(axis=-1)
            dist = dist.reshape(len(q_ids), len(ids))
            top = min(kk, len(ids))
            part = np.argpartition(dist, top - 1, axis=1)[:, :top]
            out_q, out_v, out_d = [], [], []
            for qi, qid in enumerate(q_ids):
                out_q.extend([qid] * top)
                out_v.extend(ids[part[qi]])
                out_d.extend(dist[qi, part[qi]])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "vec_id": pd.Series(out_v, dtype="int64"),
                    "approx_dist": pd.Series(out_d, dtype="float64"),
                }
            )

    partial = codes.select("vec_id", "codes").mapInPandas(run, TOPK_SCHEMA)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


@dataclass(frozen=True)
class IVFPQIndex:
    """Coarse cells + residual PQ — the FAISS IVF-PQ layout.

    ``cells[c]`` = coarse centroid c (whole-vector); ``pq`` quantizes
    RESIDUALS (v − cell(v)), which are much better conditioned than raw
    vectors (the cell removes the coarse location, PQ only spends bits on
    the local offset)."""

    cells: tuple  # (n_cells, dim)
    pq: PQCodebook

    def cells_array(self) -> np.ndarray:
        return np.asarray(self.cells, dtype=np.float64)


def train_ivf_pq(
    vecs: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_limit: int = 10_000,
    iters: int = 10,
) -> IVFPQIndex:
    """ONE deterministic sample trains both levels: coarse k-means over
    the full vectors, then per-subspace k-means over each sample
    vector's residual from its nearest cell."""
    rows = (
        vecs.select(id_col, vec_col).orderBy(id_col).limit(sample_limit).collect()
    )
    x = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n < max(k, n_cells):
        raise ValueError(f"sample of {n} vectors cannot seed {max(k, n_cells)} centroids")
    cells = _lloyd(x, n_cells, iters)
    assign = ((x[:, None, :] - cells[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    resid = x - cells[assign]
    sub = dim // m
    centroids = np.empty((m, k, sub), dtype=np.float64)
    for s in range(m):
        centroids[s] = _lloyd(resid[:, s * sub : (s + 1) * sub], k, iters)
    return IVFPQIndex(
        cells=tuple(tuple(v) for v in cells),
        pq=PQCodebook(
            m=m,
            k=k,
            dim=dim,
            centroids=tuple(tuple(tuple(v) for v in band) for band in centroids),
        ),
    )


def codebook_to_dict(index: IVFPQIndex) -> dict:
    """JSON-serializable form of an IVF-PQ codebook. Exact: CPython's
    json emits shortest-round-trip float reprs, so loading reproduces
    the training output bit-for-bit (the determinism tests rely on it)."""
    return {
        "cells": [list(c) for c in index.cells],
        "m": index.pq.m,
        "k": index.pq.k,
        "dim": index.pq.dim,
        "centroids": [[list(c) for c in band] for band in index.pq.centroids],
    }


def codebook_from_dict(rec: dict) -> IVFPQIndex:
    return IVFPQIndex(
        cells=tuple(tuple(v) for v in rec["cells"]),
        pq=PQCodebook(
            m=rec["m"],
            k=rec["k"],
            dim=rec["dim"],
            centroids=tuple(
                tuple(tuple(v) for v in band) for band in rec["centroids"]
            ),
        ),
    )


IVF_CODES_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cell", IntegerType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
)


def encode_ivf_pq(
    vecs: DataFrame,
    index: IVFPQIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, codes): nearest coarse cell + PQ codes of the
    residual. Persist partitioned/bucketed BY CELL so a query's nprobe
    scan prunes at the storage layer — the inverted-list analog."""
    cells = index.cells
    cb = index.pq.centroids
    m, sub = index.pq.m, index.pq.dim // index.pq.m

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cel = np.asarray(cells, dtype=np.float64)
        c = np.asarray(cb, dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            assign = ((x[:, None, :] - cel[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            resid = x - cel[assign]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                rs = resid[:, s * sub : (s + 1) * sub]
                codes[:, s] = (
                    ((rs[:, None, :] - c[s][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "cell": assign.astype("int32"),
                    "codes": list(codes),
                }
            )

    return vecs.select(id_col, vec_col).mapInPandas(run, IVF_CODES_SCHEMA)


def quantization_sq_err(
    vecs: DataFrame,
    index: IVFPQIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sq_err): each vector's squared ADC reconstruction error
    under ``index`` — ``||v - (cell_centroid + decode(encode(v)))||²``,
    computed directly as the per-subspace min distances the encoder
    would pick. The codebook-drift metric's kernel: on the training
    distribution this is the quantization error k-means minimized; as a
    mutating corpus drifts away from that distribution the error grows,
    and recall decays with it. Zero shuffle, one Arrow pass."""
    cells = index.cells
    cb = index.pq.centroids
    m, sub = index.pq.m, index.pq.dim // index.pq.m

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cel = np.asarray(cells, dtype=np.float64)
        c = np.asarray(cb, dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            assign = ((x[:, None, :] - cel[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            resid = x - cel[assign]
            err = np.zeros(len(pdf), dtype=np.float64)
            for s in range(m):
                rs = resid[:, s * sub : (s + 1) * sub]
                err += ((rs[:, None, :] - c[s][None, :, :]) ** 2).sum(axis=2).min(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].astype("int64"), "sq_err": err}
            )

    return vecs.select(id_col, vec_col).mapInPandas(
        run, "vec_id long, sq_err double"
    )


def probe_cells(
    index: IVFPQIndex, queries: list[tuple[int, list[float]]], nprobe: int
) -> np.ndarray:
    """``(n_queries, nprobe)`` — each query's ``nprobe`` nearest coarse
    cells (deterministic). Raises ``ValueError`` on an empty query list
    or a vector whose length is not the index's dimension."""
    if not queries:
        raise ValueError("queries must be non-empty")
    bad = [q[0] for q in queries if len(q[1]) != index.pq.dim]
    if bad:
        raise ValueError(
            f"query vectors {bad[:5]} do not have the index's dimension {index.pq.dim}"
        )
    cel = index.cells_array()
    qv = np.asarray([q[1] for q in queries], dtype=np.float64)
    d2 = ((qv[:, None, :] - cel[None, :, :]) ** 2).sum(axis=2)  # (nq, ncells)
    return np.argsort(d2, axis=1)[:, : min(nprobe, len(cel))]


def adc_topk(
    cells: np.ndarray,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    probe: np.ndarray,
    ids: np.ndarray,
    cell_of: np.ndarray,
    codes: np.ndarray,
    k: int,
) -> pd.DataFrame:
    """Residual-ADC top-k of the rows ``(ids, cell_of, codes)`` — THE
    scoring the ``mapInPandas`` partition step of ``ivf_pq_topk`` and the
    driver placement of ``PersistedIVFPQ.topk`` share. Each query scores
    only rows of its own probed cells (``probe``, from ``probe_cells``)
    against a per (query, cell) (m × k) table, because residual ADC is
    cell-relative: ``dist²(q, v) ≈ Σ_s ||(q − c_cell)_s − centroid(code_s)||²``.
    It keeps its ``k`` best by (approx_dist, vec_id), so ties break the
    way the final window does. ``cells`` is the (n_cells, dim) coarse
    array, ``centroids`` the (m, k, dim/m) PQ one; returns
    ``(query_id, vec_id, approx_dist)`` rows."""
    m, sub = centroids.shape[0], centroids.shape[2]
    out_q, out_v, out_d = [], [], []
    for qi, (qid, qvec) in enumerate(queries):
        mask = np.isin(cell_of, probe[qi])
        if not mask.any():
            continue
        sel_ids, sel_codes, sel_cells = ids[mask], codes[mask], cell_of[mask]
        dist = np.empty(len(sel_ids), dtype=np.float64)
        for cell in probe[qi]:
            cm = sel_cells == cell
            if cm.any():
                r = np.asarray(qvec, dtype=np.float64) - cells[cell]
                tab = np.stack(
                    [
                        ((r[s * sub : (s + 1) * sub][None, :] - centroids[s]) ** 2).sum(axis=1)
                        for s in range(m)
                    ]
                )
                dist[cm] = tab[np.arange(m)[None, :], sel_codes[cm]].sum(axis=1)
        top = min(k, len(sel_ids))
        kth = np.partition(dist, top - 1)[top - 1]
        cand = np.flatnonzero(dist <= kth)
        best = cand[np.lexsort((sel_ids[cand], dist[cand]))][:top]
        out_q.extend([int(qid)] * top)
        out_v.extend(sel_ids[best])
        out_d.extend(dist[best])
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="int64"),
            "vec_id": pd.Series(out_v, dtype="int64"),
            "approx_dist": pd.Series(out_d, dtype="float64"),
        }
    )


def ivf_pq_topk(
    codes: DataFrame,
    index: IVFPQIndex,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    probe: np.ndarray | None = None,
) -> DataFrame:
    """ADC top-k probing only each query's ``nprobe`` nearest cells
    (``probe``, when the caller already computed ``probe_cells``).

    The union of all queries' probe sets prunes the scan FIRST (a plain
    ``isin`` filter — partition-prunable when the codes table is laid
    out by cell); each partition keeps its ``adc_topk`` rows and a
    window per query keeps the ``k`` best by (approx_dist, vec_id)."""
    if probe is None:
        probe = probe_cells(index, queries, nprobe)
    cel, cb = index.cells_array(), index.pq.as_array()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            top = adc_topk(
                cel,
                cb,
                queries,
                probe,
                pdf["vec_id"].to_numpy(),
                pdf["cell"].to_numpy(),
                np.asarray(list(pdf["codes"]), dtype=np.int64),
                k,
            )
            if len(top):
                yield top

    from pyspark.sql.window import Window

    partial = (
        codes.select("vec_id", "cell", "codes")
        .where(F.col("cell").isin(np.unique(probe).tolist()))
        .mapInPandas(run, TOPK_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _codebook_sidefile(store, table: str) -> str:
    """The ONE formula for the codebook side-file path — shared by the
    instance writers and ``PersistedIVFPQ.load`` (re-inlining it in
    either place would silently desynchronize save from load)."""
    import os

    return os.path.join(store.root, table, "_codebook.json")


class PersistedIVFPQ:
    """The IVF-PQ index ON the bucketed store: codes live in a table
    BUCKETED BY CELL, so a query's ``nprobe`` scan reads only the probed
    cells' buckets (manifest pruning — the inverted-list file layout),
    and registration is the engine's idempotent OCC commit.

    Same contract as the other persisted indexes
    (``IncrementalEmbeddingIndex``): ``register`` is replay-idempotent
    (a vector's cell assignment is deterministic, so a replay probes the
    same buckets and registers nothing) and re-plans when an out-of-band
    ``engine.maintain()`` compaction lands mid-commit. The codebook is
    trained once (``train_ivf_pq``) and carried by the caller — retrain
    means rebuild, exactly like raising ``n_bands`` on the LSH index
    means a backfill.

    MUTATING-CORPUS maintenance (the postings-index pattern,
    ``operators/postings.py``): a FORWARD table (vec_id → cell, batch_id)
    BUCKETED BY VEC_ID makes delete/update bucket-pruned — a delete
    probes only the ids' own forward buckets, never the codes table at
    large. Every write is one window of
    ``incremental_dedup.apply_forward_window``, the routine the postings
    index shares: ``register`` is an insert-only window, ``unregister``
    a delete-only window, ``apply_changes`` consumes a corpus change-feed
    window with both halves, and the index's birth is a window against
    empty state. A vector's identity is its vec_id: an insert whose
    embedding CHANGED without its delete half in the same window fails
    loudly (cell moved → the forward view sees it; cell kept but code
    moved → the codes view sees it) instead of silently appending-or-
    skipping. An index whose forward table is missing while its codes
    hold rows outside the window (persisted before the forward table
    existed) raises naming ``rebuild()``, which rewrites both tables."""

    def __init__(
        self,
        store,
        index: IVFPQIndex,
        table: str = "_ivfpq_codes",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        forward_table: str = "_ivfpq_fwd",
    ):
        self.store = store
        self.index = index
        self.table = table
        self.vec_col = vec_col
        self.id_col = id_col
        self.forward_table = forward_table

    def register(self, vecs: DataFrame, batch_id: str = "_adhoc") -> None:
        """Durably add the batch's codes + forward rows: an insert-only
        window (``apply_forward_window``). Idempotent per vec_id for
        byte-identical vectors (deterministic encode → replays anti-probe
        into no-ops; a crash between the codes and forward commits heals
        on replay). A vec_id whose embedding CHANGED raises instead of
        corrupting the index — route updates through ``apply_changes``/
        ``unregister``. ``batch_id`` stamps the forward rows.

        The window that CREATES the index also PINS the codebook's
        baseline quantization error (``pin_codebook_baseline``) — the
        creation batch is the training-era distribution, the reference
        point ``measure_codebook_drift`` compares against forever after.
        An index persisted before the metric existed stays UNPINNED
        (pin explicitly from a representative corpus) — auto-pinning
        from whatever later window happens to arrive first would anchor
        the baseline at possibly-already-drifted error and mask exactly
        the decay the metric exists to catch. The codebook side file
        (``load``) does backfill on any window: it is the carried object
        itself, identical whichever window writes it."""
        self._apply(None, vecs, batch_id)

    @classmethod
    def load(
        cls,
        store,
        table: str = "_ivfpq_codes",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        forward_table: str = "_ivfpq_fwd",
    ) -> "PersistedIVFPQ":
        """Reconstruct a persisted index from its OWN durable codebook
        (``_codebook.json`` beside the codes, saved at first register /
        each rebuild) — a new process never has to carry or retrain the
        IVFPQIndex object. Raises on indexes persisted before codebook
        persistence existed: their next ``register`` backfills the file,
        or rebuild."""
        import json

        path = _codebook_sidefile(store, table)
        try:
            with open(path) as f:
                rec = json.load(f)
        except FileNotFoundError:
            raise RuntimeError(
                f"IVF-PQ index {table!r} has no persisted codebook ({path}) "
                "— it predates codebook persistence; register any batch "
                "with the carried index to backfill it, or rebuild"
            ) from None
        return cls(
            store,
            codebook_from_dict(rec),
            table=table,
            vec_col=vec_col,
            id_col=id_col,
            forward_table=forward_table,
        )

    def _codebook_path(self) -> str:
        return _codebook_sidefile(self.store, self.table)

    def _save_codebook(self) -> None:
        from stripe_sync_engine_spark.commitio import atomic_write_json

        atomic_write_json(self._codebook_path(), codebook_to_dict(self.index))

    def rebuild(self, corpus: DataFrame, batch_id: str = "_rebuild", **train_kwargs):
        """Retrain the codebook on the CURRENT corpus and re-encode
        everything — the sanctioned answer to ``measure_codebook_drift``
        recommending a rebuild ("retrain means rebuild", class
        docstring). Geometry defaults to the current index's
        (n_cells/m/k); ``train_kwargs`` override. Rewrites the codes and
        forward tables, persists the NEW codebook, re-pins the drift
        baseline, updates ``self.index``, and returns the new
        ``IVFPQIndex``.

        OFFLINE operation, by contract: quiesce maintenance on this
        index while it runs (the engine's single-writer rule — same as
        rebucket). It is RE-RUNNABLE, not atomic across its four
        commits: a crash mid-rebuild leaves codes/codebook inconsistent,
        which the sampled audit (``operators/index_audit``) flags on
        every sampled vector, and re-running the rebuild heals (training
        is deterministic, the table writes are full replaces). The
        codebook file commits LAST — it is the rebuild's commit point
        for ``load``. Cost is O(corpus): one bounded training collect +
        one zero-shuffle encode pass + two bucketed table writes."""
        geometry = dict(
            n_cells=len(self.index.cells),
            m=self.index.pq.m,
            k=self.index.pq.k,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        geometry.update(train_kwargs)
        new_index = train_ivf_pq(corpus, **geometry)
        rows = encode_ivf_pq(
            corpus, new_index, self.id_col, self.vec_col
        ).localCheckpoint(eager=True)
        self.store.write(self.table, rows, key="cell")
        self.store.write(
            self.forward_table,
            rows.select("vec_id", "cell", F.lit(batch_id).alias("batch_id")),
            key="vec_id",
        )
        self.index = new_index
        self.pin_codebook_baseline(corpus)
        self._save_codebook()
        return new_index

    # -- codebook drift -------------------------------------------------
    # apply_changes keeps the CODES current, but the codebook/centroids
    # stay trained on the corpus as of build time ("retrain means
    # rebuild", class docstring). Over a long-mutating corpus the
    # quantization error therefore grows SILENTLY and recall decays with
    # no metric watching it — these two methods are the metric. Rebuild
    # discipline: when the drift ratio exceeds REBUILD_RATIO (mean ADC
    # error at 2× its pinned baseline — squared-error doubling roughly
    # halves the effective bits per subspace), retrain + rebuild.

    REBUILD_RATIO = 2.0

    def _baseline_path(self) -> str:
        import os

        return os.path.join(self.store.root, self.table, "_codebook_baseline.json")

    def pin_codebook_baseline(self, vecs: DataFrame, sample: int = 256) -> dict | None:
        """Durably record the mean squared ADC error over a bounded
        deterministic sample of ``vecs`` — the codebook's health at pin
        time. Returns the pinned record (None for an empty batch: a
        delete-only window pins nothing)."""
        from stripe_sync_engine_spark.commitio import atomic_write_json

        mse, n = self._sampled_mse(vecs, sample)
        if not n:
            return None
        rec = {"mse": mse, "sample": n}
        atomic_write_json(self._baseline_path(), rec)
        return rec

    def _sampled_mse(self, frame, sample: int):
        """ONE measurement kernel for baseline AND current: deterministic
        hash-spread sample (projected to two columns before the
        TakeOrdered scan), mean squared ADC error. Baseline and drift
        measurements MUST be computed identically or the ratio-1.0
        stable-corpus invariant breaks — sharing the kernel makes that
        structural. Returns ``(mse | None, n)``."""
        from stripe_sync_engine_spark.operators.index_audit import _sample

        s = _sample(frame.select(self.id_col, self.vec_col), self.id_col, sample)
        row = quantization_sq_err(s, self.index, self.id_col, self.vec_col).agg(
            F.avg("sq_err").alias("mse"), F.count(F.lit(1)).alias("n")
        ).first()
        return (float(row["mse"]) if row["n"] else None, int(row["n"]))

    def measure_codebook_drift(
        self,
        corpus: DataFrame,
        sample: int = 256,
        rebuild_ratio: float | None = None,
    ) -> dict:
        """Mean squared ADC error over a bounded deterministic sample of
        ``corpus`` vs the pinned baseline. Returns
        ``{baseline_mse, current_mse, ratio, rebuild_recommended}``;
        a never-pinned index (built before the metric) reports
        ``baseline_mse=None`` and recommends nothing — pin explicitly
        via ``pin_codebook_baseline`` over a representative corpus.
        O(sample) encode over whatever frame is passed:
        ``maintain_corpus_indexes`` passes each window's post-image
        vectors (the incoming distribution, O(window) per poll); pass
        the corpus table for the corpus-wide number on an audit
        schedule."""
        import json
        import os

        rebuild_ratio = self.REBUILD_RATIO if rebuild_ratio is None else rebuild_ratio
        current, _n = self._sampled_mse(corpus, sample)
        try:
            with open(self._baseline_path()) as f:
                baseline = json.load(f)["mse"]
        except FileNotFoundError:
            baseline = None
        if baseline is None or current is None:
            return {
                "baseline_mse": baseline,
                "current_mse": current,
                "ratio": None,
                "rebuild_recommended": False,
            }
        # a degenerate zero-error baseline (corpus smaller than the
        # codebook) makes any nonzero current error infinite drift;
        # report the ratio against a floor instead of dividing by zero
        ratio = current / max(baseline, 1e-300)
        return {
            "baseline_mse": baseline,
            "current_mse": current,
            "ratio": ratio,
            "rebuild_recommended": ratio > rebuild_ratio,
        }

    def unregister(self, vec_ids: DataFrame) -> None:
        """Remove vectors from the index: a delete-only window,
        forward-table bucket-pruned (O(batch) probes, never a codes
        scan). Idempotent: a replay finds no forward rows and no-ops; a
        crash between the codes delete and the forward delete heals on
        replay (the forward rows are the replay's memory, so they go
        LAST). Raises on indexes built before the forward table existed
        — ``rebuild()`` to enable deletes."""
        self._apply(vec_ids, None, None)

    def apply_changes(self, feed: DataFrame, batch_id: str) -> None:
        """Maintain the index from one corpus change-feed window
        (``engine.changes`` / ``consume_changes`` output: id + embedding
        columns plus ``_change_type``): deletes and updates remove the
        old code (forward-table pruned), inserts and updates add the
        post-image embeddings — the CDC steady state where the vector
        index tracks a mutating corpus without rescans or rebuilds. The
        insert half's forward rows carry ``<batch_id>:ins``
        (``sub_batch_id``). Idempotent per ``batch_id``: a replay of a
        completed window tears nothing down (the update's new rows are
        kept via that id) and a crash at any point heals — the first
        window on an empty store included."""
        from stripe_sync_engine_spark.operators.incremental_dedup import (
            feed_id_halves,
            sub_batch_id,
        )

        old_ids, new_vecs = feed_id_halves(feed, self.id_col)
        self._apply(old_ids, new_vecs, sub_batch_id(batch_id, "ins"))

    def _apply(
        self, old_ids: DataFrame | None, new_vecs: DataFrame | None, ins_id: str | None
    ) -> None:
        import os

        if (
            new_vecs is not None
            and not self.store.exists(self.table)
            and not os.path.exists(self._baseline_path())
        ):
            # Pin BEFORE the creating write (the packer's pin-before-write
            # discipline): a crash between the codes commit and a
            # post-commit pin would replay with the table existing, the
            # creation branch unreachable, and the drift watchdog
            # permanently disarmed. Pinning first is crash-convergent —
            # a crash right after the pin replays into an existing-file
            # no-op here and the window completing below.
            self.pin_codebook_baseline(new_vecs)
        self._window(old_ids, new_vecs, ins_id)
        if self.store.exists(self.table) and not os.path.exists(
            self._codebook_path()
        ):
            self._save_codebook()

    def _window(
        self, old_ids: DataFrame | None, new_vecs: DataFrame | None, ins_id: str | None
    ) -> None:
        """``apply_forward_window`` (which has the commit order and the
        replay matrix) on codes bucketed by cell and forward rows
        (vec_id, cell, batch_id) bucketed by vec_id, both fresh on
        vec_id. A vector's identity is its vec_id, so an embedding change
        without its delete half in the window fails loudly: a moved cell
        is caught against the forward view, a moved code against the
        codes view. A birth with no vectors creates no tables (an empty
        codes table would skip the drift pin of the first real batch)."""
        from stripe_sync_engine_spark.operators.incremental_dedup import (
            apply_forward_window,
        )

        apply_forward_window(
            self.store,
            (self.table, "cell", ["vec_id"]),
            (self.forward_table, "vec_id", ["vec_id"]),
            lambda rows: (
                rows,
                rows.select("vec_id", "cell", F.lit(ins_id).cast("string").alias("batch_id")),
            ),
            None
            if new_vecs is None
            else encode_ivf_pq(new_vecs, self.index, self.id_col, self.vec_col),
            None if old_ids is None else old_ids.select(F.col(self.id_col).alias("vec_id")),
            ins_id,
            checks=(
                (
                    self.forward_table,
                    "cell",
                    "vec_ids {} are registered in a DIFFERENT cell — their embeddings "
                    "changed since registration. Re-registering would leave the stale "
                    "code queryable; route the update's pre-image through this "
                    "window's delete half (or unregister first).",
                ),
                (
                    self.table,
                    "codes",
                    "vec_ids {} are registered with DIFFERENT codes — their embeddings "
                    "changed since registration. Route the update through this "
                    "window's delete half (or unregister first).",
                ),
            ),
            remedy="rebuild() the index to enable deletes",
        )

    def topk(
        self, queries: list[tuple[int, list[float]]], k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """``(query_id, vec_id, approx_dist)`` — per query the ``k`` best
        by (approx_dist, vec_id), reading ONLY the probed cells' store
        buckets. The probe cells and their buckets are computed on the
        driver (``probe_cells``, ``buckets_of_values``: zero jobs), and
        the scoring (``adc_topk``) runs in one of two placements:

        * **driver** (zero Spark jobs), when ``store.driver_read``
          returns the probed buckets: the top-k comes back as an
          Arrow-built local frame;
        * **Spark**, where it declines: ``ivf_pq_topk`` over the pruned
          bucket scan — the scale path.

        Both return the same rows. Raises ``ValueError`` on an empty
        query list or a vector of the wrong dimension."""
        probe = probe_cells(self.index, queries, nprobe)
        store, table = self.store, self.table
        touched = store.buckets_of_values(np.unique(probe).tolist(), table=table)
        codes = store.driver_read(table, touched, columns=["vec_id", "cell", "codes"])
        if codes is None:
            return ivf_pq_topk(
                store.read_buckets(table, touched), self.index, queries, k=k, probe=probe
            )
        import pyarrow as pa
        import pyarrow.compute as pc

        top = adc_topk(
            self.index.cells_array(),
            self.index.pq.as_array(),
            queries,
            probe,
            codes["vec_id"].to_numpy(),
            codes["cell"].to_numpy(),
            pc.list_flatten(codes["codes"]).to_numpy().reshape(-1, self.index.pq.m),
            k,
        )
        return store.spark.createDataFrame(
            pa.Table.from_pandas(top, preserve_index=False), TOPK_SCHEMA
        )

    def topk_reranked(
        self,
        queries: list[tuple[int, list[float]]],
        vectors_table: str,
        k: int = 10,
        nprobe: int = 4,
        expand: int = 10,
        id_col: str | None = None,
        vec_col: str | None = None,
    ) -> DataFrame:
        """The full store-native serving path: ADC shortlist from the
        probed cells' code buckets (``k·expand`` over-fetch), then EXACT
        L2 over only the shortlist's full vectors read from
        ``vectors_table`` — a corpus table BUCKETED BY the id — so the
        refinement reads O(shortlist) vector buckets, never the vector
        corpus (the IVF-PQ+refine recipe with both halves manifest-
        pruned). ``id_col``/``vec_col`` default to this index's."""
        id_col = self.id_col if id_col is None else id_col
        vec_col = self.vec_col if vec_col is None else vec_col
        shortlist = self.topk(queries, k=k * expand, nprobe=nprobe).localCheckpoint(
            eager=True
        )
        store = self.store
        ids = shortlist.select(F.col("vec_id").alias(id_col)).distinct()
        touched = store.buckets_of(ids, key=id_col, table=vectors_table)
        vecs = store.read_buckets(vectors_table, touched)
        return rerank_shortlist(shortlist, vecs, queries, k, id_col, vec_col)


def pq_topk_rerank(
    codes: DataFrame,
    vecs: DataFrame,
    codebook: PQCodebook,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    expand: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist → EXACT re-rank: the standard IVF-PQ+refine recipe.

    ``pq_topk`` over-fetches ``k·expand`` candidates from the codes
    table (the compressed, RAM-resident side), then only the shortlist's
    full vectors are fetched — a broadcast semi-probe into the vector
    store, |shortlist| = n_queries·k·expand rows regardless of corpus
    size — and exact L2 decides the final ``k``. Quantization error then
    only costs recall when a true neighbor falls outside the whole
    shortlist (measured on the unstructured test corpus — PQ's hardest
    case: 0.40 ADC-only → 0.88 at expand=10 → 0.98 recall@10 at m=16,
    k=16, expand=10). Composes with the IVF layer the same way:
    ``rerank_shortlist(ivf_pq_topk(...), ...)``."""
    shortlist = pq_topk(codes, codebook, queries, k=k * expand)
    return rerank_shortlist(shortlist, vecs, queries, k, id_col, vec_col)


def rerank_shortlist(
    shortlist: DataFrame,
    vecs: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-L2 top-k refinement of any (query_id, vec_id) shortlist:
    only the shortlist's full vectors are fetched (broadcast semi-probe,
    |shortlist| rows regardless of corpus size)."""
    qdf = vecs.sparkSession.createDataFrame(
        [(int(q), list(map(float, v))) for q, v in queries],
        "query_id long, _qvec array<double>",
    )
    cand = (
        vecs.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
        .join(F.broadcast(shortlist.select("query_id", "vec_id")), "vec_id")
        .join(F.broadcast(qdf), "query_id")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.col("_qvec"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy("exact_dist", "vec_id")
    return (
        cand.select("query_id", "vec_id", d2.alias("exact_dist"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
