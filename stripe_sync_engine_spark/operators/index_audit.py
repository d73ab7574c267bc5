"""Sampled drift audit for the derived indexes — ``verify_export`` for
the retrieval/dedup layer.

The gates, the postings index, and the IVF-PQ index each maintain
replay-idempotent state through the change feed, but OUT-OF-BAND
mutations (a hand-deleted fingerprint, a takedown of a keeper whose
content survived elsewhere — the exact gate's documented non-refcounted
edge — a moved code row, a truncated stats table) leave no trace in any
ledger. This module detects them the way ``operators/export.py``'s
``verify_export`` detects shard corruption: recompute what the index
SHOULD hold for a bounded deterministic sample of the corpus and probe
the actual state tables, bucket-pruned, for exactly those rows.

Contract: the audit assumes MAINTAINED indexes — every corpus row was
registered (true for anything fed by ``maintain_corpus_indexes`` /
the streaming fan-out, and for curation flows when audited against the
survivor corpus the gates admitted). A clean audit therefore means "the
sample's derived rows are present and correct", and any drift row is a
real inconsistency to investigate, never noise.

At 100 TB: the sample is a top-k by hash (a TakeOrderedAndProject over
the corpus — no full sort; the orchestrator computes it ONCE per
distinct target id column), every probe reads only the sample's own
state buckets, and drift lists are capped at ``REPORT_LIMIT`` ids
driver-side (the engine's bounded-collect rule). Whole-corpus passes
are exactly the sample scan(s) plus one ``count()`` for the postings
stats check; the one whole-TABLE state read is the postings STATS
table — O(batches since last fold), tiny by construction.

Remedies, per target kind: the CONTENT-KEYED targets' remedies are
mechanical and ``repair_from_audit`` closes their loop — exact/near
gate drift → re-register the drifted docs (content-keyed, no global
state, replay-safe); embedding-index drift → delete the drifted ids'
index rows STORE-WIDE (any bucket — an out-of-band embedding change
can move a row's LSH bucket, and a recomputed-bucket delete would
leave the old-bucket ghost with its stale qv suppressing forever),
then re-register at the current buckets — the same end state
``apply_changes`` would have produced, paid for with one column-pruned
index scan bounded by the sampled drift ids (repair is exceptional;
that scan is the price of not routing the change through the feed).
The BATCH-STAT-KEYED targets stay rebuild-only and the
repairer REFUSES them loudly: postings drift → rebuild the index (a
targeted re-register would re-increment the batch-keyed N/avgdl stats
for rows partially present); IVF-PQ drift → ``PersistedIVFPQ.rebuild``
(also the answer when ``measure_codebook_drift`` recommends one).

Reference analog: none (the reference trusts Postgres constraints);
this is the training-data-pipeline extension's integrity tool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stripe_sync_engine_spark.operators.incremental_dedup import anti_probe

REPORT_LIMIT = 20


def _sample(corpus: DataFrame, id_col: str, k: int) -> DataFrame:
    """A deterministic hash-spread sample of ``k`` corpus rows: ordering
    by xxhash64(id) spreads the picks uniformly over the id space (the
    first k ids would all land in one bucket's key range), and the id
    tie-break pins the order. TakeOrderedAndProject — never a full sort."""
    return (
        corpus.orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .localCheckpoint(eager=True)
    )


def _known(store, table: str, probe: DataFrame, key: str) -> DataFrame | None:
    """Bucket-pruned read of ``table``: only the buckets ``probe``'s
    ``key`` values hash into. None when the table does not exist."""
    if not store.exists(table):
        return None
    return store.read_buckets(table, store.buckets_of(probe, key=key, table=table))


def _ids(df: DataFrame, col: str) -> list:
    """Bounded drift-id collection (REPORT_LIMIT, the engine's
    error-reporting cap) — sorted for stable reports."""
    return sorted(r[col] for r in df.select(col).distinct().limit(REPORT_LIMIT).collect())


def _report(table: str, kind: str, checked: int, drift: DataFrame, id_col: str) -> dict:
    n = drift.count()
    return {
        "table": table,
        "kind": kind,
        "checked": checked,
        "drift_count": n,
        "drift_ids": _ids(drift, id_col) if n else [],
        "ok": n == 0,
    }


def _missing_table(table: str, kind: str, checked: int) -> dict:
    return {
        "table": table,
        "kind": kind,
        "checked": checked,
        "drift_count": checked,
        "drift_ids": [],
        "ok": checked == 0,
        "missing_table": True,
    }


def _exact_gate_drift(gate, s: DataFrame) -> tuple[int, DataFrame | None]:
    """(checked, drift-rows-with-doc_id) for the exact gate's probe;
    drift None when the gate table does not exist. Shared by the audit
    (reports) and the repairer (re-registers) so the two can never
    disagree about what drift IS."""
    from stripe_sync_engine_spark.operators.incremental_dedup import FINGERPRINT_COL

    fps = gate._fingerprints(s).localCheckpoint(eager=True)
    checked = fps.count()
    known = _known(gate.store, gate.table, fps, FINGERPRINT_COL)
    if known is None:
        return checked, None
    # anti_probe, not a raw left_anti: the probe side is the tiny sample,
    # and the flipped build keeps the bucket scan map-side at any store
    # size (the gates' own discipline — incremental_dedup.anti_probe)
    return checked, anti_probe(fps, known, [FINGERPRINT_COL])


def _near_gate_drift(gate, s: DataFrame) -> tuple[int, DataFrame | None]:
    """(checked, drift-rows-with-doc_id) for the near gate's probe."""
    rows = gate._band_rows(s).select("doc_id", "band_key").localCheckpoint(eager=True)
    checked = s.count()
    known = _known(gate.store, gate.table, rows, "band_key")
    if known is None:
        return checked, None
    return checked, anti_probe(rows, known, ["doc_id", "band_key"])


def _embedding_drift(gate, s: DataFrame) -> tuple[int, DataFrame | None]:
    """(checked, drift-rows-with-vec_id) for the embedding index's
    probe — keyed on qv too, so a stale quantization IS drift."""
    rows = gate._bq(s).localCheckpoint(eager=True)
    checked = s.count()
    known = _known(gate.store, gate.table, rows, "bucket")
    if known is None:
        return checked, None
    return checked, anti_probe(rows, known, ["vec_id", "bucket", "qv"])


def audit_exact_gate(gate, corpus: DataFrame, sample: int = 64, _s: DataFrame | None = None) -> dict:
    """Every sampled doc's content fingerprint must be registered (under
    ANY registrant id — the gate keys suppression on content). A missing
    fingerprint is exactly the non-refcounted takedown edge: identical
    content survives in the corpus but future submissions would re-admit."""
    s = _s if _s is not None else _sample(corpus, gate.id_col, sample)
    checked, drift = _exact_gate_drift(gate, s)
    if drift is None:
        return _missing_table(gate.table, "exact_gate", checked)
    return _report(gate.table, "exact_gate", checked, drift, "doc_id")


def audit_near_gate(gate, corpus: DataFrame, sample: int = 64, _s: DataFrame | None = None) -> dict:
    """Every sampled doc must hold ALL the band rows its CURRENT text
    produces (register freshness is per (doc_id, band_key), so a
    maintained index converges to that set even across updates); a
    missing row is drift — the doc would stop gating on that band."""
    s = _s if _s is not None else _sample(corpus, gate.id_col, sample)
    checked, drift = _near_gate_drift(gate, s)
    if drift is None:
        return _missing_table(gate.table, "near_gate", checked)
    return _report(gate.table, "near_gate", checked, drift, "doc_id")


def audit_embedding_index(gate, corpus: DataFrame, sample: int = 64, _s: DataFrame | None = None) -> dict:
    """Every sampled vector must hold all its (band, bucket) rows with
    the quantization its CURRENT embedding produces — a stale qv row
    (embedding changed out-of-band) scores wrong cosines silently."""
    s = _s if _s is not None else _sample(corpus, gate.id_col, sample)
    checked, drift = _embedding_drift(gate, s)
    if drift is None:
        return _missing_table(gate.table, "embedding_index", checked)
    return _report(gate.table, "embedding_index", checked, drift, "vec_id")


def audit_postings(idx, corpus: DataFrame, sample: int = 64, _s: DataFrame | None = None, _corpus_rows: int | None = None) -> dict:
    """Three consistency surfaces: (1) every sampled doc's (term, doc)
    postings rows are present; (2) the forward table's term set and dl
    for the sample match a recount from the doc's current text (both
    directions — a stale extra term is drift too); (3) the GLOBAL stats
    row count N equals the corpus row count (the one whole-table check —
    the stats table is O(batches since fold), tiny; a drifted N skews
    every BM25 score, which is why it gets its own field)."""
    s = _s if _s is not None else _sample(corpus, idx.id_col, sample)
    base = idx._tokenized(s).localCheckpoint(eager=True)
    checked = base.count()
    # the ONE term-hash formula: reuse the index's own forward-row
    # derivation (repo shared-formula discipline — re-inlining it here
    # would silently desynchronize the auditor if tokenization/hashing
    # ever changes); the NULL-term sentinel rows (token-less docs) drop
    # out since they have no postings to check
    expected = (
        idx._forward_rows(base, "_audit")
        .where(F.col("term_h").isNotNull())
        .select("doc_id", "term_h")
        .localCheckpoint(eager=True)
    )

    known_post = _known(idx.store, idx.table, expected, "term_h")
    if known_post is None:
        rep = _missing_table(idx.table, "postings", checked)
    else:
        drift = anti_probe(expected, known_post, ["term_h", "doc_id"])
        rep = _report(idx.table, "postings", checked, drift, "doc_id")

    # forward-table recount: symmetric difference of (doc_id, term_h)
    # plus a dl mismatch probe — the forward rows are what unregister
    # trusts, so stale rows there corrupt future deletes
    ids = base.select("doc_id")
    fwd_known = _known(idx.store, idx.forward_table, ids, "doc_id")
    if fwd_known is None:
        rep["forward_ok"] = checked == 0
        rep["ok"] = rep["ok"] and rep["forward_ok"]
    else:
        actual = (
            fwd_known.join(F.broadcast(ids), "doc_id", "left_semi")
            .localCheckpoint(eager=True)
        )
        act_pairs = actual.where(F.col("term_h").isNotNull()).select("doc_id", "term_h")
        missing = expected.join(act_pairs, ["doc_id", "term_h"], "left_anti")
        stale = act_pairs.join(expected, ["doc_id", "term_h"], "left_anti")
        dl_bad = (
            actual.groupBy("doc_id")
            .agg(F.max("dl").alias("dl"))
            .join(base.select("doc_id", F.col("dl").alias("want_dl")), "doc_id")
            .where(~F.col("dl").eqNullSafe(F.col("want_dl")))
            .select("doc_id")
        )
        fwd_drift = (
            missing.select("doc_id")
            .unionByName(stale.select("doc_id"))
            .unionByName(dl_bad)
            .distinct()  # one drifted doc, however many surfaces disagree
        )
        n_fwd = fwd_drift.count()
        rep["forward_ok"] = n_fwd == 0
        if n_fwd:
            rep["forward_drift_ids"] = _ids(fwd_drift, "doc_id")
        rep["ok"] = rep["ok"] and rep["forward_ok"]

    # global stats vs corpus cardinality
    if idx.store.exists(idx.stats_table):
        stats_n = (
            idx.store.read(idx.stats_table)
            .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n"))
            .first()["n"]
        )
    else:
        stats_n = 0
    corpus_rows = corpus.count() if _corpus_rows is None else _corpus_rows
    rep["stats_n_docs"] = int(stats_n)
    rep["corpus_rows"] = int(corpus_rows)
    rep["stats_ok"] = int(stats_n) == int(corpus_rows)
    rep["ok"] = rep["ok"] and rep["stats_ok"]
    return rep


def audit_ivfpq(ann, corpus: DataFrame, sample: int = 64, _s: DataFrame | None = None) -> dict:
    """Every sampled vector re-encodes to (cell, codes) under the
    current codebook; the forward row must point at that cell and the
    codes table must hold that exact row — a moved code row (the
    injected-drift test case) or a forward row at the wrong cell makes
    unregister delete the wrong thing later."""
    from stripe_sync_engine_spark.operators.pq_index import encode_ivf_pq

    s = _s if _s is not None else _sample(corpus, ann.id_col, sample)
    enc = encode_ivf_pq(s, ann.index, ann.id_col, ann.vec_col).localCheckpoint(
        eager=True
    )
    checked = enc.count()
    fwd_known = _known(ann.store, ann.forward_table, enc, "vec_id")
    codes_known = _known(ann.store, ann.table, enc, "cell")
    if fwd_known is None or codes_known is None:
        # name what is ACTUALLY absent: codes missing means the index was
        # never built, forward-only missing means a pre-delete-support
        # index that needs the upgrade register / rebuild — two different
        # remediations, so the report must not conflate them
        missing = [
            t
            for t, known in ((ann.table, codes_known), (ann.forward_table, fwd_known))
            if known is None
        ]
        rep = _missing_table(" + ".join(missing), "ivfpq", checked)
        rep["missing_tables"] = missing
        return rep
    fwd_drift = anti_probe(
        enc.select("vec_id", "cell"), fwd_known, ["vec_id", "cell"]
    )
    code_drift = anti_probe(enc, codes_known, ["vec_id", "cell", "codes"])
    drift = (
        fwd_drift.select("vec_id")
        .unionByName(code_drift.select("vec_id"))
        .distinct()  # a vector drifted on BOTH surfaces is one drifted vector
    )
    return _report(ann.table, "ivfpq", checked, drift, "vec_id")


def audit_corpus_indexes(
    corpus: DataFrame,
    gates=(),
    postings=None,
    ann=None,
    sample: int = 64,
) -> dict:
    """Audit every fan-out target against ``corpus`` — the same target
    list ``maintain_corpus_indexes`` takes, so the cron loop can audit
    exactly what it maintains. Gates dispatch on their signature method
    (the exact gate fingerprints, the near gate bands, the embedding
    index buckets). The corpus is sampled ONCE per distinct target id
    column (and counted once for the postings stats check), however
    many targets share it — the orchestrator's corpus cost is a couple
    of scans, not one per target.
    Returns ``{"ok", "sample", "targets": [report...]}``.

    Every leg is READ-ONLY and the legs share nothing but the
    pre-materialized samples, so the per-target audits run CONCURRENTLY
    across driver threads (r16, guide §2.6 — the audit's cost is a chain
    of tiny fixed-latency probe jobs, so wall = max(target), not
    sum(target)); the report list keeps the caller's target order."""
    from concurrent.futures import ThreadPoolExecutor

    kinds = []
    for gate in gates:
        if hasattr(gate, "_fingerprints"):
            kinds.append((audit_exact_gate, gate))
        elif hasattr(gate, "_band_rows"):
            kinds.append((audit_near_gate, gate))
        elif hasattr(gate, "_bq"):
            kinds.append((audit_embedding_index, gate))
        else:
            raise TypeError(
                f"cannot audit gate {type(gate).__name__}: expected one of "
                "the engine's exact/near/embedding gates"
            )
    # one shared sample per distinct target id column (and one corpus
    # count for the postings stats check), materialized concurrently
    id_cols = [g.id_col for _, g in kinds]
    id_cols += [t.id_col for t in (postings, ann) if t is not None]
    uniq = list(dict.fromkeys(id_cols))
    samples: dict[str, DataFrame] = {}
    n_corpus: int | None = None
    if uniq:
        with ThreadPoolExecutor(max_workers=min(4, len(uniq) + 1)) as pool:
            futs = {c: pool.submit(_sample, corpus, c, sample) for c in uniq}
            f_n = pool.submit(corpus.count) if postings is not None else None
            samples = {c: f.result() for c, f in futs.items()}
            n_corpus = f_n.result() if f_n is not None else None

    tasks = [
        (lambda fn=fn, g=g: fn(g, corpus, sample, _s=samples[g.id_col]))
        for fn, g in kinds
    ]
    if postings is not None:
        tasks.append(
            lambda: audit_postings(
                postings, corpus, sample,
                _s=samples[postings.id_col], _corpus_rows=n_corpus,
            )
        )
    if ann is not None:
        tasks.append(lambda: audit_ivfpq(ann, corpus, sample, _s=samples[ann.id_col]))
    reports: list[dict] = []
    if tasks:
        with ThreadPoolExecutor(max_workers=min(4, len(tasks))) as pool:
            reports = list(pool.map(lambda t: t(), tasks))
    return {
        "op": "index_audit",
        "ok": all(r["ok"] for r in reports),
        "sample": sample,
        "targets": reports,
    }


#: rebuild pointers for the target kinds a sampled repair CANNOT fix
_REBUILD_ONLY = {
    "postings": (
        "postings drift is rebuild-only: a targeted re-register would "
        "re-increment the batch-keyed N/avgdl stats for rows partially "
        "present — drop the index state and re-register the full corpus"
    ),
    "ivfpq": (
        "IVF-PQ drift is rebuild-only: PersistedIVFPQ.rebuild() retrains, "
        "re-encodes, and re-pins the drift baseline"
    ),
}


def _delete_ids_store_wide(gate, ids: DataFrame) -> None:
    """Delete EVERY embedding-index row owned by ``ids`` (column
    ``vec_id``), at whatever bucket it lives — the repair-path takedown
    that also reaches old-bucket ghosts left by out-of-band embedding
    changes. One column-pruned scan of the index (bucket, vec_id)
    semi-joined to the broadcast drifted ids (sample-bounded) gives the
    explicit delete pairs of one delete-only window through the gate's
    own window routine, OCC-guarded like every gate mutation."""
    if gate.store.exists(gate.table):
        index = gate.store.read(gate.table)
        gate._window(dels=index.join(F.broadcast(ids), "vec_id", "left_semi"))


def repair_from_audit(
    report: dict,
    corpus: DataFrame,
    gates=(),
    postings=None,
    ann=None,
) -> dict:
    """Close the loop the audit opens, for the CONTENT-KEYED targets:
    given an ``audit_corpus_indexes`` report and the SAME target list,
    re-derive each failing gate's drifted rows (the report's
    ``drift_ids`` are a ``REPORT_LIMIT``-capped preview, so the repair
    recomputes the FULL drifted set with the audit's own probe — the
    sample is deterministic, so it is the same sample) and re-register
    exactly those corpus rows through the gate. Bucket-pruned end to
    end; replay-safe: a repair replayed against a clean index finds no
    drift and registers nothing (the gates' register idempotence makes
    even a crash mid-repair convergent). The embedding index
    unregisters-then-registers the drifted vectors so a STALE qv at an
    unchanged bucket (which register's (bucket, vec_id) freshness would
    skip) is replaced, not kept.

    Failing ``postings`` / ``ivfpq`` targets are REFUSED with the
    documented rebuild pointer (``_REBUILD_ONLY``) — their global
    batch-keyed stats make a sampled re-register corruption, not
    repair. A gate whose table is missing entirely is refused too: the
    index was never built, and registering only the audit sample would
    masquerade as coverage.

    Each repaired target is RE-AUDITED over the same sample before the
    result is returned, so ``ok=True`` means "verified clean now", not
    "writes issued". Returns ``{"op", "ok", "repaired": [...],
    "refused": [...]}``."""
    sample = int(report.get("sample", 64))
    by_table = {r["table"]: r for r in report.get("targets", [])}
    samples: dict[str, DataFrame] = {}

    def shared(id_col: str) -> DataFrame:
        if id_col not in samples:
            samples[id_col] = _sample(corpus, id_col, sample)
        return samples[id_col]

    repaired: list[dict] = []
    refused: list[dict] = []

    for gate in gates:
        rep = by_table.get(gate.table)
        if rep is None or rep["ok"]:
            continue
        if hasattr(gate, "_fingerprints"):
            kind, probe, id_name, audit = (
                "exact_gate", _exact_gate_drift, "doc_id", audit_exact_gate,
            )
        elif hasattr(gate, "_band_rows"):
            kind, probe, id_name, audit = (
                "near_gate", _near_gate_drift, "doc_id", audit_near_gate,
            )
        elif hasattr(gate, "_bq"):
            kind, probe, id_name, audit = (
                "embedding_index", _embedding_drift, "vec_id", audit_embedding_index,
            )
        else:
            raise TypeError(
                f"cannot repair gate {type(gate).__name__}: expected one of "
                "the engine's exact/near/embedding gates"
            )
        if rep.get("missing_table"):
            refused.append(
                {
                    "table": gate.table,
                    "kind": kind,
                    "reason": (
                        "index table missing — never built; registering only "
                        "the audit sample would masquerade as coverage. Build "
                        "it with register / maintain_corpus_indexes over the "
                        "full corpus"
                    ),
                }
            )
            continue
        s = shared(gate.id_col)
        _, drift = probe(gate, s)
        if drift is None:
            # the table existed when the report was taken but is gone
            # NOW (an operator dropped it for a rebuild, then ran repair
            # with the stale report) — refuse like the report-time
            # missing-table path, never crash
            refused.append(
                {
                    "table": gate.table,
                    "kind": kind,
                    "reason": (
                        "index table disappeared since the audit — a "
                        "sampled repair cannot rebuild it; register / "
                        "maintain_corpus_indexes over the full corpus"
                    ),
                }
            )
            continue
        ids = drift.select(id_name).distinct()
        docs = (
            s.join(F.broadcast(ids.withColumnRenamed(id_name, gate.id_col)),
                   gate.id_col, "left_semi")
            .localCheckpoint(eager=True)
        )
        n = docs.count()
        if n:
            if kind == "embedding_index":
                # replace, don't skip — and STORE-WIDE, not at recomputed
                # buckets: register's (bucket, vec_id) freshness would
                # no-op on a stale qv at an unchanged bucket, and an
                # out-of-band embedding change that also moved the LSH
                # bucket leaves a ghost at the OLD bucket that a
                # current-bucket unregister (and the presence-keyed
                # audit) can never see. One column-pruned index scan
                # semi-joined to the ≤sample drifted ids finds every row
                # those ids own, at whatever bucket; delete those, then
                # re-register the CURRENT quantization.
                _delete_ids_store_wide(gate, ids)
            gate.register(docs)
        post = audit(gate, corpus, sample, _s=s)
        repaired.append(
            {
                "table": gate.table,
                "kind": kind,
                "drifted_docs": n,
                "post_ok": post["ok"],
            }
        )

    # Sweep EVERY failing report target the loop above did not address —
    # including rebuild-only kinds whose object the caller did not pass,
    # and gate targets whose gate is absent from ``gates``. The report
    # already carries their table and kind; silently skipping them would
    # let ok=True read as "verified clean" over a known-failing index
    # (r11 advice). ``postings`` / ``ann`` are accepted for signature
    # symmetry with the audit but are never repairable here either way.
    del postings, ann
    addressed = {r["table"] for r in repaired} | {r["table"] for r in refused}
    for rep in report.get("targets", []):
        if rep["ok"] or rep["table"] in addressed:
            continue
        refused.append(
            {
                "table": rep["table"],
                "kind": rep["kind"],
                "reason": _REBUILD_ONLY.get(
                    rep["kind"],
                    "failing target's gate was not passed to "
                    "repair_from_audit — pass the gate object and re-run; "
                    "a repair that skips a known-failing target must not "
                    "read as clean",
                ),
            }
        )

    return {
        "op": "index_repair",
        "ok": not refused and all(r["post_ok"] for r in repaired),
        "repaired": repaired,
        "refused": refused,
    }
