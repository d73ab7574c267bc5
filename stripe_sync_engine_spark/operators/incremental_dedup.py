"""Incremental corpus dedup: new batches against persisted gate state —
the 100 TB shape of dedup.

``plans/dedup.py`` runs GLOBAL dedup over a static corpus (the driver-
gated dd_* family). A production training-data pipeline doesn't re-run a
global pass per arriving batch: it keeps gate state and asks, per batch,
"which of these documents has the corpus never seen?" Two gates, both on
the bucketed store:

* **Exact** (``IncrementalDeduper``): md5 content fingerprints (the
  ``dd_exact`` formula, JVM-side) in a table BUCKETED BY FINGERPRINT —
  a batch's membership probe prunes to the buckets its own hashes touch,
  O(batch ∩ buckets) IO per batch, never O(corpus), exactly like the
  engine's CDC merges. The probe is a broadcast-friendly left-anti join
  over only those buckets.
* **Near** (``IncrementalNearDeduper``): a MinHash-LSH band index —
  one row per (document, band) holding the band key + the full
  12-component signature, BUCKETED BY BAND KEY. Batch signatures come
  from the exact column pipeline the corpus plans use
  (``plans/dedup.minhash_sigs_for``); candidates join on (band,
  band_key) and Jaccard is ESTIMATED as the fraction of agreeing
  signature components (the standard MinHash estimator — corpus text is
  not stored, its ~96-byte sketch is).

Both gates are TWO-PHASE so callers control crash ordering:

* ``select_new(batch)`` is PURE — survivors in the batch's original
  schema, no state mutated;
* ``register(docs)`` durably records fingerprints / band rows,
  idempotently (already-recorded content registers nothing) and
  OCC-guarded (an out-of-band commit racing it re-plans; concurrent
  registrars serialize externally);
* ``filter_new(batch)`` = select_new then register(survivors) — the
  one-call form when the caller's sink is the registration itself.

The streaming pipeline (``streaming/documents.py``) orders sink-merge
BETWEEN select and register, so an at-least-once replay after any crash
converges: unregistered survivors pass the gate again and the keyed sink
merge drops them; registered ones never re-pass.

Every gate mutation — ``register``, the takedown ``unregister`` and the
change-feed ``apply_changes``, for these two gates and for
``operators/embedding_index`` — is ONE window routine,
``apply_gate_window``: an insert half, a delete half, or both, applied
in one OCC body against one manifest with at most one commit into only
the buckets that gain or lose rows. A change window therefore commits
each gate table once, and no crash can land between its halves. The
BM25 postings and IVF-PQ indexes, whose deletes go through a forward
table, share its two-table sibling, ``apply_forward_window``.

Intra-batch semantics: the exact gate collapses within-batch duplicates
to the min-id row (``dd_exact``'s convention); the near gate admits
intra-batch near-dups TOGETHER by design (batch-internal pairs are the
one-shot ``dd_minhash_lsh_pairs``'s job; once registered, the next batch
is gated against all of them) — production pipelines stage exact-gate →
near-gate → periodic offline re-cluster. Docs too short to shingle
(< SHINGLE_W words) have no bands and bypass the near gate by contract.

At 100 TB: the fingerprint table is 16-byte hashes + ids and the band
index ~4 rows × ~130 bytes per document — together a <0.2% shadow of the
corpus, bucketed into thousands of buckets; each arriving batch touches
only its own hash-prefix buckets. Reference analog: none (the reference
has no dedup layer); this is the training-data-pipeline extension the
engine exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FINGERPRINT_COL = "fingerprint"

# FoldLedger: free-form batch ids (no ``:<int>`` epoch suffix) are kept
# VERBATIM in the ledger — the O(runs) compaction only applies to the
# run:epoch convention — so a manual caller minting unique free-form ids
# per batch grows the ledger file linearly forever. Warn once the list
# passes this size; the fix is adopting the epoch convention.
FREEFORM_IDS_WARN = 10_000


def ensure_local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` unless ``df`` IS already a bare
    checkpoint (its analyzed plan is a single ``LogicalRDD`` scan — no
    operators on top), in which case return it unchanged.

    Why (r15, measured): every fan-out target defensively checkpoints the
    change window it receives, but ``engine._apply_change_window``
    checkpoints the window ONCE before fanning it out — so a 3-target
    poll re-materialized the identical RDD three more times (~0.3–1s per
    re-checkpoint of a window at sf0.1; at scale each is a full extra
    pass over the window). The plan-root check is exact and conservative:
    anything other than a lone LogicalRDD (a filter, a projection, a real
    lineage) checkpoints as before, so standalone callers keep the
    defensive materialization."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getSimpleName() == "LogicalRDD":
            return df
    except Exception:
        pass  # any introspection hiccup: fall through to the safe path
    return df.localCheckpoint(eager=True)


def run_parallel(*thunks):
    """Run zero-arg callables concurrently on driver threads, returning
    their results in argument order (first raised exception propagates).

    ONE implementation of the overlap-independent-jobs blocks (guide
    §2.6): the forward-indexed window routine (``apply_forward_window``,
    the only write path of the postings and IVF-PQ indexes' ``register``,
    ``unregister`` and ``apply_changes``), ``checkpoint_parallel``, and
    the engine's CDC fan-out (``engine._apply_change_window`` runs each
    target's ``apply_changes`` as one thunk). Every thunk is awaited —
    the pool joins all of them before the first failure, in argument
    order, propagates. Worker count is CAPPED at 8: under PySpark's
    pinned thread mode (default since 3.2) each fresh Python thread maps
    to its own JVM thread, so an unbounded per-call pool in a long-lived
    streaming driver churns JVM threads for no scheduling benefit — the
    overlapped jobs are few and short. Thunks must be INDEPENDENT (no
    thunk may wait on another's result). A thunk may open its own
    ``run_parallel`` (a fan-out target's window does): every call owns
    a fresh pool, so nesting never waits on a worker of the outer
    pool."""
    if len(thunks) <= 1:
        return tuple(t() for t in thunks)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(thunks), 8)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return tuple(f.result() for f in futures)


def checkpoint_parallel(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """``localCheckpoint(eager=True)`` several INDEPENDENT frames
    concurrently, returned in argument order.

    Why (r15, guide §2.6 — overlap independent jobs): a derived index's
    window materializes frames whose lineages do not depend on each
    other (the tokenized or encoded new rows and the delete-id set), but
    a sequential ``df.localCheckpoint()`` chain makes the driver wait out
    each job's fixed scheduler latency one at a time. Submitting them
    from a thread pool lets one job's tasks back-fill the others' idle
    scheduler time — wall per phase becomes ~max(job), not sum. Spark's
    scheduler supports concurrent driver-thread submission (the engine
    already relies on this in ``_run_handler_chains`` and
    ``_apply_change_window``); checkpoints are pure materializations
    with no commit-order semantics, so overlap is semantically
    invisible. Callers must only group frames with NO mutual lineage
    dependency (a frame derived from another's checkpoint belongs in a
    later phase). A None argument comes back as None."""
    return run_parallel(
        *[lambda d=d: None if d is None else d.localCheckpoint(eager=True) for d in dfs]
    )


def anti_probe(
    batch: DataFrame, indexed: DataFrame, keys: list[str], null_safe: bool = False
) -> DataFrame:
    """Rows of ``batch`` whose keys are absent from ``indexed``, with the
    indexed side never shuffled OR broadcast. ``null_safe`` matches NULL
    keys as equal (``<=>``), so a NULL-keyed row is found on replay.

    A plain ``batch.join(indexed, keys, "left_anti")`` can only build its
    hash table from ``indexed`` (the anti's right side) — fine while a
    batch's touched buckets fit the broadcast threshold, but past it the
    plan collapses to a sort-merge that shuffles the whole bucket-pruned
    store scan PER BATCH. Flipping the probe keeps both joins broadcast
    at any store size: scan ``indexed`` once map-side against the
    broadcast batch keys (left-semi, build right), then anti-join the
    ≤|batch| matches back into ``batch``. The gates' contract is that
    batches are micro-batch sized (bulk loads belong to the one-shot
    corpus plans), so both broadcasts are bounded by the batch."""

    def on(a: DataFrame, b: DataFrame):
        return [a[k].eqNullSafe(b[k]) for k in keys] if null_safe else keys

    probe = F.broadcast(batch.select(*keys).distinct())
    seen = indexed.join(probe, on(indexed, probe), "left_semi").select(*keys).distinct()
    return batch.join(F.broadcast(seen), on(batch, seen), "left_anti")


def with_occ_retry(body, attempts: int = 3):
    """Run a re-plannable read-modify-write ``body`` (a zero-arg callable
    that re-reads the manifest itself), re-planning on an OCC abort.

    The gates' registers and the document sink merge are idempotent and
    plan against the manifest they read, so losing an optimistic-
    concurrency race to an out-of-band writer — ``engine.maintain()``
    compacting a gate table is the expected one — is not an error, just a
    stale plan: re-running the body re-reads the manifest and converges.
    Without this, a cron ``maintain()`` landing between a live stream's
    plan and its commit would kill the streaming query. Deterministic
    conflicts (e.g. an actual lost-update bug) still surface: retries are
    bounded and the final failure propagates."""
    for i in range(attempts):
        try:
            return body()
        except RuntimeError as e:
            msg = str(e)
            if i == attempts - 1 or not (
                "concurrent commit" in msg or "rebucketed" in msg
            ):
                raise


def _keys_of(key: str, a: DataFrame | None, b: DataFrame | None) -> DataFrame:
    """The ``key`` column of ``a`` and ``b`` (either may be None), unioned."""
    if a is None or b is None:
        return (a if b is None else b).select(key)
    return a.select(key).unionByName(b.select(key))


def commit_window(
    store,
    table: str,
    key: str,
    manifest: dict,
    fresh: DataFrame | None,
    pairs: DataFrame | None = None,
    match: list[str] | None = None,
    hit: DataFrame | None = None,
) -> None:
    """The commit step of a gate window: rewrite ONLY the buckets that
    gain rows (``fresh``, materialized) or lose them (``hit``: the rows
    the delete ``pairs`` match on ``match``) as the ``manifest`` scan
    minus ``pairs`` plus ``fresh``; no bucket changing means no commit.
    The probe touches every bucket the window hashes into, but replays
    leave most of those unchanged, and rewriting them is wasted IO. OCC
    over the write set alone is sufficient: a key's verdict can only be
    invalidated by a commit to that key's OWN bucket, which is in the
    write set whenever the key is written. Single-table registrars (span
    gate, packer, contamination gate, document sink) pass ``fresh``
    alone."""
    write_set = store.buckets_of(_keys_of(key, fresh, hit), key=key, table=table)
    if not write_set:
        return
    # `rows` feeds the write directly, UNCHECKPOINTED: the commit
    # consumes the lineage exactly once while the old version files it
    # reads still exist, and an OCC retry re-derives everything from a
    # fresh manifest
    rows = store._scan_manifest(table, manifest, write_set)
    if pairs is not None:
        rows = rows.join(F.broadcast(pairs), match, "left_anti")
    if fresh is not None:
        rows = rows.unionByName(fresh)
    store.write_buckets(
        table, rows, write_set, key=key, planned_versions=dict(manifest["buckets"])
    )


def apply_gate_window(
    store,
    table: str,
    key: str,
    match: list[str],
    fresh_keys: list[str],
    ins: DataFrame | None = None,
    dels: DataFrame | None = None,
    digest=None,
    reduce=None,
) -> DataFrame | None:
    """ONE window routine for the content gates (exact, near, embedding):
    ``register`` is an insert-only window, ``unregister`` a delete-only
    one, ``apply_changes`` both — one OCC body against one manifest, at
    most one commit. A gate supplies its derived new rows ``ins``
    (re-derivable without reading store files: a retry re-evaluates
    them) and delete rows ``dels``, its bucket ``key``, delete-``match``
    keys and ``fresh_keys``, plus an optional ``digest`` adding a
    freshness column to both sides (the near gate's ``_sig_key``) and an
    optional ``reduce`` of the fresh rows (the exact gate's min id).

    Probe the buckets the delete pairs and new rows hash into; the scan
    minus the pairs is the post-delete view; the new rows anti-probe
    against it; ``commit_window`` rewrites only the buckets that gain or
    lose rows, so a replay commits nothing. An in-window content swap
    (doc A deletes 'x' while doc B inserts it) lands 'x' under B, and no
    crash can land between the halves. A missing table has nothing to
    delete: ``store.write`` births it from the (reduced) new rows, if
    any. Returns the materialized fresh rows (None for a delete-only
    window)."""
    pairs = None
    if dels is not None:
        pairs = dels.select(*match).distinct().localCheckpoint(eager=True)

    def body() -> DataFrame | None:
        if not store.exists(table):
            if ins is None:
                return None
            fresh = (reduce(ins) if reduce else ins).localCheckpoint(eager=True)
            if not fresh.isEmpty():
                store.write(table, fresh, key=key)
            return fresh
        manifest = store._read_manifest(table)
        touched = store.buckets_of(_keys_of(key, pairs, ins), key=key, table=table)
        view = scan = store._scan_manifest(table, manifest, touched)
        hit = fresh = None
        if pairs is not None:
            view = scan.join(F.broadcast(pairs), match, "left_anti")
            hit = scan.join(F.broadcast(pairs), match, "left_semi")
        if ins is not None:
            tag = digest or (lambda df: df)
            fresh = anti_probe(tag(ins), tag(view), fresh_keys).select(*ins.columns)
            # materialize BEFORE the commit: the lineage reads the
            # pre-commit bucket files, which the commit's vacuum deletes
            # (retain=0) — later re-evaluation would scan vanished paths
            fresh = (reduce(fresh) if reduce else fresh).localCheckpoint(eager=True)
        commit_window(store, table, key, manifest, fresh, pairs, match, hit)
        return fresh

    return with_occ_retry(body)


def feed_halves(feed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(pre-images to delete, post-images to insert) of one change-feed
    window (``read_changes`` output): delete and ``update_preimage`` rows
    retire their content, insert/update post-images register. The
    checkpoint is idempotent: a feed the engine's fan-out already
    materialized is not re-materialized (``ensure_local_checkpoint``)."""
    changed = ensure_local_checkpoint(feed)
    kind = F.col("_change_type")
    return (
        changed.where(kind.isin("delete", "update_preimage")).drop("_change_type"),
        changed.where(kind.isin("insert", "update")).drop("_change_type"),
    )


def feed_id_halves(feed: DataFrame, id_col: str) -> tuple[DataFrame, DataFrame]:
    """``feed_halves`` for an index that deletes by id through its
    forward table (postings, IVF-PQ): (``id_col`` of the delete and
    update rows, post-images to insert). ``update_preimage`` rows are
    ignored — the forward table already knows what an id registered."""
    changed = ensure_local_checkpoint(feed)
    kind = F.col("_change_type")
    return (
        changed.where(kind.isin("delete", "update")).select(id_col),
        changed.where(kind.isin("insert", "update")).drop("_change_type"),
    )


def apply_forward_window(
    store,
    primary: tuple[str, str, list[str]],
    forward: tuple[str, str, list[str]],
    derive,
    ins: DataFrame | None,
    dels: DataFrame | None,
    ins_id: str | None,
    *,
    remedy: str,
    checks: tuple[tuple[str, str, str], ...] = (),
    side=None,
) -> None:
    """ONE window routine for the forward-indexed derived indexes (BM25
    postings, IVF-PQ): ``register`` is an insert-only window,
    ``unregister`` a delete-only one, ``apply_changes`` both, and the
    index's birth is a window against empty state. The missing half of a
    one-sided window is None.

    An index passes its inputs as data plus one derivation:
    ``primary``/``forward`` are ``(table, bucket key, freshness keys)``;
    the forward table's bucket key is the document id, and its rows
    carry ``batch_id`` plus the primary bucket key they were written
    under, so (bucket key, id) are the primary's delete pairs. ``ins`` is
    the new half's first derivation (a tokenization, an encoding), whose
    ``derive(base)`` gives the (primary rows, forward rows) of its
    checkpoint ``base``; ``dels`` holds the ids to delete; ``ins_id`` is
    the insert half's batch id. ``checks`` are ``(table, column,
    message)``: a kept row of that table whose ``column`` differs from
    the new row for its id raises ``message.format(ids)`` — an identity
    change smuggled in without its delete half. ``side(base, targets)``
    is an optional side commit that lands first (postings' stats).

    Steps, once under ``with_occ_retry``: read both manifests; derive
    the new rows while the forward bucket probe (the window's ids) runs;
    take the delete ``targets`` from that forward view, sparing rows
    already under ``ins_id`` (a crash replay of an update must not tear
    down the version it landed); then prepare the primary and forward
    rewrites concurrently with the side commit. Each rewrite is ONE job
    that scans its write-set buckets (buckets losing ∪ buckets gaining
    rows), drops the window's delete pairs, runs the checks, anti-probes
    the new rows against that post-delete view (NULL-safely: postings'
    token-less sentinel rows have a NULL term hash) and writes a private
    version dir (``prepare_buckets``). Commits stay strictly sequential —
    side, primary, then forward LAST, because the forward rows are the
    replay's memory. Every probe runs against the view AFTER the
    window's deletes, so an update lands exactly as unregister-then-
    register would. Rewrite lineages stay uncheckpointed: each write
    consumes its lineage once while the old version files still exist
    (``commit_window`` has the rationale); the write sets are the probed
    buckets, so a replay's wasted IO is bounded by the window's own
    fan-out.

    Birth: a missing table reads as empty and is created by a full
    ``store.write`` at its place in the commit order; a birth with
    nothing to add creates nothing. A primary table WITHOUT its forward
    table is the replay of a birth that crashed between the two when
    every primary row belongs to this window; otherwise the index
    predates its forward table and the window raises naming ``remedy``.

    Replay matrix (crash after any prefix of the commits, then
    re-apply; a crash before the first commit is a plain retry).
    Postings (stats → postings → forward): [stats] dec recomputed from
    the still-present forward rows and skipped by the batch_id
    anti-probe, inc likewise; postings and forward proceed (at birth:
    are created). [stats, postings] targets still non-empty, so the
    postings rewrite re-lands byte-identically (delete hits nothing,
    freshness re-admits nothing); forward proceeds (at birth: the
    birth-replay check passes and forward is created). [all] targets is
    empty (old rows gone, the update's rows carry the kept ins id), every
    freshness probe is empty, both rewrites degrade to no-op rewrites of
    the touched buckets. IVF-PQ (codes → forward): [codes] same targets,
    the codes rewrite re-lands byte-identically, forward proceeds (at
    birth: as postings). [both] as postings' [all], and the checks
    compare equal cells/codes."""
    table, key, fresh_p = primary
    ftable, fkey, fresh_f = forward
    base, ids = checkpoint_parallel(ins, None if dels is None else dels.distinct())
    new_rows, new_fwd = (None, None) if base is None else derive(base)
    spared = F.col("batch_id").eqNullSafe(F.lit(ins_id).cast("string"))

    def prepare(name, bkey, manifest, view, new, fresh, write_set):
        for t, col, message in checks:
            if t == name and new is not None:
                bad = view.join(
                    F.broadcast(new.select(fkey, F.col(col).alias("_new"))), fkey
                ).where(F.col(col) != F.col("_new"))
                if not bad.isEmpty():
                    raise RuntimeError(
                        message.format([r[fkey] for r in bad.select(fkey).limit(5).collect()])
                    )
        if new is not None:
            view = view.unionByName(anti_probe(new, view, fresh, null_safe=True))
        prep = store.prepare_buckets(name, view, write_set, key=bkey)
        return lambda: store.commit_prepared(prep, planned_versions=dict(manifest["buckets"]))

    def body() -> None:
        fm, pm = store._read_manifest(ftable), store._read_manifest(table)
        rows, probe = run_parallel(
            lambda: None if new_rows is None else ensure_local_checkpoint(new_rows),
            lambda: []
            if fm is None
            else store.buckets_of(_keys_of(fkey, ids, base), key=fkey, table=ftable),
        )
        known = targets = pairs = None
        if fm is None:
            if pm is not None:
                stray = store.read(table).select(key, fkey)
                if rows is not None:
                    stray = stray.join(rows.select(key, fkey), [key, fkey], "left_anti")
                if not stray.isEmpty():
                    raise RuntimeError(
                        f"{table!r} has no forward table ({ftable!r}) and holds rows "
                        f"outside this window — it predates delete support; {remedy}"
                    )
            elif base is None or base.isEmpty():
                return  # birth with nothing to add: create no tables
        else:
            known = store._scan_manifest(ftable, fm, probe)
            if ids is not None:
                hit = known.join(F.broadcast(ids), fkey, "left_semi").where(~spared)
                hit = hit.localCheckpoint(eager=True)
                targets = None if hit.isEmpty() else hit
        if targets is not None:
            marked = F.broadcast(ids.withColumn("_del", F.lit(True)))
            known = (
                known.join(marked, fkey, "left")
                .where(F.col("_del").isNull() | spared)
                .drop("_del")
            )
            pairs = targets.where(F.col(key).isNotNull()).select(key, fkey).distinct()

        def prep_primary():
            if pm is None:
                return None if rows is None else (lambda: store.write(table, rows, key=key))
            if rows is None and pairs is None:
                return None
            write_set = store.buckets_of(_keys_of(key, rows, pairs), key=key, table=table)
            if not write_set:
                return None
            view = store._scan_manifest(table, pm, write_set)
            if pairs is not None:
                view = view.join(F.broadcast(pairs), [key, fkey], "left_anti")
            return prepare(table, key, pm, view, rows, fresh_p, write_set)

        def prep_forward():
            if fm is None:
                return None if new_fwd is None else (lambda: store.write(ftable, new_fwd, key=fkey))
            if not probe or (new_fwd is None and targets is None):
                return None
            return prepare(ftable, fkey, fm, known, new_fwd, fresh_f, probe)

        _, commit_p, commit_f = run_parallel(
            lambda: None if side is None else side(base, targets), prep_primary, prep_forward
        )
        for commit in (commit_p, commit_f):
            if commit is not None:
                commit()

    with_occ_retry(body)


class FoldLedger:
    """Durable registry of batch ids already folded into history — the
    ENFORCED replay horizon for the foldable gate tables (span-dedup gram
    counts, postings stats). ``fold_history`` commits the folded ids here
    BEFORE rewriting the table, and ``register`` refuses ids the ledger
    contains: a batch replayed after its per-batch rows were absorbed
    into the ``_folded`` row would otherwise re-register and double-count
    silently. A crash between the ledger commit and the fold is
    conservative — the ids are refused for replay but their rows are
    still per-batch (queries sum correctly); re-running the fold heals.

    Id convention (ENFORCED, not just descriptive): any id of the form
    ``<prefix>:<int>`` is treated as a run + epoch, and epochs MUST be
    assigned monotonically per prefix — folding epoch N commits a per-run
    horizon that refuses EVERY epoch <= N of that prefix, including ones
    never registered (that is what keeps the ledger O(runs) instead of
    O(batches); the streaming scheme ``<run_id>:<spark_batch_id>``
    satisfies monotonicity by construction). A manual caller who wants
    out-of-order ids must avoid the ``:<int>`` suffix — such free-form
    ids are kept verbatim and refused individually. One JSON file beside
    the table, atomic replace, single-writer (folds serialize with their
    table's maintenance, per the gates' external-serialization contract).
    """

    def __init__(self, store, table: str):
        import os

        self._path = os.path.join(store.root, table, "_folded_batches.json")

    @staticmethod
    def _split(batch_id: str) -> tuple[str, int] | None:
        run, sep, epoch = batch_id.rpartition(":")
        if sep and epoch.isdigit():
            return run, int(epoch)
        return None

    def _load(self) -> dict:
        import json

        try:
            with open(self._path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"runs": {}, "ids": []}

    def contains(self, batch_id: str) -> bool:
        led = self._load()
        parts = self._split(batch_id)
        if parts is not None:
            run, epoch = parts
            horizon = led["runs"].get(run)
            if horizon is not None and epoch <= horizon:
                return True
        return batch_id in led["ids"]

    def check_replayable(self, batch_id: str) -> None:
        """Raise if ``batch_id`` lies behind the fold horizon."""
        if self.contains(batch_id):
            raise RuntimeError(
                f"batch id {batch_id!r} was already folded into history "
                f"({self._path}); re-registering it would double-count. "
                "Replays are only valid within the fold horizon — drain "
                "consumers past a batch before folding it. Note ids of "
                "the form <prefix>:<int> are monotone epochs per prefix: "
                "folding epoch N refuses every epoch <= N of that prefix, "
                "so new batches must use higher epochs (or a different "
                "prefix)."
            )

    def add_all(self, batch_ids) -> None:
        from stripe_sync_engine_spark.commitio import atomic_write_json

        led = self._load()
        ids = set(led["ids"])
        for b in batch_ids:
            parts = self._split(b)
            if parts is not None:
                run, epoch = parts
                led["runs"][run] = max(epoch, led["runs"].get(run, -1))
            else:
                ids.add(b)
        led["ids"] = sorted(ids)
        if len(led["ids"]) > FREEFORM_IDS_WARN:
            import warnings

            warnings.warn(
                f"fold ledger {self._path} holds {len(led['ids'])} FREE-FORM "
                f"batch ids (> {FREEFORM_IDS_WARN}); free-form ids never "
                "compact, so the ledger grows per batch forever. Adopt the "
                "<prefix>:<int> epoch convention, which folds to one horizon "
                "per run (O(runs) ledger).",
                RuntimeWarning,
                stacklevel=2,
            )
        atomic_write_json(self._path, led)


def sub_batch_id(batch_id: str, kind: str) -> str:
    """Namespace a CDC window's sub-batches (postings/ANN apply_changes
    split a window into a delete and an insert half) WITHOUT breaking
    the FoldLedger's O(runs) compaction: an epoch-convention window id
    keeps the convention — ``'gates:7'`` → ``'gates:del:7'`` (prefix
    ``gates:del``, epoch 7, still one ledger horizon per consumer) —
    while a free-form id keeps the verbatim ``'<id>:del'`` suffix. A
    naive ``f"{batch_id}:{kind}"`` would turn EVERY epoch id free-form
    (the suffix is not an int), growing the ledger per window forever."""
    parts = FoldLedger._split(batch_id)
    if parts is not None:
        run, epoch = parts
        return f"{run}:{kind}:{epoch}"
    return f"{batch_id}:{kind}"


def fold_batch_rows(
    store, table: str, key: str, collapse, into_batch_id: str = "_folded"
) -> dict | None:
    """ONE implementation of the fold protocol the gates share
    (span-gate gram counts, postings stats, packer progress): scan the
    whole table, commit the distinct batch ids to the FoldLedger BEFORE
    the rewrite (a crash in between is conservative — ids refused, rows
    still per-batch, re-running heals), collapse via the gate-specific
    ``collapse(rows) -> folded_rows_with_batch_id``, and rewrite under
    OCC. The write set is the present buckets PLUS the folded rows' own
    (a folded row keyed by ``into_batch_id`` need not hash into a
    present bucket — write_buckets only persists the buckets it is
    given). Keeping the ledger-before-rewrite ordering in one place
    means a fix to the crash-window reasoning fixes every gate.

    Returns a fold-stats record — ``{"table", "rows_before",
    "rows_after", "batches_absorbed", "into_batch_id"}`` — or None when
    there was nothing to fold, so maintenance can surface state-table
    health (``engine.maintain`` logs it durably). ``rows_before`` is one
    extra lazy pass over the pre-fold state, taken BEFORE the rewrite
    (the commit's vacuum may delete the files that lineage reads);
    ``rows_after`` rides the already-checkpointed folded frame. The raw
    rows are never materialized — at scale the state table is the thing
    the fold exists to bound, but it can still be large right before the
    fold runs.

    Retention contract (the engine-wide read-modify-write rule, stated
    here because folds span several jobs over one lazy scan): when live
    registrars share the table, run folds under NONZERO
    ``vacuum_retain_s`` — at retain=0 a concurrent commit's vacuum can
    delete version files this scan's lineage still pins mid-fold (a
    FileNotFound, not a clean OCC retry). With retention, the race
    resolves at ``write_buckets``' planned_versions precondition and
    ``with_occ_retry`` re-plans. Same rule every compaction and
    read-modify-write maintenance path here already lives by."""
    if not store.exists(table):
        return None
    ledger = FoldLedger(store, table)

    def body():
        manifest = store._read_manifest(table)
        all_buckets = sorted(int(b) for b in manifest["buckets"])
        if not all_buckets:
            return None
        rows = store._scan_manifest(table, manifest, all_buckets)
        folded_ids = [
            r["batch_id"]
            for r in rows.select("batch_id").distinct().collect()
            if r["batch_id"] != into_batch_id
        ]
        if not folded_ids:
            return None
        rows_before = rows.count()
        ledger.add_all(folded_ids)
        folded = collapse(rows).localCheckpoint(eager=True)
        write_set = sorted(
            set(all_buckets) | set(store.buckets_of(folded, key=key, table=table))
        )
        store.write_buckets(
            table,
            folded,
            write_set,
            key=key,
            planned_versions=dict(manifest["buckets"]),
        )
        return {
            "table": table,
            "rows_before": rows_before,
            "rows_after": folded.count(),
            "batches_absorbed": len(folded_ids),
            "into_batch_id": into_batch_id,
        }

    return with_occ_retry(body)


class IncrementalDeduper:
    """Exact-dedup gate over a persisted fingerprint table."""

    def __init__(
        self,
        store,
        table: str = "_document_fingerprints",
        content_col: str = "text",
        id_col: str = "doc_id",
    ):
        self.store = store
        self.table = table
        self.content_col = content_col
        self.id_col = id_col

    def _fingerprints(self, batch: DataFrame) -> DataFrame:
        # the id keeps its native type, so min() keeps dd_exact's
        # keep-smallest-id semantics (casting to string would make the
        # min lexicographic)
        return batch.select(
            F.col(self.id_col).alias("doc_id"),
            F.md5(F.col(self.content_col)).alias(FINGERPRINT_COL),
        )

    @staticmethod
    def _min_id(fps: DataFrame) -> DataFrame:
        """One (fingerprint, min doc_id) row per content: within-batch
        duplicates collapse to ``dd_exact``'s keeper."""
        return fps.groupBy(FINGERPRINT_COL).agg(F.min("doc_id").alias("doc_id"))

    def _fresh_fps(self, batch: DataFrame) -> DataFrame:
        """(fingerprint, min doc_id) of batch content the store has not
        seen — ``select_new``'s pure core. Probes only the buckets the
        batch's hashes touch."""
        fps = self._fingerprints(batch)
        store, table = self.store, self.table
        if store.exists(table):
            touched = store.buckets_of(fps, key=FINGERPRINT_COL, table=table)
            known = store.read_buckets(table, touched)
            fps = anti_probe(fps, known, [FINGERPRINT_COL])
        return self._min_id(fps)

    def select_new(self, batch: DataFrame) -> DataFrame:
        """PURE: rows of ``batch`` with never-seen content (within-batch
        duplicates collapsed to the min-id row), original schema. No
        state is mutated — pair with ``register`` for durability."""
        return self._originals(batch, self._fresh_fps(batch))

    def _window(self, ins=None, dels=None) -> DataFrame | None:
        """``apply_gate_window`` on ``_fingerprints`` rows: fresh by
        fingerprint, deleted on (fingerprint, registrant id)."""
        fp = FINGERPRINT_COL
        return apply_gate_window(
            self.store, self.table, fp, [fp, "doc_id"], [fp], ins, dels, reduce=self._min_id
        )

    def register(self, docs: DataFrame) -> None:
        """Durably record ``docs``' fingerprints — an insert-only window.
        Idempotent: content the table already holds registers nothing, so
        replays (and supersets of earlier registrations) commit nothing.
        The committed (fingerprint, first registrant id) rows are the
        provenance a curation pipeline needs to answer "which document
        made this one a duplicate". Out-of-band writers
        (``engine.maintain()`` compacting the table under a live stream)
        re-plan on the OCC abort; concurrent REGISTRARS serialize
        externally — batches are the unit."""
        self._window(ins=self._fingerprints(docs))

    def filter_new(self, batch: DataFrame) -> DataFrame:
        """select_new + register in one call: survivors (original schema),
        durably registered so a later batch — or a replay of this one —
        treats them as seen. One window, not two phases (guide §1.2): for
        the EXACT gate the survivors' (fingerprint, min doc_id) pairs ARE
        the window's fresh rows (identical content gates replays — unlike
        the near/embedding gates, where self-matches never gate), so the
        survivors join the fresh frame the window returns."""
        fresh = self._window(ins=self._fingerprints(batch))
        return self._originals(batch, fresh).localCheckpoint(eager=True)

    def unregister(self, docs: DataFrame) -> None:
        """Remove ``docs``' content fingerprints — a delete-only window,
        the TAKEDOWN path: a document deleted from the corpus (licensing,
        right-to-erasure) must stop suppressing future identical text,
        or a revised resubmission is rejected forever by a ghost.
        ``docs`` carries the PRE-IMAGE content (what a change feed's
        delete rows hold); only rows whose (fingerprint, registrant id)
        BOTH match are removed, so taking down a never-registered
        duplicate leaves the keeper's fingerprint — and the gate —
        intact. A replay matches nothing and commits nothing.

        Known non-refcounted edge: the gate stores ONE registrant per
        fingerprint, so if identical content entered the corpus OUTSIDE
        the gate (e.g. an out-of-band UPDATE rewrote another doc to the
        keeper's exact text) and the keeper is then taken down, the
        fingerprint is removed even though a copy survives — future
        identical submissions re-admit. Content-level refcounting is
        deliberately out of scope (gate-composed ingestion never admits
        the second copy in the first place); the drift this edge leaves
        is exactly what the sampled audit detects and
        ``index_audit.repair_from_audit`` re-registers."""
        self._window(dels=self._fingerprints(docs))

    def apply_changes(self, feed: DataFrame) -> None:
        """Keep the gate tracking a mutating corpus from one change-feed
        window (``read_changes`` output) — both halves in ONE window and
        one commit: delete rows retire their pre-images' fingerprints,
        insert/update post-images register against the post-delete view.
        With the DEFAULT feed, UPDATE pre-images are absent and their
        fingerprints stay by contract: the corpus did contain that
        content, and for a dedup gate "seen once, ever" is the semantics.
        A feed read with ``emit_update_preimages=True`` retires its
        ``update_preimage`` rows like deletes, so updated-away content
        retires incrementally too."""
        dels, ins = feed_halves(feed)
        self._window(self._fingerprints(ins), self._fingerprints(dels))

    def _originals(self, batch: DataFrame, fresh_fps: DataFrame) -> DataFrame:
        """Survivor rows in the batch's ORIGINAL schema (semi-join on the
        surviving (fingerprint, doc_id) pairs, so within-batch duplicate
        rows beyond the min-id keeper are excluded too)."""
        keyed = batch.withColumn(FINGERPRINT_COL, F.md5(F.col(self.content_col)))
        keepers = fresh_fps.withColumnRenamed("doc_id", self.id_col)
        return keyed.join(
            # keepers ≤ |batch| behind a join+agg: hint the broadcast
            F.broadcast(keepers), [FINGERPRINT_COL, self.id_col], "left_semi"
        ).drop(FINGERPRINT_COL)

    def seen_count(self) -> int:
        """Registered distinct-content count (corpus cardinality)."""
        df = self.store.read(self.table)
        return 0 if df is None else df.count()


class IncrementalNearDeduper:
    """Near-dup gate over a persisted MinHash-LSH band index (module
    docstring has the design; same two-phase contract as the exact
    gate). Self-matches never gate (see ``select_new``) — replay
    suppression is the exact gate's job; ``register`` replays are
    no-ops either way."""

    def __init__(
        self,
        store,
        table: str = "_band_index",
        content_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
    ):
        self.store = store
        self.table = table
        self.content_col = content_col
        self.id_col = id_col
        self.threshold = threshold

    def _band_rows(self, batch: DataFrame) -> DataFrame:
        from stripe_sync_engine_spark.plans.dedup import band_rows_of_sigs, minhash_sigs_for

        return band_rows_of_sigs(
            minhash_sigs_for(batch, id_col=self.id_col, text_col=self.content_col)
        )

    def candidates(self, batch: DataFrame, _rows: DataFrame | None = None) -> DataFrame:
        """(doc_id, seen_doc_id, est_jaccard) — corpus near-candidates of
        the batch, est_jaccard = mean signature-component agreement.
        Bucket-pruned: only the batch's own band-key buckets are read.
        ``_rows``: precomputed ``_band_rows(batch)`` (signature compute is
        the batch-side cost — ``filter_new`` shares ONE materialization
        between select and register instead of shingling twice)."""
        rows = _rows if _rows is not None else self._band_rows(batch)
        store, table = self.store, self.table
        if not store.exists(table):
            return rows.select(
                F.col("doc_id"),
                F.col("doc_id").alias("seen_doc_id"),
                F.lit(0.0).alias("est_jaccard"),
            ).limit(0)
        touched = store.buckets_of(rows, key="band_key", table=table)
        return self._candidates_against(rows, store.read_buckets(table, touched))

    def select_new(self, batch: DataFrame, _rows: DataFrame | None = None) -> DataFrame:
        """PURE: batch rows with no corpus near-candidate at
        ``threshold`` (original schema). No state is mutated.

        SELF-matches (an index row with the same doc id) never gate: a
        document is not a near-dup of itself — it is a REPLAY, and replay
        suppression belongs to the exact gate / the caller's keyed sink,
        not here. This is what makes the streaming pipeline's
        sink → near.register → exact.register ordering fully convergent
        across a crash between the two registrations (module docstring).
        Consequence: the near gate ALONE does not suppress identical-id
        replays — compose it behind the exact gate (which also keeps
        identical text from reaching this index twice)."""
        dup_ids = (
            self.candidates(batch, _rows)
            .where(
                (F.col("est_jaccard") >= self.threshold)
                & (F.col("seen_doc_id") != F.col("doc_id"))
            )
            .select("doc_id")
            .distinct()
            .withColumnRenamed("doc_id", self.id_col)
        )
        # dup_ids is ≤|batch| but sits behind a join+agg whose size Spark
        # can't estimate — hint the broadcast rather than risk a sort-merge
        return batch.join(F.broadcast(dup_ids), self.id_col, "left_anti")

    def _window(self, ins=None, dels=None) -> None:
        """``apply_gate_window`` on band rows. Deleted on the (band,
        band_key, doc_id) triple, which sweeps every signature generation
        of a doc's band. Fresh on (doc_id, band_key, sig digest):
        (doc_id, band_key) is the embedding gate's (bucket, vec_id)
        design — an UPDATED doc shares some band keys with its old rows,
        and a doc_id-only probe would drop ALL its new rows (a recall
        hole). The digest closes the rest: band rows carry the doc's FULL
        m0..m11 signature, so an update keeping a band's own slice would
        otherwise leave that row scoring the OLD text in candidates().
        Superseded same-key rows stay keep-seen ghosts (they still gate,
        and max-agreement lets the fresh row dominate) until a pre-image
        feed retires them."""
        apply_gate_window(
            self.store, self.table, "band_key", ["band", "band_key", "doc_id"],
            ["doc_id", "band_key", "_sig_key"], ins, dels, digest=self._with_sig_key,
        )

    def register(self, docs: DataFrame, _rows: DataFrame | None = None) -> None:
        """Durably record ``docs``' band rows — an insert-only window,
        idempotent per (doc_id, band_key, sig): replays register nothing,
        and an UPDATED doc's rows commit whenever its signature changed
        (``_window`` has the design). OCC-guarded like the exact gate.
        ``_rows``: precomputed band rows for exactly ``docs``
        (re-derivable WITHOUT reading store files — materialized, or a
        pure projection over materialized frames — because a retry
        re-reads them after the aborted plan's vacuum)."""
        self._window(ins=_rows if _rows is not None else self._band_rows(docs))

    @staticmethod
    def _with_sig_key(rows: DataFrame) -> DataFrame:
        """Band rows plus ``_sig_key``, an md5 over the FULL signature
        columns — the freshness probe's third key component."""
        from stripe_sync_engine_spark.plans.dedup import MINHASH_SEEDS

        return rows.withColumn(
            "_sig_key",
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"m{s}").cast("string") for s in range(MINHASH_SEEDS)]
                )
            ),
        )

    def filter_new(self, batch: DataFrame) -> DataFrame:
        """select_new + register in one call — sharing ONE band-row
        materialization: signatures (shingling + MINHASH_SEEDS mins per
        doc) are the batch-side cost, and computing them once instead of
        twice is ~30% off the steady-state gate (bench
        dd_incremental_near_batch)."""
        rows = self._band_rows(batch).localCheckpoint(eager=True)
        survivors = self.select_new(batch, _rows=rows).localCheckpoint(eager=True)
        surv_ids = survivors.select(F.col(self.id_col).alias("doc_id"))
        # LAZY (r16): both parents are checkpointed, so this projection is
        # re-derivable without reading any store file — register's OCC
        # retry re-evaluates it safely, and the eager materialization was
        # one whole extra driver-waited job per batch. (register's
        # freshness anti-probe stays: self-matches never gate here, so a
        # replayed batch's rows reach register and must be dropped by it.)
        surv_rows = rows.join(F.broadcast(surv_ids), "doc_id", "left_semi")
        self.register(survivors, _rows=surv_rows)
        return survivors

    def unregister(self, docs: DataFrame) -> None:
        """Remove ``docs``' band rows — a delete-only window, the near
        gate's takedown path. ``docs`` carries the PRE-IMAGE content AS
        REGISTERED: band keys are recomputed from it and pruned to their
        own buckets, so deletion is O(batch), never an index scan. Rows
        match on (band, band_key, doc_id) — all three — so a
        hash-coincident other document is never touched; docs too short
        to shingle delete nothing. Idempotent, OCC-guarded."""
        self._window(dels=self._band_rows(docs))

    def apply_changes(self, feed: DataFrame) -> None:
        """The exact gate's ``apply_changes`` contract, on band rows: one
        window, one commit."""
        dels, ins = feed_halves(feed)
        self._window(self._band_rows(ins), self._band_rows(dels))

    def _candidates_against(self, rows: DataFrame, index: DataFrame) -> DataFrame:
        from stripe_sync_engine_spark.plans.dedup import MINHASH_SEEDS

        agree = sum(
            F.when(F.col(f"m{s}") == F.col(f"i_m{s}"), 1).otherwise(0)
            for s in range(MINHASH_SEEDS)
        )
        renamed = index.select(
            F.col("band"),
            F.col("band_key"),
            F.col("doc_id").alias("seen_doc_id"),
            *[F.col(f"m{s}").alias(f"i_m{s}") for s in range(MINHASH_SEEDS)],
        )
        return (
            # batch band rows are the broadcastable side; the index scan
            # stays map-side at any store size
            F.broadcast(rows)
            .join(renamed, ["band", "band_key"])
            .groupBy("doc_id", "seen_doc_id")
            .agg((F.max(agree) / F.lit(float(MINHASH_SEEDS))).alias("est_jaccard"))
        )


class ContaminationGate:
    """Benchmark-decontamination gate over a persisted eval-gram table.

    ``register_benchmark`` stores the DISTINCT word n-grams of the eval
    suites (idempotent keyed merge — registering the same suite twice
    adds nothing); ``select_clean`` then PURELY filters a batch to docs
    whose contaminated-gram fraction stays at or below ``max_frac``.
    Unlike the dedup gates there is no per-batch registration: the
    benchmark set only changes when new eval suites ship, so the gate
    composes anywhere in a stream's gate order and replays trivially.

    100 TB shape: benchmark suites are MBs while batches are arbitrary,
    so the GRAM TABLE side broadcasts (the inverse of the dedup gates,
    where the persisted side is the big one) and the batch side never
    shuffles for the membership probe — one groupBy(doc_id) exchange,
    map-side partial-agged, carries the hit counts (mirrors
    plans/textops.txt_contamination, which shares the gram core)."""

    TABLE = "_benchmark_grams"

    def __init__(self, store, n: int | None = None, max_frac: float = 0.2, table: str = TABLE):
        from stripe_sync_engine_spark.plans.textops import CONTAM_N

        self.store = store
        self.n = CONTAM_N if n is None else n
        self.max_frac = max_frac
        self.table = table

    def _grams_of(self, docs: DataFrame) -> DataFrame:
        from stripe_sync_engine_spark.plans.textops import contam_grams_for

        return contam_grams_for(docs, self.n)

    def register_benchmark(self, texts: DataFrame) -> int:
        """Add the distinct n-grams of ``texts`` (any DataFrame with
        doc_id + text columns) to the persisted benchmark set. Returns
        grams added; re-registering a suite adds zero."""
        grams = (
            self._grams_of(texts).select(F.explode("grams").alias("gram")).distinct()
        )
        store, table = self.store, self.table
        if not store.exists(table):
            store.write(table, grams, key="gram")
            return store.read(table).count()

        def attempt() -> int:
            manifest = store._read_manifest(table)
            touched = store.buckets_of(grams, key="gram", table=table)
            known = store._scan_manifest(table, manifest, touched)
            fresh = anti_probe(grams, known, ["gram"]).localCheckpoint(eager=True)
            n = fresh.count()
            if n:
                commit_window(store, table, "gram", manifest, fresh)
            return n

        return with_occ_retry(attempt)

    def contamination_of(self, docs: DataFrame) -> DataFrame:
        """(doc_id, n_grams, n_contaminated) per batch doc — the pure
        measurement, same columns as the corpus plan."""
        per_doc = self._grams_of(docs)
        bench = self.store.read(self.table)
        if bench is None:
            return per_doc.select(
                "doc_id",
                F.size("grams").cast("long").alias("n_grams"),
                F.lit(0).cast("long").alias("n_contaminated"),
            )
        exploded = per_doc.select(
            "doc_id", F.size("grams").alias("n_grams"), F.explode_outer("grams").alias("gram")
        )
        joined = exploded.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left"
        )
        return joined.groupBy("doc_id").agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )

    def select_clean(self, batch: DataFrame) -> DataFrame:
        """PURE: batch rows whose contaminated fraction ≤ max_frac
        (docs too short to form a gram pass — nothing to match on),
        original schema."""
        contam = self.contamination_of(batch)
        clean = contam.where(
            (F.col("n_grams") == 0)
            | (F.col("n_contaminated") <= F.col("n_grams") * F.lit(self.max_frac))
        ).select("doc_id")
        return batch.join(F.broadcast(clean), "doc_id", "left_semi")
