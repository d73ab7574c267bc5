"""Merge/upsert operators — the heart of the sync engine.

Reproduces the semantics of the reference's upsert sinks
(`packages/sync-engine/src/database/postgres.ts:31-104,133-204`):

* S8  ``merge_upsert`` without a timestamp column = plain last-batch-wins
  upsert (``INSERT … ON CONFLICT (id) DO UPDATE``).
* S9  ``merge_upsert`` with ``ts_col`` = timestamp-protected upsert: a
  matched row is updated only when ``target.ts IS NULL OR target.ts <
  source.ts`` — stale/late events become no-ops (reference
  ``postgres.ts:196-203``). Batch-internal duplicates are pre-reduced to
  the newest version per key (argmax, SURVEY A3) exactly as Delta MERGE
  requires.
* S10 ``delete_by_keys`` — hard delete.
* S11 ``replace_set`` — replace-set semantics per partition key
  (reference ``deleteRemovedActiveEntitlements``, stripeSync.ts:1650-1660).
* S12 ``soft_delete_reconcile`` — mark vanished children deleted
  (reference ``markDeletedSubscriptionItems``, stripeSync.ts:1559-1583).

Physical strategy: one merge has two placements and one reference.
``merge_upsert_arrow`` is the DRIVER placement: a pure Arrow/Python kernel
the engine runs when a batch is driver-known and its touched buckets are
small (the store's ``read_arrow`` bound) — no Spark job, no merge plan.
``merge_upsert_clustered`` is the SPARK placement for everything else: ONE
shuffle by the store's bucket expression (union + per-key argmax, full-row
or partial-column). ``merge_upsert``, the join-based form, is the reference
the property tests compare both against. Either way merge cost is
O(rows merged), which is why the engine's sync layer feeds these operators
BUCKET-PRUNED targets: the store is hash-bucketed by key (``storage.py``)
and a merge reads/rewrites only buckets containing batch keys, making each
micro-batch O(batch ∩ buckets) rather than O(table). The pruning and
placement policy lives at the call site.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

if TYPE_CHECKING:
    import pyarrow as pa


def latest_by_key(
    df: DataFrame,
    key: str | Sequence[str],
    ts_col: str | None,
    tiebreak_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed argmax (SURVEY A3): newest row per key by (ts, tiebreaks).

    This is the batch-internal reduction the reference gets for free from
    per-row ``ON CONFLICT`` application order; in a set-oriented engine it
    must happen before the merge join (multiple matches per key are
    ambiguous). row_number + filter is one shuffle; Catalyst pushes the
    partial sort into the shuffle write. ``ts_col=None`` orders by the
    tiebreak columns alone.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = ([F.col(ts_col).desc_nulls_last()] if ts_col is not None else []) + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    if not order:
        raise ValueError("latest_by_key needs ts_col or tiebreak_cols to define which row wins")
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def _qualify(side: str, col: str) -> Column:
    return F.col(f"{side}.{col}")


def merge_upsert(
    target: DataFrame | None,
    source: DataFrame,
    key: str = "id",
    ts_col: str | None = "last_synced_at",
    tiebreak_cols: Sequence[str] | None = None,
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Delta-MERGE-style upsert as a pure DataFrame transformation.

    WHEN MATCHED [AND t.ts IS NULL OR t.ts < s.ts] THEN UPDATE SET <cols>
    WHEN NOT MATCHED THEN INSERT *

    ``target is None`` bootstraps the table from the (deduplicated) source.
    Source and target must share the same schema (the entity StructType).
    ``update_cols`` limits which columns a MATCHED row takes from the
    source (the reference's partial upserts, e.g. customer.deleted writes
    only id/object/deleted — schemas/customer.ts:29-31 — leaving the rest
    of an existing row intact); inserts always take the full source row.
    """
    # A source batch may hold several rows per key even in the plain
    # (ts_col=None) upsert — the reference applies them sequentially so the
    # last statement wins; an un-deduplicated full_outer join would instead
    # multiply matched target rows. Reduce to one row per key first:
    # by (ts, tiebreaks) when a timestamp guards the merge, by the
    # tiebreaks alone otherwise, else any-one-row (dropDuplicates).
    if ts_col is not None or tiebreak_cols:
        source = latest_by_key(source, key, ts_col, tiebreak_cols)
    else:
        source = source.dropDuplicates([key] if isinstance(key, str) else list(key))
    if target is None:
        return source

    cols = target.columns
    updatable = set(update_cols) if update_cols is not None else set(cols)
    if ts_col is not None:
        updatable.add(ts_col)
    t = target.alias("t")
    s = source.alias("s")
    joined = (
        t.withColumn("_t_exists", F.lit(True))
        .alias("t")
        .join(
            s.withColumn("_s_exists", F.lit(True)).alias("s"),
            _qualify("t", key) == _qualify("s", key),
            "full_outer",
        )
    )
    s_exists = F.col("_s_exists").isNotNull()
    t_exists = F.col("_t_exists").isNotNull()
    if ts_col is None:
        use_source = s_exists
    else:
        newer = _qualify("t", ts_col).isNull() | (_qualify("t", ts_col) < _qualify("s", ts_col))
        use_source = s_exists & (~t_exists | newer)

    out_cols = [F.coalesce(_qualify("t", key), _qualify("s", key)).alias(key)]
    for c in cols:
        if c == key:
            continue
        if c in updatable:
            # matched-and-newer OR brand-new row takes the source value
            expr = F.when(use_source, _qualify("s", c)).otherwise(_qualify("t", c))
        else:
            # partial update: existing rows keep their value; inserts take source
            expr = F.when(t_exists, _qualify("t", c)).otherwise(_qualify("s", c))
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def merge_upsert_clustered(
    target: DataFrame | None,
    source: DataFrame,
    cluster_expr: Column,
    key: str = "id",
    ts_col: str | None = "last_synced_at",
    tiebreak_cols: Sequence[str] | None = None,
    num_partitions: int | None = None,
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """``merge_upsert`` in ONE exchange.

    ``merge_upsert``'s physical plan costs three shuffles per micro-batch:
    the source argmax window (hash by key), the full-outer join (hash by
    key — Spark cannot broadcast full-outer), and the store's bucket
    rebalance before the partitioned write (hash by bucket). A
    timestamp-protected merge, however, is a row-wise argmax over
    target ∪ source — and because the store's bucket expression is a
    FUNCTION OF the merge key (``storage.py`` bucket invariant: a key's
    rows always live in one bucket), partitioning by it co-locates equal
    keys too. So: union both sides with a side flag, shuffle ONCE by
    ``cluster_expr``, sort each partition by (key, recency), and keep the
    first row of every key run. The output is already clustered for the
    bucketed write — ``TableStore.write_buckets(pre_clustered=True)``
    skips its rebalance, making the whole merge a single-shuffle job.

    ``update_cols`` has ``merge_upsert``'s meaning (the reference's partial
    upserts, e.g. customer.deleted writes only object/deleted —
    schemas/customer.ts:29-31): a matched source row that wins takes
    ``update_cols`` plus ``ts_col`` from the source and every other column
    from the target row; an insert takes the full source row. The target
    row is read by a second window over ``(cluster, key)`` evaluated
    before the keep-first filter; it reuses the same exchange and sort.

    Precedence matches ``merge_upsert`` / the reference's guarded upsert
    (``database/postgres.ts:196-203``): highest ``ts_col`` wins with NULLS
    LAST; on an equal non-null timestamp the TARGET row survives (stale
    updates are no-ops); a NULL-ts target loses to any source row; among
    source rows ``tiebreak_cols`` descending break timestamp ties. With
    ``ts_col=None`` the source always beats the target (plain upsert).
    Equivalence to ``merge_upsert``, full-row and partial, is
    property-tested (tests/test_merge_properties.py).

    NULL merge keys are DROPPED — the one deliberate divergence from
    ``merge_upsert`` (whose full-outer join would insert them as unjoinable
    rows that then accumulate across batches); this holds for partial
    updates too, so a ``customer.deleted`` event without an id writes
    nothing. The reference's tables all declare ``id text primary key``,
    which rejects NULL; dropping is the parity behavior, and run-boundary
    detection needs a total order on the key anyway.

    CONTRACT — cluster consistency: every value of ``key`` must map to ONE
    value of the columns feeding ``cluster_expr``. If a source row carries
    a different cluster value than the stored row of the same key, the two
    land in different window partitions and BOTH survive as duplicate keys
    (and bucket pruning upstream would not even read the stored row). For
    id-bucketed tables this holds trivially (``cluster_expr`` is a function
    of ``key``); for parent-FK-bucketed tables
    (``schemas/entities.py BUCKET_KEYS``) it holds because every declared
    FK bucket key is an immutable attribute in Stripe's data model (a
    subscription item never changes subscription, an entitlement never
    changes customer); parent-set CHANGES flow through the replace-set /
    reconcile paths, which delete from the old parent's bucket explicitly.
    Declaring a mutable column as a bucket key would violate this contract
    — that is a schema-design error, not a runtime state.

    ``num_partitions`` (r16, guide §2.4/§6): pin the merge's ONE exchange
    to an explicit partition count — callers that know the touched-bucket
    set pass ``len(touched)``. Without it, the window's ENSURE_REQUIREMENTS
    exchange is AQE-coalescible, and a micro-batch merge collapses to ONE
    task that then writes every touched bucket dir SEQUENTIALLY (the exact
    serial-tail pathology storage.prepare_buckets already fixes for
    non-pre-clustered partial writes with an explicit per-bucket
    repartition). An explicit-count ``repartition(n, cluster_expr)``
    satisfies the window's clustered-distribution requirement (no second
    exchange) and is not AQE-coalescible, so the merge+write runs one task
    per touched bucket — the store's rewrite unit. Purely physical: the
    window's partitionBy defines the logical groups either way, so the
    merged ROWS are identical."""
    is_tgt = F.col("_is_tgt")
    source = source.where(F.col(key).isNotNull())
    src = source.withColumn("_is_tgt", F.lit(0))
    if target is not None:
        # allowMissingColumns: the target has no tiebreak carry columns
        # (e.g. _event_id) — they union in as NULL and sort last. The
        # null-key filter also sheds any legacy NULL-id garbage from the
        # rewritten buckets (same PK-parity rationale as the source side).
        both = target.where(F.col(key).isNotNull()).withColumn("_is_tgt", F.lit(1)).unionByName(
            src, allowMissingColumns=True
        )
    else:
        both = src
    # one named cluster column: both windows then partition by the SAME
    # attribute, so the key window below reuses the argmax window's sort
    both = both.withColumn("_cluster", cluster_expr)
    cluster = F.col("_cluster")
    if num_partitions is not None:
        both = both.repartition(num_partitions, cluster)
    order: list[Column] = [F.col(key).asc()]
    if ts_col is not None:
        ts = F.col(ts_col)
        # equal non-null ts → target first; both-NULL ts → source first
        # (reference: update iff target.ts IS NULL OR target.ts < source.ts)
        pref = F.when(ts.isNull(), F.lit(1) - is_tgt).otherwise(is_tgt)
        order += [ts.desc_nulls_last(), pref.desc()]
    else:
        order += [is_tgt.asc()]
    order += [F.col(c).desc_nulls_last() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(cluster).orderBy(*order)
    prev_key = F.lag(F.col(key)).over(w)
    keep_cols = target.columns if target is not None else source.columns
    ranked = both.withColumn("_keep", prev_key.isNull() | (prev_key != F.col(key)))
    out_cols: list[Column | str] = list(keep_cols)
    kept = []
    if update_cols is not None and target is not None:
        kept = [c for c in keep_cols if c not in {key, ts_col, *update_cols}]
    if kept:
        # partial update: the key's target row, read before the keep-first
        # filter drops it, supplies a winning source row's other columns
        t_row = F.first(F.when(is_tgt == 1, F.struct(*kept)), ignorenulls=True)
        ranked = ranked.withColumn(
            "_t_row", t_row.over(Window.partitionBy(cluster, F.col(key)))
        )
        matched = (is_tgt == 0) & F.col("_t_row").isNotNull()
        out_cols = [
            F.when(matched, F.col("_t_row")[c]).otherwise(F.col(c)).alias(c) if c in kept else c
            for c in keep_cols
        ]
    return ranked.where(F.col("_keep")).select(*out_cols)


def arrow_of_rows(rows: Sequence, schema: StructType) -> pa.Table:
    """Python rows (tuples or ``Row``s in ``schema``'s field order) as a
    ``pa.Table`` of Spark's Arrow types. Timestamps go through
    ``TimestampType.toInternal``, the inverse of what ``collect()`` returns
    and what ``createDataFrame`` applies to a naive datetime, so their
    microseconds are exact whatever the process time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    cols = []
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, TimestampType):
            vals = [None if v is None else f.dataType.toInternal(v) for v in vals]
        cols.append(pa.array(vals, type=to_arrow_type(f.dataType)))
    return pa.table(cols, names=schema.names)


def collect_arrow(df: DataFrame) -> pa.Table:
    """``df.collect()`` as Arrow. Over a local relation (an Arrow-built
    frame and the projections on it) this runs no Spark job, where
    ``toArrow()`` runs one."""
    return arrow_of_rows(df.collect(), df.schema)


def merge_upsert_arrow(
    target: pa.Table,
    source: pa.Table | None,
    key: str = "id",
    ts_col: str | None = "last_synced_at",
    tiebreak_cols: Sequence[str] | None = None,
    update_cols: Sequence[str] | None = None,
    delete_keys: Iterable[str] = (),
) -> pa.Table:
    """``merge_upsert_clustered`` on the driver: the merged contents of the
    buckets ``target`` holds, as a ``pa.Table`` in ``target``'s schema
    (column order and types; source columns it lacks, like the
    ``_event_id`` tiebreak carry, are dropped, and target columns the
    source lacks come in as NULL). Same precedence per key: highest
    ``ts_col`` first with NULLs last (compared as int64 microseconds); on
    an equal non-null timestamp the target wins; when both are NULL the
    source wins; ``tiebreak_cols`` descending, NULLs last, order source
    rows; ``ts_col=None`` lets the source always win. ``update_cols`` is
    the partial update: a winning source row with a target row takes
    ``update_cols`` plus ``ts_col`` from the source and the rest from the
    target row, and an insert takes the full source row. NULL keys are
    dropped on both sides, and so is every key in ``delete_keys`` (S10,
    the hard delete of the same rewrite). Equivalence to ``merge_upsert``
    is property-tested beside the Spark placement's."""
    import pyarrow as pa

    schema = target.schema
    if source is None:
        source = schema.empty_table()
    n_src = source.num_rows
    aligned = pa.table(
        [
            source.column(c).cast(schema.field(c).type)
            if c in source.column_names
            else pa.nulls(n_src, schema.field(c).type)
            for c in schema.names
        ],
        schema=schema,
    )

    def values(t: pa.Table, c: str | None) -> list:
        if c is None or c not in t.column_names:
            return [None] * t.num_rows
        col = t.column(c)
        return (col.cast(pa.int64()) if c == ts_col else col).to_pylist()

    gone = set(delete_keys)
    best: dict = {}  # key → (rank, is_tgt, row index); larger rank wins
    t_row: dict = {}  # key → index of its best-ranked target row
    for t, is_tgt in ((target, 1), (source, 0)):
        cols = [values(t, key), values(t, ts_col)] + [values(t, c) for c in tiebreak_cols or ()]
        for i, (k, ts, *ties) in enumerate(zip(*cols)):
            if k is None or k in gone:
                continue
            if ts_col is None:
                rank = (1 - is_tgt,)
            elif ts is None:
                rank = ((0,), 1 - is_tgt)
            else:
                rank = ((1, ts), is_tgt)
            rank += tuple((0,) if v is None else (1, v) for v in ties)
            cur = best.get(k)
            if cur is None or rank > cur[0]:
                best[k] = (rank, is_tgt, i)
        if is_tgt:  # the target pass alone: each key's best target row
            t_row = {k: i for k, (_, _, i) in best.items()}
    keep_t, keep_s, part_s, part_t = [], [], [], []
    for k, (_, is_tgt, i) in best.items():
        if is_tgt:
            keep_t.append(i)
        elif update_cols is not None and k in t_row:
            part_s.append(i)
            part_t.append(t_row[k])
        else:
            keep_s.append(i)

    def take(t: pa.Table, idx: list[int]):
        return t.take(pa.array(idx, type=pa.int64()))

    parts = [take(target, keep_t), take(aligned, keep_s)]
    if part_s:
        src_side = {key, ts_col, *update_cols}
        from_t, from_s = take(target, part_t), take(aligned, part_s)
        parts.append(
            pa.table(
                [(from_s if c in src_side else from_t).column(c) for c in schema.names],
                schema=schema,
            )
        )
    # one chunk: Spark 4.1's createDataFrame(pa.Table) silently drops every
    # batch after an empty one, and a bucket file wants one row group anyway
    return pa.concat_tables(parts).combine_chunks()


def delete_by_keys(target: DataFrame, keys: DataFrame, key: str = "id") -> DataFrame:
    """S10 hard delete: anti-join rewrite (`DELETE FROM t WHERE id IN (…)`)."""
    return target.join(keys.select(key).distinct(), key, "left_anti")


def replace_set(
    target: DataFrame | None,
    source: DataFrame,
    partition_key: str,
    key: str = "id",
    touched: DataFrame | None = None,
) -> DataFrame:
    """S11 replace-set: within each touched ``partition_key`` value, the
    target's row set becomes exactly the source's row set
    (delete-then-upsert; reference upserts then deletes ids ``<> ALL``).

    ``touched`` defaults to the partition keys present in the source; pass
    it explicitly when a partition can be touched WITH AN EMPTY new set
    (e.g. an entitlement summary revoking everything — the source then has
    no row to advertise the partition, but its old rows must still die).
    Rows of untouched partition keys are preserved.
    """
    if target is None:
        return source
    if touched is None:
        touched = source.select(partition_key).distinct()
    untouched = target.join(touched.select(partition_key), partition_key, "left_anti")
    return untouched.unionByName(source)


def soft_delete_reconcile(
    target: DataFrame,
    current: DataFrame,
    partition_key: str,
    key: str = "id",
    deleted_col: str = "deleted",
) -> DataFrame:
    """S12 soft-delete: for each partition value present in ``current``,
    mark target rows whose key is absent from ``current`` as deleted
    (reference markDeletedSubscriptionItems, stripeSync.ts:1559-1583)."""
    # Explicit broadcast: both probe sides are bounded by the micro-batch
    # (distinct parents / distinct child ids), while ``target`` may be a
    # merge plan whose size estimate Spark can't see through — a
    # sort-merge fallback would re-shuffle the merge output and destroy
    # its bucket clustering (see merge_upsert_clustered). Broadcast joins
    # preserve the streamed side's partitioning.
    touched = F.broadcast(current.select(partition_key).distinct()).withColumn(
        "_touched", F.lit(True)
    )
    live_keys = F.broadcast(current.select(key).distinct()).withColumn("_live", F.lit(True))
    return (
        target.join(touched, partition_key, "left")
        .join(live_keys, key, "left")
        .withColumn(
            deleted_col,
            F.when(
                F.col("_touched").isNotNull() & F.col("_live").isNull(),
                F.lit(True),
            ).otherwise(F.col(deleted_col)),
        )
        .drop("_touched", "_live")
    )
