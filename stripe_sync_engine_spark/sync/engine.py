"""StripeSparkSync — the engine's sync/ETL core.

Re-expresses the reference's webhook/backfill pipeline
(``packages/sync-engine/src/stripeSync.ts``) as Spark DataFrame
transformations over a ``TableStore``:

* ``process_webhook_events``: a batch (or micro-batch) of raw Stripe Event
  JSON → route by event type → per-entity typed projection → optional
  revalidation / list expansion → parent backfill → timestamp-protected
  merge → child-table side-writes. Mirrors ``processEvent``
  (stripeSync.ts:107-578) but set-oriented: one merge per entity per
  batch instead of one statement per row.
* ``sync_backfill`` / ``sync_single_entity``: paginated list scans and
  point lookups (stripeSync.ts:664-778, 606-662).

Event-time semantics (SURVEY T1/T2): ``last_synced_at`` carries
``event.created`` (or wall-clock when the object was refetched —
getSyncTimestamp, stripeSync.ts:580-582); the merge's matched-condition
makes stale webhooks no-ops and replays idempotent. This is keyed
last-write-wins with unbounded lateness — deliberately NOT a Spark
watermark, which would drop late events instead of no-op'ing them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from stripe_sync_engine_spark.commitio import atomic_write_json
from stripe_sync_engine_spark.operators.incremental_dedup import (
    anti_probe,
    run_parallel,
    with_occ_retry,
)
from stripe_sync_engine_spark.operators.merge import (
    delete_by_keys,
    latest_by_key,
    merge_upsert_clustered,
    replace_set,
    soft_delete_reconcile,
)

# The engine merges through merge_upsert_clustered only. merge_upsert, the
# join-based reference, stays reachable under this module's name because
# perfbench/run.py wraps every merge operator on this module by name.
from stripe_sync_engine_spark.operators.merge import merge_upsert  # noqa: F401
from stripe_sync_engine_spark.operators.validate import validate_enums
from stripe_sync_engine_spark.schemas.entities import bucket_key, entity_schema
from stripe_sync_engine_spark.sources.stripe_api import FLUSH_CHUNK, StripeAPI, to_json_rows
from stripe_sync_engine_spark.storage import TableStore
from stripe_sync_engine_spark.sync import registry as R
from stripe_sync_engine_spark.sync.transforms import apply_transforms, transforms_for

#: sentinel distinguishing "caller accepted the sampled fold-audit
#: default" from an explicit fold_sample — the implicit default emits a
#: one-time RuntimeWarning (ADVICE r14: the r14 exact→sampled default
#: change silently weakened unchanged audit crons' detection)
_FOLD_SAMPLE_UNSET = object()
_SAMPLED_FOLD_DEFAULT_NOTICED = False


@dataclass
class SyncConfig:
    """Mirrors the reference's StripeSyncConfig toggles (types.ts:25-66)."""

    backfill_related_entities: bool = True
    auto_expand_lists: bool = True
    revalidate_objects_via_stripe_api: tuple[str, ...] = ()
    max_backfill_depth: int = 3
    # Endpoint secret for HTTP webhook ingest (reference
    # STRIPE_WEBHOOK_SECRET, types.ts:25-66); None disables the route.
    webhook_secret: str | None = None
    # Enum-as-text write validation: "error" (reference Postgres-enum
    # parity), "null" (quarantine invalid values), or "ignore".
    enum_policy: str = "error"
    # Max concurrent per-entity handler chains per webhook batch. Spark
    # accepts job submissions from multiple driver threads, so independent
    # entity merges (disjoint write-sets) overlap their probe/merge jobs
    # instead of queueing serially — a wide mixed batch touches many
    # tables, each with a small job, and the serial loop leaves the
    # cluster idle between them. 1 disables. Parallelism only engages when
    # no Stripe API client is attached: with an API, handlers can backfill
    # parent entities into arbitrary ancestor tables, which breaks the
    # static write-set analysis that keeps concurrent chains disjoint.
    webhook_parallelism: int = 8


_RAW_EVENT_SCHEMA = StructType([StructField("value", StringType())])
#: a parsed webhook event rebuilt driver-side (revalidated or list-expanded)
_EVENT_ROW_SCHEMA = (
    "event_id string, event_type string, event_created long, payload string, sync_ts timestamp"
)


def _first_wins(pairs: list[tuple[str, object]]) -> dict:
    """``json.loads`` object hook keeping a duplicated key's FIRST value —
    what Spark's ``from_json`` map parse and ``get_json_object`` read, so
    driver-decoded webhook envelopes route, probe and expand exactly like
    the distributed lineage (Python's default keeps the last)."""
    out: dict = {}
    for k, v in pairs:
        out.setdefault(k, v)
    return out


def _has_more(obj: dict | None, prop: str) -> bool:
    """Python twin of ``get_json_object(payload, '$.<prop>.has_more') ==
    "true"`` over a ``_first_wins``-decoded payload: a JSON ``true`` or the
    string ``"true"`` expands, anything else (missing, null, a non-object
    list property) does not."""
    lst = obj.get(prop) if isinstance(obj, dict) else None
    flag = lst.get("has_more") if isinstance(lst, dict) else None
    return flag is True or flag == "true"


# Concurrent in-flight API requests per fetch stage — the reference's own
# fan-out width (stripeSync.ts:929-931 runs 10 customers in parallel).
API_CONCURRENCY = 10
# Ids pulled from Spark per driver-side chunk: bounds driver memory (no
# unbounded collect()) while keeping the thread pool saturated.
FETCH_CHUNK = 1000


def _chunks(it: Iterable, size: int) -> Iterator[list]:
    it = iter(it)
    while chunk := list(itertools.islice(it, size)):
        yield chunk


def _concurrent_fetch(fn: Callable, items: Iterable, concurrency: int = API_CONCURRENCY) -> Iterator:
    """Apply an API call to each item with a bounded thread pool, chunked so
    neither the item list nor the futures map is ever fully materialized.
    REST pagination/retrieval is driver-bound by nature (cursor tokens, API
    keys, rate limits); the scalable axis is concurrent requests — the same
    10-way fan-out the reference uses — not executor count."""
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        for chunk in _chunks(items, FETCH_CHUNK):
            yield from pool.map(fn, chunk)


class StripeSparkSync:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        api: StripeAPI | None = None,
        config: SyncConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.api = api
        self.config = config or SyncConfig()
        # entity table -> registered RollupSpecs maintained on its commits
        self._rollups: dict[str, list] = {}
        self._validated_rollups: set[str] = set()
        # Per-table write locks guarding every read-merge-write critical
        # section. The store's commit lock only serializes the manifest
        # POINTER swap — two writers that both planned against the same
        # pre-commit bucket state would still be last-commit-wins on any
        # shared bucket, dropping the earlier batch's rows. That matters
        # because the HTTP front door (api/app.py) is a THREADING server:
        # two concurrent webhook POSTs for the same entity race exactly
        # like that. Within one batch the handler chains are disjoint by
        # write-set construction; these locks extend the same guarantee
        # across batches. Sorted multi-acquisition prevents deadlock.
        self._table_locks: dict = {}
        self._table_locks_guard = threading.Lock()

    @contextlib.contextmanager
    def _table_write_lock(self, *tables: str):
        """Exclusive read-merge-write access to the given tables (see
        __init__). Locks acquire in sorted name order so overlapping
        multi-table sections can never deadlock; RLock tolerates nested
        sections on the same table within one thread."""
        with self._table_locks_guard:
            locks = [
                self._table_locks.setdefault(t, threading.RLock())
                for t in sorted(set(tables))
            ]
        for lk in locks:
            lk.acquire()
        try:
            yield
        finally:
            for lk in reversed(locks):
                lk.release()

    # ------------------------------------------------------------------
    # Incremental rollups (operators/rollup.py)
    # ------------------------------------------------------------------
    def register_rollup(self, spec) -> None:
        """Maintain ``spec`` incrementally on every bucket commit of its
        source table (merge, delete, reconcile — anything that rewrites
        buckets through the engine). If the source already has data, the
        rollup initializes with a full compute."""
        from stripe_sync_engine_spark.operators.rollup import RollupSpec

        if not isinstance(spec, RollupSpec):  # pragma: no cover - guard
            raise TypeError("register_rollup expects a RollupSpec")
        # name uniqueness: a duplicate registration would apply every
        # commit's delta twice, silently corrupting the rollup
        if any(s.name == spec.name for specs in self._rollups.values() for s in specs):
            raise ValueError(f"rollup {spec.name!r} is already registered")
        self._validate_additive_types(spec)
        self._rollups.setdefault(spec.entity, []).append(spec)
        if self.store.exists(spec.entity):
            # registration always recomputes, which also heals any drift a
            # crash left behind (maintenance lag is re-checked per commit)
            self.refresh_rollup(spec.name)

    def _validate_additive_types(self, spec) -> None:
        """Reject float/double ADDITIVE aggregates: their deltas are
        independently-recomputed float sums whose difference need not
        cancel, so no-op commits would drift the rollup. Decimal/integral
        subtract exactly (cast in the expression: SUM(CAST(x AS
        DECIMAL(18,2)))). Extrema are exempt — min/max of floats is exact.

        Types come from the source schema, so a spec on a table that does
        not exist yet (and has no declared entity schema) cannot be checked
        at registration — validation then runs at the first refresh or
        maintenance pass instead (``_ensure_spec_validated``), never
        silently skipped."""
        from pyspark.sql.types import DecimalType, IntegralType

        from stripe_sync_engine_spark.operators.rollup import contributions

        src = self.store.read(spec.entity)
        if src is None:
            try:
                src = self.spark.createDataFrame([], entity_schema(spec.entity))
            except KeyError:
                return  # no schema yet: deferred to _ensure_spec_validated
        schema = contributions(src, spec).schema
        bad = [
            c
            for c in spec.acols
            if not isinstance(schema[c].dataType, (IntegralType, DecimalType))
        ]
        if bad:
            raise ValueError(
                f"additive aggregates must have integral/decimal types, got "
                f"{[(c, schema[c].dataType.simpleString()) for c in bad]}; "
                "cast to DECIMAL in the aggregate expression"
            )
        self._validated_rollups.add(spec.name)

    def _ensure_spec_validated(self, spec) -> None:
        """Run the deferred type check once the source table exists (first
        refresh or first maintained commit)."""
        if spec.name not in self._validated_rollups:
            self._validate_additive_types(spec)

    def refresh_rollup(self, name: str) -> None:
        """Full recompute of one rollup — initialization, drift repair,
        and the extrema fallback (refresh-on-invalidation)."""
        from stripe_sync_engine_spark.operators.rollup import full_rollup

        for specs in self._rollups.values():
            for spec in specs:
                if spec.name == name:
                    # source lock: the recompute must not interleave with a
                    # commit whose delta it would then double- or un-count
                    with self._table_write_lock(spec.entity):
                        rows = self.store.read(spec.entity)
                        if rows is not None:
                            self._ensure_spec_validated(spec)
                            self.store.write(spec.name, full_rollup(rows, spec), key="_gk")
                            src = self.store.commits(spec.entity)
                            self._set_rollup_applied(spec.name, src[-1] if src else None)
                    return
        raise KeyError(f"no registered rollup named {name!r}")

    # -- rollup ↔ source coupling (crash-drift detection) ----------------
    # The rollup delta is applied AFTER the source commit; a crash between
    # the two would leave the rollup permanently one delta behind with
    # nothing flagging it. Each rollup therefore records the source commit
    # timestamp it has applied up to; before applying the next delta the
    # engine checks that record against the commit the batch was planned
    # on, and a mismatch (missed delta) triggers a refresh instead of a
    # silent wrong-by-one apply.
    def _rollup_state_path(self, name: str) -> str:
        return os.path.join(self.store.root, name, "_rollup_state.json")

    def _get_rollup_applied(self, name: str) -> int | None:
        try:
            with open(self._rollup_state_path(name)) as f:
                return json.load(f).get("applied_source_commit_ms")
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _set_rollup_applied(self, name: str, ms: int | None) -> None:
        atomic_write_json(
            self._rollup_state_path(name), {"applied_source_commit_ms": ms}
        )

    def rollup_lag(self, name: str) -> int:
        """Number of source commits the rollup has not applied (0 =
        current). Exposed for ops; maintenance auto-refreshes on lag > 0."""
        for specs in self._rollups.values():
            for spec in specs:
                if spec.name == name:
                    applied = self._get_rollup_applied(name)
                    commits = self.store.commits(spec.entity)
                    if applied is None:
                        return len(commits)
                    return len([c for c in commits if c > applied])
        raise KeyError(f"no registered rollup named {name!r}")

    def _commit_buckets(
        self, table: str, df: DataFrame, touched: list[int] | None, **kw
    ) -> None:
        """All engine bucket writes funnel here: snapshot the touched
        buckets' aggregate contributions, commit, then apply each
        registered rollup's exact delta (new minus old contributions —
        O(touched buckets) regardless of table size; zero for replayed or
        stale batches, so maintenance inherits the merge's idempotence).
        ``touched=None`` means a full-table write."""
        from stripe_sync_engine_spark.operators import rollup as R_

        specs = self._rollups.get(table, ())
        pre = []
        src_head = None
        if specs:
            commits = self.store.commits(table)
            src_head = commits[-1] if commits else None  # what this batch planned on
            # one read of the old touched-bucket state serves every spec;
            # each contribution is materialized BEFORE the commit (the
            # write's vacuum may reclaim the version dirs the lineage
            # reads)
            old = self.store.read_buckets(table, touched)
            for spec in specs:
                pre.append(
                    None
                    if old is None
                    else R_.contributions(old, spec).localCheckpoint(eager=True)
                )
        if touched is None:
            kw.pop("planned_n_buckets", None)  # full write: no stale-plan risk
            self.store.write(table, df, **kw)
        else:
            self.store.write_buckets(table, df, touched, **kw)
        if not specs:
            return
        src_ms = self.store.commits(table)[-1]
        new_rows = self.store.read_buckets(table, touched)
        for spec, old_contrib in zip(specs, pre):
            self._ensure_spec_validated(spec)  # deferred check: source exists now
            rollup_exists = self.store.exists(spec.name)
            if (not rollup_exists and src_head is not None) or (
                rollup_exists and self._get_rollup_applied(spec.name) != src_head
            ):
                # Behind (missed delta after a crash between source commit
                # and rollup apply) or MISSING despite the source having
                # pre-existing commits (the init write itself was lost):
                # either way this commit's delta alone cannot reconstruct
                # the state — heal with a recompute, which also covers this
                # commit. The apply paths' init-from-contributions branches
                # are therefore only reached when the source table was born
                # this commit (src_head is None), where contributions ARE
                # the full rollup.
                self.refresh_rollup(spec.name)
                continue
            new_contrib = R_.contributions(new_rows, spec)
            if spec.has_extrema:
                self._apply_extrema_update(spec, old_contrib, new_contrib)
            else:
                self._apply_additive_delta(spec, old_contrib, new_contrib)
            self._set_rollup_applied(spec.name, src_ms)

    def _apply_additive_delta(self, spec, old_contrib, new_contrib) -> None:
        from stripe_sync_engine_spark.operators import rollup as R_

        # checkpoint the delta: its lineage (two aggregations) would
        # otherwise execute once for the bucket probe and again inside
        # the rollup write
        d = R_.delta(old_contrib, new_contrib, spec).localCheckpoint(eager=True)
        keys = d.select(R_.group_key_col(spec).alias("_gk"))
        if not self.store.exists(spec.name):
            self.store.write(spec.name, R_.apply_delta(None, d, spec), key="_gk")
            return
        nb_planned = self.store._table_n_buckets(spec.name)
        rtouched = self.store.buckets_of(keys, "_gk", table=spec.name)
        if not rtouched:
            return  # zero delta — replay/stale batch
        rollup_old = self.store.read_buckets(spec.name, rtouched).drop("_gk")
        self.store.write_buckets(
            spec.name,
            R_.apply_delta(rollup_old, d, spec),
            rtouched,
            key="_gk",
            planned_n_buckets=nb_planned,
        )

    def _apply_extrema_update(self, spec, old_contrib, new_contrib) -> None:
        """Min/max-bearing rollups: tighten incrementally; if any touched
        group's stored extremum is endangered (operators/rollup.py module
        docstring), fall back to a refresh — refresh-on-invalidation."""
        from stripe_sync_engine_spark.operators import rollup as R_

        new_contrib = new_contrib.localCheckpoint(eager=True)
        if not self.store.exists(spec.name):
            # only reachable when the source was born this commit (caller
            # refreshes otherwise), so contributions ARE the full rollup
            updated, _ = R_.touched_group_update(None, old_contrib, new_contrib, spec)
            self.store.write(spec.name, updated, key="_gk")
            return
        # replay/no-op batches leave the touched buckets' contributions
        # byte-identical — skip the rollup commit entirely (the extrema
        # analog of the additive path's zero-delta skip). ONE action over
        # the two tiny checkpointed aggregates: each side holds one row per
        # group, so the multisets are equal iff every full row of the union
        # appears exactly twice.
        if old_contrib is not None:
            parity = (
                old_contrib.unionByName(new_contrib)
                .groupBy(*old_contrib.columns)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") != 2)
            )
            if parity.isEmpty():
                return
        # key set comes from the contributions (old ∪ new), not the additive
        # delta: an update can move an extremum while leaving sums unchanged
        keys = new_contrib.select(R_.group_key_col(spec).alias("_gk"))
        if old_contrib is not None:
            keys = keys.unionByName(old_contrib.select(R_.group_key_col(spec).alias("_gk")))
        # no distinct(): bucket_counts aggregates by bucket id anyway, so a
        # pre-distinct would only add a second full exchange of the keys
        nb_planned = self.store._table_n_buckets(spec.name)
        rtouched = self.store.buckets_of(keys, "_gk", table=spec.name)
        if not rtouched:
            return  # nothing contributed — empty batch
        rollup_old = self.store.read_buckets(spec.name, rtouched).drop("_gk")
        updated, endangered = R_.touched_group_update(rollup_old, old_contrib, new_contrib, spec)
        # bounded probe: one row decides; the refresh path re-aggregates
        if endangered.limit(1).count() > 0:
            self.refresh_rollup(spec.name)
            return
        self.store.write_buckets(
            spec.name, updated, rtouched, key="_gk", planned_n_buckets=nb_planned
        )

    # ------------------------------------------------------------------
    # Parsing & projection
    # ------------------------------------------------------------------
    def events_df_from_json(self, payloads: list[str]) -> DataFrame:
        """A frame of raw Stripe Event JSON strings (column ``value``) for
        ``process_webhook_events``. The frame carries the driver-side
        payloads as an annotation, so ``process_webhook_events`` can route
        and probe it in Python. The annotation covers only the frame this
        method returns, unmodified: any transformation in between (a
        filter, a union, a re-projection) yields a plain frame, which
        falls back to the distributed path — correct, but it costs more
        Spark jobs."""
        df = self.spark.createDataFrame([(p,) for p in payloads], _RAW_EVENT_SCHEMA)
        # The raw strings live on the DRIVER (an HTTP webhook body is a
        # Python list by nature) — remember them on the frame so
        # process_webhook_events can do its routing/probe bookkeeping in
        # Python instead of paying Spark jobs for it (r16, guide §1.2/§4).
        # Purely an annotation: the distributed lineage is identical and
        # any consumer that ignores the attribute behaves as before.
        df._stripe_driver_payloads = list(payloads)
        return df

    @staticmethod
    def _parse_envelope(raw: DataFrame) -> DataFrame:
        """raw JSON → (event_id, event_type, event_created, payload) where
        payload is the embedded entity as raw JSON text. One map-typed
        parse per level; nested objects stay as JSON text (P1 projection
        then drops unknown fields for free)."""
        env = F.from_json(F.col("value"), "map<string,string>")
        return raw.select(
            env["id"].alias("event_id"),
            env["type"].alias("event_type"),
            env["created"].cast("long").alias("event_created"),
            F.from_json(env["data"], "map<string,string>")["object"].alias("payload"),
        )

    @staticmethod
    def _project(
        entity: str,
        with_payload: DataFrame,
        sync_ts_col: str = "sync_ts",
        overrides: dict | None = None,
        carry: dict[str, Column] | None = None,
    ) -> DataFrame:
        """Typed projection of the payload map into the entity's declared
        columns (missing → NULL, unknown dropped — reference
        useNullForMissing, database/postgres.ts:52,93-95). ``overrides``
        maps column name → Column expression evaluated against the input
        (payload available as the ``payload`` column). ``carry`` appends
        extra pass-through columns (e.g. the event id used as a merge
        tiebreaker) that are NOT part of the entity schema."""
        pm = F.from_json(F.col("payload"), "map<string,string>")
        overrides = dict(overrides or {})
        if entity == "customers":
            # deleted boolean NOT NULL default false (migration 0015)
            overrides.setdefault("deleted", F.coalesce(pm["deleted"].cast("boolean"), F.lit(False)))
        cols = []
        for f in entity_schema(entity).fields:
            if f.name in ("updated_at", "last_synced_at"):
                continue
            if f.name in overrides:
                cols.append(overrides[f.name].cast(f.dataType).alias(f.name))
            else:
                cols.append(pm[f.name].cast(f.dataType).alias(f.name))
        cols.append(F.col(sync_ts_col).cast("timestamp").alias("updated_at"))
        cols.append(F.col(sync_ts_col).cast("timestamp").alias("last_synced_at"))
        for name, expr in (carry or {}).items():
            cols.append(expr.alias(name))
        return with_payload.select(*cols)

    # ------------------------------------------------------------------
    # Webhook batch processing (§3.1)
    # ------------------------------------------------------------------
    def process_webhook_events(self, raw_events: DataFrame) -> dict[str, int]:
        """Process a batch of raw Stripe Event JSON strings (column
        ``value``). Returns {table: merged-row-count}.

        The driver-side fast path applies only to the unmodified frame
        ``events_df_from_json`` returns; any other frame, including one
        derived from it by a transformation, takes the distributed path,
        which gives the same result with more Spark jobs."""
        # Driver-known batches (events_df_from_json — webhook bodies are
        # Python lists by nature) do the routing plan, the list-expansion
        # check and the merges' bucket probes in Python (r16, guide
        # §1.2/§4): the same json-envelope fields Spark's from_json would
        # read, decoded once driver-side (first key wins, as in Spark),
        # replace the distinct-types job, the cache materialization, the
        # has_more scan and (via bucket_counts_of_values, XXH64
        # parity-pinned) each upsert's Spark probe job — the distributed
        # parse→project lineage still runs UNCHANGED inside each entity's
        # write job, so every stored byte comes from the same expressions
        # as the generic path. Distributed batches (the streaming webhook
        # sink) keep the original shape including the persist.
        payloads = getattr(raw_events, "_stripe_driver_payloads", None)
        envelopes: list[tuple[str | None, dict | None]] | None = None
        if payloads is not None:
            envelopes = []
            for p in payloads:
                try:
                    env = json.loads(p, object_pairs_hook=_first_wins)
                    obj = (env.get("data") or {}).get("object")
                    envelopes.append((env.get("type"), obj if isinstance(obj, dict) else None))
                except (ValueError, AttributeError):
                    envelopes.append((None, None))
        parsed = self._parse_envelope(raw_events).withColumn(
            "sync_ts", F.to_timestamp(F.col("event_created"))
        )
        if envelopes is None:
            # Cache the parsed batch: every per-entity handler (and its row
            # accounting) re-reads it, and without the cache each one would
            # re-execute the parse→project lineage from the raw strings.
            parsed = parsed.persist()
        try:
            routes = sorted({(r[0], r[1]) for r in R.EVENT_ROUTES.values()})
            # Driver-side routing plan: which (entity, action) groups exist in
            # this batch. One tiny agg over the batch (not the tables) — or
            # free when the envelopes are driver-known.
            if envelopes is not None:
                present = {t for t, _ in envelopes}
            else:
                present = {
                    row["event_type"]
                    for row in parsed.select("event_type").distinct().collect()
                }
            groups = []
            for entity, action in routes:
                types = [t for t, r in R.EVENT_ROUTES.items() if r == (entity, action) and t in present]
                if types:
                    objs = None
                    if envelopes is not None and action == R.UPSERT:
                        tset = set(types)
                        objs = [o for t, o in envelopes if t in tset]
                    groups.append((entity, action, types, objs))
            counts: dict[str, int] = {}
            for chain_counts in self._run_handler_chains(parsed, groups):
                for entity, n in chain_counts.items():
                    counts[entity] = counts.get(entity, 0) + n
            unhandled = present - set(R.EVENT_ROUTES)
            if unhandled:
                # reference throws on unhandled types (stripeSync.ts:575-576);
                # we surface them without failing the batch.
                counts["_unhandled"] = len(unhandled)
            return counts
        finally:
            if envelopes is None:
                parsed.unpersist()

    # -- handler scheduling --------------------------------------------
    def _write_set(self, entity: str, action: str) -> frozenset[str]:
        """Tables a handler group may write (API-less operation — with an
        API attached, parent backfill widens this unboundedly, which is why
        parallelism is gated on ``api is None``). Registered rollups ride
        their source table's commits, so their tables join the set."""
        tables = {entity}
        if entity == "subscriptions":
            tables.add("subscription_items")
        elif entity == "checkout_sessions":
            tables.add("checkout_session_line_items")
        for t in list(tables):
            tables.update(spec.name for spec in self._rollups.get(t, ()))
        return frozenset(tables)

    def _run_handler_chains(self, parsed: DataFrame, groups) -> list[dict[str, int]]:
        """Run the batch's (entity, action, types) groups, overlapping the
        ones with DISJOINT write-sets across driver threads (Spark's
        scheduler accepts concurrent job submission; each per-entity merge
        is a short job chain that otherwise serializes driver-side).

        Groups whose write-sets overlap (customer.updated and
        customer.deleted both write ``customers``) are chained into one
        task in sorted route order, so the relative apply-order of
        same-table groups stays exactly the serial loop's — parallelism
        never reorders writes to a table, it only overlaps independent
        tables. With an API client attached everything runs serially:
        parent backfill can touch ancestor tables outside the static
        write-set, and API-bound fetches dominate anyway."""
        chains: list[tuple[set[str], list]] = []
        for grp in groups:  # groups arrive in sorted route order
            ws = set(self._write_set(grp[0], grp[1]))
            # a multi-table write-set can bridge several existing chains —
            # coalesce ALL overlapping chains plus this group into one,
            # restoring sorted route order inside the merged chain so the
            # apply-order matches the serial loop exactly
            overlapping = [c for c in chains if c[0] & ws]
            for c in overlapping:
                ws |= c[0]
            merged = sorted(
                [g for c in overlapping for g in c[1]] + [grp],
                key=lambda g: (g[0], g[1]),
            )
            chains = [c for c in chains if c not in overlapping]
            chains.append((ws, merged))

        def run_chain(chain_groups) -> dict[str, int]:
            out: dict[str, int] = {}
            for entity, action, types, driver_objs in chain_groups:
                subset = parsed.where(F.col("event_type").isin(types))
                if action == R.UPSERT:
                    n = self._handle_upsert(entity, subset, driver_objs)
                elif action == R.CUSTOMER_DELETED:
                    n = self._handle_customer_deleted(subset)
                elif action == R.DELETE:
                    n = self._handle_delete(entity, subset)
                elif action == R.ENTITLEMENT_SUMMARY:
                    n = self._handle_entitlement_summary(subset)
                else:  # pragma: no cover
                    raise ValueError(action)
                out[entity] = out.get(entity, 0) + n
            return out

        width = min(self.config.webhook_parallelism, len(chains))
        if width <= 1 or self.api is not None:
            return [run_chain(c[1]) for c in chains]
        with ThreadPoolExecutor(max_workers=width) as pool:
            futures = [pool.submit(run_chain, c[1]) for c in chains]
            return [f.result() for f in futures]

    # -- handlers ------------------------------------------------------
    def _handle_upsert(
        self, entity: str, subset: DataFrame, driver_objs: list[dict | None] | None = None
    ) -> int:
        if entity in self.config.revalidate_objects_via_stripe_api and self.api is not None:
            # T3 read-repair path: refetched rows arrive in FLUSH_CHUNK
            # chunks (the reference's flush-250 contract,
            # stripeSync.ts:1037), so the driver never buffers the whole
            # batch; each chunk runs the full upsert pipeline.
            n = 0
            for chunk, deleted_ids in self._revalidate_chunks(entity, subset):
                n += self._upsert_rows(entity, chunk)
                if deleted_ids:
                    ids = self.spark.createDataFrame([(i,) for i in deleted_ids], "id string")
                    self._delete_keys(entity, ids)
            return n
        return self._upsert_rows(entity, subset, driver_objs)

    def _driver_key_values(
        self, entity: str, driver_objs: list[dict | None] | None
    ) -> list[str] | None:
        """One merge input's post-projection bucket-key values, when
        knowable driver-side (r16): the merge's probe is then pure Python.
        ``driver_objs`` must be the decoded payloads of exactly the rows
        that merge projects, one per row — a webhook part from
        ``_expanded_parts`` or a ``_merge_objects`` batch. Webhook bodies
        must be decoded the way Spark reads them (``_first_wins``);
        objects the engine serializes itself (``json.dumps``) match by
        construction. Valid only with no registered transform (one could
        rewrite the key), a string-typed declared bucket key (the
        projected cast is then the identity, so ``payload[bkey]`` IS the
        projected value), and every payload carrying a non-null string
        key. Anything else (including no
        payloads: a DataFrame-fed batch, revalidated rows) → None → the
        distributed probe."""
        if driver_objs is None or transforms_for(entity):
            return None
        bkey = bucket_key(entity)
        field = {f.name: f for f in entity_schema(entity).fields}.get(bkey)
        if field is None or not isinstance(field.dataType, StringType):
            return None
        vals = [o.get(bkey) if isinstance(o, dict) else None for o in driver_objs]
        if any(not isinstance(v, str) for v in vals):
            return None
        return vals

    def _upsert_rows(
        self, entity: str, subset: DataFrame, driver_objs: list[dict | None] | None = None
    ) -> int:
        """Expand → project → parent backfill → merge → child side-writes.
        List expansion yields the untruncated remainder first and then the
        refetched events in FLUSH_CHUNK slices, each run through the full
        pipeline immediately — no accumulation of expanded payloads."""
        n = 0
        for part, part_objs in self._expanded_parts(entity, subset, driver_objs):
            rows = self._project(entity, part, carry={"_event_id": F.col("event_id")})
            if self.config.backfill_related_entities:
                self._backfill_parents(entity, rows, depth=0)
            n += self._merge(
                entity, rows, driver_key_values=self._driver_key_values(entity, part_objs)
            )
            if entity == "subscriptions":
                self._sync_subscription_items(part)
            elif entity == "checkout_sessions":
                self._sync_checkout_line_items(rows)
        return n

    def _handle_customer_deleted(self, subset: DataFrame) -> int:
        """customer.deleted: partial upsert of id/object/deleted only
        (reference customerDeletedSchema, schemas/customer.ts:29-31)."""
        rows = self._project("customers", subset, carry={"_event_id": F.col("event_id")})
        return self._merge("customers", rows, update_cols=["object", "deleted", "updated_at"])

    def _handle_delete(self, entity: str, subset: DataFrame) -> int:
        """Hard delete (product/price/plan/tax_id .deleted —
        stripeSync.ts:1360-1399,:1480-1482)."""
        return self._delete_keys(entity, self._project(entity, subset).select("id"))

    def _delete_keys(self, entity: str, keys: DataFrame) -> int:
        """S10 hard delete of the rows whose ``id`` is in ``keys``; returns
        the number of key rows. Bucket-pruned like the merge: only buckets
        holding the keys are anti-joined and rewritten, and the bucket
        probe doubles as the row accounting (one job over the keys, no
        separate count() re-executing their lineage)."""
        with self._table_write_lock(entity):
            exists = self.store.exists(entity)
            nb_planned = self.store._table_n_buckets(entity)
            probe = self.store.bucket_counts(keys, "id", table=entity if exists else None)
            touched = [b for b, _ in probe]
            if exists and touched:
                self._commit_buckets(
                    entity,
                    delete_by_keys(self.store.read_buckets(entity, touched), keys),
                    touched,
                    planned_n_buckets=nb_planned,
                )
        return int(sum(c for _, c in probe))

    def _handle_entitlement_summary(self, subset: DataFrame) -> int:
        """entitlements.active_entitlement_summary.updated → replace-set of
        active_entitlements per customer (stripeSync.ts:527-554,1650-1704)."""
        pm = F.from_json(F.col("payload"), "map<string,string>")
        # Customers are extracted BEFORE the explode: a summary whose
        # entitlements list is EMPTY (customer revoked of everything) must
        # still touch that customer so replace-set deletes the stale rows —
        # a plain explode would silently drop the whole event.
        summaries = subset.select(
            pm["customer"].alias("customer"),
            F.from_json(
                F.from_json(pm["entitlements"], "map<string,string>")["data"], "array<string>"
            ).alias("_ents"),
            F.col("sync_ts"),
            F.col("event_id"),
        )
        ent_rows = summaries.select(
            "customer", F.explode_outer("_ents").alias("ent"), "sync_ts", "event_id"
        ).where(F.col("ent").isNotNull())
        em = F.from_json(F.col("ent"), "map<string,string>")
        # feature may be an embedded object → extract its id (flattening,
        # reference stripeSync.ts:1696-1704)
        feature_id = F.coalesce(
            F.get_json_object(F.col("ent"), "$.feature.id"), em["feature"]
        )
        rows = ent_rows.select(
            em["id"].alias("id"),
            em["object"].alias("object"),
            feature_id.alias("feature"),
            em["lookup_key"].alias("lookup_key"),
            em["livemode"].cast("boolean").alias("livemode"),
            F.col("customer"),
            F.col("sync_ts").cast("timestamp").alias("updated_at"),
            F.col("sync_ts").cast("timestamp").alias("last_synced_at"),
            F.col("event_id").alias("_event_id"),
        )
        rows = latest_by_key(rows, "id", "last_synced_at", ["_event_id"]).drop("_event_id")
        # Backfill features referenced by the summary but absent from the
        # features table (reference backfillFeatures, stripeSync.ts:1692).
        if self.config.backfill_related_entities:
            self._backfill_parents("active_entitlements", rows, depth=0)
        with self._table_write_lock("active_entitlements"):
            if not self.store.exists("active_entitlements"):
                self._commit_buckets("active_entitlements", rows, None, key="customer")
                return rows.count()
            return self._entitlement_replace_set(summaries, rows)

    def _entitlement_replace_set(self, summaries: DataFrame, rows: DataFrame) -> int:
        """Replace-set, bucket-pruned BY CUSTOMER (the table's bucket key —
        schemas/entities.py BUCKET_KEYS): one customer's entitlements all
        live in one bucket, so reading the batch customers' buckets IS the
        discovery — rows of batch customers absent from the batch set die
        in the rewrite, rows of bucket-mate customers survive the
        replace_set anti-join. O(batch buckets); no full-table scan
        (previously the delete-key discovery scanned the whole table per
        micro-batch — the sync layer's scale-killer at 100× ingest).
        Touched customers come from the SUMMARIES (not the rows): a
        revoke-all summary has zero rows but must still clear its set.
        Caller holds the table write lock."""
        bkey = self._ensure_bucket_key("active_entitlements")
        nb_planned = self.store._table_n_buckets("active_entitlements")
        custs = summaries.select("customer").distinct()
        touched = self.store.buckets_of(custs, bkey, table="active_entitlements")
        bucket_target = self.store.read_buckets("active_entitlements", touched)
        merged = replace_set(bucket_target, rows, partition_key="customer", touched=custs)
        self._commit_buckets(
            "active_entitlements", merged, touched, key=bkey, planned_n_buckets=nb_planned
        )
        return rows.count()

    # -- child tables ----------------------------------------------------
    def _sync_subscription_items(self, subset: DataFrame) -> None:
        """Explode subscription.items.data → merge subscription_items, then
        soft-delete items that vanished from their subscription (reference
        stripeSync.ts:1607-1648, markDeletedSubscriptionItems :1559-1583)."""
        pm = F.from_json(F.col("payload"), "map<string,string>")
        parent = subset.select(
            pm["id"].alias("_sub_id"),
            F.from_json(F.from_json(pm["items"], "map<string,string>")["data"], "array<string>").alias("_items"),
            F.col("sync_ts"),
            F.col("event_id"),
        )
        items = parent.select(
            "_sub_id", "sync_ts", "event_id", F.explode_outer(F.col("_items")).alias("payload")
        ).where(F.col("payload").isNotNull())
        im = F.from_json(F.col("payload"), "map<string,string>")
        # price may arrive embedded → normalize to its id; deleted and
        # quantity get defaults (reference stripeSync.ts:1484-1509); child
        # rows are stamped with the parent subscription id (J5).
        rows = self._project(
            "subscription_items",
            items,
            overrides={
                "price": F.coalesce(F.get_json_object(F.col("payload"), "$.price.id"), im["price"]),
                "deleted": F.coalesce(im["deleted"].cast("boolean"), F.lit(False)),
                "quantity": F.coalesce(im["quantity"].cast("long"), F.lit(1)),
                "subscription": F.coalesce(im["subscription"], F.col("_sub_id")),
            },
            carry={"_event_id": F.col("event_id")},
        )
        # Merge + reconcile in ONE bucket rewrite. The table is bucketed by
        # subscription (schemas/entities.py BUCKET_KEYS), so the merge
        # plan's touched buckets already hold every existing item of every
        # batch subscription — stale-key discovery (items of batch
        # subscriptions absent from the batch item set, reference
        # markDeletedSubscriptionItems stripeSync.ts:1559-1583) happens
        # inside those buckets via soft_delete_reconcile, never via a
        # full-table scan, and the deleted flags ride the same version
        # commit as the upsert (one write per batch instead of two).
        with self._table_write_lock("subscription_items"):
            nb_planned = self.store._table_n_buckets("subscription_items")
            merged, touched, bkey, _n = self._merge_plan("subscription_items", rows)
            if not touched and self.store.exists("subscription_items"):
                return  # batch had no items — nothing to merge or reconcile
            current = rows.select("id", "subscription")
            # soft_delete_reconcile broadcasts its (batch-bounded) probe
            # sides, so the merge output's bucket clustering survives the
            # joins and the combined merge+reconcile commit stays a
            # one-shuffle write.
            marked = soft_delete_reconcile(merged, current, partition_key="subscription")
            self._commit_buckets(
                "subscription_items",
                marked,
                touched,
                key=bkey,
                pre_clustered=True,
                planned_n_buckets=nb_planned,
            )

    def _sync_checkout_line_items(self, session_rows: DataFrame) -> None:
        """Fetch line items per checkout session from the API, stamp the
        parent id, extract the price id, merge (reference
        stripeSync.ts:1511-1557)."""
        if self.api is None:
            return
        api = self.api

        def fetch(sid: str) -> list[dict]:
            out = []
            for item in api.list_line_items(sid):
                item = dict(item)
                if isinstance(item.get("price"), dict):
                    item["price"] = item["price"].get("id")
                item["checkout_session"] = sid
                out.append(item)
            return out

        sids = (r["id"] for r in session_rows.select("id").distinct().toLocalIterator())
        self._merge_pages(
            "checkout_session_line_items", _concurrent_fetch(fetch, sids), backfill_depth=None
        )

    # -- optional refetch / expansion ------------------------------------
    def _revalidate_chunks(
        self, entity: str, subset: DataFrame
    ) -> Iterator[tuple[DataFrame, list[str]]]:
        """T3 read-repair: ignore webhook payload, refetch from the API —
        unless the object is in a final state (P4 refetch suppression,
        reference fetchOrUseWebhookData stripeSync.ts:584-604). Refetches
        run ``API_CONCURRENCY``-wide off a chunked iterator, and results
        are YIELDED in ``FLUSH_CHUNK`` chunks (the reference's flush-250
        contract, stripeSync.ts:1037) — the driver never buffers the whole
        revalidated batch.

        Yields ``(chunk_df, deleted_ids)``: for entities where a failed
        refetch means the object was deleted upstream (Stripe's
        ``resource_missing`` on products/prices/plans — reference
        stripeSync.ts:267-273, 300-306, 333-339), the vanished ids ride
        alongside their chunk for deletion instead of being silently kept."""
        status_col, finals = R.FINAL_STATES.get(entity, ("status", ()))
        api = self.api
        treat_missing_as_delete = entity in R.DELETE_ON_REFETCH_MISSING

        def refetch(r) -> tuple:
            payload = json.loads(r["payload"])
            sync_ts = r["sync_ts"]
            deleted_id = None
            if payload.get(status_col) not in finals:
                fresh = api.retrieve(entity, payload["id"])
                if fresh is not None:
                    payload = fresh
                    # refetched → wall-clock sync timestamp (getSyncTimestamp,
                    # reference stripeSync.ts:580-582)
                    sync_ts = datetime.now(timezone.utc).replace(tzinfo=None)
                elif treat_missing_as_delete:
                    deleted_id = payload["id"]
            return (r["event_id"], r["event_type"], r["event_created"], json.dumps(payload), sync_ts), deleted_id

        buf: list[tuple] = []
        dels: list[str] = []
        for row, deleted_id in _concurrent_fetch(refetch, subset.toLocalIterator()):
            if deleted_id is not None:
                dels.append(deleted_id)
            else:
                buf.append(row)
            if len(buf) + len(dels) >= FLUSH_CHUNK:
                yield self.spark.createDataFrame(buf, _EVENT_ROW_SCHEMA), dels
                buf, dels = [], []
        if buf or dels:
            yield self.spark.createDataFrame(buf, _EVENT_ROW_SCHEMA), dels

    def _expanded_parts(
        self, entity: str, subset: DataFrame, objs: list[dict | None] | None = None
    ) -> Iterator[tuple[DataFrame, list[dict | None] | None]]:
        """autoExpandLists (reference expandEntity, stripeSync.ts:1736-1760):
        yields ``(part, part_objs)`` — the not-truncated remainder of the
        batch first, then the has_more=true events — payloads refetched
        with the full list — in ``FLUSH_CHUNK`` slices (flush-250
        contract). The caller merges each yielded part immediately, so
        neither the Python buffer nor any single Spark local relation grows
        past one chunk of expanded payloads.

        ``part_objs`` are the part's decoded payloads, or None when the
        batch's are unknown (a DataFrame-fed batch). Given ``objs``, the
        has_more check runs in Python (``_has_more``) — with nothing to
        expand, the common case, the batch passes through untouched and no
        Spark job runs. Refetched chunks are built driver-side, so their
        payloads always ride along."""
        prop = R.EXPANDABLE_LISTS.get(entity)
        if not self.config.auto_expand_lists or prop is None or self.api is None:
            yield subset, objs
            return
        rest = None
        if objs is not None:
            flags = [_has_more(o, prop) for o in objs]
            if not any(flags):
                yield subset, objs
                return
            rest = [o for o, f in zip(objs, flags) if not f]
        has_more = F.get_json_object(F.col("payload"), f"$.{prop}.has_more") == "true"
        needs = subset.where(has_more)
        yield subset.where(~F.coalesce(has_more, F.lit(False))), rest
        api = self.api

        def expand(r) -> tuple[tuple, dict]:
            payload = json.loads(r["payload"])
            full = api.list_expanded(entity, payload["id"], prop)
            payload[prop] = {"object": "list", "data": full, "has_more": False}
            row = (r["event_id"], r["event_type"], r["event_created"], json.dumps(payload), r["sync_ts"])
            return row, payload

        fetched = _concurrent_fetch(expand, needs.toLocalIterator())
        for chunk in _chunks(fetched, FLUSH_CHUNK):
            rows, payloads = zip(*chunk)
            yield self.spark.createDataFrame(list(rows), _EVENT_ROW_SCHEMA), list(payloads)

    # -- parent backfill ---------------------------------------------------
    def _backfill_parents(self, entity: str, rows: DataFrame, depth: int) -> None:
        """Anti-join the batch's FK ids against the parent table; fetch and
        upsert the missing parents (reference backfill via
        findMissingEntries + fetchMissingEntities,
        database/postgres.ts:106-120 + stripeSync.ts:1762-1776). Fetched
        parents backfill their own parents one level deeper, down to
        ``max_backfill_depth``."""
        if self.api is None or depth >= self.config.max_backfill_depth:
            return
        api = self.api
        for fk, parent in R.BACKFILL_PARENTS.get(entity, []):
            if fk not in rows.columns:
                continue
            ids = rows.select(F.col(fk).alias("id")).where(F.col("id").isNotNull()).distinct()
            # The existence probe reads only the buckets that could hold the
            # candidate ids — O(batch buckets), never the whole parent id
            # column (an id absent from its bucket is missing by
            # definition). Falls back to a full read only if a parent table
            # were bucketed by a non-id key (none are today).
            # The missing-id probe MATERIALIZES under the parent's write
            # lock: a sibling thread (parallel backfill level, threaded
            # webhook batch) merging the same parent would otherwise commit
            # and — at vacuum_retain_s=0 — reclaim the version dirs this
            # probe's lazily-executed scan still references. The id list is
            # bounded by the batch's distinct FKs. API fetches then run
            # OUTSIDE the lock (they dominate wall time and touch no store
            # state).
            with self._table_write_lock(parent):
                parent_df = None
                if self.store.exists(parent):
                    if self.store.table_bucket_key(parent) == "id":
                        probe = self.store.buckets_of(ids, "id", table=parent)
                        parent_df = self.store.read_buckets(parent, probe)
                    else:  # pragma: no cover
                        parent_df = self.store.read(parent)
                missing = (
                    ids if parent_df is None
                    # batch-side broadcast probe: the parent scan is never
                    # shuffled (operators/incremental_dedup.anti_probe)
                    else anti_probe(ids, parent_df, ["id"])
                )
                missing_ids = [r["id"] for r in missing.toLocalIterator()]
            fetched = [
                obj
                for obj in _concurrent_fetch(lambda mid: api.retrieve(parent, mid), missing_ids)
                if obj is not None
            ]
            if fetched:
                self._merge_objects(parent, fetched, backfill_depth=depth + 1)

    # -- merge -------------------------------------------------------------
    def _ensure_bucket_key(self, entity: str) -> str:
        """The entity's declared storage bucket key — rebucketing the table
        ONCE if its manifest records a different key (a store created
        before BUCKET_KEYS declared parent-FK bucketing is id-bucketed;
        pruning by the declared key against it would read the wrong
        buckets and duplicate ids on write). The one-time O(table) rewrite
        is the upgrade path; every subsequent batch is bucket-pruned."""
        bkey = bucket_key(entity)
        if self.store.exists(entity) and self.store.table_bucket_key(entity) != bkey:
            self.store.write(entity, self.store.read(entity), key=bkey)
        return bkey

    def _merge_plan(
        self,
        entity: str,
        rows: DataFrame,
        update_cols: list[str] | None = None,
        driver_key_values: list[str] | None = None,
    ) -> tuple[DataFrame, list[int], str, int]:
        """Build (but do not write) the merged contents of the buckets a
        batch touches. Returns ``(merged, touched_buckets, bucket_key,
        n_batch_rows)`` so callers that compose further bucket-local
        operators onto the merge (subscription-item reconciliation) commit
        ONE version instead of two. Every merge, full-row or partial
        (``update_cols``: customer.deleted), is ``merge_upsert_clustered``:
        ONE shuffle clustered by the store's bucket expression, so
        ``merged`` is always pre-clustered and its write skips the
        rebalance exchange (``write_buckets(pre_clustered=True)``)."""
        # Public UDF seam (SURVEY §2.10): user-registered per-entity
        # transforms run on the projected rows just before every merge —
        # all write paths (webhook, backfill, fan-out, point sync) funnel
        # through here.
        rows = apply_transforms(entity, rows)
        # Enum-as-text checks (reference Postgres enum types) ride the
        # merge plan itself — no extra validation pass.
        rows = validate_enums(entity, rows, policy=self.config.enum_policy)
        # Webhook-fed rows carry ``_event_id`` so two events for the same
        # object with equal event.created (same-second updates are common)
        # reduce deterministically — the reference applies rows sequentially
        # so the later statement wins; a set-oriented argmax needs an
        # explicit total order.
        tiebreaks = ["_event_id"] if "_event_id" in rows.columns else None
        # Bucket pruning: only the store buckets containing batch keys are
        # read, merged, and rewritten — merge cost scales with the batch,
        # not the table (O(table) full-outer + full rewrite was the
        # dominant scale-killer in the sync layer). The bucket key is the
        # table's declared one (schemas/entities.py BUCKET_KEYS — the
        # parent FK for per-parent-set tables, so parent-scoped rewrites
        # stay bucket-local too). The probe job doubles as the batch-row
        # accounting, so no separate count() re-executes the
        # parse→project lineage per entity.
        bkey = self._ensure_bucket_key(entity)
        if driver_key_values is not None and not transforms_for(entity):
            # Zero-job probe (r16): the batch's bucket-key values are
            # driver-known (see _driver_key_values for the validity
            # conditions, re-checked here against late transform
            # registration) — the probe + row accounting is a Python
            # Counter over the XXH64 parity hash instead of a Spark job.
            probe = self.store.bucket_counts_of_values(driver_key_values, table=entity)
        else:
            probe = self.store.bucket_counts(rows, bkey, table=entity)
        touched = [b for b, _ in probe]
        n_rows = int(sum(n for _, n in probe))
        target = self.store.read_buckets(entity, touched)
        merged = merge_upsert_clustered(
            target,
            rows,
            cluster_expr=self.store.cluster_expr_for(entity, bkey),
            key="id",
            ts_col="last_synced_at",
            tiebreak_cols=tiebreaks,
            # one task per touched bucket (r16): without the explicit
            # count AQE coalesces the merge's exchange to one task for
            # a micro-batch, and that task writes every touched bucket
            # dir sequentially — the serial tail the non-pre-clustered
            # write path already avoids (storage._prepare_buckets).
            num_partitions=max(1, len(touched)),
            update_cols=update_cols,
        )
        if tiebreaks:
            merged = merged.drop(*tiebreaks)
        return merged, touched, bkey, n_rows

    def rebucket_entity(self, entity: str, n_buckets: int) -> None:
        """Online rebucket serialized against this engine's merges: the
        table write lock guarantees no merge is between its bucket probe
        and its commit while the width changes (a straddling out-of-band
        write still fails loudly at the store's width check rather than
        corrupting)."""
        with self._table_write_lock(entity):
            self.store.rebucket(entity, n_buckets)

    def create_views(self, prefix: str = "stripe_", as_of_ms: int | None = None) -> list[str]:
        """Expose every synced table to Spark SQL users — the reference's
        stated purpose for the synced schema (README.md:18-20: the tables
        exist to be queried with ordinary SQL and joined against business
        data; its 20+ btree indexes exist to serve those predicates).

        Each table with a committed manifest becomes a temp view over the
        ``stripe_store`` Python DataSource, so
        ``spark.sql("SELECT ... FROM stripe_charges WHERE created >= ...")``
        gets MANIFEST-STAT BUCKET PRUNING: the WHERE reaches the reader's
        pushFilters, buckets whose stats exclude it are never scanned
        (input partitions == surviving buckets), and Spark re-applies the
        exact predicate above the scan so results are identical to
        ``store.read(table).filter(...)``. Freshness: a FILTERED query
        re-plans and re-reads the current manifest, so a merge landing
        between two such queries is visible to the second; an UNFILTERED
        scan can reuse the manifest an earlier query on the view planned
        with, missing later commits. Call this again after writes (and
        after creating new tables, e.g. a first webhook for a new entity)
        — a stale scan whose bucket versions were since vacuumed fails
        loudly instead of returning missing rows.

        Returns the view names registered.

        ``as_of_ms`` pins every view to the retained history snapshot
        current at that epoch-ms instant (Delta ``TIMESTAMP AS OF``
        semantics; requires a vacuum retention, like
        ``TableStore.read(as_of_ms=...)``) — pass a distinct ``prefix``
        (e.g. ``"stripe_asof_"``) to query a snapshot next to the live
        views. Tables with no retained snapshot at that instant are
        skipped (they did not exist yet, or history was pruned)."""
        from stripe_sync_engine_spark.sources.store_datasource import build_store_datasource

        # the Python-datasource pushdown path is conf-gated; planning
        # fails loudly without it, so flip it here (dynamic conf)
        self.spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        self.spark.dataSource.register(build_store_datasource())
        views = []
        for table in self.store.tables():
            if as_of_ms is not None and not [
                c for c in self.store.commits(table) if c <= as_of_ms
            ]:
                continue  # no snapshot at that instant: table didn't exist
            reader = (
                self.spark.read.format("stripe_store")
                .option("root", self.store.root)
                .option("table", table)
            )
            if as_of_ms is not None:
                reader = reader.option("as_of_ms", str(as_of_ms))
            name = f"{prefix}{table}"
            reader.load().createOrReplaceTempView(name)
            views.append(name)
        return views

    # ------------------------------------------------------------------
    # Change data feed (storage.read_changes) + durable consumer cursors
    # ------------------------------------------------------------------
    def changes(
        self,
        entity: str,
        since_ms: int,
        until_ms: int | None = None,
        allow_full_diff: bool = False,
        emit_update_preimages: bool = False,
    ):
        """Row-level net changes of one synced table between two retained
        snapshots — ``TableStore.read_changes`` with the entity's table
        name. The reference's consumers poll the Postgres tables (or bolt
        logical decoding onto them) to feed downstream marts; this is
        that capability native to the store: O(changed buckets), with
        compaction invisible. See ``consume_changes`` for the
        managed-cursor form. A rebucket inside the window raises unless
        ``allow_full_diff=True`` (the explicit O(table) recovery path);
        ``emit_update_preimages`` passes through like every other feed
        surface."""
        return self.store.read_changes(
            entity,
            since_ms,
            until_ms=until_ms,
            allow_full_diff=allow_full_diff,
            emit_update_preimages=emit_update_preimages,
        )

    def read_changes_stream(
        self,
        entity: str,
        starting_commit_ms: int = 0,
        emit_update_preimages: bool = False,
        emit_window_bounds: bool = False,
    ) -> DataFrame:
        """The change feed as a Structured Streaming source: each
        micro-batch is the net row-level diff between two retained
        snapshots, with Spark's checkpoint as the cursor (exactly-once
        across restarts — the streaming twin of ``consume_changes``).
        One input partition per changed bucket, diffed locally (bucket
        widths pair old and new rows — zero shuffle); see
        ``sources/store_datasource.build_changes_datasource``. Default
        start = 0: the first batch delivers the whole table as inserts.
        ``emit_update_preimages`` matches the batch feed's option (one
        contract across both surfaces): each update also yields its OLD
        row as ``_change_type='update_preimage'``.
        ``emit_window_bounds`` appends a ``_window_until_ms`` column
        carrying each micro-batch's end offset (commit ms) — the PUBLIC
        window bound cursor-aligned consumers (the mixture folds) need,
        replacing any dependence on Spark's private checkpoint file
        layout (see ``build_changes_datasource``)."""
        from stripe_sync_engine_spark.sources.store_datasource import (
            build_changes_datasource,
        )

        self.spark.dataSource.register(build_changes_datasource())
        return (
            self.spark.readStream.format("stripe_store_changes")
            .option("root", self.store.root)
            .option("table", entity)
            .option("starting_commit_ms", str(starting_commit_ms))
            .option("emit_update_preimages", str(emit_update_preimages).lower())
            .option("emit_window_bounds", str(emit_window_bounds).lower())
            .load()
        )

    def _cursor_path(self, consumer: str) -> str:
        return os.path.join(self.store.root, "_cursors", f"{consumer}.json")

    def _read_cursors(self, consumer: str) -> dict:
        try:
            with open(self._cursor_path(consumer)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _pending_path(self, consumer: str) -> str:
        return os.path.join(self.store.root, "_cursors", f"{consumer}.pending.json")

    def _read_pending(self, consumer: str) -> dict:
        try:
            with open(self._pending_path(consumer)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def consume_changes(
        self,
        consumer: str,
        entity: str,
        max_commits: int | None = None,
        allow_full_diff: bool = False,
        emit_update_preimages: bool = False,
        pin_window: bool = False,
    ):
        """At-least-once incremental consumption with a durable cursor:
        returns ``(changes_df, cursor_ms)`` — every change after the
        consumer's acknowledged position, up to and including the commit
        current when this call planned (later commits wait for the next
        poll, so the DataFrame and the returned cursor always agree).
        The caller processes the batch, then calls ``ack_changes(consumer,
        entity, cursor_ms)``; a crash before the ack simply re-delivers
        the same window (net-change batches are idempotent to re-apply).
        A first-time consumer (no cursor) receives the whole current
        table as inserts — the initial load. One writer per consumer
        name; the cursor survives engine restarts (a JSON file under the
        store root). Retention contract: ``vacuum_retain_s`` must exceed
        the consumer's maximal lag, or the since-snapshot ages out and
        the read raises loudly.

        ``max_commits`` bounds a catch-up: a consumer that fell far
        behind otherwise gets its whole lag as ONE window (every bucket
        touched since the cursor, read and diffed at once); capping
        advances at most that many source commits per poll, so each
        batch stays proportional to a bounded slice of the write
        history and the consumer drains its backlog in steady,
        ack-checkpointed steps.

        ``pin_window=True`` makes the re-delivered window IDENTICAL
        across crash-retries (the two-phase cursor): the planned
        ``until`` is durably recorded BEFORE the frame is returned and
        reused on the next poll until the ack clears it — without the
        pin, a crash between apply and ack followed by any new source
        commit re-delivers the overlap under a LATER ``until``, so a
        consumer that keys work on the cursor (the fan-out's batch ids,
        hence the postings N/avgdl increments) would double-count the
        overlap under the new id. Net-window consumers keyed on row
        identity (``materialize_changes``) don't need it."""
        cursors = self._read_cursors(consumer)
        since = int(cursors.get(entity, 0))
        commits = self.store.commits(entity)
        if not commits:
            return None, since  # table has never committed
        pinned = int(self._read_pending(consumer).get(entity, 0)) if pin_window else 0
        if pinned > since:
            # A prior poll planned this window and may have partially
            # applied under its id — re-deliver EXACTLY it. A pin that no
            # longer matches any commit means the store's history was
            # rewritten underneath the consumer; identical re-delivery is
            # impossible, so fail loudly rather than double-apply.
            if pinned not in commits:
                # Two distinct causes land here: (a) the history was
                # rewritten underneath the consumer, or (b) retention
                # aging — vacuum_orphans pruned the pinned commit's
                # _history entry during an outage longer than the
                # vacuum's min_age_s. Both make identical re-delivery
                # impossible, so both fail loudly; the retention
                # contract is that vacuum min_age_s / vacuum_retain_s
                # must exceed the maximum fan-out consumer outage so an
                # outstanding pin stays resolvable.
                raise RuntimeError(
                    f"pinned change window {pinned} for consumer "
                    f"{consumer!r} on {entity!r} matches no commit — "
                    "either the store history was rewritten, or vacuum "
                    "retention pruned the pinned commit during a long "
                    "consumer outage (keep vacuum min_age_s above the "
                    "maximum consumer outage). Identical re-delivery is "
                    "impossible; rebuild the consumer's targets"
                )
            until = pinned
        else:
            pending = [c for c in commits if c > since]
            if max_commits is not None and len(pending) > max_commits:
                until = pending[max_commits - 1]
            else:
                until = commits[-1]
            if pin_window and until > since:
                pend = self._read_pending(consumer)
                pend[entity] = int(until)
                atomic_write_json(self._pending_path(consumer), pend)
        return (
            self.store.read_changes(
                entity,
                since,
                until_ms=until,
                allow_full_diff=allow_full_diff,
                emit_update_preimages=emit_update_preimages,
            ),
            until,
        )

    def ack_changes(self, consumer: str, entity: str, cursor_ms: int) -> None:
        """Durably advance ``consumer``'s cursor on ``entity`` to
        ``cursor_ms`` (the value ``consume_changes`` returned). Atomic
        replace; per-consumer file, so distinct consumers never contend.
        Clears any pinned window at or below the new cursor (the second
        phase of ``pin_window``'s two-phase cursor); cursor FIRST, so a
        crash between the writes leaves a stale pin the next poll
        ignores (``pinned > since`` fails) rather than a lost ack."""
        cursors = self._read_cursors(consumer)
        cursors[entity] = int(cursor_ms)
        atomic_write_json(self._cursor_path(consumer), cursors)
        pend = self._read_pending(consumer)
        if entity in pend and int(pend[entity]) <= int(cursor_ms):
            del pend[entity]
            atomic_write_json(self._pending_path(consumer), pend)

    def maintain_corpus_indexes(
        self,
        consumer: str,
        entity: str,
        gates: Iterable = (),
        postings=None,
        ann=None,
        max_commits: int | None = None,
        emit_update_preimages: bool = False,
        allow_full_diff: bool = False,
        mixture_folds: Iterable = (),
    ) -> dict:
        """One poll of the corpus CDC fan-out: consume ``entity``'s
        change window under ``consumer``'s durable cursor, apply it to
        every derived-index target — ``gates`` (objects with
        ``apply_changes(feed)``: the exact/near/embedding gates),
        ``postings`` (``PersistedPostingsIndex``), ``ann``
        (``PersistedIVFPQ``) — and ack ONLY after every target applied.
        The glue a corpus operator runs from cron so the retrieval and
        dedup layers track the mutating corpus together.

        ``mixture_folds``: maintained driver-side histograms
        (``operators/mixing.CategoryCounts`` / ``StratifiedCDF``) fed
        THIS consumer's window via their ``apply_window`` instead of
        each re-diffing the same change window under its own consumer —
        at deployment that was N redundant bucket-diffs per cycle.
        Requires ``emit_update_preimages=True`` (enforced loudly): a
        fold without pre-images cannot move an updated row's weight out
        of its old (category, stratum). Fold state commits before the
        ack, and a crash retry's re-delivered pinned window is skipped
        by the fold's applied_until match — the same replay idempotence
        the index targets have. Onboard a fold that missed windows with
        ``fold.rebase(at_ms=<this consumer's current cursor>)``; don't
        mix standalone ``fold.poll()`` with fan-out delivery (the
        alignment guard raises).

        At-least-once end to end: a crash anywhere before the ack
        re-delivers the same window, and every target's apply_changes is
        replay-idempotent (their own tests pin it), so the fan-out
        converges with no coordination beyond the single cursor. The
        window's batch id is ``<consumer>:<cursor_ms>`` — the epoch
        convention, so the postings fold ledger stays O(consumers) no
        matter how many windows ever apply (``sub_batch_id``) — and the
        window is PINNED (``consume_changes(pin_window=True)``): a crash
        between apply and ack re-delivers the identical window under the
        identical id even when new source commits landed in between, so
        the batch-id-keyed postings stats never see the overlap twice
        (the retry is a true replay; the new commits become the NEXT
        window). Pass ``emit_update_preimages=True`` when the gates
        should retire updated-away content incrementally (pre-image rows
        are ignored by the id-keyed postings/ANN targets). Returns
        ``{"cursor", "applied", "rows"}`` (``rows`` = net change rows,
        pre-image rows excluded) and appends the same record to the
        store's durable ``_maintenance_log.jsonl`` — the cron loop an
        operator runs forever leaves an auditable trace."""
        gates = tuple(gates)
        mixture_folds = tuple(mixture_folds)
        if mixture_folds and not emit_update_preimages:
            raise ValueError(
                "mixture_folds require emit_update_preimages=True — "
                "without pre-image rows an update cannot move its "
                "weight out of the old (category, stratum)"
            )
        # the window's lower bound, read BEFORE the consume: the folds'
        # alignment guard checks their applied_until against it (a
        # pinned crash-retry re-reads the same unadvanced cursor, so
        # the retry window's bounds are byte-identical too)
        since = int(self._read_cursors(consumer).get(entity, 0))
        feed, cursor = self.consume_changes(
            consumer,
            entity,
            max_commits=max_commits,
            allow_full_diff=allow_full_diff,
            emit_update_preimages=emit_update_preimages,
            pin_window=True,
        )
        if feed is None:
            return {"cursor": cursor, "applied": False, "rows": 0}
        n, applied_feed = self._apply_change_window(
            feed, f"{consumer}:{cursor}", gates, postings, ann
        )
        for fold in mixture_folds:
            # even an empty window advances the fold's cursor so it
            # stays aligned with this consumer for the NEXT window
            fold.apply_window(applied_feed, since, cursor)
        self.ack_changes(consumer, entity, cursor)
        report = {
            "op": "corpus_cdc_fanout",
            "consumer": consumer,
            "entity": entity,
            "window": f"{consumer}:{cursor}",
            "cursor": cursor,
            "applied": bool(n),
            "rows": n,
            "targets": {
                "gates": len(gates),
                "postings": postings is not None,
                "ann": ann is not None,
                "mixture_folds": len(mixture_folds),
            },
        }
        if n and ann is not None and hasattr(ann, "measure_codebook_drift"):
            # apply_changes keeps the codes current but the codebook ages
            # (pq_index: "retrain means rebuild") — measure the WINDOW's
            # post-image vectors against the pinned baseline: the
            # incoming distribution vs the training distribution, which
            # is the drift that ages the codebook, at O(window) cost (a
            # corpus-wide number is the audit's job, on the operator's
            # schedule). Post-ack and observability-only, so a failure
            # here must not make the successfully committed poll look
            # failed — it lands in the report instead.
            try:
                post = applied_feed.where(
                    F.col("_change_type").isin("insert", "update")
                )
                report["ann_drift"] = ann.measure_codebook_drift(post)
            except Exception as e:  # noqa: BLE001 — reported, never silent
                report["ann_drift"] = {"error": f"{type(e).__name__}: {e}"}
        self._log_maintenance(report)
        return {"cursor": cursor, "applied": bool(n), "rows": n}

    def audit_corpus_indexes(
        self,
        entity: str,
        gates: Iterable = (),
        postings=None,
        ann=None,
        sample: int = 64,
        mixture_folds: Iterable = (),
        fold_sample: int | None = _FOLD_SAMPLE_UNSET,
        fold_epoch: int | None = None,
    ) -> dict:
        """Sampled drift audit of the derived indexes against ``entity``'s
        CURRENT table — ``verify_export`` for the fan-out targets (see
        ``operators/index_audit``). Same target list as
        ``maintain_corpus_indexes``, so a cron loop can audit exactly
        what it maintains; the report (incl. per-target drift ids,
        bounded) lands in the durable ``_maintenance_log.jsonl``. Catches
        out-of-band mutations no ledger can see — e.g. the exact gate's
        non-refcounted takedown edge, a hand-moved ANN code row, or a
        truncated postings stats table.

        ``mixture_folds``: audit the fan-out's maintained fold state too
        (``fold.verify(sample=fold_sample, epoch=fold_epoch)`` —
        recount AS OF each fold's own committed cursor, read-only,
        exact even while the fold lags). ``fold_sample`` bounds the
        fold leg like every other audit leg: it recounts that many
        hash-chosen snapshot BUCKETS (default 8 of the table's 32 — a
        quarter of the data) under the concentration tolerance
        documented on ``_MaintainedFold.verify``, with atom-shaped
        margins auto-escalated to an exact recount (r15) — gross drift
        (a doubled or wiped large entry) is caught; off-by-a-few on
        small cells needs the deep option, ``fold_sample=None`` (one
        exact O(table) scan per fold). NOTE (r14 behavior change): the
        sampled default WIDENS what an unchanged pre-r14 audit cron
        tolerates — small real drift the old exact default caught now
        passes the sampled leg; crons that relied on exact small-drift
        detection must pass ``fold_sample=None`` explicitly (a
        one-time RuntimeWarning per process flags the implicit
        default, per ADVICE r14). ``fold_epoch`` seeds the sampled
        leg's bucket rotation; the default (None) rotates by wall-clock
        day so an IDLE corpus is still re-covered across scheduled
        audits. A failing fold flips the report's ``ok`` and is
        repairable by ``repair_corpus_indexes`` with the same fold
        list."""
        from stripe_sync_engine_spark.operators.index_audit import (
            audit_corpus_indexes as _audit,
        )

        if fold_sample is _FOLD_SAMPLE_UNSET:
            fold_sample = 8
            global _SAMPLED_FOLD_DEFAULT_NOTICED
            if tuple(mixture_folds) and not _SAMPLED_FOLD_DEFAULT_NOTICED:
                _SAMPLED_FOLD_DEFAULT_NOTICED = True
                import warnings

                warnings.warn(
                    "audit_corpus_indexes is using the SAMPLED fold "
                    "audit by default (fold_sample=8, a quarter of the "
                    "table per fold) — small real drift that the pre-r14 "
                    "exact default flagged now passes; pass "
                    "fold_sample=None for the exact scan or an explicit "
                    "fold_sample to silence this one-time notice",
                    RuntimeWarning,
                    stacklevel=2,
                )
        corpus = self.store.read(entity)
        if corpus is None:
            raise ValueError(
                f"unknown entity {entity!r} — no table to audit against"
            )
        report = _audit(
            corpus,
            gates=tuple(gates),
            postings=postings,
            ann=ann,
            sample=sample,
        )
        report["entity"] = entity
        mixture_folds = tuple(mixture_folds)
        if mixture_folds:
            fold_reports = []
            for fold in mixture_folds:
                v = fold.verify(sample=fold_sample, epoch=fold_epoch)
                ident = fold.identity()
                rep_f = {
                    # the state path is the fold's identity across
                    # audit → repair (guards/salts ride the path)
                    "state": ident["state"],
                    "kind": "mixture_fold",
                    "guard": ident["guard"],
                    "ok": bool(v["ok"]),
                    "cursor": int(v["cursor"]),
                    "mode": v.get("mode", "exact"),
                    "drift_entries": len(v["drift"]),
                }
                if "sample" in v:
                    # the rotation evidence an operator reads from the
                    # maintenance log: which slice this audit covered
                    rep_f["epoch"] = v["sample"]["epoch"]
                    rep_f["bucket_ids"] = v["sample"]["bucket_ids"]
                if "escalated" in v:
                    rep_f["escalated"] = len(v["escalated"])
                if "degraded" in v:
                    rep_f["degraded"] = v["degraded"]
                fold_reports.append(rep_f)
            report["mixture_folds"] = fold_reports
            report["ok"] = bool(report["ok"]) and all(
                r["ok"] for r in fold_reports
            )
        self._log_maintenance(report)
        return report

    def repair_corpus_indexes(
        self,
        entity: str,
        report: dict,
        gates: Iterable = (),
        postings=None,
        ann=None,
        mixture_folds: Iterable = (),
    ) -> dict:
        """Repair the content-keyed fan-out targets from an
        ``audit_corpus_indexes`` report (see ``operators/index_audit.
        repair_from_audit``): drifted docs re-register through the
        exact/near gates and the embedding index, each repaired target is
        re-audited before the result returns, and failing postings /
        IVF-PQ targets are refused with their rebuild pointer. The
        outcome lands in the durable ``_maintenance_log.jsonl`` beside
        the audit that prompted it; a replayed repair is a no-op.

        Failing MIXTURE FOLDS in the report repair by
        ``rebase(at_ms=<the fold's own audited cursor>)`` — recount the
        retained snapshot the corrupt state claims to be at, which fixes
        the counts WITHOUT moving the fold's cursor, so a fan-out-driven
        fold stays window-aligned with its consumer (a head rebase would
        strand it ahead of the fan-out's cursor and trip the alignment
        guard on the next partially-overlapping window). Each repaired
        fold is re-verified before the result returns; a failing fold
        whose object was not passed is REFUSED, same as an unaddressed
        gate (ok must never read clean over a known-failing target)."""
        from stripe_sync_engine_spark.operators.index_audit import (
            repair_from_audit as _repair,
        )

        corpus = self.store.read(entity)
        if corpus is None:
            raise ValueError(
                f"unknown entity {entity!r} — no table to repair against"
            )
        result = _repair(
            report, corpus, gates=tuple(gates), postings=postings, ann=ann
        )
        by_state = {f.identity()["state"]: f for f in tuple(mixture_folds)}
        for rep_f in report.get("mixture_folds", []):
            if rep_f.get("ok"):
                continue
            fold = by_state.get(rep_f["state"])
            if fold is None:
                result["refused"].append(
                    {
                        "table": rep_f["state"],
                        "kind": "mixture_fold",
                        "reason": (
                            "failing fold was not passed to "
                            "repair_corpus_indexes — pass the fold object "
                            "and re-run; a repair that skips a known-"
                            "failing target must not read as clean"
                        ),
                    }
                )
                continue
            fold.rebase(at_ms=int(rep_f["cursor"]))
            post = fold.verify()
            result["repaired"].append(
                {
                    "table": rep_f["state"],
                    "kind": "mixture_fold",
                    "drifted_docs": int(rep_f.get("drift_entries", 0)),
                    "post_ok": bool(post["ok"]),
                }
            )
        result["ok"] = not result["refused"] and all(
            r["post_ok"] for r in result["repaired"]
        )
        result["entity"] = entity
        self._log_maintenance(result)
        return result

    @staticmethod
    def _apply_change_window(feed, window: str, gates, postings, ann):
        """ONE implementation of the derived-index fan-out body shared by
        the cron form (``maintain_corpus_indexes``) and the streaming
        twin (``streaming/index_maintenance``) — a fix to the apply
        ordering or a new target kind lands on both surfaces at once.
        Checkpoints the window FIRST so every target (and the emptiness
        probe) reads one cached snapshot instead of re-running the diff
        lineage. Returns ``(net_rows, checkpointed_feed)`` — net excludes
        ``update_preimage`` rows (present when the feed opted into
        pre-images), which describe the same updates their post-image
        rows already count and would overstate every report's window
        size; the checkpointed feed comes back so callers' post-apply
        probes (the drift metric) reuse the cached snapshot instead of
        re-running the diff lineage.

        Targets apply CONCURRENTLY (r15, guide §2.6 — overlap
        independent jobs): each target owns disjoint store tables, so
        their many small probe/commit jobs back-fill each other's
        scheduler idle time instead of serializing; wall per window is
        max(target), not sum. Failure semantics (``run_parallel``'s): every
        target's outcome is awaited, and the first failure (in declared
        target order, deterministically) propagates so the caller never
        acks a partially failed window. At-least-once already tolerated
        any committed PREFIX of targets before an ack-less crash;
        concurrency widens that to any committed SUBSET, which the same
        per-target replay idempotence covers."""
        feed = feed.localCheckpoint(eager=True)
        counts = feed.agg(
            F.count(F.lit(1)).alias("all"),
            F.count(
                F.when(F.col("_change_type") != "update_preimage", F.lit(1))
            ).alias("net"),
        ).first()
        if counts["all"]:
            tasks = [lambda g=g: g.apply_changes(feed) for g in gates]
            if postings is not None:
                tasks.append(lambda: postings.apply_changes(feed, window))
            if ann is not None:
                tasks.append(lambda: ann.apply_changes(feed, window))
            run_parallel(*tasks)
        return int(counts["net"]), feed

    def materialize_changes(
        self,
        consumer: str,
        entity: str,
        dst_table: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        allow_full_diff: bool = False,
    ) -> int:
        """Maintain a derived table from the change feed — one poll of the
        downstream-mart loop: consume the net window, apply it to
        ``dst_table`` (post-image rows merged by key, deleted keys
        removed), then ack. ``transform`` maps the post-image rows
        row-wise (project/rename/derive; it must PRESERVE the source key
        column, which stays the mart's merge key). Returns the number of
        change rows applied.

        Crash-safe by construction: the ack happens after the commit, so
        a crash in between re-delivers the same net window — and
        re-applying a net window is idempotent (upserts overwrite to the
        same values, deletes of absent keys are no-ops). Cost per poll is
        O(changed buckets of the source) to read the feed plus O(touched
        buckets of the mart) to apply it — never a full recompute, the
        same property the engine's incremental rollups have, but for
        arbitrary row-wise marts and available to OUT-OF-PROCESS
        consumers via the durable cursor.

        If the source was rebucketed inside the consumer's lag window the
        feed raises (see ``changes``); pass ``allow_full_diff=True`` for
        one poll to take the O(table) recovery diff and move the cursor
        past the rebucket — without it the loop would be wedged with no
        path through this API."""
        feed, cursor = self.consume_changes(
            consumer, entity, allow_full_diff=allow_full_diff
        )
        if feed is None:
            return 0
        key = self.store.table_bucket_key(entity)
        upserts = feed.where(F.col("_change_type") != "delete").drop("_change_type")
        if transform is not None:
            upserts = transform(upserts)
            if key not in upserts.columns:
                raise ValueError(
                    f"transform must preserve the key column {key!r} — it is the "
                    f"mart's merge key"
                )
        all_keys = feed.select(key)
        n = 0
        with self._table_write_lock(dst_table):
            if not self.store.exists(dst_table):
                # Count ALL change rows (deletes included) so the return
                # value means the same thing on bootstrap as on every
                # later poll.
                n = all_keys.count()
                self.store.write(dst_table, upserts, key=key)
            else:
                # ONE bucket aggregation serves as both the touched-bucket
                # probe and the row accounting — bucket_counts' contract;
                # a second aggregation would re-execute the snapshot-diff
                # feed lineage.
                counts = self.store.bucket_counts(all_keys, key=key, table=dst_table)
                touched = [b for b, _ in counts]
                n = sum(c for _, c in counts)
                if touched:
                    cur = self.store.read_buckets(dst_table, touched)
                    merged = cur.join(all_keys, key, "left_anti").unionByName(upserts)
                    self.store.write_buckets(dst_table, merged, touched, key=key)
        self.ack_changes(consumer, entity, cursor)
        return n

    def maintain(
        self,
        max_files_per_bucket: int = 1,
        orphan_min_age_s: float = 3600.0,
        landing: tuple[str, str] | None = None,
        fold_gates_past_horizon: bool = False,
    ) -> dict:
        """One scheduled-maintenance entry point — the engine's analog of
        Postgres autovacuum, which the reference gets for free. For every
        committed table: lock-serialized small-file compaction (only
        fragmented buckets rewrite; steady-state CDC is a no-op) and
        orphan/history reclamation past ``orphan_min_age_s``. With
        ``landing=(landing_dir, checkpoint_dir)``, also vacuums the
        streaming landing zone past its checkpoint. Safe to run from cron
        next to live merges AND live streams: compaction holds the table
        write lock against engine merges; streaming gate tables commit
        outside engine locks, so both sides re-plan or concede on the OCC
        race — the stream's register retries (``with_occ_retry``), and a
        compaction that keeps losing skips the table (``compact_skipped``
        in the report) for the next pass. Vacuum honors the retention
        contract, and the landing sweep only touches durably-committed
        envelopes. Returns per-table counts.

        ``fold_gates_past_horizon=True`` additionally folds the growing
        per-batch gate state at its DEFAULT table names — the span gate's
        ``_gram_counts`` (``IncrementalSpanDeduper.fold_history``), the
        postings ``_postings_stats`` (``fold_stats``), and the packer's
        ``_pack_progress`` (``IncrementalPacker.fold_progress``) — committing
        the folded batch ids to their durable FoldLedgers, after which
        replays of those batches are REFUSED. Only pass it when every
        stream over those gates is drained past the folded batches (the
        same judgment call as retiring a checkpoint); run it from the
        between-streams maintenance window, not the steady-state cron."""
        report: dict = {"compacted": {}, "compact_skipped": {}, "orphans_removed": {}, "landing_removed": 0}
        report["consumers_at_risk"] = self._consumers_at_risk()
        for table in self.store.tables():
            # Streaming gate tables commit outside the engine's table
            # locks; their registers re-plan when THIS compaction wins the
            # OCC race (with_occ_retry), and when they win, compaction
            # concedes: losing a race to a live writer means the table is
            # being actively rewritten anyway — skip it, report it, and
            # let the next cron pass pick it up.
            try:
                rewritten = with_occ_retry(
                    lambda t=table: self.compact_entity(
                        t, max_files_per_bucket=max_files_per_bucket
                    )
                )
            except RuntimeError as e:
                if "concurrent commit" not in str(e) and "rebucketed" not in str(e):
                    raise
                report["compact_skipped"][table] = str(e)
                continue
            if rewritten:
                report["compacted"][table] = len(rewritten)
            removed = self.store.vacuum_orphans(table, min_age_s=orphan_min_age_s)
            if removed:
                report["orphans_removed"][table] = len(removed)
        if landing is not None:
            from stripe_sync_engine_spark.streaming.pipeline import vacuum_landing_zone

            report["landing_removed"] = len(vacuum_landing_zone(*landing))
        # flock sidecars of vacuumed side files (commitio's RMW leaves
        # one .{base}.flock per side file — reclaim-safe sweep, see
        # reclaim_lock_sidecars for the unlink-race protocol)
        from stripe_sync_engine_spark.commitio import reclaim_lock_sidecars

        report["lock_sidecars_removed"] = len(
            reclaim_lock_sidecars(self.store.root)
        )
        if fold_gates_past_horizon:
            # Folds no longer happen silently: each returns a fold-stats
            # record (rows before/after, batches absorbed) so a 100 TB
            # operator watching months of maintenance can see state-table
            # health — and the whole report lands durably below.
            report["gates_folded"] = []
            report["gate_fold_stats"] = []
            if self.store.exists("_gram_counts"):
                from stripe_sync_engine_spark.operators.span_dedup import (
                    IncrementalSpanDeduper,
                )

                stats = IncrementalSpanDeduper(self.store).fold_history()
                report["gates_folded"].append("_gram_counts")
                if stats:
                    report["gate_fold_stats"].append(stats)
            if self.store.exists("_postings_stats"):
                from stripe_sync_engine_spark.operators.postings import (
                    PersistedPostingsIndex,
                )

                stats = PersistedPostingsIndex(self.store).fold_stats()
                report["gates_folded"].append("_postings_stats")
                if stats:
                    report["gate_fold_stats"].append(stats)
            if self.store.exists("_pack_progress"):
                from stripe_sync_engine_spark.operators.packing import (
                    IncrementalPacker,
                )

                # budget is irrelevant to the fold (it only sums per-shard
                # contributions); n_shards rides the stored rows
                stats = IncrementalPacker(self.store, budget=1).fold_progress()
                report["gates_folded"].append("_pack_progress")
                if stats:
                    report["gate_fold_stats"].append(stats)
        self._log_maintenance(report)
        return report

    def _log_maintenance(self, report: dict) -> None:
        """Append the maintenance report to a durable per-store JSONL log
        (``_maintenance_log.jsonl`` beside the tables) — the operational
        record of compactions, reclamations, and gate folds over the
        store's lifetime. Same torn-tail tolerance as the funnel log."""
        from stripe_sync_engine_spark.commitio import append_line

        rec = dict(report)
        rec["at_ms"] = int(time.time() * 1000)
        append_line(
            os.path.join(self.store.root, "_maintenance_log.jsonl"), json.dumps(rec)
        )

    def read_maintenance_log(self) -> list[dict]:
        """The store's maintenance history, oldest first; torn tail lines
        (a crash mid-append) are skipped, not fatal."""
        path = os.path.join(self.store.root, "_maintenance_log.jsonl")
        if not os.path.exists(path):
            return []
        out = []
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    out.append(json.loads(line))
                except ValueError:
                    continue
        return out

    def _consumers_at_risk(self) -> dict[str, dict[str, int]]:
        """Change-feed consumers whose cursor has fallen within 25% of the
        store's vacuum retention — the ops early-warning before their
        since-snapshot ages out and ``consume_changes`` starts raising.
        {consumer: {entity: lag_ms}} for lag > 0.75 × retention (with
        retention 0 every cursor-holding consumer is at risk — the feed
        needs retained snapshots). A consumer at its entity's latest
        commit is never at risk, whatever the retention."""
        cdir = os.path.join(self.store.root, "_cursors")
        if not os.path.isdir(cdir):
            return {}
        budget_ms = self.store.vacuum_retain_s * 1000.0 * 0.75
        now = int(time.time() * 1000)
        out: dict[str, dict[str, int]] = {}
        for name in sorted(os.listdir(cdir)):
            if not name.endswith(".json"):
                continue
            consumer = name[:-5]
            for entity, cursor in self._read_cursors(consumer).items():
                commits = self.store.commits(entity)
                if commits and int(cursor) >= commits[-1]:
                    continue  # fully caught up: nothing left to age out
                lag = now - int(cursor)
                if lag > budget_ms:
                    out.setdefault(consumer, {})[entity] = lag
        return out

    def compact_entity(
        self, entity: str, max_files_per_bucket: int = 1, sort_col: str | None = None
    ) -> list[int]:
        """Small-file compaction serialized against this engine's merges
        (mirrors ``rebucket_entity``): compact is a read-modify-write of
        current bucket contents, so running it concurrently with a merge
        to the same table would be a lost update without the lock. The
        store's own ``planned_versions`` precondition additionally guards
        out-of-band writers this lock can't see."""
        with self._table_write_lock(entity):
            return self.store.compact(
                entity, max_files_per_bucket=max_files_per_bucket, sort_col=sort_col
            )

    def _merge(
        self,
        entity: str,
        rows: DataFrame,
        update_cols: list[str] | None = None,
        driver_key_values: list[str] | None = None,
    ) -> int:
        # the PLAN reads the current bucket state, so plan+write must sit
        # inside the same critical section (cross-batch writers racing on
        # a bucket would otherwise be last-commit-wins)
        with self._table_write_lock(entity):
            # width the plan is about to compute its probe/merge at — an
            # out-of-band rebucket between here and the commit then fails
            # the write loudly instead of corrupting buckets
            nb_planned = self.store._table_n_buckets(entity)
            merged, touched, bkey, n_rows = self._merge_plan(
                entity, rows, update_cols, driver_key_values
            )
            # An empty batch touches no buckets — skip the write job unless
            # the table doesn't exist yet (first write materializes the
            # schema).
            if touched or not self.store.exists(entity):
                self._commit_buckets(
                    entity,
                    merged,
                    touched,
                    key=bkey,
                    pre_clustered=True,
                    planned_n_buckets=nb_planned,
                )
        return n_rows

    def _merge_objects(
        self, entity: str, objs: list[dict], backfill_depth: int | None = 0
    ) -> None:
        """Decoded API objects → one merge: serialize (``json.dumps``),
        project with a wall-clock sync timestamp (getSyncTimestamp,
        stripeSync.ts:580-582), backfill missing parents from
        ``backfill_depth`` (None: no parent probe), merge with the
        zero-job driver probe."""
        now = time.time()
        df = self.spark.createDataFrame(
            [(p, now) for p in to_json_rows(objs)], "payload string, sync_ts double"
        )
        rows = self._project(entity, df)
        if backfill_depth is not None and self.config.backfill_related_entities:
            self._backfill_parents(entity, rows, depth=backfill_depth)
        self._merge(entity, rows, driver_key_values=self._driver_key_values(entity, objs))

    def _merge_pages(
        self,
        entity: str,
        pages: Iterable[list[dict]],
        backfill_depth: int | None = 0,
        on_flush: Callable[[int], None] | None = None,
    ) -> int:
        """Buffer pages of objects into ``_merge_objects`` batches — the
        reference's flush-250 contract (stripeSync.ts:1033-1058): flush
        once the buffer reaches FLUSH_CHUNK after a whole page, then the
        rest, so the driver buffer stays bounded. ``on_flush`` receives
        the objects merged so far after every flush. Returns that total."""
        synced = 0
        buffer: list[dict] = []

        def flush() -> None:
            nonlocal synced
            if not buffer:
                return
            self._merge_objects(entity, buffer, backfill_depth)
            synced += len(buffer)
            buffer.clear()
            if on_flush is not None:
                on_flush(synced)

        for page in pages:
            buffer.extend(page)
            if len(buffer) >= FLUSH_CHUNK:
                flush()
        flush()
        return synced

    # ------------------------------------------------------------------
    # Backfill layer (§3.2) — paginated scans in dependency order
    # ------------------------------------------------------------------
    def sync_backfill(self, object: str = "all", created: dict | None = None) -> dict[str, int]:
        """Reference syncBackfill (stripeSync.ts:664-778): 'all' runs the
        dependency-ordered scan; otherwise one entity. ``created`` is the
        pushed-down range predicate ({gt,gte,lt,lte} on unix seconds)."""
        entities = R.BACKFILL_ORDER if object == "all" else [object]
        counts: dict[str, int] = {}
        for entity in entities:
            counts[entity] = self._fetch_and_upsert(entity, created)
        return counts

    def sync_backfill_parallel(
        self, created: dict | None = None, max_workers: int = 4
    ) -> dict[str, int]:
        """Dependency-LEVELED parallel 'all' backfill: the reference's
        serial order (stripeSync.ts:686-702) exists only so parents land
        before children; entities whose parents are all in earlier levels
        have no mutual ordering constraint and their cursor scans can
        overlap. Levels derive from BACKFILL_PARENTS (level 0: products,
        customers, …; level 1: prices, subscriptions, …), each level runs
        in a bounded thread pool, and per-table merge serialization comes
        from the engine's write locks — the final state equals the serial
        scan's."""
        levels: dict[str, int] = {}

        def level(e: str) -> int:
            if e not in levels:
                parents = [p for _, p in R.BACKFILL_PARENTS.get(e, []) if p in R.BACKFILL_ORDER]
                levels[e] = 1 + max((level(p) for p in parents), default=-1)
            return levels[e]

        by_level: dict[int, list[str]] = {}
        for e in R.BACKFILL_ORDER:
            by_level.setdefault(level(e), []).append(e)
        counts: dict[str, int] = {}
        for lv in sorted(by_level):
            group = by_level[lv]
            with ThreadPoolExecutor(max_workers=min(max_workers, len(group))) as pool:
                for e, n in zip(group, pool.map(lambda e: self._fetch_and_upsert(e, created), group)):
                    counts[e] = n
        return counts

    def sync_backfill_windows(
        self, entity: str, created: dict, n_windows: int = 4, on_progress=None
    ) -> int:
        """Parallel backfill by ``created``-range windows — the reference's
        own guidance for >10k objects (README.md:99-100: split large
        backfills into created ranges). A cursor API is inherently serial
        WITHIN a window, so this is where list-scan parallelism comes from:
        the range [lo, hi) splits into ``n_windows`` disjoint windows whose
        page fetches overlap in a thread pool (API latency is the real
        bottleneck), while merges serialize per table on the engine's write
        lock — each object falls in exactly ONE window and the merge is
        keyed + timestamp-protected, so the final state is identical to the
        serial scan's. Requires both bounds (an open range cannot be
        split).

        ``on_progress``: optional callable receiving
        ``{"entity", "created": <window>, "synced": <so far in window>}``
        after every flush of every window — a long backfill is no longer
        silent until a window completes. Invoked from the pool's worker
        threads; make it thread-safe (a print / log call is)."""
        lo, hi = self._window_bounds(created)
        if n_windows < 2 or hi - lo < n_windows:
            return self._fetch_and_upsert(entity, created, on_progress=on_progress)
        edges = [lo + (hi - lo) * i // n_windows for i in range(n_windows + 1)]
        windows = [
            {"gte": a, "lt": b} for a, b in zip(edges[:-1], edges[1:]) if a < b
        ]
        with ThreadPoolExecutor(max_workers=len(windows)) as pool:
            return sum(
                pool.map(
                    lambda w: self._fetch_and_upsert(entity, w, on_progress=on_progress),
                    windows,
                )
            )

    @staticmethod
    def _window_bounds(created: dict) -> tuple[int, int]:
        """Normalize a {gt,gte,lt,lte} range to half-open [lo, hi)."""
        if "gte" in created:
            lo = int(created["gte"])
        elif "gt" in created:
            lo = int(created["gt"]) + 1
        else:
            raise ValueError("windowed backfill needs a lower created bound (gt/gte)")
        if "lt" in created:
            hi = int(created["lt"])
        elif "lte" in created:
            hi = int(created["lte"]) + 1
        else:
            raise ValueError("windowed backfill needs an upper created bound (lt/lte)")
        return lo, hi

    def _fetch_and_upsert(
        self, entity: str, created: dict | None, on_progress=None
    ) -> int:
        """S1 paginated scan: buffer pages into FLUSH_CHUNK batches, each
        flushed through the merge pipeline (stripeSync.ts:1033-1058).
        ``on_progress``, when given, is called after every flush with
        ``{"entity", "created", "synced"}`` — the reference logs progress
        every 1,000 items (stripeSync.ts:1045); flush granularity (250)
        is this engine's natural cadence."""
        if self.api is None:
            return 0

        def progress(synced: int) -> None:
            if on_progress is not None:
                on_progress({"entity": entity, "created": created, "synced": synced})

        return self._merge_pages(entity, self.api.list(entity, created), on_flush=progress)

    def sync_payment_methods_fanout(self) -> int:
        """S3 fan-out scan: payment methods have no global list endpoint —
        list per non-deleted customer id read from the store (reference
        syncPaymentMethods, stripeSync.ts:912-949)."""
        if self.api is None:
            return 0
        customers = self.store.read("customers")
        if customers is None:
            return 0
        api = self.api
        ids = (
            r["id"]
            for r in customers.where(~F.coalesce(F.col("deleted"), F.lit(False)))
            .select("id")
            .toLocalIterator()
        )
        # 10-way concurrent per-customer listing (the reference's own
        # fan-out width), flushed through the merge pipeline in bounded
        # chunks so neither the object buffer nor a single merge batch
        # grows with the customer count.
        pages = _concurrent_fetch(
            lambda cid: api.list_by_parent("payment_methods", "customer", cid), ids
        )
        return self._merge_pages("payment_methods", pages, backfill_depth=None)

    def sync_single_entity(self, stripe_id: str) -> str | None:
        """S4 point lookup: dispatch on id prefix → retrieve → upsert
        (reference syncSingleEntity, stripeSync.ts:606-662)."""
        entity = None
        for prefix, ent in R.ID_PREFIX_DISPATCH:
            if stripe_id.startswith(prefix):
                entity = ent
                break
        if entity is None or self.api is None:
            return None
        obj = self.api.retrieve(entity, stripe_id)
        if obj is None:
            # Upstream object vanished: for products/prices/plans the
            # reference maps Stripe's resource_missing to a delete
            # (stripeSync.ts:267-273, 300-306, 333-339).
            if entity in R.DELETE_ON_REFETCH_MISSING:
                self._delete_keys(entity, self.spark.createDataFrame([(stripe_id,)], "id string"))
                return entity
            return None
        self._merge_objects(entity, [obj])
        return entity
