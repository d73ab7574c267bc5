"""Spark SQL over the bucketed store: a Python DataSource with filter
pushdown driving manifest-stat bucket pruning.

The reference's synced tables exist to be QUERIED with plain SQL
(reference ``README.md:18-20``), and its 20+ btree indexes serve those
predicates. This engine's analog is per-bucket manifest stats
(``storage.py``); this module carries them through to ``spark.sql(...)``:
``StripeSparkSync.create_views()`` registers each entity table as a temp
view over a ``stripe_store``-format scan, and a WHERE on an indexed
column reaches ``DataSourceReader.pushFilters`` (Spark 4 Python
DataSource API), which prunes buckets with the stats check
``read_where`` uses (``storage.bucket_may_match``). Every pushed filter
is also RETURNED as un-handled, so Spark re-applies the exact predicate
above the scan — pruning can only skip whole buckets the predicate
excludes, never change results.

Execution shape: ``partitions()`` emits one input partition per
surviving bucket (pruning == partition elimination, the same contract as
Hive partition pruning), and ``read()`` streams each bucket's parquet
files as Arrow record batches through ``pyarrow.dataset`` — the pushed
predicate ALSO gates parquet row groups inside the surviving buckets, so
the manifest-level skip composes with footer-level skip exactly like
``compact(sort_col=...)`` intends. Python-worker scan throughput is
below a JVM parquet scan, which is the right trade for the SQL front
door over CDC-scale entity tables; the heavy analytics tables
(lineitem-scale) stay on native parquet scans via ``plans/``.

Planning (schema/pushFilters/partitions) runs in Spark's dedicated
Python planning worker — NOT the driver process — so pruning evidence
can't flow out through shared state; tests assert it through the task
count instead (input partitions == surviving buckets, so a pruned scan
runs strictly fewer tasks), and unit-test the readers' planning methods
directly in-process.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from stripe_sync_engine_spark.storage import (
    bucket_may_match,
    history_commits,
    read_manifest,
    snapshot_at,
)

# pushed filter class -> the store's data-skipping op
_PUSHED_OPS = (
    ((EqualTo, EqualNullSafe), "="),
    (GreaterThan, ">"),
    (GreaterThanOrEqual, ">="),
    (LessThan, "<"),
    (LessThanOrEqual, "<="),
)


def _bucket_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


class _BucketPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class StoreReader(DataSourceReader):
    def __init__(self, root: str, table: str, as_of_ms: int | None = None):
        self._dir = os.path.join(root, table)
        # ONE manifest read per scan: planning (pushFilters/partitions)
        # and the file list come from the same snapshot, the same
        # consistency contract as TableStore.read_where
        self._manifest = _manifest_of(self._dir, as_of_ms)
        self._where: list[tuple] = []

    def pushFilters(self, filters):
        # Record what we can use for bucket pruning, but report EVERY
        # filter as un-handled: Spark re-applies the exact predicates
        # above the scan, so pruning is pure IO elimination and the
        # result set is identical with or without stats.
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            for cls, op in _PUSHED_OPS:
                if isinstance(f, cls):
                    self._where.append((col, op, f.value))
            if isinstance(f, In):
                self._where.append((col, "in", list(f.value)))
            elif isinstance(f, IsNull):
                self._where.append((col, "isnull", None))
            elif isinstance(f, IsNotNull):
                self._where.append((col, "isnotnull", None))
        return filters

    def partitions(self):
        stats = self._manifest.get("stats", {})
        # naive datetimes never skip: the exact filter Spark re-applies
        # decides their timezone, so the conservative answer is to read
        keep = [
            (int(b), v)
            for b, v in self._manifest["buckets"].items()
            if all(
                bucket_may_match(stats.get(b), c, op, v2, "noskip") for c, op, v2 in self._where
            )
        ]
        parts = [
            _BucketPartition(os.path.join(self._dir, v, f"_bucket={b}")) for b, v in sorted(keep)
        ]
        # Spark requires >= 1 partition; an empty table/full prune
        # yields one no-op partition (read() of a missing dir is empty)
        return parts or [_BucketPartition("")]

    def read(self, partition):
        # imported here, not at module level: the planning worker unpickles
        # this class too and should not pay pyarrow.dataset's import
        import pyarrow.dataset as pads

        if not partition.path:
            return  # the empty-table/full-prune sentinel
        if not os.path.isdir(partition.path):
            # the manifest this scan planned against points at a bucket
            # version a later commit replaced and vacuum reclaimed; an
            # empty read here would silently drop the bucket's rows
            version = os.path.basename(os.path.dirname(partition.path))
            raise FileNotFoundError(
                f"bucket dir {partition.path!r} is gone: version {version!r} "
                "was vacuumed after this scan's manifest was read (an "
                "unfiltered view scan can reuse the manifest an earlier query "
                "planned with); re-run create_views() after writes, or raise "
                "vacuum_retain_s"
            )
        files = _bucket_files(partition.path)
        if not files:
            return
        # pyarrow.dataset applies parquet row-group pruning for free
        # when Spark later re-applies the predicate; we stream batches
        # as-is (column pruning via the declared schema happens in
        # Spark's arrow conversion)
        yield from pads.dataset(files, format="parquet").scanner().to_batches()


def _manifest_of(tdir: str, as_of_ms: int | None) -> dict:
    """The current manifest, or — with ``as_of_ms`` — the newest retained
    history snapshot at or before it (loud on pruned/vacuumed history,
    never partial data)."""
    if as_of_ms is None:
        manifest = read_manifest(tdir)
        if manifest is None:
            raise FileNotFoundError(f"no table at {tdir!r}")
        return manifest
    manifest = snapshot_at(tdir, as_of_ms)
    if manifest is None:
        raise FileNotFoundError(
            f"no retained snapshot of {tdir!r} at {as_of_ms} (before table "
            "creation, or history pruned; raise vacuum_retain_s)"
        )
    return manifest


class StoreDataSource(DataSource):
    """``spark.read.format("stripe_store").option("root", ...)
    .option("table", ...)`` — a current-manifest scan with pushdown-
    driven bucket pruning. Optional ``.option("as_of_ms", <epoch ms>)``
    plans against the retained history snapshot instead (Delta
    ``TIMESTAMP AS OF`` semantics; snapshotted stats prune too)."""

    @classmethod
    def name(cls):
        return "stripe_store"

    def _as_of(self):
        v = self.options.get("as_of_ms")
        return int(v) if v is not None else None

    def schema(self):
        tdir = os.path.join(self.options["root"], self.options["table"])
        return StructType.fromJson(_manifest_of(tdir, self._as_of())["schema"])

    def reader(self, schema):
        return StoreReader(self.options["root"], self.options["table"], self._as_of())


class _DiffPartition(InputPartition):
    def __init__(
        self,
        key: str,
        old_dir: str | None,
        new_dir: str | None,
        schema_json: str,
        emit_pre: bool = False,
        until_ms: int | None = None,
    ):
        self.key = key
        self.old_dir = old_dir
        self.new_dir = new_dir
        self.schema_json = schema_json
        self.emit_pre = emit_pre
        self.until_ms = until_ms


def _rows_of(d: str | None) -> list[dict]:
    import pyarrow.dataset as pads

    if not d or not os.path.isdir(d):
        return []
    files = _bucket_files(d)
    if not files:
        return []
    # to_pylist: native python values (struct→dict, array→list,
    # timestamp→datetime) — exactly what Spark's row conversion
    # accepts, and dict equality is map-order-insensitive
    return pads.dataset(files, format="parquet").to_table().to_pylist()


def _eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # ONE convention with the batch feed's comparator: Spark's
        # hash expressions NORMALIZE floats before hashing (-0.0
        # → 0.0, every NaN → the canonical NaN), so xxhash64 over
        # the struct equates exactly what IEEE == plus isnan/isnan
        # equates here — a 0.0→-0.0 or NaN-payload rewrite is
        # silent on BOTH surfaces (pinned in
        # tests/test_changefeed.py::test_change_feed_float_edge_parity).
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_eq(v, b[k]) for k, v in a.items())
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


class ChangesStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        root: str,
        table: str,
        start_ms: int,
        emit_pre: bool = False,
        emit_bounds: bool = False,
    ):
        self._tdir = os.path.join(root, table)
        self._start = start_ms
        self._emit_pre = emit_pre
        self._emit_bounds = emit_bounds

    def initialOffset(self) -> dict:
        return {"commit_ms": self._start}

    def latestOffset(self) -> dict:
        cs = history_commits(self._tdir)
        return {"commit_ms": cs[-1] if cs else self._start}

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the cursor; nothing to reclaim here

    def partitions(self, start: dict, end: dict):
        s, e = int(start["commit_ms"]), int(end["commit_ms"])
        noop = [_DiffPartition("id", None, None, json.dumps({"type": "struct", "fields": []}))]
        if e <= s:
            return noop
        # a stream must never emit partial diffs: snapshot_at raises on
        # vacuumed versions (None = before the table's birth)
        new_m = snapshot_at(self._tdir, e)
        if new_m is None:
            return noop
        old_m = snapshot_at(self._tdir, s)
        if old_m is not None and int(old_m["n_buckets"]) != int(new_m["n_buckets"]):
            raise RuntimeError(
                "table was rebucketed inside this stream window; per-bucket diff "
                "pairing no longer holds — restart the stream from a fresh "
                "checkpoint (it will re-deliver the table as an initial load)"
            )
        key = new_m.get("bucket_key", "id")
        schema_json = json.dumps(new_m["schema"])
        ob = old_m["buckets"] if old_m else {}
        nb = new_m["buckets"]
        parts = [
            _DiffPartition(
                key,
                os.path.join(self._tdir, ob[b], f"_bucket={b}") if b in ob else None,
                os.path.join(self._tdir, nb[b], f"_bucket={b}") if b in nb else None,
                schema_json,
                self._emit_pre,
                # the planned window's end offset, stamped on every
                # row (emit_window_bounds): replays re-plan the
                # identical pinned (s, e], so this is byte-stable
                e if self._emit_bounds else None,
            )
            for b in sorted(set(ob) | set(nb))
            if ob.get(b) != nb.get(b)
        ]
        return parts or noop

    def read(self, partition):
        cols = [f["name"] for f in json.loads(partition.schema_json)["fields"]]
        if not cols:
            return
        key = partition.key
        old = {r[key]: r for r in _rows_of(partition.old_dir)}
        new = {r[key]: r for r in _rows_of(partition.new_dir)}
        until_ms = getattr(partition, "until_ms", None)
        tail = (until_ms,) if until_ms is not None else ()

        def out(r, ct):
            # old-snapshot rows may predate added columns: null-fill
            return tuple(r.get(c) for c in cols) + (ct,) + tail

        emit_pre = getattr(partition, "emit_pre", False)
        for k, r in new.items():
            if k not in old:
                yield out(r, "insert")
            elif not _eq({c: old[k].get(c) for c in cols}, {c: r.get(c) for c in cols}):
                yield out(r, "update")
                if emit_pre:
                    # Delta CDF's update_preimage row type, same opt-in
                    # contract as the batch feed (storage.read_changes)
                    yield out(old[k], "update_preimage")
        for k, r in old.items():
            if k not in new:
                yield out(r, "delete")


class ChangesDataSource(DataSource):
    """``spark.readStream.format("stripe_store_changes")
    .option("root", ...).option("table", ...)`` — the change data feed
    as a Structured Streaming source. Offsets are history commit
    timestamps (the same cursor domain as ``TableStore.read_changes``),
    so each micro-batch is the net row-level diff between two retained
    snapshots, checkpointed by Spark for exactly-once delivery across
    restarts. ``option("starting_commit_ms", N)`` starts past historic
    commits (default 0: first batch = initial load of the whole table as
    inserts).

    The distributed shape exploits bucket-stability: with an unchanged
    bucket width, a key's old and new rows live in the SAME bucket id
    (``pmod(xxhash64(key), n)`` on both sides), so the snapshot diff
    decomposes into per-bucket local diffs — one input partition per
    CHANGED bucket, each reading that bucket's old+new parquet and
    diffing in-process. Zero shuffle, zero join: the plan is "read only
    what moved, compare locally", at any table size. A rebucket breaks
    the pairing, so the reader fails loudly and the stream must restart
    from a fresh checkpoint (initial load) — the same restriction Delta's
    change feed has for non-additive layout changes.

    Retention contract: offsets reference history snapshots, so
    ``vacuum_retain_s`` must exceed the stream's maximal downtime.

    ``option("emit_window_bounds", "true")`` appends a
    ``_window_until_ms`` LONG column carrying the micro-batch's END
    OFFSET (the upper commit-ms bound of the planned window, identical
    on every row of the batch). This is the PUBLIC form of the window
    bound consumers previously had to parse out of Spark's private
    OffsetSeqLog files: ``partitions()`` knows the exact planned
    ``(start, end]`` and replays re-plan the identical pinned window, so
    the stamped value is byte-stable across crash-restarts — exactly the
    property the mixture folds' cursor alignment needs. An EMPTY batch
    (no changed rows) delivers no rows and therefore no bound, which is
    the correct degenerate case: there is nothing to fold and nothing
    for a cursor to advance over."""

    @classmethod
    def name(cls):
        return "stripe_store_changes"

    def _emit_bounds(self) -> bool:
        return str(self.options.get("emit_window_bounds", "false")).lower() == "true"

    def schema(self):
        tdir = os.path.join(self.options["root"], self.options["table"])
        base = StructType.fromJson(_manifest_of(tdir, None)["schema"])
        fields = list(base.fields) + [StructField("_change_type", StringType())]
        if self._emit_bounds():
            fields.append(StructField("_window_until_ms", LongType()))
        return StructType(fields)

    def streamReader(self, schema):
        return ChangesStreamReader(
            self.options["root"],
            self.options["table"],
            int(self.options.get("starting_commit_ms", 0)),
            str(self.options.get("emit_update_preimages", "false")).lower() == "true",
            self._emit_bounds(),
        )
