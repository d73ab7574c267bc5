"""Hash-bucketed parquet table store — the engine's warehouse layer.

The reference stores entities in Postgres tables under a ``stripe`` schema
(``database/migrate.ts:15-66`` bootstraps them); this engine stores each
entity as a HASH-BUCKETED parquet dataset with a per-bucket manifest:

    <root>/<table>/v<N>/bucket=<k>/*.parquet     (immutable version dirs)
    <root>/<table>/MANIFEST.json                 (the commit)
    <root>/<table>/_history/<ms>.json            (per-commit snapshots — time travel)

Both layout files hold gzip-compressed JSON despite their ``.json`` name
(``write_manifest_file``; ``load_manifest_file`` also reads plain JSON,
as warehouses written before the compression hold).

``MANIFEST.json`` maps every bucket to the version directory holding its
current data (plus the table schema and bucket count). A merge therefore
rewrites ONLY the buckets containing batch keys: the new version dir gets
the merged rows of touched buckets, the manifest re-points those buckets,
and every untouched bucket keeps serving its existing files. This is the
property that makes CDC upserts O(batch ∩ buckets), not O(table), per
micro-batch — the same idea as Delta/Iceberg MERGE with partition/file
pruning, reduced to a manifest swap. A crash mid-write leaves an
unreferenced version dir (vacuumed later); the manifest rename is the
atomic commit, and readers of the old manifest keep a consistent view.

Bucket assignment is ``pmod(xxhash64(key), n_buckets)`` — stable across
sessions, computed JVM-side (and, for keys already on the driver, by the
parity-checked Python twin in ``functions/xxh64``). 32 buckets suit the
local harness; at 100 TB you would raise ``n_buckets`` into the thousands
(it is recorded per table in the manifest, so stores of different widths
coexist).

A version dir is prepared in one of two placements. Spark writes it
(``write``/``write_buckets``/``prepare_buckets``) for table births and
for any write whose rows live in a DataFrame. Rows already on the driver —
postings stats rows, and sync merges whose touched buckets fit under
``driver_read_bytes()`` — are written with pyarrow, one file per bucket
(``write_rows_buckets``), with no Spark job. Every table change then
commits through one locked manifest read-modify-write
(``_swap_manifest``).

The ``migrate()`` analog of the reference's migration runner records
applied DDL in a ``_migrations.json`` file.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from stripe_sync_engine_spark.commitio import atomic_write_bytes, atomic_write_json, exclusive_lock
from stripe_sync_engine_spark.schemas.entities import bucket_key, entity_schema, entity_tables

DEFAULT_N_BUCKETS = 32

# The predicate columns the reference indexes with btrees (created /
# status / amount family, migrations/0016_add_invoice_indexes.sql and 20+
# siblings) plus the merge key and sync stamp — the recommended
# ``stats_columns`` set for entity tables, keeping footer harvesting and
# manifest size independent of table width.
INDEXED_STATS_COLUMNS = (
    "id",
    "created",
    "last_synced_at",
    "updated_at",
    "status",
    "amount",
    "amount_total",
    "amount_paid",
    "amount_due",
    "total",
    "subtotal",
    "customer",
)


def bucket_ids(values: list, nb: int) -> list[int]:
    """``pmod(xxhash64(cast(v as string)), nb)`` of each driver-known key
    (functions/xxh64); NULL hashes to Spark's seed."""
    from stripe_sync_engine_spark.functions import xxh64

    return [
        (xxh64.SPARK_SEED if v is None else xxh64.spark_xxhash64_str(v)) % nb for v in values
    ]


# -- manifest, history and data-skipping primitives ---------------------
# Module-level so both the store and the ``stripe_store`` DataSource
# readers (which run in Spark's Python workers) share one copy.


def load_manifest_file(path: str) -> dict:
    """THE reader of a ``MANIFEST.json`` or ``_history/<ms>.json``: gzip
    JSON (what ``write_manifest_file`` writes), or plain JSON — the
    format of warehouses written before manifests were compressed, and
    of manifests written by hand."""
    with open(path, "rb") as f:
        raw = f.read()
    return json.loads(gzip.decompress(raw) if raw[:2] == b"\x1f\x8b" else raw)


def write_manifest_file(path: str, manifest: dict) -> None:
    """Commit ``manifest`` at ``path`` as gzip JSON. Its per-bucket stats
    repeat the same keys, so it compresses about 8×; ``mtime=0`` makes
    equal manifests equal bytes."""
    atomic_write_bytes(path, gzip.compress(json.dumps(manifest).encode(), compresslevel=6, mtime=0))


def read_manifest(tdir: str) -> dict | None:
    """The current ``MANIFEST.json`` of the table at ``tdir``; None when
    the table does not exist."""
    path = os.path.join(tdir, "MANIFEST.json")
    if not os.path.exists(path):
        return None
    return load_manifest_file(path)


def history_commits(tdir: str) -> list[int]:
    """Commit timestamps (ms) recorded in the table's history, ascending."""
    hdir = os.path.join(tdir, "_history")
    if not os.path.isdir(hdir):
        return []
    return sorted(
        int(n[:-5]) for n in os.listdir(hdir) if n.endswith(".json") and n[:-5].isdigit()
    )


def snapshot_at(tdir: str, ms: int) -> dict | None:
    """The newest retained history snapshot at or before ``ms``; None when
    no retained commit is that old. Raises when the snapshot references a
    vacuumed version — loud, never partial data."""
    eligible = [c for c in history_commits(tdir) if c <= ms]
    if not eligible:
        return None
    manifest = load_manifest_file(os.path.join(tdir, "_history", f"{eligible[-1]}.json"))
    for b, version in manifest["buckets"].items():
        if not os.path.exists(os.path.join(tdir, version, f"_bucket={b}")):
            raise FileNotFoundError(
                f"snapshot {eligible[-1]} of {tdir!r} references vacuumed version "
                f"{version!r} (bucket {b}); raise vacuum_retain_s to keep older "
                "snapshots readable (beyond a stream's maximal downtime)"
            )
    return manifest


def canon_stat(v, naive_tz=None):
    """Canonicalize a stat/predicate value into the JSON-storable,
    order-preserving domain: numbers stay numbers, timestamps become
    epoch microseconds, dates ISO strings (ISO order == date order),
    strings stay strings. None = not representable (no skipping).

    ``naive_tz``: the timezone a NAIVE datetime is interpreted in
    (None = system-local via astimezone; the string ``"noskip"`` =
    not canonicalizable, return None so the bucket is read). Callers
    must pass whatever zone the EXACT filter will use for the same
    value — ``read_where`` removes the ambiguity entirely by pinning
    naive predicate values to tz-aware instants before either side
    sees them (see ``TableStore._resolve_where_tz``)."""
    import datetime as _dt
    import decimal

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            if naive_tz == "noskip":
                return None
            v = v.replace(tzinfo=naive_tz) if naive_tz is not None else v.astimezone()
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    return None


def bucket_may_match(bstats: dict | None, col: str, op: str, val, naive_tz=None) -> bool:
    """Whether a bucket's stats admit any row satisfying ``col op val``.
    Conservative: missing stats ⇒ True (read the bucket)."""
    if not bstats:
        return True
    cs = (bstats.get("cols") or {}).get(col)
    if cs is None:
        return True
    rows, nulls = bstats.get("rows"), cs.get("nulls")
    all_null = rows is not None and nulls is not None and nulls >= rows and rows > 0
    if op == "isnull":
        return nulls is None or nulls > 0  # zero recorded nulls: skip
    if op == "isnotnull":
        return not all_null
    if all_null:
        return False  # all-null column: no comparison ever matches
    mn, mx = cs.get("min"), cs.get("max")

    def cmp_ok(a, b):  # only compare within one ordered domain
        num = (int, float)
        return (isinstance(a, num) and isinstance(b, num)) or (
            isinstance(a, str) and isinstance(b, str)
        )

    vals = [canon_stat(v, naive_tz) for v in (val if op == "in" else [val])]
    if any(v is None for v in vals):
        return True  # unrepresentable predicate value: no skipping
    hits = []
    for v in vals:
        if op in (">=", ">"):
            hits.append(mx is None or not cmp_ok(mx, v) or (mx >= v if op == ">=" else mx > v))
        elif op in ("<=", "<"):
            hits.append(mn is None or not cmp_ok(mn, v) or (mn <= v if op == "<=" else mn < v))
        elif op in ("=", "==", "in"):
            lo = mn is None or not cmp_ok(mn, v) or mn <= v
            hi = mx is None or not cmp_ok(mx, v) or mx >= v
            hits.append(lo and hi)
        else:
            raise ValueError(f"unsupported data-skipping op {op!r}")
    return any(hits) if hits else False  # 'in ()' matches nothing


class TableStore:
    """Bucketed parquet datasets with an atomic per-bucket manifest."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = DEFAULT_N_BUCKETS,
        vacuum_retain_s: float = 0.0,
        stats_columns: list[str] | None = None,
    ):
        """``vacuum_retain_s``: minimum age before an UNREFERENCED version
        dir is deleted. A reader plans its scan against the manifest it
        read; a concurrent merge that re-points buckets and vacuums
        immediately would delete files out from under that in-flight scan.
        Locally (single-writer tests, short queries) 0 is fine; a real
        deployment sets this beyond the longest expected query, exactly
        like Delta's VACUUM retention.

        ``stats_columns``: restrict per-bucket footer-stat harvesting to
        these columns (the analog of delta.dataSkippingNumIndexedCols).
        None = all top-level columns — correct for any table but makes
        per-commit footer work and manifest size scale with table width;
        a production deployment over 40-column entity tables passes the
        indexed predicate set (``INDEXED_STATS_COLUMNS``) so both stay
        O(indexed columns). Predicates on unharvested columns simply read
        every bucket (conservative, never wrong)."""
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.vacuum_retain_s = vacuum_retain_s
        self.stats_columns = frozenset(stats_columns) if stats_columns is not None else None
        # (table, commit_ms) → version dirs that snapshot references.
        # History snapshot files are IMMUTABLE once written (write-once,
        # named by their ms), so caching amortizes the per-commit vacuum's
        # reference scan to one file read per snapshot EVER — without it, a
        # table committing every second under a 24h retention would re-open
        # ~86k snapshot files on every commit.
        self._history_ref_cache: dict[tuple[str, int], frozenset] = {}
        # commits to DIFFERENT tables vacuum concurrently (threaded webhook
        # front door, parallel backfill) and share this dict; the lock
        # guards its iteration/mutation — never held across file IO
        self._history_ref_cache_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)
        # INT96 (Spark's default parquet timestamp encoding) carries no
        # usable footer min/max; TIMESTAMP_MICROS does. Data-skipping on
        # timestamp columns (created/last_synced_at — the reference's most
        # indexed predicates) needs the stats, so switch the dynamic conf.
        # Deliberately SESSION-WIDE (there is no per-write option for this
        # conf) — TIMESTAMP_MICROS is the lakehouse-standard encoding and
        # strictly better than INT96 for any co-tenant writer. If a future
        # Spark refuses the set, the only effect is missing timestamp
        # stats: skipping degrades to reading every bucket (conservative,
        # never wrong), which is why the failure is tolerated rather than
        # fatal at construction.
        with contextlib.suppress(Exception):
            spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Commit-protocol overhead (r15): this store's atomicity is the
        # manifest swap — version dirs are single-writer and unreferenced
        # until committed — so the v1 committer's job-commit rename pass
        # and the _SUCCESS marker are pure overhead on every bucketed
        # write (~0.2s of a ~1s small commit, measured; far worse on
        # object stores). Set here as well as in session.py so
        # driver-provided sessions get the same write path; SQL writes
        # read spark.hadoop.* confs per job (newHadoopConf), so a runtime
        # set works. Failure-tolerated: defaults are merely slower.
        for k, v in (
            ("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"),
            ("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"),
        ):
            with contextlib.suppress(Exception):
                spark.conf.set(k, v)

    # -- layout --------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._dir(table), "MANIFEST.json")

    def _read_manifest(self, table: str) -> dict | None:
        return read_manifest(self._dir(table))

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        """Swap the manifest pointer AND record the commit in the table's
        history (``_history/<ms>.json``, a full manifest snapshot: 0.9–2.0
        KB of gzip JSON at 4 buckets, 6.6–15.9 KB as plain JSON). Because
        version dirs are immutable, a retained history file IS a readable
        snapshot: ``read(table, as_of_ms=...)`` plans against it,
        Delta-time-travel style. Called only by ``_swap_manifest``, under
        the commit lock; the snapshot is named past the newest one (never
        pruned) even when the wall clock stepped back, so history
        timestamps are strictly increasing per table."""
        write_manifest_file(self._manifest_path(table), manifest)
        # History is written AFTER the atomic swap: a crash between the two
        # loses one history entry (as-of reads around that instant resolve
        # to the previous snapshot — older but real data), never records a
        # phantom commit whose state was never the table's.
        hdir = os.path.join(self._dir(table), "_history")
        os.makedirs(hdir, exist_ok=True)
        ms = max(int(time.time() * 1000), max(self.commits(table), default=-1) + 1)
        write_manifest_file(os.path.join(hdir, f"{ms}.json"), manifest)

    def _commit_lock(self, table: str):
        """Mutual exclusion for the manifest read-modify-write. The HTTP
        front door is a threading server, so a webhook batch and a backfill
        can commit to the same table concurrently; without the lock the
        second commit's manifest would be based on a stale read and drop
        the first commit's bucket re-points. Data files never conflict
        (version dirs are unique per ms+pid) — only the pointer swap needs
        serializing. ``commitio.exclusive_lock`` on the manifest: a kernel
        flock, released by the kernel if the holder dies."""
        return exclusive_lock(self._manifest_path(table))

    def exists(self, table: str) -> bool:
        return os.path.exists(self._manifest_path(table))

    def tables(self) -> list[str]:
        """Every table with a committed manifest under this store root —
        entity tables, child tables, rollups, audit tables alike."""
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return []
        return sorted(n for n in names if os.path.exists(self._manifest_path(n)))

    # -- bucketing -----------------------------------------------------
    def bucket_expr(self, key: str, n_buckets: int):
        """Stable bucket id of a key column (JVM-side, seed-stable)."""
        return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")

    def _table_n_buckets(self, table: str) -> int:
        m = self._read_manifest(table)
        return int(m["n_buckets"]) if m else self.n_buckets

    def cluster_expr_for(self, table: str, key: str):
        """The bucket expression a pre-clustered write of ``table`` must be
        partitioned by — same function and bucket count ``_write_version``
        will stamp, so ``merge_upsert_clustered`` output needs no rebalance."""
        return self.bucket_expr(key, self._table_n_buckets(table))

    def table_bucket_key(self, table: str) -> str:
        """The key column this table's store is bucketed by (recorded in the
        manifest at creation; 'id' for tables written before it was
        recorded). Callers pruning reads/writes must bucket their probe by
        this column."""
        m = self._read_manifest(table)
        return (m or {}).get("bucket_key", "id")

    def buckets_of_values(self, values, table: str | None = None) -> list[int]:
        """Distinct bucket ids of DRIVER-KNOWN key values — the zero-job
        twin of ``buckets_of`` for probes whose keys already live on the
        driver (a query's terms, an ANN query's probed cells): the same
        ``pmod(xxhash64(cast(key as string)), n_buckets)`` computed in
        Python (functions/xxh64 — JVM parity pytest-pinned, and checked
        against the running Spark by ``bucket_counts_of_values``), so an
        indexed read stops paying a Spark job to learn its read set.
        str/int keys only; distributed key frames keep ``buckets_of``."""
        return [b for b, _ in self.bucket_counts_of_values(values, table)]

    def bucket_counts_of_values(
        self, values, table: str | None = None
    ) -> list[tuple[int, int]]:
        """``(bucket id, value count)`` pairs of DRIVER-KNOWN key values —
        the zero-job twin of ``bucket_counts`` (r16): the sync merges'
        bucket probe + row accounting for batches whose keys already live
        on the driver, so a micro-batch merge stops paying a Spark probe
        job before its write. A None value counts in the bucket Spark puts
        a NULL key in (``xxhash64`` of NULL is its seed). If the Python
        hash disagrees with the running Spark
        (``xxh64.driver_hash_matches``, checked once per SparkContext),
        the values go through ``bucket_counts`` instead."""
        from collections import Counter

        from stripe_sync_engine_spark.functions import xxh64

        values = list(values)
        if not values:
            return []
        if not xxh64.driver_hash_matches(self.spark):
            kind = "long" if any(isinstance(v, int) for v in values) else "string"
            frame = self.spark.createDataFrame([(v,) for v in values], f"v {kind}")
            return self.bucket_counts(frame, key="v", table=table)
        nb = self._table_n_buckets(table) if table else self.n_buckets
        return sorted(Counter(bucket_ids(values, nb)).items())

    def buckets_of(self, df: DataFrame, key: str = "id", table: str | None = None) -> list[int]:
        """Distinct bucket ids present in ``df`` — bounded by n_buckets, so
        the collect is O(n_buckets) regardless of batch size."""
        return [b for b, _ in self.bucket_counts(df, key=key, table=table)]

    def bucket_counts(
        self, df: DataFrame, key: str = "id", table: str | None = None
    ) -> list[tuple[int, int]]:
        """``(bucket id, row count)`` pairs present in ``df``, one partial-agg
        job bounded by n_buckets. Merges use this as their bucket probe AND
        their row accounting — one action serves both, so no separate
        count() re-executes the batch lineage."""
        nb = self._table_n_buckets(table) if table else self.n_buckets
        return sorted(
            (r["b"], r["n"])
            for r in df.groupBy(self.bucket_expr(key, nb).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    # -- read ----------------------------------------------------------
    def _bucket_paths(self, table: str, manifest: dict, buckets: list[int] | None) -> list[str]:
        """Directories of the named buckets (all with ``None``) of ONE
        manifest. A referenced directory that is gone raises: a
        concurrent commit replaced and vacuumed it after the manifest was
        read (``vacuum_retain_s=0``), and scanning on
        would return a partial table. The message names a concurrent
        commit, so ``with_occ_retry`` re-plans such a read."""
        sel = manifest["buckets"]
        if buckets is not None:
            sel = {str(b): v for b in buckets if (v := manifest["buckets"].get(str(b)))}
        paths = []
        for b, version in sel.items():
            p = os.path.join(self._dir(table), version, f"_bucket={b}")
            if not os.path.isdir(p):
                raise RuntimeError(
                    f"bucket {b} of {table!r} (version {version!r}) was replaced "
                    "by a concurrent commit and vacuumed after the manifest was "
                    "read; re-read the manifest and re-plan"
                )
            paths.append(p)
        return paths

    def read(
        self,
        table: str,
        as_of_ms: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame | None:
        """Current table state, or — with ``as_of_ms`` — the newest commit
        at or before that timestamp (time travel). Snapshots stay readable
        while their version dirs survive vacuum, i.e. for
        ``vacuum_retain_s`` after being replaced — exactly Delta's
        retention contract (the local default of 0 disables time travel;
        set a retention to use it). A vacuumed snapshot raises instead of
        silently returning partial data. ``buckets`` restricts the scan
        to the named bucket ids (the same pruning ``read_buckets`` does
        for current state), composing with ``as_of_ms``. For a
        DETERMINISTIC k-bucket sample prefer ``read_bucket_sample``,
        which resolves count, choice, and scan from one snapshot."""
        if as_of_ms is None:
            return self.read_buckets(table, buckets)
        manifest = self._resolve_snapshot(table, as_of_ms)
        if manifest is None:
            return None
        return self._scan_manifest(table, manifest, buckets=buckets)

    def bucket_count(self, table: str, as_of_ms: int | None = None) -> int | None:
        """The table's recorded bucket count (current manifest, or the
        snapshot at ``as_of_ms``); None for an unknown table. For a
        bucket-restricted sample SCAN use ``read_bucket_sample`` — it
        resolves count, choice, and scan from one snapshot."""
        manifest = (
            self._read_manifest(table)
            if as_of_ms is None
            else self._resolve_snapshot(table, as_of_ms)
        )
        return None if manifest is None else int(manifest["n_buckets"])

    def read_bucket_sample(
        self, table: str, k: int, seed: str = "", as_of_ms: int | None = None
    ):
        """A deterministic k-bucket sample scan: rows hash into buckets
        uniformly (``pmod(xxhash64(key), n)``), so k hash-chosen buckets
        are a ~k/n row sample read at ~k/n the IO — the storage
        primitive under the sampled fold audit. Bucket choice ranks ids
        by ``md5(bucket:seed)`` (vary the seed to rotate coverage across
        repeated audits). ONE snapshot resolution serves the count, the
        choice, and the scan — no second history walk, no window for
        the snapshot to age out between them. Returns
        ``(df, chosen_bucket_ids, n_buckets)``; ``k >= n_buckets``
        degrades to the full scan (``chosen`` = every id); None for an
        unknown table. ``k <= 0`` raises — a 0%% "sample" is a contract
        violation, not an empty result (any caller scaling by the
        sampled fraction would divide by zero or audit nothing)."""
        import hashlib

        k = int(k)
        if k <= 0:
            raise ValueError(
                f"read_bucket_sample requires k >= 1 (got {k}) — a "
                "0-bucket sample covers nothing; use read() for a full "
                "scan"
            )
        manifest = (
            self._read_manifest(table)
            if as_of_ms is None
            else self._resolve_snapshot(table, as_of_ms)
        )
        if manifest is None:
            return None
        n_b = int(manifest["n_buckets"])
        if k >= n_b:
            chosen = list(range(n_b))
            return self._scan_manifest(table, manifest, buckets=None), chosen, n_b
        ranked = sorted(
            range(n_b),
            key=lambda b: hashlib.md5(f"{b}:{seed}".encode()).hexdigest(),
        )
        chosen = sorted(ranked[:k])
        return self._scan_manifest(table, manifest, buckets=chosen), chosen, n_b

    def _resolve_snapshot(self, table: str, as_of_ms: int) -> dict | None:
        """The manifest snapshot current at ``as_of_ms`` (None = table did
        not exist then; raises when the snapshot aged out of retention or
        references vacuumed versions — loud, never partial data)."""
        manifest = snapshot_at(self._dir(table), as_of_ms)
        if manifest is not None:
            return manifest
        m = self._read_manifest(table)
        if m is None:
            return None  # table does not exist at all
        created = m.get("created_ms")
        if created is not None and as_of_ms < created:
            return None  # before the table's first commit — genuinely absent
        # the table existed at as_of_ms but its snapshot aged out — loud,
        # like snapshot_at's vacuumed-version case
        raise FileNotFoundError(
            f"no retained snapshot of {table!r} at {as_of_ms} (history pruned); "
            "raise vacuum_retain_s to keep older snapshots readable"
        )

    def _scan_manifest(
        self, table: str, manifest: dict, buckets: list[int] | None
    ) -> DataFrame:
        """Scan (a subset of) the buckets of ONE specific manifest — the
        plan and the paths come from the same snapshot, so a concurrent
        commit between planning and reading cannot mix states."""
        schema = StructType.fromJson(manifest["schema"])
        paths = self._bucket_paths(table, manifest, buckets)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def commits(self, table: str) -> list[int]:
        """Commit timestamps (ms) recorded in the table's history, ascending."""
        return history_commits(self._dir(table))

    def read_buckets(self, table: str, buckets: list[int] | None) -> DataFrame | None:
        """Read the whole table (``buckets=None``) or only the named
        buckets — the pruning that keeps merges O(batch), not O(table)."""
        manifest = self._read_manifest(table)
        if manifest is None:
            return None
        return self._scan_manifest(table, manifest, buckets)

    def driver_read_bytes(self) -> int:
        """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
        — the size Spark itself treats as small enough to ship to every
        task, reused as the bound under which a read runs on the driver
        (``driver_read``). ``-1`` (broadcasts off) keeps every read on
        Spark."""
        import re

        raw = str(self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        n, unit = re.fullmatch(r"(-?\d+)\s*([a-z]*)", raw.strip().lower()).groups()
        return int(n) * 1024 ** "bkmgtp".index(unit[:1] or "b")

    def driver_read(self, table: str, buckets: list[int], columns: list[str] | None = None):
        """THE placement decision of a driver-known read set (top-k probes,
        a sync merge's touched buckets): the buckets as a ``pa.Table``
        (``read_arrow``), or None — run the Spark plan — when the bound
        ``driver_read_bytes()`` is negative or exceeded."""
        return self.read_arrow(table, buckets, columns=columns, max_bytes=self.driver_read_bytes())

    def read_arrow(
        self,
        table: str,
        buckets: list[int],
        manifest: dict | None = None,
        columns: list[str] | None = None,
        max_bytes: int | None = None,
    ):
        """Driver-side pyarrow read (no Spark job) of the named buckets of
        ONE manifest, as a ``pa.Table`` in the manifest's schema: every
        file is cast to it with all fields nullable (files written by
        different commits disagree on nullability), and a column an older
        file lacks comes back as nulls — what ``spark.read.schema`` gives
        the Spark scan. ``columns`` projects. With ``max_bytes``, returns
        None instead when the buckets' files total more than that (or the
        bound is negative): the caller's Spark plan is the scale path.

        A bucket the manifest references whose directory is gone raises
        (``_bucket_paths``)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        manifest = manifest or self._read_manifest(table)
        if manifest is None:
            raise RuntimeError(f"read_arrow of unknown table {table!r}")
        fields = StructType.fromJson(manifest["schema"]).fields
        if columns is not None:
            by_name = {f.name: f for f in fields}
            fields = [by_name[c] for c in columns]
        schema = pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in fields])
        files = [
            os.path.join(bdir, n)
            for bdir in self._bucket_paths(table, manifest, buckets)
            for n in sorted(os.listdir(bdir))
            if n.endswith(".parquet")
        ]
        if max_bytes is not None and (
            max_bytes < 0 or sum(os.path.getsize(p) for p in files) > max_bytes
        ):
            return None
        parts = []
        for p in files:
            f = pq.ParquetFile(p)
            have = set(f.schema_arrow.names)
            t = f.read(columns=[c for c in schema.names if c in have])
            parts.append(
                pa.table(
                    [
                        t[c] if c in have else pa.nulls(t.num_rows, schema.field(c).type)
                        for c in schema.names
                    ],
                    names=schema.names,
                ).cast(schema)
            )
        return pa.concat_tables(parts) if parts else schema.empty_table()

    # -- change data feed ----------------------------------------------
    def _align_to(self, df: DataFrame, schema: StructType) -> DataFrame:
        """Project ``df`` onto ``schema``: common columns cast to the target
        type, missing columns as typed NULLs, extra columns dropped — how
        an old snapshot's rows are lifted into the current schema so a
        pure retype/add-column migration diffs as zero changes."""
        have = {f.name for f in df.schema.fields}
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def read_changes(
        self,
        table: str,
        since_ms: int,
        until_ms: int | None = None,
        allow_full_diff: bool = False,
        emit_update_preimages: bool = False,
    ) -> DataFrame | None:
        """Row-level NET change feed between two retained snapshots: the
        table state current at ``since_ms`` (exclusive) vs at ``until_ms``
        (inclusive; None = the current manifest). Returns the table's
        columns plus ``_change_type`` ∈ {'insert', 'update', 'delete'} —
        post-image rows for insert/update, the pre-image for delete — or
        None when the table existed at neither bound.
        ``emit_update_preimages=True`` additionally yields each update's
        OLD row as ``_change_type='update_preimage'`` (Delta CDF's row
        type; see the inline comment at the emission site). A consumer that
        stores the commit timestamp it last read (``commits()[-1]`` at
        read time) and passes it back as ``since_ms`` sees every later
        change exactly once: the store's answer to Postgres logical
        decoding / Delta's change data feed, reduced to a snapshot diff.

        Cost is O(changed buckets), not O(table): only buckets whose
        manifest pointer moved between the two snapshots are read (both
        sides), then diffed row-wise on the table's bucket key. The
        row-wise diff is what keeps maintenance invisible — a compact()
        or rebucket() re-points every bucket it rewrites but leaves rows
        byte-equal, so the feed stays empty. NET means intra-window
        churn collapses (insert+delete of the same key within the window
        is absent; multiple updates fold to one) — the right contract
        for downstream incremental materialization.

        Requirements: the since-side snapshot must still be retained
        (``vacuum_retain_s`` beyond the maximal consumer lag — aged-out
        snapshots raise loudly, never return partial data), and the
        bucket key is unique per row (the store's merge contract)."""
        new_manifest = (
            self._read_manifest(table)
            if until_ms is None
            else self._resolve_snapshot(table, until_ms)
        )
        old_manifest = self._resolve_snapshot(table, since_ms)
        if new_manifest is None and old_manifest is None:
            return None
        schema = StructType.fromJson((new_manifest or old_manifest)["schema"])
        # fresh field list — StructType.add mutates the list it was built on
        out_schema = StructType(
            list(schema.fields) + [StructField("_change_type", StringType())]
        )
        key = ((new_manifest or old_manifest).get("bucket_key")) or "id"

        def side(manifest, buckets):
            if manifest is None:
                return self.spark.createDataFrame([], schema)
            df = self._scan_manifest(table, manifest, buckets)
            return self._align_to(df, schema)

        if old_manifest is None or new_manifest is None:
            changed = None  # birth (all inserts) or absence: diff everything
        elif int(old_manifest["n_buckets"]) != int(new_manifest["n_buckets"]):
            # Rebucketed inside the window: bucket ids are incomparable, so
            # the O(changed buckets) pruning is impossible — the only correct
            # diff is a FULL-TABLE full-outer join (row hashes still collapse
            # unchanged rows to a net-empty feed, but at 100 TB that's a
            # surprise O(table) job). Fail loudly like the streaming source
            # (store_datasource.ChangesStreamReader) and Delta's CDF unless
            # the caller explicitly opts into the expensive recovery path.
            if not allow_full_diff:
                raise RuntimeError(
                    f"table {table!r} was rebucketed inside this change window "
                    f"({old_manifest['n_buckets']} -> {new_manifest['n_buckets']} "
                    "buckets); per-bucket diff pruning no longer holds. Pass "
                    "allow_full_diff=True to accept a full-table diff (correct "
                    "but O(table)), or restart the consumer from a fresh cursor."
                )
            changed = None  # opted in: diff everything (unchanged rows hash equal)
        else:
            obk, nbk = old_manifest["buckets"], new_manifest["buckets"]
            changed = [int(b) for b in set(obk) | set(nbk) if obk.get(b) != nbk.get(b)]
            if not changed:
                return self.spark.createDataFrame([], out_schema)
        cols = [f.name for f in schema.fields]
        old = side(old_manifest, changed).select(
            F.col(key).alias("_k"), F.struct(*cols).alias("_old")
        )
        new = side(new_manifest, changed).select(
            F.col(key).alias("_k"), F.struct(*cols).alias("_new")
        )
        # full-outer on the unique bucket key; both sides hold only the
        # changed buckets, so the exchange is bounded by the window's
        # write volume. Row comparator: xxhash64 over the whole struct
        # when the schema is map-free (every entity table — nested jsonb
        # is stored as JSON strings), which is a cheap JVM hash; MapType
        # is unhashable in Spark, so such schemas fall back to to_json
        # (conservative: a map whose entry order changed can emit a
        # spurious no-op update, never a missed change). The hash path's
        # 2^-64 collision on a real change is the standard CDC trade.
        def has_map(dt):
            from pyspark.sql import types as T

            if isinstance(dt, T.MapType):
                return True
            if isinstance(dt, T.ArrayType):
                return has_map(dt.elementType)
            if isinstance(dt, T.StructType):
                return any(has_map(f.dataType) for f in dt.fields)
            return False

        differs = (
            F.to_json("_old") != F.to_json("_new")
            if has_map(schema)
            else F.xxhash64("_old") != F.xxhash64("_new")
        )
        j = (
            old.join(new, "_k", "full_outer")
            .withColumn(
                "_change_type",
                F.when(F.col("_old").isNull(), F.lit("insert"))
                .when(F.col("_new").isNull(), F.lit("delete"))
                .when(differs, F.lit("update")),
            )
            .where(F.col("_change_type").isNotNull())
        )
        out = j.select(F.coalesce("_new", "_old").alias("_row"), "_change_type")
        if emit_update_preimages:
            # Delta CDF's update_preimage row type: each update ALSO yields
            # its OLD row, letting content-keyed consumers (the dedup
            # gates' apply_changes) fully retire updated-away state instead
            # of pinning it forever. Opt-in — the default feed stays net
            # post-images, and consumers that filter on the three net types
            # never see the extra rows. ONE contract across both surfaces:
            # the streaming source (stripe_store_changes) honors the same
            # option, and engine.consume_changes passes the flag through.
            pre = j.where(F.col("_change_type") == "update").select(
                F.col("_old").alias("_row"),
                F.lit("update_preimage").alias("_change_type"),
            )
            out = out.unionByName(pre)
        return out.select("_row.*", "_change_type")

    # -- per-bucket column statistics / data skipping -------------------
    # The manifest records min/max/null-count per (bucket, column),
    # harvested from the parquet footers of each committed version dir —
    # Delta/Iceberg data skipping reduced to the same manifest, and the
    # engine's analog of the reference's 20+ btree indexes on created /
    # status / amount predicates (migrations/0016_add_invoice_indexes.sql).
    # A merge only rewrites touched buckets, so only their footers are read
    # at commit (O(batch) driver work); untouched buckets carry their stats
    # forward. read_where() then skips every bucket whose stats exclude a
    # conjunctive predicate — at 100 TB this turns "recent data" scans into
    # reads of only recently-rewritten buckets. Stats are a few hundred
    # bytes per bucket; at thousands of buckets restrict ``stats_columns``
    # to the indexed set (INDEXED_STATS_COLUMNS) so footer work and
    # manifest size stop scaling with table width, exactly like a
    # lakehouse table property (delta.dataSkippingNumIndexedCols).

    _STR_STAT_MAX = 64  # longer strings: keep truncated min (safe), drop max

    def _version_stats(self, table: str, version: str) -> dict[str, dict]:
        """Per-bucket stats of one version dir, from parquet footers.

        ``{bucket: {"rows": n, "cols": {col: {"min": v, "max": v,
        "nulls": n}}}}``. min/max may be absent (= unbounded, no skipping
        on that side); an absent column means no stats. Driver-side and
        O(files in the version) — the version only contains the buckets
        this commit rewrote."""
        vdir = os.path.join(self._dir(table), version)
        out: dict[str, dict] = {}
        if not os.path.isdir(vdir):
            return out
        bucket_dirs = [d for d in os.listdir(vdir) if d.startswith("_bucket=")]
        # footer reads are tiny IO-bound requests; at thousands of buckets a
        # serial driver loop would add seconds per full-table commit, so
        # harvest concurrently (merges touch few buckets and pay ~nothing)
        if len(bucket_dirs) > 8:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                for b, stats in pool.map(
                    lambda d: self._bucket_dir_stats(os.path.join(vdir, d), d.split("=", 1)[1]),
                    bucket_dirs,
                ):
                    if stats is None:
                        return {}  # unreadable footer: commit without stats
                    out[b] = stats
            return out
        for d in bucket_dirs:
            b, stats = self._bucket_dir_stats(os.path.join(vdir, d), d.split("=", 1)[1])
            if stats is None:
                return {}
            out[b] = stats
        return out

    def _bucket_dir_stats(self, bdir: str, b: str) -> tuple[str, dict | None]:
        """Footer stats of one bucket dir; None stats = unreadable footer.
        Naive footer datetimes only occur for TIMESTAMP_NTZ columns (tz
        columns are adjusted-to-UTC and come back aware), so they
        canonicalize as UTC wall-clock — session-independent, matching
        how prune_buckets canonicalizes NTZ predicate values."""
        import datetime as _dt

        import pyarrow.parquet as pq

        _utc = _dt.timezone.utc
        rows = 0
        cols: dict[str, dict] = {}
        unbounded: set[str] = set()  # columns with a stat-less chunk
        for fn in os.listdir(bdir):
            if not fn.endswith(".parquet"):
                continue
            try:
                md = pq.ParquetFile(os.path.join(bdir, fn)).metadata
            except Exception:
                return b, None  # unreadable footer
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    ch = rgm.column(ci)
                    name = ch.path_in_schema
                    if "." in name:  # nested leaf — top-level cols only
                        continue
                    if self.stats_columns is not None and name not in self.stats_columns:
                        continue  # unindexed column: no stats, reads stay conservative
                    st = ch.statistics
                    entry = cols.setdefault(name, {"nulls": 0})
                    if st is None or st.null_count is None:
                        entry["nulls"] = None  # unknown
                    elif entry["nulls"] is not None:
                        entry["nulls"] += st.null_count
                    if st is not None and st.num_values == 0:
                        # all-null chunk: contributes no values, so it
                        # must not widen (or unbound) the bucket's range
                        continue
                    mn = mx = None
                    if st is not None and st.has_min_max:
                        try:
                            mn = canon_stat(st.min, _utc)
                            mx = canon_stat(st.max, _utc)
                        except Exception:
                            mn = mx = None  # e.g. decimal chunks
                    if isinstance(mn, str) and len(mn) > self._STR_STAT_MAX:
                        mn = mn[: self._STR_STAT_MAX]  # lower bound stays safe
                    if isinstance(mx, str) and len(mx) > self._STR_STAT_MAX:
                        mx = None  # truncating a max is unsafe
                    for side, v in (("min", mn), ("max", mx)):
                        if v is None:
                            unbounded.add((name, side))
                            continue
                        cur = entry.get(side)
                        num = (int, float)
                        if cur is None:
                            entry[side] = v
                        elif (isinstance(cur, num) and isinstance(v, num)) or (
                            isinstance(cur, str) and isinstance(v, str)
                        ):
                            if v < cur if side == "min" else v > cur:
                                entry[side] = v
                        else:  # mixed domains across chunks: give up
                            unbounded.add((name, side))
        for name, side in unbounded:
            cols.get(name, {}).pop(side, None)
        return b, {"rows": rows, "cols": cols}

    def _session_tz(self):
        """tzinfo of spark.sql.session.timeZone — the zone F.lit uses for
        naive datetime literals against TIMESTAMP columns. None when the
        conf is unset/unparseable (caller falls back to system-local,
        which is also Spark's own default for the conf)."""
        try:
            name = self.spark.conf.get("spark.sql.session.timeZone")
        except Exception:
            return None
        if not name:
            return None
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(name)
        except Exception:
            return None

    def prune_buckets(
        self, table: str, where: list[tuple], manifest: dict | None = None
    ) -> list[int] | None:
        """Bucket ids that may hold rows matching ALL of ``where`` — the
        data-skipping plan. ``where`` is a list of ``(column, op, value)``
        with op in {=, ==, >=, <=, >, <, in, isnull, isnotnull} (the null
        ops ignore ``value``; they prune via the per-bucket null counts).
        Returns None if the table does not exist."""
        manifest = manifest or self._read_manifest(table)
        if manifest is None:
            return None
        stats = manifest.get("stats", {})
        # Naive datetime predicate values: for a TIMESTAMP column assume
        # the SESSION timezone (the semantics read_where pins explicitly —
        # direct prune_buckets callers get the same convention); for
        # TIMESTAMP_NTZ, naive-vs-wall-clock comparison semantics depend
        # on how the caller will evaluate the exact filter, so never skip
        # ("noskip" → canon_stat None → bucket is read). The engine's own
        # tables carry no NTZ columns.
        import datetime as _dt

        ntz_cols = None
        session_tz = ("unset",)

        def naive_tz_of(c, op, v):
            nonlocal ntz_cols, session_tz
            vals = v if op == "in" else [v]
            if not any(isinstance(x, _dt.datetime) and x.tzinfo is None for x in vals):
                return None
            if ntz_cols is None:
                try:
                    fields = StructType.fromJson(manifest["schema"]).fields
                    ntz_cols = {f.name for f in fields if f.dataType.typeName() == "timestamp_ntz"}
                except Exception:
                    ntz_cols = set()
            if c in ntz_cols:
                return "noskip"
            if session_tz == ("unset",):
                session_tz = self._session_tz()
            return session_tz

        keep = []
        for b in manifest["buckets"]:
            if all(
                bucket_may_match(stats.get(b), c, op, v, naive_tz_of(c, op, v))
                for c, op, v in where
            ):
                keep.append(int(b))
        return sorted(keep)

    def read_where(
        self, table: str, where: list[tuple], as_of_ms: int | None = None
    ) -> DataFrame | None:
        """Scan with data skipping: buckets whose stats exclude the
        conjunctive predicate are never read; the predicate is then applied
        exactly on the survivors (stats are a superset guard, so results
        equal ``read(table).filter(...)``). With ``as_of_ms``, the skip
        plans against the retained history snapshot (stats are part of
        every snapshotted manifest), so time-travel scans prune too."""
        manifest = (
            self._resolve_snapshot(table, as_of_ms)
            if as_of_ms is not None
            else self._read_manifest(table)
        )
        if manifest is None:
            return None
        # plan AND read against this one manifest: re-reading the manifest
        # for the scan would let a concurrent commit swap it between
        # pruning and reading, silently dropping rows of rewritten buckets
        where = self._resolve_where_tz(where, manifest)
        keep = self.prune_buckets(table, where, manifest)
        return self._apply_where(self._scan_manifest(table, manifest, keep), where)

    def _resolve_where_tz(self, where: list[tuple], manifest: dict) -> list[tuple]:
        """Pin naive datetime predicate values on TIMESTAMP columns to
        explicit tz-aware instants in the SESSION timezone, BEFORE either
        the skip plan or the exact filter sees them.

        Why: a naive datetime is ambiguous, and the two consumers resolve
        the ambiguity differently — ``F.lit`` converts naive values
        Python-side in the SYSTEM-local zone (measured; not the session
        zone, unlike a SQL string literal), while footer stats are
        absolute instants. Whatever convention one assumes, a session
        pinned elsewhere diverges and the plan can skip buckets whose rows
        the filter matches. Pinning the instant here makes both sides
        agree BY CONSTRUCTION and gives read_where the SQL-literal
        semantics (naive = session timezone). NTZ columns are left
        untouched (wall-clock semantics; prune_buckets declines to skip
        on them)."""
        import datetime as _dt

        try:
            ts_cols = {
                f.name
                for f in StructType.fromJson(manifest["schema"]).fields
                if f.dataType.typeName() == "timestamp"
            }
        except Exception:
            return where
        tz = None
        out = []
        for c, op, v in where:

            def pin(x, _c=c):
                nonlocal tz
                if isinstance(x, _dt.datetime) and x.tzinfo is None and _c in ts_cols:
                    if tz is None:
                        tz = self._session_tz() or _dt.datetime.now().astimezone().tzinfo
                    return x.replace(tzinfo=tz)
                return x

            out.append((c, op, tuple(pin(x) for x in v) if op == "in" else pin(v)))
        return out

    @staticmethod
    def _apply_where(df: DataFrame, where: list[tuple]) -> DataFrame:
        for col, op, val in where:
            c = F.col(col)
            if op == "isnull":
                df = df.filter(c.isNull())
            elif op == "isnotnull":
                df = df.filter(c.isNotNull())
            elif op == "in":
                df = df.filter(c.isin(list(val)))
            elif op in ("=", "=="):
                df = df.filter(c == F.lit(val))
            elif op == ">=":
                df = df.filter(c >= F.lit(val))
            elif op == "<=":
                df = df.filter(c <= F.lit(val))
            elif op == ">":
                df = df.filter(c > F.lit(val))
            elif op == "<":
                df = df.filter(c < F.lit(val))
            else:
                raise ValueError(f"unsupported data-skipping op {op!r}")
        return df

    # -- write ---------------------------------------------------------
    # Every table change is ONE commit, ``_swap_manifest``. What it
    # commits is a private version dir prepared in one of two placements:
    # a Spark write (``_write_version``: ``write``, ``prepare_buckets``)
    # or pyarrow files written on the driver (``write_rows_buckets``).
    def _new_version(self, table: str) -> tuple[str, str]:
        """The name and path of a fresh private version dir. ms + pid +
        per-process monotonic ns: two commits of one table inside the SAME
        millisecond (a hot JVM does this) must not share a version dir
        name — they'd overwrite each other's files while both manifest
        entries point at the survivor, and the OCC precondition
        (planned_versions) couldn't even see the swap. vacuum_orphans
        parses the leading ms for the age floor; the extra suffix is
        opaque to it (split('_', 1))."""
        version = f"v{int(time.time() * 1000)}_{os.getpid()}_{time.monotonic_ns()}"
        return version, os.path.join(self._dir(table), version)

    def _written_buckets(self, table: str, version: str) -> list[str]:
        vdir = os.path.join(self._dir(table), version)
        return [
            d.split("=", 1)[1]
            for d in (os.listdir(vdir) if os.path.exists(vdir) else [])
            if d.startswith("_bucket=")
        ]

    def _write_version(
        self, table: str, df: DataFrame, key: str, nb: int, pre_clustered: bool = False
    ) -> str:
        version, path = self._new_version(table)
        out = df.withColumn("_bucket", self.bucket_expr(key, nb))
        if not pre_clustered:
            # co-locate each bucket before partitionBy: without this every
            # task writes a file per bucket it holds (tasks × buckets small
            # files). REBALANCE (not plain repartition, which AQE can only
            # coalesce, never split) lets AQE both shrink the shuffle for a
            # micro-batch merge AND split a skewed bucket across tasks for
            # a large one; in the split case a big bucket simply gets more
            # than one file in its partition dir, which the reader globs.
            #
            # pre_clustered=True is the caller's guarantee that ``df`` is
            # ALREADY hash-partitioned by this table's bucket expression
            # (merge_upsert_clustered leaves it so), so every bucket lives
            # wholly inside one task and the rebalance exchange — the
            # merge's only remaining shuffle — is skipped entirely.
            out = out.hint("rebalance", "_bucket")
        out.write.partitionBy("_bucket").mode("overwrite").parquet(path)
        return version

    def _swap_manifest(self, table: str, update) -> None:
        """THE commit of every table change: under the table's commit lock,
        read the LATEST manifest (not the one the caller planned against —
        concurrent disjoint commits survive), build the next one with
        ``update(prior)`` — which raises to abort: a rebucket, an OCC
        conflict, a vanished table — and commit it with
        ``_commit_manifest``; then vacuum the versions it replaced."""
        with self._commit_lock(table):
            prior = self._read_manifest(table)
            manifest = update(prior)
            # table birth time, carried across every rewrite — read(as_of)
            # uses it to tell "before the table existed" (None) from
            # "snapshot aged out of retention" (raise)
            manifest["created_ms"] = (prior or {}).get("created_ms", int(time.time() * 1000))
            self._commit_manifest(table, manifest)
        replaced = (
            set(prior["buckets"].values()) - set(manifest["buckets"].values())
            if prior
            else set()
        )
        self._vacuum(table, replaced)

    def write(
        self,
        table: str,
        df: DataFrame,
        key: str = "id",
        pre_clustered: bool = False,
        n_buckets: int | None = None,
    ) -> None:
        """Full-table write: every bucket re-points to the new version.
        ``n_buckets`` overrides the table's recorded width (rebucket())."""
        nb = n_buckets if n_buckets is not None else self._table_n_buckets(table)
        version = self._write_version(table, df, key, nb, pre_clustered=pre_clustered)
        manifest = {
            "n_buckets": nb,
            "bucket_key": key,
            "schema": json.loads(df.schema.json()),
            "buckets": {b: version for b in self._written_buckets(table, version)},
            "stats": self._version_stats(table, version),
        }
        self._swap_manifest(table, lambda prior: manifest)

    def write_buckets(
        self,
        table: str,
        df: DataFrame,
        buckets: list[int],
        key: str = "id",
        pre_clustered: bool = False,
        planned_n_buckets: int | None = None,
        planned_versions: dict[str, str] | None = None,
    ) -> None:
        """Partial write: ``df`` holds the full new contents of exactly the
        given buckets; only their manifest entries move. Buckets in the
        list with no surviving rows are dropped from the manifest.

        Concurrency: the data files are written first (no conflicts —
        version dirs are unique), then the manifest is re-read and updated
        UNDER THE COMMIT LOCK, so two writers touching DISJOINT buckets
        both land. Two writers touching the SAME bucket are last-commit-
        wins (the engine partitions write work by table, matching the
        reference's one-sync-worker-per-account model).

        ``planned_n_buckets``: the bucket width the caller computed
        ``buckets`` (and ``df``'s contents) against. If a rebucket landed
        since, the touched ids and the merged bucket contents are stale —
        committing them would replace whole new-width buckets with only
        this batch's rows — so the write fails loudly for the caller to
        re-plan.

        ``planned_versions``: optimistic-concurrency precondition — the
        ``bucket → version`` map (manifest["buckets"]) the caller READ the
        target buckets' contents from. Verified under the commit lock: if
        any targeted bucket's version moved since planning, a concurrent
        writer's rows are baked into neither ``df`` nor the new version,
        so committing would silently erase them (lost update). Used by
        read-modify-write maintenance (``compact``) that runs outside the
        engine's table write locks; merges serialized by the engine don't
        need it."""
        if not self.exists(table):
            # a partial write of a table's only data is its first full
            # version
            return self.write(table, df, key=key, pre_clustered=pre_clustered)
        prep = self.prepare_buckets(table, df, buckets, key, pre_clustered, planned_n_buckets)
        self.commit_prepared(prep, planned_versions=planned_versions)

    def _prepare(self, table: str, buckets, planned_n_buckets: int | None, write_files) -> dict:
        """Phase 1 of a partial write, in either placement: check the plan
        against the current manifest, let ``write_files(manifest)`` fill a
        private version dir and return ``(version, schema json)``, then
        harvest which buckets it wrote and their footer stats. Returns the
        handle ``_commit_partial`` commits."""
        prior = self._read_manifest(table)
        if prior is None:
            raise RuntimeError(
                f"partial writes require an existing table (got {table!r}); "
                "route a table's first version through write()"
            )
        nb = int(prior["n_buckets"])
        if planned_n_buckets is not None and planned_n_buckets != nb:
            raise RuntimeError(
                f"{table!r} was rebucketed ({planned_n_buckets} → {nb}) after this "
                "write was planned; re-read the manifest and re-plan the batch"
            )
        version, schema_json = write_files(prior)
        return {
            "table": table,
            "version": version,
            "buckets": buckets,
            # the table's recorded bucket key wins over any argument: a
            # partial write with a different key would scatter rows across
            # buckets the manifest doesn't re-point
            "key": prior.get("bucket_key", "id"),
            "nb": nb,
            "schema_json": schema_json,
            "written": set(self._written_buckets(table, version)),
            "stats": self._version_stats(table, version),
        }

    def prepare_buckets(
        self,
        table: str,
        df: DataFrame,
        buckets: list[int],
        key: str = "id",
        pre_clustered: bool = False,
        planned_n_buckets: int | None = None,
    ) -> dict:
        """Phase 1 of a partial write (``write_buckets`` = this +
        ``commit_prepared``): run the Spark write into a private version
        dir and harvest its footer stats — everything EXCEPT the locked
        manifest swap. The version dir is single-writer and unreferenced
        until committed, so several tables' prepares may run CONCURRENTLY
        (r16, guide §2.6 — a merged CDC window overlaps its two table
        rewrites' Spark jobs this way) while the COMMITS keep their
        declared order; a prepare whose commit never happens is a plain
        crash leftover, vacuumed later. Requires an existing table; ``key``
        is ignored for the table's recorded one."""

        def spark_write(prior: dict) -> tuple[str, dict]:
            nb, bkey = int(prior["n_buckets"]), prior.get("bucket_key", "id")
            out = df
            if not pre_clustered and buckets:
                # r15 (guide §2.4/§6): cluster the partial write by an
                # EXPLICIT per-bucket repartition instead of the rebalance
                # hint. A rebalance lets AQE coalesce a small window to one
                # partition, whose single task then writes every touched
                # bucket dir SEQUENTIALLY — measured 0.85s for a
                # 150-row/32-dir commit vs 0.32s for the same 32 files
                # written by parallel tasks; partial writes are the CDC hot
                # path, so that serial tail taxed every window. One task
                # per touched bucket is compact()'s established posture
                # and scales with the window's touched-bucket count; a
                # whole bucket per task is the store's rewrite unit
                # everywhere (an outgrown bucket is what rebucket() is
                # for). Full-table writes (write()) keep the rebalance +
                # AQE skew-split.
                out = df.repartition(len(buckets), self.bucket_expr(bkey, nb))
            clustered = pre_clustered or bool(buckets)
            version = self._write_version(table, out, bkey, nb, pre_clustered=clustered)
            return version, json.loads(df.schema.json())

        return self._prepare(table, buckets, planned_n_buckets, spark_write)

    def commit_prepared(
        self, prep: dict, planned_versions: dict[str, str] | None = None
    ) -> None:
        """Phase 2 of a partial write: the locked manifest swap for a
        ``prepare_buckets`` handle — OCC preconditions, bucket
        re-point/drop, vacuum."""
        self._commit_partial(prep, planned_versions)

    def _commit_partial(self, prep: dict, planned_versions: dict[str, str] | None) -> None:
        """``_swap_manifest`` of a ``_prepare`` handle, from either
        placement: re-point the handle's buckets that the version dir
        holds, drop the ones it left empty, and abort on a rebucket or a
        moved ``planned_versions`` bucket."""
        table, nb, version = prep["table"], prep["nb"], prep["version"]

        def update(prior: dict | None) -> dict:
            if prior is None:
                raise RuntimeError(f"{table!r} disappeared between planning and commit")
            if int(prior["n_buckets"]) != nb:
                # a rebucket landed between this write's planning and its
                # commit: the data was bucketed at the OLD width, so
                # re-pointing new-width bucket ids would replace buckets
                # with only this batch's rows. Fail loudly; the caller must
                # re-plan at the new width (the engine serializes rebucket
                # against merges via its table lock — rebucket_entity — so
                # this only trips for out-of-band TableStore users).
                raise RuntimeError(
                    f"{table!r} was rebucketed ({nb} → {prior['n_buckets']}) during "
                    "this write; re-read the manifest and re-plan the batch"
                )
            if planned_versions is not None:
                moved = [
                    b
                    for b in prep["buckets"]
                    if prior["buckets"].get(str(b)) != planned_versions.get(str(b))
                ]
                if moved:
                    raise RuntimeError(
                        f"buckets {moved} of {table!r} were rewritten by a concurrent "
                        "commit after this write was planned; committing would lose "
                        "that writer's rows — re-read and re-plan"
                    )
            buckets = dict(prior["buckets"])
            # untouched buckets carry their stats forward; rewritten buckets
            # take the fresh footer stats (or LOSE stats if harvesting
            # failed — stale bounds would skip wrongly)
            stats = dict(prior.get("stats") or {})
            for b in map(str, prep["buckets"]):
                if b in prep["written"]:
                    buckets[b] = version
                    stats[b] = prep["stats"].get(b)
                else:
                    buckets.pop(b, None)  # bucket emptied by deletes
                    stats.pop(b, None)
            return {
                "n_buckets": nb,
                "bucket_key": prep["key"],
                "schema": prep["schema_json"],
                "buckets": buckets,
                "stats": {k: v for k, v in stats.items() if v},
            }

        self._swap_manifest(table, update)

    def write_rows_buckets(
        self,
        table: str,
        data: dict,
        planned_n_buckets: int | None = None,
        planned_versions: dict[str, str] | None = None,
    ) -> None:
        """Partial write of driver-side rows, the driver placement of
        ``write_buckets``: ``data`` maps each bucket id to a ``pa.Table``
        in the manifest's schema (``read_arrow``'s, so a driver rewrite of
        what it read writes it back) holding that bucket's FULL new
        contents, placed by the store's bucket function. Buckets left
        without rows drop from the manifest, whose schema stays as it is.
        One pyarrow file per non-empty bucket, with no Spark job;
        ``store_schema=False`` leaves out the embedded ``ARROW:schema``
        footer blob, which alone made a small bucket file about twice the
        bytes of Spark's (the store's readers take the schema from the
        manifest). The commit, its preconditions and the footer-stat
        harvest are ``write_buckets``'.

        The bound is the caller's: these writes stay small (a handful of
        postings stats rows; sync merges whose touched buckets fit under
        ``driver_read_bytes()``), where a Spark write would spend a job
        launch and a shuffle to move a few kilobytes."""
        import pyarrow.parquet as pq

        def arrow_write(prior: dict) -> tuple[str, dict]:
            version, vdir = self._new_version(table)
            for b, t in data.items():
                if t.num_rows:
                    bdir = os.path.join(vdir, f"_bucket={b}")
                    os.makedirs(bdir)
                    pq.write_table(
                        t, os.path.join(bdir, "part-driver.parquet"), store_schema=False
                    )
            return version, prior["schema"]

        self._commit_partial(
            self._prepare(table, sorted(data), planned_n_buckets, arrow_write),
            planned_versions,
        )

    # Unreferenced dirs beyond this age are swept by every commit's vacuum
    # (they can no longer be a concurrent writer's in-flight version);
    # younger ones only fall to their own commit's `replaced` pass or to an
    # explicit vacuum_orphans() call.
    ORPHAN_GRACE_S = 3600.0

    def _vacuum(self, table: str, replaced: set[str]) -> None:
        """Reclamation after a commit. With ``vacuum_retain_s == 0`` (the
        local/test default: no snapshot readers) the dirs this commit just
        replaced are deleted immediately. With a positive retention,
        NOTHING is deleted eagerly — protection is reference-based: a dir
        lives while the current manifest OR any retained history snapshot
        points at it, so a replaced dir stays readable for the retention
        window counted from REPLACEMENT (its last referencing snapshot
        ages out then), not from creation — the Delta contract. The sweep
        then reclaims whatever nothing references."""
        if self.vacuum_retain_s == 0:
            tdir = self._dir(table)
            for name in replaced:
                if name.startswith("v"):
                    shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)
        self.vacuum_orphans(table, min_age_s=max(self.vacuum_retain_s, self.ORPHAN_GRACE_S))

    def _history_refs(self, table: str) -> set[str]:
        """Version dirs referenced by any retained history snapshot.
        Snapshot files are immutable, so each is read once per process and
        served from the cache afterwards (cache keys for pruned snapshots
        are dropped here too, bounding the cache to the retained set)."""
        refs: set[str] = set()
        hdir = os.path.join(self._dir(table), "_history")
        live = self.commits(table)
        for ms in live:
            key = (table, ms)
            with self._history_ref_cache_lock:
                cached = self._history_ref_cache.get(key)
            if cached is None:
                try:
                    snap = load_manifest_file(os.path.join(hdir, f"{ms}.json"))
                    cached = frozenset(snap["buckets"].values())
                except (FileNotFoundError, gzip.BadGzipFile, EOFError, ValueError, KeyError):
                    continue
                with self._history_ref_cache_lock:
                    self._history_ref_cache[key] = cached
            refs |= cached
        keep = set(live)
        with self._history_ref_cache_lock:
            for t, ms in [k for k in self._history_ref_cache if k[0] == table]:
                if ms not in keep:
                    del self._history_ref_cache[(t, ms)]
        return refs

    def vacuum_orphans(self, table: str, min_age_s: float = 3600.0) -> list[str]:
        """Prune history snapshots older than ``min_age_s`` (always keeping
        the newest — the current committed state), then reclaim version
        dirs referenced by NEITHER the current manifest NOR any retained
        snapshot, once older than ``min_age_s`` since creation. The
        creation-age floor is what makes this safe next to concurrent
        writers: an in-flight commit's not-yet-referenced dir is always
        younger than any sane floor. Unreferenced-and-old dirs are crash
        leftovers or aged-out replaced versions — both reclaimable."""
        manifest = self._read_manifest(table)
        if manifest is None:
            return []
        tdir = self._dir(table)
        cutoff_ms = (time.time() - min_age_s) * 1000
        history = self.commits(table)
        # A snapshot is prunable only once it has been REPLACED for min_age_s
        # — i.e. the NEXT commit's timestamp is past the cutoff — never by its
        # own age. Keying on own age would delete the sole snapshot of a
        # slowly-updated table in the same vacuum that replaces it, breaking
        # the "readable for vacuum_retain_s after replacement" contract and
        # pulling files out from under in-flight readers of the prior
        # manifest.
        for ms, replaced_at in zip(history[:-1], history[1:]):
            if replaced_at <= cutoff_ms:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(tdir, "_history", f"{ms}.json"))
        protected = set(manifest["buckets"].values())
        if self.vacuum_retain_s > 0:
            # snapshot protection only matters when snapshots are readable;
            # at retain=0 replaced dirs die at commit anyway, and skipping
            # the scan keeps per-commit vacuum O(1) in history length
            protected |= self._history_refs(table)
        removed = []
        for name in os.listdir(tdir):
            if not name.startswith("v") or name in protected:
                continue
            try:
                created_ms = int(name[1:].split("_", 1)[0])
            except ValueError:
                continue
            if created_ms <= cutoff_ms:
                shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)
                removed.append(name)
        return removed

    def rebucket(self, table: str, n_buckets: int) -> None:
        """Online bucket-width change: rewrite the table at the new width
        and swap the manifest — the operational path the 100 TB story needs
        when a table outgrows its bucket count (docstring at top: "raise
        n_buckets into the thousands"). One full rewrite (unavoidable: every
        row's bucket id changes), one commit; readers of the old manifest
        keep a consistent view, retained history snapshots still reference
        the old-width version dirs, so time travel across the rebucket keeps
        working, and every subsequent merge prunes at the new width (probes
        read the width from the manifest, never from the store default).
        A partial write whose planning straddles the rebucket fails loudly
        at its commit (width check in ``write_buckets``) instead of
        silently replacing rebucketed buckets with only its batch; engines
        additionally serialize the two on their table lock
        (``StripeSparkSync.rebucket_entity``)."""
        m = self._read_manifest(table)
        if m is None:
            raise ValueError(f"cannot rebucket missing table {table!r}")
        if int(m["n_buckets"]) == n_buckets:
            return
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.write(
            table, self.read(table), key=m.get("bucket_key", "id"), n_buckets=n_buckets
        )

    def compact(
        self, table: str, max_files_per_bucket: int = 1, sort_col: str | None = None
    ) -> list[int]:
        """Lakehouse OPTIMIZE, reduced to a bucket-pruned partial commit.

        Without ``sort_col``: rewrite ONLY buckets whose current version
        holds more than ``max_files_per_bucket`` parquet files (AQE
        skew-splits of a bulk load; merges self-heal since they rewrite
        whole buckets, so steady-state CDC never accumulates small files —
        this is for the buckets CDC doesn't touch). With ``sort_col``:
        rewrite EVERY bucket with rows ordered by the column inside each
        bucket, tightening parquet row-group min/max so Spark's own filter
        pushdown prunes row groups within the files the manifest-level
        skipping already selected — the Z-ORDER-lite companion to
        ``read_where``. Returns the bucket ids rewritten.

        Concurrency: compact is a read-modify-write over current bucket
        contents, so it plans, scans, AND commits against ONE manifest and
        passes that manifest's bucket→version map as the commit
        precondition — a concurrent merge rewriting a targeted bucket
        between compact's read and its commit makes the commit fail loudly
        (RuntimeError) instead of silently erasing the merge's rows. On a
        live engine prefer ``StripeSparkSync.compact_entity``, which takes
        the table write lock and cannot conflict at all."""
        m = self._read_manifest(table)
        if m is None:
            return []
        nb, key = int(m["n_buckets"]), m.get("bucket_key", "id")
        if sort_col is not None:
            target = sorted(int(b) for b in m["buckets"])
        else:
            target = []
            for b, version in m["buckets"].items():
                p = os.path.join(self._dir(table), version, f"_bucket={b}")
                files = (
                    [f for f in os.listdir(p) if f.endswith(".parquet")]
                    if os.path.isdir(p)
                    else []
                )
                if len(files) > max_files_per_bucket:
                    target.append(int(b))
            target.sort()
        if not target:
            return []
        # scan the SAME manifest the plan (and the commit precondition)
        # came from — read_buckets would re-read it, racing a concurrent
        # commit between planning and scanning
        df = self._scan_manifest(table, m, target)
        # one task per bucket (pre_clustered write skips the rebalance);
        # sortWithinPartitions survives because no exchange follows it
        clustered = df.repartition(len(target), self.bucket_expr(key, nb))
        if sort_col is not None:
            clustered = clustered.sortWithinPartitions(sort_col)
        self.write_buckets(
            table,
            clustered,
            target,
            key=key,
            pre_clustered=True,
            planned_n_buckets=nb,
            planned_versions=dict(m["buckets"]),
        )
        return target

    # -- DDL / migration-runner analog (SURVEY S13) -------------------------
    def _migrations_path(self) -> str:
        return os.path.join(self.root, "_migrations.json")

    def migration_history(self) -> list[dict]:
        """Ordered, append-only migration entries (see migrate())."""
        path = self._migrations_path()
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f).get("history", [])

    def migrate(self) -> list[str]:
        """Bootstrap every entity table (empty dataset with the declared
        StructType) — the analog of runMigrations (reference
        database/migrate.ts:15-66): idempotent, ordered, recorded.

        Bookkeeping mirrors the reference's checksummed migration table
        (migrate.ts:42-66 records each applied migration's name + hash and
        skips unchanged ones): ``_migrations.json`` holds an append-only
        ``history`` of ``{version, table, checksum, applied_at}`` entries,
        one per (table, schema-checksum) ever applied. Re-running after a
        schema edit APPLIES the change to the stored table (see
        ``_migrate_schema``) and appends a new checksummed entry for the
        changed table only; re-running unchanged appends nothing."""
        history = self.migration_history()
        latest = {h["table"]: h["checksum"] for h in history}  # last write wins
        version = max((h["version"] for h in history), default=0)
        applied = []
        for table in entity_tables():
            schema = entity_schema(table)
            checksum = hashlib.md5(schema.json().encode()).hexdigest()
            if not self.exists(table):
                self.write(table, self.spark.createDataFrame([], schema), key=bucket_key(table))
                applied.append(table)
            elif latest.get(table) not in (None, checksum):
                # schema edited after the table was created → apply it
                self._migrate_schema(table, schema)
            # History is gated on the LATEST recorded checksum (not the set
            # of ever-seen ones): reverting a schema to a previous state is
            # itself a migration and must be recorded, or `latest` would
            # lie and the edit would re-apply on every run.
            if latest.get(table) != checksum:
                version += 1
                history.append(
                    {
                        "version": version,
                        "table": table,
                        "checksum": checksum,
                        "applied_at": time.time(),
                    }
                )
                latest[table] = checksum
        record = {"tables": entity_tables(), "applied_at": time.time(), "history": history}
        atomic_write_json(self._migrations_path(), record)
        return applied

    def _migrate_schema(self, table: str, new_schema: StructType) -> None:
        """Apply a schema edit to an existing table.

        Column ADD / DROP is METADATA-ONLY: the manifest schema is the read
        contract (``read_buckets`` scans with ``spark.read.schema``), and
        parquet scans null-fill requested columns missing from the files
        and ignore columns no longer requested — so the manifest swap IS
        the migration, O(1) at any table size, exactly like lakehouse-
        format schema evolution. Only a changed column TYPE forces a cast
        rewrite of the data files (parquet type mismatches fail at scan)."""
        manifest = self._read_manifest(table)
        old_types = {
            f.name: f.dataType for f in StructType.fromJson(manifest["schema"]).fields
        }
        retyped = [
            f.name
            for f in new_schema.fields
            if f.name in old_types and f.dataType != old_types[f.name]
        ]
        if retyped:
            cur = self.read(table)
            cols = [
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in cur.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in new_schema.fields
            ]
            self.write(table, cur.select(*cols), key=manifest.get("bucket_key", "id"))
        else:
            # metadata-only swap is still a manifest read-modify-write, so
            # a concurrent bucket commit's re-points are not dropped
            schema_json = json.loads(new_schema.json())
            self._swap_manifest(table, lambda prior: {**prior, "schema": schema_json})
