"""The table store's layout files: every ``MANIFEST.json`` and every
``_history/<ms>.json`` snapshot is gzip JSON, read through one reader
that also takes the plain JSON of warehouses written before the
compression. History snapshots are named by a commit ms that strictly
increases per table, whatever the wall clock does."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import types

import pytest

from stripe_sync_engine_spark import storage
from stripe_sync_engine_spark.storage import (
    TableStore,
    load_manifest_file,
    read_manifest,
    snapshot_at,
    write_manifest_file,
)
from stripe_sync_engine_spark.sync.engine import StripeSparkSync
from tests import fixtures as fx

GZIP_MAGIC = b"\x1f\x8b"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _charges(eng, *objs, created):
    eng.process_webhook_events(
        eng.events_df_from_json([fx.event("charge.updated", o, created=created) for o in objs])
    )


def _amounts(df):
    return {r["id"]: r["amount"] for r in df.collect()}


def _layout_files(tdir):
    hdir = os.path.join(tdir, "_history")
    return [os.path.join(tdir, "MANIFEST.json")] + [
        os.path.join(hdir, n) for n in sorted(os.listdir(hdir))
    ]


def _magic(path):
    with open(path, "rb") as f:
        return f.read(2)


@pytest.mark.parametrize("fmt", ["gzip", "plain"])
def test_compressed_and_plain_layout_files_read_the_same(spark, tmp_path, fmt):
    """As-of reads, the change feed across snapshots, as-of SQL views
    (planned in a Spark Python worker) and the vacuum's history references
    give the same answers whether the layout files are gzip JSON or the
    plain JSON an older warehouse holds — and a plain warehouse stays
    writable, its next commit written compressed."""
    root = str(tmp_path / "wh")
    store = TableStore(spark, root, n_buckets=4, vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    _charges(eng, fx.charge(id="ch_1", amount=1), fx.charge(id="ch_2", amount=1), created=1_000)
    _charges(eng, fx.charge(id="ch_1", amount=2), created=2_000)
    _charges(eng, fx.charge(id="ch_3", amount=3), created=3_000)
    c1, c2, c3 = store.commits("charges")
    tdir = os.path.join(root, "charges")
    # snapshot c1 alone references an ancient-named copy of its version
    # (the vacuum must keep it), and an ancient orphan sits beside it
    hist1 = os.path.join(tdir, "_history", f"{c1}.json")
    snap = load_manifest_file(hist1)
    (v1,) = set(snap["buckets"].values())
    for name in ("v1000_1", "v1000_2"):
        shutil.copytree(os.path.join(tdir, v1), os.path.join(tdir, name))
    write_manifest_file(hist1, {**snap, "buckets": {b: "v1000_1" for b in snap["buckets"]}})
    if fmt == "plain":
        # the layout files of a warehouse written before the compression
        for path in _layout_files(tdir):
            m = load_manifest_file(path)
            with open(path, "w") as f:
                json.dump(m, f)
    assert {_magic(p) == GZIP_MAGIC for p in _layout_files(tdir)} == {fmt == "gzip"}

    # a fresh store: the history-reference cache starts cold
    store = TableStore(spark, root, n_buckets=4, vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    assert _amounts(store.read("charges", as_of_ms=c1)) == {"ch_1": 1, "ch_2": 1}
    assert _amounts(store.read("charges", as_of_ms=c2)) == {"ch_1": 2, "ch_2": 1}
    changes = {
        (r["id"], r["_change_type"]): r["amount"]
        for r in store.read_changes("charges", c1, c3).collect()
    }
    assert changes == {("ch_1", "update"): 2, ("ch_3", "insert"): 3}
    assert eng.create_views(prefix="asof_", as_of_ms=c2) == ["asof_charges"]
    assert _amounts(spark.sql("SELECT id, amount FROM asof_charges")) == {"ch_1": 2, "ch_2": 1}
    assert store.vacuum_orphans("charges", min_age_s=3600.0) == ["v1000_2"]
    assert os.path.isdir(os.path.join(tdir, "v1000_1"))

    _charges(eng, fx.charge(id="ch_4", amount=4), created=4_000)
    assert _amounts(store.read("charges")) == {"ch_1": 2, "ch_2": 1, "ch_3": 3, "ch_4": 4}
    c4 = store.commits("charges")[-1]
    assert c4 > c3
    assert _magic(os.path.join(tdir, "MANIFEST.json")) == GZIP_MAGIC
    assert snapshot_at(tdir, c4) == read_manifest(tdir)


def test_history_names_increase_when_the_clock_steps_back(spark, tmp_path, monkeypatch):
    """A wall clock stepped back 5 s between two commits must not name the
    second snapshot below the first: the newest snapshot would then be
    the older state, and a change-feed cursor would sit past the new
    commit and never deliver it."""
    store = TableStore(spark, str(tmp_path / "wh"), n_buckets=4, vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    _charges(eng, fx.charge(id="ch_1", amount=1), created=1_000)
    feed, until = eng.consume_changes("c", "charges")
    assert {r["id"] for r in feed.collect()} == {"ch_1"}
    eng.ack_changes("c", "charges", until)

    real = time.time
    monkeypatch.setattr(
        storage,
        "time",
        types.SimpleNamespace(time=lambda: real() - 5.0, monotonic_ns=time.monotonic_ns),
    )
    _charges(eng, fx.charge(id="ch_2", amount=2), created=2_000)
    commits = store.commits("charges")
    assert len(commits) == 2 and commits[0] < commits[1]
    tdir = os.path.join(store.root, "charges")
    assert snapshot_at(tdir, commits[-1]) == read_manifest(tdir)
    feed, until = eng.consume_changes("c", "charges")
    assert feed is not None and {r["id"]: r["amount"] for r in feed.collect()} == {"ch_2": 2}
    assert until == commits[-1]


def test_one_row_webhook_commit_writes_compressed_metadata(spark, tmp_path):
    """A one-row driver-placed webhook merge into an existing ``charges``
    table rewrites one bucket; its manifest and its history snapshot are
    each at most a third of the manifest's JSON."""
    store = TableStore(spark, str(tmp_path / "wh"))
    eng = StripeSparkSync(spark, store)
    _charges(eng, *[fx.charge(id=f"ch_{i}", amount=i) for i in range(40)], created=1_000)
    before = store._read_manifest("charges")["buckets"]
    _charges(eng, fx.charge(id="ch_0", amount=999), created=2_000)
    tdir = os.path.join(store.root, "charges")
    manifest = read_manifest(tdir)
    assert len({b for b, v in manifest["buckets"].items() if before.get(b) != v}) == 1
    plain = len(json.dumps(manifest))
    newest = os.path.join(tdir, "_history", f"{store.commits('charges')[-1]}.json")
    assert os.path.getsize(os.path.join(tdir, "MANIFEST.json")) * 3 <= plain
    assert os.path.getsize(newest) * 3 <= plain


def test_store_footprint_totals_equal_the_store_bytes(spark, tmp_path):
    """``tools/store_footprint.py`` accounts for every byte under a store
    root: its total equals a walk of the root, and its per-table kinds
    add up to that total."""
    root = str(tmp_path / "wh")
    store = TableStore(spark, root, n_buckets=4, vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    _charges(eng, fx.charge(id="ch_1", amount=1), created=1_000)
    _charges(eng, fx.charge(id="ch_2", amount=2), created=2_000)
    _feed, until = eng.consume_changes("c", "charges")
    eng.ack_changes("c", "charges", until)  # a cursor file outside any table
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "store_footprint.py"), root],
        capture_output=True, text=True, check=True,
    ).stdout
    fp = json.loads(out)
    sizes = [
        os.path.getsize(os.path.join(d, n)) for d, _dirs, files in os.walk(root) for n in files
    ]
    assert fp["total"] == {"files": len(sizes), "bytes": sum(sizes)}
    kinds = ("data", "manifest", "history", "other")
    assert sum(t[k]["bytes"] for t in fp["tables"].values() for k in kinds) == sum(sizes)
    charges = fp["tables"]["charges"]
    assert charges["manifest"]["files"] == 1
    assert charges["history"]["files"] == len(store.commits("charges")) == 2
    assert charges["data"]["files"] >= 2
    assert 0 < charges["parquet_footer_bytes"] < charges["data"]["bytes"]
    assert fp["tables"]["(outside tables)"]["other"]["files"] >= 1
