"""Change data feed: TableStore.read_changes + the engine's cursor API.

The reference's synced Postgres tables feed downstream consumers by
polling or logical decoding; our store answers with a snapshot diff
(storage.py read_changes). These tests pin the contract: net row-level
changes, O(changed buckets) IO, maintenance invisibility (compact /
rebucket / metadata-only migration emit nothing), and at-least-once
cursor consumption across engine restarts."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from stripe_sync_engine_spark.storage import TableStore
from stripe_sync_engine_spark.sync.engine import StripeSparkSync

from tests import fixtures as fx


def _mk(spark, rows):
    return spark.createDataFrame([Row(id=i, v=v) for i, v in rows], "id string, v long")


def _changes(df):
    return {
        (r["id"], r["_change_type"]): r["v"]
        for r in df.select("id", "v", "_change_type").collect()
    }


def test_read_changes_insert_update_delete(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_cdc"), vacuum_retain_s=3600.0)
    store.write("t", _mk(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t0 = store.commits("t")[-1]

    # update b, delete c, insert d — via a partial bucket rewrite, the
    # merge path's commit shape
    nxt = _mk(spark, [("a", 1), ("b", 20), ("d", 4)])
    touched = sorted(set(store.buckets_of(nxt, table="t")) | set(store.buckets_of(_mk(spark, [("c", 3)]), table="t")))
    cur = store.read_buckets("t", touched)
    merged = (
        cur.join(nxt.select("id"), "id", "left_anti").unionByName(nxt)
        .where(F.col("id") != "c")
    )
    store.write_buckets("t", merged, touched)

    ch = _changes(store.read_changes("t", t0))
    assert ch == {("b", "update"): 20, ("c", "delete"): 3, ("d", "insert"): 4}


def test_read_changes_net_and_empty_replay(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_cdc_net"), vacuum_retain_s=3600.0)
    store.write("t", _mk(spark, [("a", 1)]))
    t0 = store.commits("t")[-1]
    # same-window churn: insert x then delete it; update a twice
    store.write("t", _mk(spark, [("a", 2), ("x", 9)]))
    store.write("t", _mk(spark, [("a", 3)]))
    ch = _changes(store.read_changes("t", t0))
    assert ch == {("a", "update"): 3}  # x collapsed away; a folded to final
    t1 = store.commits("t")[-1]
    # no commits since t1 → empty, with the schema + _change_type
    empty = store.read_changes("t", t1)
    assert empty.count() == 0
    assert "_change_type" in empty.columns and "v" in empty.columns


def test_read_changes_initial_load_before_birth(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_cdc_birth"), vacuum_retain_s=3600.0)
    assert store.read_changes("t", 0) is None  # never existed
    store.write("t", _mk(spark, [("a", 1), ("b", 2)]))
    ch = _changes(store.read_changes("t", 0))
    assert ch == {("a", "insert"): 1, ("b", "insert"): 2}


def test_read_changes_reads_only_changed_buckets(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_cdc_prune"), vacuum_retain_s=3600.0)
    rows = [(f"k{i}", i) for i in range(64)]
    store.write("t", _mk(spark, rows))
    t0 = store.commits("t")[-1]
    one = _mk(spark, [("k7", 700)])
    [b] = store.buckets_of(one, table="t")
    cur = store.read_buckets("t", [b])
    store.write_buckets("t", cur.join(one.select("id"), "id", "left_anti").unionByName(one), [b])

    feed = store.read_changes("t", t0)
    assert _changes(feed) == {("k7", "update"): 700}
    # IO bound: every input file sits in bucket b's dirs (old + new version)
    files = feed.inputFiles()
    assert files and all(f"_bucket={b}/" in f for f in files)


def test_maintenance_is_invisible_to_the_feed(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_cdc_maint"), vacuum_retain_s=3600.0)
    store.write("t", _mk(spark, [(f"k{i}", i) for i in range(32)]))
    t0 = store.commits("t")[-1]
    # fragment a bucket, then compact: pointers move, rows don't
    one = _mk(spark, [("k3", 3)])
    [b] = store.buckets_of(one, table="t")
    cur = store.read_buckets("t", [b])
    store.write_buckets("t", cur.join(one.select("id"), "id", "left_anti").unionByName(one), [b])
    t_after_rewrite = store.commits("t")[-1]
    store.compact("t", max_files_per_bucket=1)
    assert store.read_changes("t", t_after_rewrite).count() == 0
    # rebucket: bucket ids incomparable → the batch feed fails loudly like
    # the streaming source (a silent O(table) full diff at 100 TB is a trap)
    store.rebucket("t", 8)
    with pytest.raises(RuntimeError, match="rebucketed"):
        store.read_changes("t", t_after_rewrite)
    # explicit opt-in takes the full-diff recovery path: correct (O(table))
    # and still net-empty — unchanged rows hash equal across the rebucket
    assert store.read_changes("t", t_after_rewrite, allow_full_diff=True).count() == 0
    # and the no-op rewrite above is also invisible from t0 (k3→3 equal)
    assert store.read_changes("t", t0, allow_full_diff=True).count() == 0


def test_schema_migration_alignment(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_cdc_mig"), vacuum_retain_s=3600.0)
    store.write("t", _mk(spark, [("a", 1)]))
    t0 = store.commits("t")[-1]
    # widen the schema by writing rows that carry a new column; the old
    # side lifts into the new schema with NULLs, so only real value
    # changes surface
    wide = spark.createDataFrame([Row(id="a", v=1, w="x")], "id string, v long, w string")
    store.write("t", wide)
    ch = store.read_changes("t", t0)
    rows = {r["id"]: (r["v"], r["w"], r["_change_type"]) for r in ch.collect()}
    assert rows == {"a": (1, "x", "update")}


def test_engine_cursor_consumption_across_restart(spark, tmp_path):
    root = str(tmp_path / "wh_cdc_eng")
    eng = StripeSparkSync(spark, TableStore(spark, root, vacuum_retain_s=3600.0))
    eng.process_webhook_events(
        eng.events_df_from_json(
            [fx.event("customer.created", fx.customer(id="cus_a"), created=100)]
        )
    )
    df, cur = eng.consume_changes("mart", "customers")
    assert {(r["id"], r["_change_type"]) for r in df.select("id", "_change_type").collect()} == {
        ("cus_a", "insert")
    }
    # crash before ack → re-delivery of the same window
    df2, cur2 = eng.consume_changes("mart", "customers")
    assert cur2 == cur and df2.count() == df.count()
    eng.ack_changes("mart", "customers", cur)

    # more events; a RESTARTED engine resumes from the durable cursor
    time.sleep(0.002)  # commit timestamps are ms-granular
    eng.process_webhook_events(
        eng.events_df_from_json(
            [fx.event("customer.updated", fx.customer(id="cus_a", name="Betty"), created=200)]
        )
    )
    eng2 = StripeSparkSync(spark, TableStore(spark, root, vacuum_retain_s=3600.0))
    df3, cur3 = eng2.consume_changes("mart", "customers")
    got = {(r["id"], r["name"], r["_change_type"]) for r in df3.select("id", "name", "_change_type").collect()}
    assert got == {("cus_a", "Betty", "update")}
    eng2.ack_changes("mart", "customers", cur3)
    df4, _ = eng2.consume_changes("mart", "customers")
    assert df4.count() == 0
    # distinct consumers have independent cursors
    full, _ = eng2.consume_changes("other_mart", "customers")
    assert full.count() == 1  # initial load: whole table as inserts
    assert os.path.exists(os.path.join(root, "_cursors", "mart.json"))


def test_consume_changes_before_any_commit(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_cdc_none")))
    df, cur = eng.consume_changes("mart", "customers")
    assert df is None and cur == 0


def test_maintain_reports_consumers_at_risk(spark, tmp_path):
    """A change-feed consumer whose cursor lags beyond 75% of the vacuum
    retention shows up in maintain()'s report; a caught-up consumer never
    does, whatever the retention."""
    root = str(tmp_path / "wh_cdc_risk")
    eng = StripeSparkSync(spark, TableStore(spark, root, vacuum_retain_s=0.001))
    eng.process_webhook_events(
        eng.events_df_from_json(
            [fx.event("customer.created", fx.customer(id="cus_r"), created=100)]
        )
    )
    # stale consumer: acked long before the latest commit
    eng.ack_changes("slow_mart", "customers", 1)
    time.sleep(0.01)
    risk = eng.maintain(orphan_min_age_s=3600)["consumers_at_risk"]
    assert risk.get("slow_mart", {}).get("customers", 0) > 0
    # caught-up consumer: cursor at the latest commit → never at risk
    _, cur = eng.consume_changes("fast_mart", "customers")
    eng.ack_changes("fast_mart", "customers", cur)
    risk = eng.maintain(orphan_min_age_s=3600)["consumers_at_risk"]
    assert "fast_mart" not in risk


def test_materialize_changes_maintains_derived_table(spark, tmp_path):
    """The mart loop: several change windows applied incrementally equal a
    full recompute of the transform over the source, deletes propagate,
    and a crash between apply and ack re-applies idempotently."""
    root = str(tmp_path / "wh_cdc_mat")
    eng = StripeSparkSync(spark, TableStore(spark, root, vacuum_retain_s=3600.0))

    def tf(df):
        return df.select("id", "email", F.upper(F.col("name")).alias("name_uc"))

    def ingest(*payloads):
        eng.process_webhook_events(eng.events_df_from_json(list(payloads)))

    ingest(fx.event("customer.created", fx.customer(id="cus_1", name="ada"), created=100),
           fx.event("customer.created", fx.customer(id="cus_2", name="bo"), created=100))
    assert eng.materialize_changes("mart", "customers", "mart_customers", tf) == 2

    ingest(fx.event("customer.updated", fx.customer(id="cus_1", name="ada2"), created=200),
           fx.event("customer.created", fx.customer(id="cus_3", name="cy"), created=200))
    eng.materialize_changes("mart", "customers", "mart_customers", tf)

    # delete propagates through the feed into the mart
    ingest(fx.event("customer.deleted", {"id": "cus_2", "object": "customer", "deleted": True}, created=300))
    eng.materialize_changes("mart", "customers", "mart_customers", tf)

    expect = {r["id"]: r["name_uc"] for r in tf(eng.store.read("customers")).collect()}
    got = {r["id"]: r["name_uc"] for r in eng.store.read("mart_customers").collect()}
    assert got == expect and "cus_3" in got

    # crash between apply and ack: simulate by rolling the cursor back,
    # then re-materialize the same window — state must not change
    before = sorted(map(tuple, eng.store.read("mart_customers").collect()))
    cursors = eng._read_cursors("mart")
    eng.ack_changes("mart", "customers", 1)  # pretend the ack never landed
    eng.materialize_changes("mart", "customers", "mart_customers", tf)
    after = sorted(map(tuple, eng.store.read("mart_customers").collect()))
    assert after == before
    assert eng._read_cursors("mart")["customers"] >= cursors["customers"]

    # transform that drops the key fails loudly
    try:
        eng.materialize_changes("m2", "customers", "mart_bad", lambda d: d.select("email"))
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_retype_and_metadata_migrations_are_invisible(spark, tmp_path):
    """A cast-rewrite retype re-points every bucket and a metadata-only
    column add swaps only the manifest schema — neither is a data change,
    so the feed stays empty across both."""
    from pyspark.sql.types import StructType

    store = TableStore(spark, str(tmp_path / "wh_cdc_rt"), vacuum_retain_s=3600.0)
    store.write("t", spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int"))
    t0 = store.commits("t")[-1]
    store._migrate_schema("t", StructType.fromDDL("id string, v long"))
    assert store.read_changes("t", t0).count() == 0
    store._migrate_schema("t", StructType.fromDDL("id string, v long, w string"))
    assert store.read_changes("t", t0).count() == 0


def test_consume_changes_bounded_catchup(spark, tmp_path):
    """max_commits drains a backlog in bounded, ack-checkpointed windows
    whose concatenated net application equals the final state."""
    store = TableStore(spark, str(tmp_path / "wh_cdc_cap"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    states = [
        [("a", 1), ("b", 1)],
        [("a", 2), ("c", 1)],
        [("a", 2), ("c", 5)],
    ]
    for s in states:
        store.write("charges_like", _mk(spark, s))
        time.sleep(0.002)

    applied: dict = {}
    windows = 0
    while True:
        feed, cur = eng.consume_changes("slow", "charges_like", max_commits=1)
        rows = feed.collect()
        if not rows and eng._read_cursors("slow").get("charges_like", 0) == cur:
            break
        for r in rows:
            if r["_change_type"] == "delete":
                applied.pop(r["id"], None)
            else:
                applied[r["id"]] = r["v"]
        eng.ack_changes("slow", "charges_like", cur)
        windows += 1
        if windows > 10:
            raise AssertionError("did not converge")
    assert applied == dict(states[-1])
    assert windows >= 3  # backlog drained in multiple bounded windows


def test_read_changes_property_random_batches(spark, tmp_path):
    """Net-diff property: for ANY sequence of table states, the feed from
    t0 equals the symmetric diff of first and last state — inserts for
    new keys, deletes for vanished keys, updates for changed values."""
    import random

    rng = random.Random(42)
    store = TableStore(spark, str(tmp_path / "wh_cdc_prop"), vacuum_retain_s=3600.0)
    keys = [f"k{i}" for i in range(8)]

    def rand_state():
        return {k: rng.randint(0, 3) for k in keys if rng.random() < 0.6}

    first = rand_state()
    store.write("t", _mk(spark, sorted(first.items())))
    t0 = store.commits("t")[-1]
    last = first
    for _ in range(4):
        last = rand_state()
        store.write("t", _mk(spark, sorted(last.items())))
        time.sleep(0.002)

    expect = {}
    for k in set(first) | set(last):
        if k not in first:
            expect[(k, "insert")] = last[k]
        elif k not in last:
            expect[(k, "delete")] = first[k]
        elif first[k] != last[k]:
            expect[(k, "update")] = last[k]
    assert _changes(store.read_changes("t", t0)) == expect


def _run_once(stream_df, checkpoint, out_dir):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()


def test_streaming_change_feed_exactly_once(spark, tmp_path):
    """The change feed as a Structured Streaming source: the first run
    delivers the initial load, subsequent runs (same checkpoint) deliver
    only the net changes since the checkpointed offset, and a run with no
    new commits delivers nothing — exactly-once across restarts. The sink
    is a fault-tolerant parquet append, so the accumulated rows ARE the
    delivery history."""
    root = str(tmp_path / "wh_cdc_stream")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    eng = StripeSparkSync(spark, TableStore(spark, root, vacuum_retain_s=3600.0))
    eng.process_webhook_events(
        eng.events_df_from_json(
            [
                fx.event("customer.created", fx.customer(id="cus_s1", name="ada"), created=100),
                fx.event("customer.created", fx.customer(id="cus_s2", name="bo"), created=100),
            ]
        )
    )

    _run_once(eng.read_changes_stream("customers"), ckpt, out)
    got = {
        (r["id"], r["_change_type"])
        for r in spark.read.parquet(out).select("id", "_change_type").collect()
    }
    assert got == {("cus_s1", "insert"), ("cus_s2", "insert")}

    time.sleep(0.002)
    eng.process_webhook_events(
        eng.events_df_from_json(
            [fx.event("customer.updated", fx.customer(id="cus_s1", name="ada2"), created=200)]
        )
    )
    _run_once(eng.read_changes_stream("customers"), ckpt, out)
    rows = [
        (r["id"], r["name"], r["_change_type"])
        for r in spark.read.parquet(out).select("id", "name", "_change_type").collect()
    ]
    assert sorted(rows) == [
        ("cus_s1", "ada", "insert"),
        ("cus_s1", "ada2", "update"),  # net only, exactly one delivery
        ("cus_s2", "bo", "insert"),
    ]

    # restart with no new commits: nothing appended
    _run_once(eng.read_changes_stream("customers"), ckpt, out)
    assert spark.read.parquet(out).count() == 3


def test_streaming_change_feed_planning_units(spark, tmp_path):
    """In-process unit checks of the stream reader's planning: offsets
    track history commits, only changed buckets become partitions, and a
    rebucket inside a window fails loudly."""
    from stripe_sync_engine_spark.sources.store_datasource import ChangesDataSource

    store = TableStore(spark, str(tmp_path / "wh_cdc_sp"), vacuum_retain_s=3600.0)
    store.write("t", _mk(spark, [(f"k{i}", i) for i in range(64)]))
    t0 = store.commits("t")[-1]
    one = _mk(spark, [("k7", 700)])
    [b] = store.buckets_of(one, table="t")
    cur = store.read_buckets("t", [b])
    store.write_buckets("t", cur.join(one.select("id"), "id", "left_anti").unionByName(one), [b])
    t1 = store.commits("t")[-1]

    ds = ChangesDataSource(options={"root": store.root, "table": "t", "starting_commit_ms": "0"})
    reader = ds.streamReader(ds.schema())
    assert reader.initialOffset() == {"commit_ms": 0}
    assert reader.latestOffset() == {"commit_ms": t1}
    parts = reader.partitions({"commit_ms": t0}, {"commit_ms": t1})
    assert len(parts) == 1 and f"_bucket={b}" in parts[0].new_dir
    rows = list(reader.read(parts[0]))
    assert ("k7", 700, "update") in rows and len(rows) == 1
    # full window from 0: every bucket is new → one partition per bucket
    parts0 = reader.partitions({"commit_ms": 0}, {"commit_ms": t1})
    assert all(p.old_dir is None for p in parts0)
    # rebucket breaks per-bucket pairing → loud failure
    store.rebucket("t", 8)
    t2 = store.commits("t")[-1]
    try:
        reader.partitions({"commit_ms": t1}, {"commit_ms": t2})
        raise AssertionError("expected RuntimeError")
    except RuntimeError as e:
        assert "rebucketed" in str(e)


def test_change_feed_float_edge_parity(spark, tmp_path):
    """Batch and streaming feeds share ONE float comparator convention:
    Spark's hash expressions normalize floats (-0.0 → 0.0, NaN → canonical
    NaN) before hashing, which equates exactly what the stream reader's
    IEEE == plus isnan/isnan equates — so a 0.0 → -0.0 rewrite and an
    unchanged-NaN row are silent on BOTH surfaces, while a real value
    change surfaces on both."""
    from stripe_sync_engine_spark.sources.store_datasource import ChangesDataSource

    store = TableStore(spark, str(tmp_path / "wh_cdc_float"), vacuum_retain_s=3600.0)
    mk = lambda rows: spark.createDataFrame(rows, "id string, v double")  # noqa: E731
    store.write("t", mk([("zero", 0.0), ("nan", float("nan")), ("one", 1.0)]))
    t0 = store.commits("t")[-1]
    time.sleep(0.002)
    store.write("t", mk([("zero", -0.0), ("nan", float("nan")), ("one", 2.0)]))
    t1 = store.commits("t")[-1]

    # batch surface: only the real change surfaces; -0.0 flip and NaN silent
    batch = {r["id"]: r["_change_type"] for r in store.read_changes("t", t0).collect()}
    assert batch == {"one": "update"}

    # streaming surface: the SAME change set from the same window
    ds = ChangesDataSource(options={"root": store.root, "table": "t", "starting_commit_ms": "0"})
    reader = ds.streamReader(ds.schema())
    got = {}
    for p in reader.partitions({"commit_ms": t0}, {"commit_ms": t1}):
        for row in reader.read(p):
            got[row[0]] = row[-1]
    assert got == {"one": "update"}


def test_read_changes_update_preimages_opt_in(spark, tmp_path):
    """emit_update_preimages=True adds Delta-CDF-style update_preimage
    rows — each update's OLD row — without disturbing the net feed:
    consumers filtering on the three net types see exactly the default
    output, and the pre-image rows carry the pre-update values. The
    engine cursor API passes the flag through."""
    store = TableStore(spark, str(tmp_path / "wh_cdc_pre"), vacuum_retain_s=3600.0)
    store.write("t", _mk(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t0 = store.commits("t")[-1]
    time.sleep(0.002)
    store.write("t", _mk(spark, [("a", 10), ("b", 2), ("d", 4)]))  # upd a, del c, ins d

    default = _changes(store.read_changes("t", t0))
    assert default == {("a", "update"): 10, ("c", "delete"): 3, ("d", "insert"): 4}
    with_pre = _changes(store.read_changes("t", t0, emit_update_preimages=True))
    assert with_pre == {
        ("a", "update"): 10,
        ("a", "update_preimage"): 1,  # the OLD value
        ("c", "delete"): 3,
        ("d", "insert"): 4,
    }

    eng = StripeSparkSync(spark, store)
    df, cursor = eng.consume_changes("gates", "t", emit_update_preimages=True)
    assert _changes(df.where(F.col("_change_type") != "insert")) == {}  # initial load
    eng.ack_changes("gates", "t", cursor)
    time.sleep(0.002)
    store.write("t", _mk(spark, [("a", 100), ("b", 2), ("d", 4)]))
    df, cursor = eng.consume_changes("gates", "t", emit_update_preimages=True)
    assert _changes(df) == {("a", "update"): 100, ("a", "update_preimage"): 10}


def test_maintain_corpus_indexes_fans_out_one_window(spark, tmp_path, monkeypatch):
    """The corpus CDC fan-out glue: one poll consumes a window under one
    durable cursor, applies it to the exact gate AND the postings index,
    and acks only after both — a crash before the ack re-delivers the
    window and every target converges idempotently. Window batch ids use
    the epoch convention, so folding the postings stats afterwards keeps
    the ledger O(consumers), not O(windows)."""
    import json
    import math
    import os

    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex

    store = TableStore(spark, str(tmp_path / "wh_fanout"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    docs = spark.createDataFrame(
        [(i, f"alpha corpus doc {i} words") for i in range(8)],
        "doc_id long, text string",
    )
    store.write("corpus", docs, key="doc_id")
    gate = IncrementalDeduper(store)
    idx = PersistedPostingsIndex(store)

    # birth window: builds both targets from the initial load
    rep = eng.maintain_corpus_indexes("gates", "corpus", gates=[gate], postings=idx)
    assert rep["applied"] and rep["rows"] == 8
    assert idx.topk(["alpha"], k=10).count() == 8
    assert gate.select_new(docs).isEmpty()

    # steady state: nothing pending is an ack-only no-op
    rep2 = eng.maintain_corpus_indexes("gates", "corpus", gates=[gate], postings=idx)
    assert not rep2["applied"] and rep2["cursor"] == rep["cursor"]

    # mutate, then crash BEFORE the ack: the window re-delivers whole
    import time as _t

    _t.sleep(0.002)
    nxt = spark.createDataFrame(
        [(i, f"alpha corpus doc {i} words") for i in range(2, 8)]
        + [(7, "rewritten gamma body seven"), (100, "fresh delta doc")],
        "doc_id long, text string",
    )
    nxt = nxt.groupBy("doc_id").agg(F.max("text").alias("text"))  # doc 7 rewritten
    store.write("corpus", nxt, key="doc_id")

    real_ack = eng.ack_changes
    calls = {"n": 0}

    def flaky_ack(consumer, entity, cursor_ms):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected crash before ack")
        real_ack(consumer, entity, cursor_ms)

    monkeypatch.setattr(eng, "ack_changes", flaky_ack)
    with pytest.raises(OSError, match="injected"):
        eng.maintain_corpus_indexes("gates", "corpus", gates=[gate], postings=idx)
    rep3 = eng.maintain_corpus_indexes("gates", "corpus", gates=[gate], postings=idx)
    assert rep3["applied"]  # replayed and acked this time

    fresh = PersistedPostingsIndex(
        TableStore(spark, str(tmp_path / "wh_fanout_fresh"))
    )
    fresh.register(store.read("corpus"), "all")
    for terms in (["alpha"], ["gamma", "delta"]):
        got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=20).collect()}
        want = {r["doc_id"]: r["score"] for r in fresh.topk(terms, k=20).collect()}
        assert set(got) == set(want)
        for d, s in want.items():
            assert math.isclose(got[d], s, rel_tol=1e-9)

    # fold: the epoch-convention window ids compact to one horizon per
    # (consumer, half) — the ledger does not grow with window count
    idx.fold_stats()
    led = json.load(
        open(os.path.join(store.root, idx.stats_table, "_folded_batches.json"))
    )
    assert led["ids"] == []  # nothing free-form
    assert set(led["runs"]) <= {"gates:ins", "gates:del"}


def test_streaming_change_feed_update_preimages(spark, tmp_path):
    """The streaming source honors the same emit_update_preimages option
    as the batch feed (one contract across both surfaces): each update
    also delivers its OLD row, and the default stream is untouched."""
    root = str(tmp_path / "wh_cdc_spre")
    eng = StripeSparkSync(spark, TableStore(spark, root, vacuum_retain_s=3600.0))
    store = eng.store
    store.write("t", _mk(spark, [("a", 1), ("b", 2)]))
    out, ckpt = str(tmp_path / "out_pre"), str(tmp_path / "ckpt_pre")
    _run_once(eng.read_changes_stream("t", emit_update_preimages=True), ckpt, out)

    time.sleep(0.002)
    store.write("t", _mk(spark, [("a", 10), ("c", 3)]))  # upd a, del b, ins c
    _run_once(eng.read_changes_stream("t", emit_update_preimages=True), ckpt, out)
    got = {
        (r["id"], r["_change_type"]): r["v"] for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("a", "insert"): 1,  # initial load
        ("b", "insert"): 2,
        ("a", "update"): 10,  # the window's changes, pre-image included
        ("a", "update_preimage"): 1,
        ("b", "delete"): 2,
        ("c", "insert"): 3,
    }

    # default stream: no preimage rows anywhere
    out2 = str(tmp_path / "out_nopre")
    _run_once(eng.read_changes_stream("t"), str(tmp_path / "ckpt_nopre"), out2)
    kinds = {r["_change_type"] for r in spark.read.parquet(out2).collect()}
    assert "update_preimage" not in kinds


def test_maintain_corpus_indexes_vector_targets(spark, tmp_path):
    """The fan-out's vector side: one window applied to the embedding
    gate AND the IVF-PQ index (ann=), with pre-images so the gate
    retires updated-away embeddings; codes end row-identical to a fresh
    register over the mutated corpus."""

    from stripe_sync_engine_spark.operators.embedding_index import (
        IncrementalEmbeddingIndex,
    )
    from stripe_sync_engine_spark.operators.pq_index import (
        PersistedIVFPQ,
        train_ivf_pq,
    )

    rng = [[(0.01 * ((i * 7 + d * 3) % 50) - 0.25) for d in range(64)] for i in range(64)]
    store = TableStore(spark, str(tmp_path / "wh_vec_fan"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    vecs = spark.createDataFrame(
        [(i, rng[i]) for i in range(48)], "vec_id long, embedding array<double>"
    )
    store.write("vectors", vecs, key="vec_id")
    idx = train_ivf_pq(vecs, n_cells=4, m=8, k=8)
    gate = IncrementalEmbeddingIndex(store, id_col="vec_id")
    ann = PersistedIVFPQ(store, idx)

    rep = eng.maintain_corpus_indexes(
        "vec_gates", "vectors", gates=[gate], ann=ann, emit_update_preimages=True
    )
    assert rep["applied"] and store.read(ann.table).count() == 48

    # mutate: delete 4, update 4 to other vectors' embeddings, insert 4
    import time as _t

    _t.sleep(0.002)
    upd = spark.createDataFrame(
        [(4 + j, rng[40 + j]) for j in range(4)], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [(1000 + j, rng[30 + j]) for j in range(4)], "vec_id long, embedding array<double>"
    )
    cur = store.read("vectors")
    nxt = (
        cur.where("vec_id >= 4")
        .join(upd.select("vec_id"), "vec_id", "left_anti")
        .unionByName(upd)
        .unionByName(new)
    )
    store.write("vectors", nxt, key="vec_id")
    rep2 = eng.maintain_corpus_indexes(
        "vec_gates", "vectors", gates=[gate], ann=ann, emit_update_preimages=True
    )
    assert rep2["applied"]

    fresh_store = TableStore(spark, str(tmp_path / "wh_vec_fan_f"))
    fresh = PersistedIVFPQ(fresh_store, idx)
    fresh.register(store.read("vectors"), "all")

    def codes_set(s, t):
        return {(r["vec_id"], r["cell"], tuple(r["codes"])) for r in s.read(t).collect()}

    assert codes_set(store, ann.table) == codes_set(fresh_store, fresh.table)
    # the gate followed too: deleted vec 0's embedding no longer gates
    probe = spark.createDataFrame([(9000, rng[0])], "vec_id long, embedding array<double>")
    assert {r["vec_id"] for r in gate.select_new(probe).collect()} == {9000}


def test_fanout_crash_retry_with_new_commit_pins_the_window(
    spark, tmp_path, monkeypatch
):
    """The two-phase cursor: a crash between apply and ack, followed by a
    NEW source commit, must re-deliver the IDENTICAL window under the
    IDENTICAL batch id — without the pin the retry would plan a later
    `until`, and the overlap's postings stats (keyed per batch id) would
    double-count N/avgdl, silently corrupting every later BM25 score.
    The new commit becomes its own next window."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex

    store = TableStore(spark, str(tmp_path / "wh_pin"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    docs = spark.createDataFrame(
        [(i, f"alpha corpus doc {i} words") for i in range(8)],
        "doc_id long, text string",
    )
    store.write("corpus", docs, key="doc_id")
    idx = PersistedPostingsIndex(store)
    eng.maintain_corpus_indexes("gates", "corpus", postings=idx)  # birth window

    # mutation window W1: delete 0,1; update 7; insert 100
    time.sleep(0.002)
    nxt = (
        docs.where("doc_id >= 2")
        .where("doc_id != 7")
        .unionByName(
            spark.createDataFrame(
                [(7, "rewritten gamma body seven"), (100, "fresh delta doc")],
                "doc_id long, text string",
            )
        )
    )
    store.write("corpus", nxt, key="doc_id")

    real_ack = eng.ack_changes
    calls = {"n": 0}

    def flaky_ack(consumer, entity, cursor_ms):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected crash before ack")
        real_ack(consumer, entity, cursor_ms)

    monkeypatch.setattr(eng, "ack_changes", flaky_ack)
    with pytest.raises(OSError, match="injected"):
        eng.maintain_corpus_indexes("gates", "corpus", postings=idx)
    w1 = store.commits("corpus")[-1]
    assert eng._read_pending("gates") == {"corpus": w1}  # the pin survived

    # a NEW commit lands BEFORE the retry — the trap the pin defuses
    time.sleep(0.002)
    store.write(
        "corpus",
        store.read("corpus").unionByName(
            spark.createDataFrame(
                [(200, "late epsilon doc")], "doc_id long, text string"
            )
        ),
        key="doc_id",
    )
    rep = eng.maintain_corpus_indexes("gates", "corpus", postings=idx)
    assert rep["cursor"] == w1  # the retry replayed EXACTLY the pinned window
    rep2 = eng.maintain_corpus_indexes("gates", "corpus", postings=idx)
    assert rep2["applied"] and rep2["rows"] == 1  # then the late commit, alone
    assert rep2["cursor"] == store.commits("corpus")[-1]
    assert eng._read_pending("gates") == {}  # ack cleared the pin

    # the corruption probe: stats sums AND scores equal a fresh rebuild
    fresh = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_pin_f")))
    fresh.register(store.read("corpus"), "all")

    def sums(ix, st):
        r = st.read(ix.stats_table).agg(
            F.sum("n_docs").alias("n"), F.sum("total_dl").alias("dl")
        ).first()
        return (r["n"], r["dl"])

    assert sums(idx, store) == sums(fresh, fresh.store)
    for terms in (["alpha"], ["gamma", "delta", "epsilon"]):
        got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=20).collect()}
        want = {r["doc_id"]: r["score"] for r in fresh.topk(terms, k=20).collect()}
        assert set(got) == set(want), terms
        for d, s in want.items():
            assert math.isclose(got[d], s, rel_tol=1e-9)


def test_fanout_logs_durably_and_counts_net_rows(spark, tmp_path):
    """Every cron fan-out poll appends its outcome to the store's durable
    _maintenance_log.jsonl (matching the returned report), and `rows`
    counts NET change rows — update_preimage rows describe updates the
    post-image rows already count."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper

    store = TableStore(spark, str(tmp_path / "wh_log"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store)
    docs = spark.createDataFrame(
        [(i, f"body of doc {i}") for i in range(4)], "doc_id long, text string"
    )
    store.write("corpus", docs, key="doc_id")
    gate = IncrementalDeduper(store)
    rep = eng.maintain_corpus_indexes(
        "g", "corpus", gates=[gate], emit_update_preimages=True
    )
    assert rep["rows"] == 4

    time.sleep(0.002)
    # update 1, delete 3, insert 10: net window = 3 rows (+1 pre-image)
    nxt = spark.createDataFrame(
        [(0, "body of doc 0"), (1, "rewritten one"), (2, "body of doc 2"),
         (10, "brand new ten")],
        "doc_id long, text string",
    )
    store.write("corpus", nxt, key="doc_id")
    rep2 = eng.maintain_corpus_indexes(
        "g", "corpus", gates=[gate], emit_update_preimages=True
    )
    assert rep2["applied"] and rep2["rows"] == 3  # NOT 4: pre-image excluded

    log = [r for r in eng.read_maintenance_log() if r.get("op") == "corpus_cdc_fanout"]
    assert len(log) == 2
    assert log[-1]["consumer"] == "g" and log[-1]["entity"] == "corpus"
    assert log[-1]["cursor"] == rep2["cursor"]
    assert log[-1]["window"] == f"g:{rep2['cursor']}"
    assert log[-1]["rows"] == 3 and log[-1]["applied"] is True
    assert log[-1]["targets"] == {
        "gates": 1, "postings": False, "ann": False, "mixture_folds": 0,
    }
