"""Sync-layer behavior tests — the FIXTURES.md §3 scenario list, which is
itself the reference's test strategy (SURVEY.md §5): fixture events through
the engine, then assert on table state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stripe_sync_engine_spark.sources.stripe_api import InMemoryStripeAPI
from stripe_sync_engine_spark.storage import TableStore
from stripe_sync_engine_spark.sync import StripeSparkSync, SyncConfig
from tests import fixtures as fx


@pytest.fixture()
def engine(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "warehouse"))
    api = InMemoryStripeAPI()
    eng = StripeSparkSync(spark, store, api=api)
    return eng


def process(eng, *payloads):
    return eng.process_webhook_events(eng.events_df_from_json(list(payloads)))


def table_rows(eng, table):
    df = eng.store.read(table)
    return {} if df is None else {r["id"]: r.asDict() for r in df.collect()}


# 1. upsert round-trip: one event → one row, last_synced_at == event.created
def test_upsert_roundtrip(engine):
    counts = process(engine, fx.event("charge.succeeded", fx.charge(id="ch_A"), created=1_700_000_100))
    assert counts["charges"] == 1
    rows = table_rows(engine, "charges")
    assert rows["ch_A"]["amount"] == 4200
    assert rows["ch_A"]["paid"] is True
    assert rows["ch_A"]["metadata"] == '{"k":"v"}'
    assert int(rows["ch_A"]["last_synced_at"].timestamp()) == 1_700_000_100


# 2. stale-event protection: older event cannot overwrite newer row
def test_stale_event_protection(engine):
    process(engine, fx.event("charge.updated", fx.charge(id="ch_A", paid=True), created=2_000))
    process(engine, fx.event("charge.updated", fx.charge(id="ch_A", paid=False), created=1_000))
    row = table_rows(engine, "charges")["ch_A"]
    assert row["paid"] is True
    assert int(row["last_synced_at"].timestamp()) == 2_000


# 3. replay idempotency
def test_replay_idempotent(engine):
    e = fx.event("charge.succeeded", fx.charge(id="ch_A"), created=3_000)
    process(engine, e)
    process(engine, e)
    rows = table_rows(engine, "charges")
    assert len(rows) == 1 and rows["ch_A"]["amount"] == 4200


# batch-internal duplicates: newest version within one batch wins (A3)
def test_batch_internal_argmax(engine):
    counts = process(
        engine,
        fx.event("charge.updated", fx.charge(id="ch_A", amount=1), created=10),
        fx.event("charge.updated", fx.charge(id="ch_A", amount=2), created=20),
    )
    assert counts["charges"] == 2  # 2 events processed (reference counts items)
    rows = table_rows(engine, "charges")
    assert len(rows) == 1  # … but argmax pre-reduction keeps one row per key
    assert rows["ch_A"]["amount"] == 2


# 4. deleted customer: partial update of id/object/deleted only
def test_customer_deleted_partial(engine):
    process(engine, fx.event("customer.created", fx.customer(id="cus_X", name="Ada"), created=100))
    process(
        engine,
        fx.event("customer.deleted", {"id": "cus_X", "object": "customer", "deleted": True}, created=200),
    )
    row = table_rows(engine, "customers")["cus_X"]
    assert row["deleted"] is True
    assert row["name"] == "Ada"  # untouched by the partial upsert
    assert int(row["last_synced_at"].timestamp()) == 200


# 5. hard deletes
def test_product_hard_delete(engine):
    process(engine, fx.event("product.created", fx.product(id="prod_Z"), created=100))
    assert "prod_Z" in table_rows(engine, "products")
    process(engine, fx.event("product.deleted", {"id": "prod_Z", "object": "product", "deleted": True}, created=200))
    assert "prod_Z" not in table_rows(engine, "products")


# 6. explode + soft-delete reconciliation: items [A,B] then [B,C]
def test_subscription_items_reconcile(engine):
    engine.api.put("customers", fx.customer(id="cus_1"))
    process(
        engine,
        fx.event(
            "customer.subscription.created",
            fx.subscription(items=[fx.sub_item(id="si_A"), fx.sub_item(id="si_B")]),
            created=100,
        ),
    )
    process(
        engine,
        fx.event(
            "customer.subscription.updated",
            fx.subscription(items=[fx.sub_item(id="si_B"), fx.sub_item(id="si_C")]),
            created=200,
        ),
    )
    rows = table_rows(engine, "subscription_items")
    assert rows["si_A"]["deleted"] is True
    assert rows["si_B"]["deleted"] is False
    assert rows["si_C"]["deleted"] is False
    assert rows["si_C"]["price"] == "price_1"  # embedded price → id extracted
    assert rows["si_C"]["subscription"] == "sub_1"


# 7. replace-set entitlements: set A then set B → table equals exactly B
def test_entitlements_replace_set(engine):
    process(
        engine,
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(ents=[fx.entitlement(id="ent_1"), fx.entitlement(id="ent_2", feature="feat_2")]),
            created=100,
        ),
    )
    process(
        engine,
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(ents=[fx.entitlement(id="ent_3", feature="feat_3")]),
            created=200,
        ),
    )
    rows = table_rows(engine, "active_entitlements")
    assert set(rows) == {"ent_3"}
    assert rows["ent_3"]["feature"] == "feat_3"
    assert rows["ent_3"]["customer"] == "cus_1"
    # other customers' entitlements survive
    process(
        engine,
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(customer="cus_2", ents=[fx.entitlement(id="ent_9")]),
            created=300,
        ),
    )
    assert set(table_rows(engine, "active_entitlements")) == {"ent_3", "ent_9"}


# 8. list expansion: invoice lines has_more=true → refetched via API
def test_invoice_lines_expansion(engine):
    engine.api.put("customers", fx.customer(id="cus_1"))
    engine.api.put_expanded(
        "invoices", "in_1", "lines",
        [{"id": "il_1", "amount": 100}, {"id": "il_2", "amount": 200}],
    )
    truncated = {"object": "list", "data": [{"id": "il_1", "amount": 100}], "has_more": True}
    process(engine, fx.event("invoice.updated", fx.invoice(id="in_1", lines=truncated), created=100))
    row = table_rows(engine, "invoices")["in_1"]
    assert '"il_2"' in row["lines"] and '"has_more":false' in row["lines"].replace(" ", "")


# 8b. has_more=false stored as-is, API not called
def test_invoice_lines_no_expansion(engine):
    lines = {"object": "list", "data": [{"id": "il_1"}], "has_more": False}
    process(engine, fx.event("invoice.updated", fx.invoice(id="in_2", lines=lines), created=100))
    row = table_rows(engine, "invoices")["in_2"]
    assert '"il_1"' in row["lines"]


# 9. parent backfill: charge referencing unseen customer + invoice
def test_parent_backfill(engine):
    engine.api.put("customers", fx.customer(id="cus_9"))
    engine.api.put("invoices", fx.invoice(id="in_9", customer="cus_9"))
    process(
        engine,
        fx.event("charge.succeeded", fx.charge(id="ch_9", customer="cus_9", invoice="in_9"), created=100),
    )
    assert "cus_9" in table_rows(engine, "customers")
    assert "in_9" in table_rows(engine, "invoices")
    assert ("customers", "cus_9") in engine.api.retrieve_calls
    # already-present parents are NOT refetched (anti-join gate)
    engine.api.retrieve_calls.clear()
    process(
        engine,
        fx.event("charge.updated", fx.charge(id="ch_9", customer="cus_9", invoice="in_9"), created=200),
    )
    assert ("customers", "cus_9") not in engine.api.retrieve_calls


# 10. checkout session line-item fill with price extraction + FK stamp
def test_checkout_session_line_items(engine):
    engine.api.put("customers", fx.customer(id="cus_1"))
    engine.api.put_line_items("cs_1", [fx.line_item(id="li_1", price="price_77"), fx.line_item(id="li_2")])
    process(engine, fx.event("checkout.session.completed", fx.checkout_session(id="cs_1"), created=100))
    rows = table_rows(engine, "checkout_session_line_items")
    assert set(rows) == {"li_1", "li_2"}
    assert rows["li_1"]["price"] == "price_77"
    assert rows["li_1"]["checkout_session"] == "cs_1"
    assert rows["li_1"]["quantity"] == 2


# 11. backfill window: created gte/lt only touches in-window rows
def test_backfill_created_window(engine):
    for i, created in enumerate([1_000, 2_000, 3_000]):
        engine.api.put("products", fx.product(id=f"prod_{i}", created=created))
    counts = engine.sync_backfill("products", created={"gte": 1_500, "lt": 2_500})
    assert counts["products"] == 1
    assert set(table_rows(engine, "products")) == {"prod_1"}


def test_backfill_all_dependency_order(engine):
    engine.api.put("products", fx.product(id="prod_1"))
    engine.api.put("prices", fx.price(id="price_1", product="prod_1"))
    engine.api.put("customers", fx.customer(id="cus_1"))
    engine.api.put("charges", fx.charge(id="ch_1", customer="cus_1", invoice=None))
    counts = engine.sync_backfill("all")
    assert counts["products"] == 1 and counts["charges"] == 1
    assert set(table_rows(engine, "charges")) == {"ch_1"}


def test_sync_single_entity_prefix_dispatch(engine):
    engine.api.put("subscription_schedules", {"id": "sub_sched_1", "object": "subscription_schedule", "status": "active", "created": 1, "customer": None})
    engine.api.put("subscriptions", fx.subscription(id="sub_2", customer=None))
    assert engine.sync_single_entity("sub_sched_1") == "subscription_schedules"
    assert engine.sync_single_entity("sub_2") == "subscriptions"
    assert "sub_sched_1" in table_rows(engine, "subscription_schedules")
    assert "sub_2" in table_rows(engine, "subscriptions")


def test_payment_methods_fanout(engine):
    process(engine, fx.event("customer.created", fx.customer(id="cus_1"), created=100))
    engine.api.put("payment_methods", {"id": "pm_1", "object": "payment_method", "customer": "cus_1", "type": "card", "created": 5})
    engine.api.put("payment_methods", {"id": "pm_2", "object": "payment_method", "customer": "cus_other", "type": "card", "created": 6})
    n = engine.sync_payment_methods_fanout()
    assert n == 1
    assert set(table_rows(engine, "payment_methods")) == {"pm_1"}


def test_revalidation(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh2"))
    api = InMemoryStripeAPI()
    eng = StripeSparkSync(
        spark, store, api=api,
        config=SyncConfig(revalidate_objects_via_stripe_api=("invoices",), backfill_related_entities=False),
    )
    # non-final invoice: API version wins over webhook payload
    api.put("invoices", fx.invoice(id="in_1", customer="cus_api"))
    eng.process_webhook_events(
        eng.events_df_from_json([fx.event("invoice.updated", fx.invoice(id="in_1", customer="cus_hook"), created=100)])
    )
    assert table_rows(eng, "invoices")["in_1"]["customer"] == "cus_api"
    # voided (final) invoice: payload used as-is, no refetch
    api.retrieve_calls.clear()
    eng.process_webhook_events(
        eng.events_df_from_json([fx.event("invoice.voided", fx.invoice(id="in_2", status="void", customer="cus_hook"), created=200)])
    )
    assert table_rows(eng, "invoices")["in_2"]["customer"] == "cus_hook"
    assert ("invoices", "in_2") not in api.retrieve_calls


def test_migrate_bootstraps_all_tables(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh3"))
    applied = store.migrate()
    assert "charges" in applied and "active_entitlements" in applied
    df = store.read("charges")
    assert df.count() == 0
    assert "last_synced_at" in df.columns
    # idempotent
    assert store.migrate() == []


# 12. same-second events: higher event_id deterministically wins (merge tiebreak)
def test_same_second_event_tiebreak(engine):
    process(
        engine,
        fx.event("charge.updated", fx.charge(id="ch_T", amount=111), created=500, event_id="evt_aaa"),
        fx.event("charge.updated", fx.charge(id="ch_T", amount=222), created=500, event_id="evt_zzz"),
    )
    assert table_rows(engine, "charges")["ch_T"]["amount"] == 222
    # replay in the other order — same winner (determinism, not arrival order)
    process(
        engine,
        fx.event("charge.updated", fx.charge(id="ch_T", amount=222), created=500, event_id="evt_zzz"),
        fx.event("charge.updated", fx.charge(id="ch_T", amount=111), created=500, event_id="evt_aaa"),
    )
    assert table_rows(engine, "charges")["ch_T"]["amount"] == 222


# 13. resource_missing → delete: revalidated product vanished upstream
def test_resource_missing_deletes_on_revalidate(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_rm"))
    api = InMemoryStripeAPI()
    eng = StripeSparkSync(
        spark, store, api=api,
        config=SyncConfig(revalidate_objects_via_stripe_api=("products",), backfill_related_entities=False),
    )
    # product exists, then is deleted upstream (API no longer returns it)
    api.put("products", fx.product(id="prod_gone"))
    eng.process_webhook_events(
        eng.events_df_from_json([fx.event("product.created", fx.product(id="prod_gone"), created=100)])
    )
    assert "prod_gone" in table_rows(eng, "products")
    del api.objects["products"]["prod_gone"]
    eng.process_webhook_events(
        eng.events_df_from_json([fx.event("product.updated", fx.product(id="prod_gone"), created=200)])
    )
    assert "prod_gone" not in table_rows(eng, "products")


# 13b. resource_missing → delete on point sync
def test_resource_missing_deletes_on_point_sync(engine):
    process(engine, fx.event("product.created", fx.product(id="prod_p"), created=100))
    assert "prod_p" in table_rows(engine, "products")
    # API never had it → retrieve returns None → treated as deleted
    assert engine.sync_single_entity("prod_p") == "products"
    assert "prod_p" not in table_rows(engine, "products")


# 14. entitlement summary backfills missing features
def test_entitlement_summary_backfills_features(engine):
    engine.api.put("features", {"id": "feat_bf", "object": "entitlements.feature",
                                "name": "Backfilled", "lookup_key": "bf", "livemode": False})
    process(
        engine,
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(ents=[fx.entitlement(id="ent_bf", feature="feat_bf")]),
            created=100,
        ),
    )
    assert "feat_bf" in table_rows(engine, "features")
    assert ("features", "feat_bf") in engine.api.retrieve_calls


# merge_upsert with ts_col=None must not multiply duplicate source keys
def test_plain_upsert_dedupes_source(spark):
    from stripe_sync_engine_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([("a", 1)], "id string, v int")
    source = spark.createDataFrame([("a", 2), ("a", 3), ("b", 4)], "id string, v int")
    out = merge_upsert(target, source, key="id", ts_col=None)
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert set(rows) == {"a", "b"}  # no row multiplication
    assert rows["a"] in (2, 3) and rows["b"] == 4
    # with a tiebreak the winner is deterministic
    out2 = merge_upsert(target, source, key="id", ts_col=None, tiebreak_cols=["v"])
    assert {r["id"]: r["v"] for r in out2.collect()} == {"a": 3, "b": 4}


# asof payload must come atomically from ONE right row (NULLs included)
def test_asof_join_null_payload_atomic(spark):
    from stripe_sync_engine_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 30)], "k string, t int")
    right = spark.createDataFrame(
        [("k", 10, "old_a", "old_b"), ("k", 20, "new_a", None)],
        "k string, t int, a string, b string",
    )
    out = asof_join(
        left, right, "k", "k", "t", "t",
        right_payload={"a": "a_val", "b": "b_val"},
    ).collect()[0]
    # the latest right row (t=20) wins atomically: its NULL b must NOT be
    # back-filled from the older row
    assert out["a_val"] == "new_a"
    assert out["b_val"] is None


# bucketed store: a small merge batch rewrites a strict subset of buckets
def test_merge_rewrites_only_touched_buckets(engine):
    import json as _json
    import os as _os

    # seed many keys so several buckets are populated
    events = [
        fx.event("charge.updated", fx.charge(id=f"ch_bkt_{i}", amount=i), created=100 + i)
        for i in range(40)
    ]
    process(engine, *events)
    mpath = _os.path.join(engine.store.root, "charges", "MANIFEST.json")
    before = _json.load(open(mpath))["buckets"]
    assert len(set(before.values())) == 1  # one full version
    # single-key merge
    process(engine, fx.event("charge.updated", fx.charge(id="ch_bkt_0", amount=999), created=10_000))
    after = _json.load(open(mpath))["buckets"]
    moved = {b for b in after if after[b] != before.get(b)}
    kept = {b for b in after if after[b] == before.get(b)}
    assert len(moved) == 1  # exactly the bucket of ch_bkt_0 rewrote
    assert kept  # everything else still serves the old version's files
    # and the data is correct
    rows = table_rows(engine, "charges")
    assert rows["ch_bkt_0"]["amount"] == 999
    assert rows["ch_bkt_7"]["amount"] == 7
    assert len(rows) == 40


# SURVEY §2.10: public per-entity transform(df)->df registry, applied on
# every write path just before the merge
def test_transform_registry_applied_before_merge(engine):
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.sync import clear_transforms, register_transform

    @register_transform("customers")
    def mask_email(df):
        return df.withColumn("email", F.upper(F.col("email")))

    try:
        process(engine, fx.event("customer.created", fx.customer(id="cus_T", email="ada@x.io")))
        assert table_rows(engine, "customers")["cus_T"]["email"] == "ADA@X.IO"
        # other entities are untouched
        process(engine, fx.event("charge.succeeded", fx.charge(id="ch_T")))
        assert table_rows(engine, "charges")["ch_T"]["amount"] == 4200
    finally:
        clear_transforms("customers")


# r16: driver-known webhook batches (events_df_from_json) route,
# decide list expansion and bucket-probe in Python; a batch arriving as a
# PLAIN DataFrame (the streaming sink's shape) keeps the distributed
# probe. The two paths must land byte-equal state and identical counts —
# including the same-second tiebreak and stale-event semantics the probe
# feeds into — with and without a Stripe API attached (expansion and
# parent backfill only run with one).
def test_driver_known_batch_equals_distributed_batch(spark, tmp_path):
    from stripe_sync_engine_spark.sync.engine import _RAW_EVENT_SCHEMA

    truncated = {"object": "list", "data": [{"id": "re_1", "amount": 1}], "has_more": True}
    complete = {"object": "list", "data": [{"id": "il_1", "amount": 5}], "has_more": False}
    payloads = [
        fx.event("charge.succeeded", fx.charge(id="ch_E1", amount=1), created=1_000),
        fx.event("charge.updated", fx.charge(id="ch_E1", amount=2), created=2_000),
        fx.event("charge.updated", fx.charge(id="ch_E1", amount=3), created=1_500),  # stale
        fx.event("customer.updated", fx.customer(id="cus_E1", email="e@x.io"), created=1_000),
        fx.event("charge.succeeded", fx.charge(id="ch_E2", amount=9), created=1_000),
        fx.event("charge.refunded", fx.charge(id="ch_E3", refunds=truncated), created=1_000),
        fx.event("invoice.updated", fx.invoice(id="in_E1", lines=complete), created=1_000),
        # a duplicated key: Spark's parse keeps the FIRST value, and so
        # must the driver's decode (it routes and probes ch_E4's bucket)
        fx.event("charge.updated", fx.charge(id="ch_E4"), created=1_000).replace(
            '"id": "ch_E4"', '"id": "ch_E4", "id": "ch_E5"'
        ),
    ]
    for with_api in (False, True):
        results = {}
        for mode in ("driver", "distributed"):
            api = InMemoryStripeAPI() if with_api else None
            if api is not None:
                api.put_expanded(
                    "charges", "ch_E3", "refunds",
                    [{"id": "re_1", "amount": 1}, {"id": "re_2", "amount": 2}],
                )
            store = TableStore(spark, str(tmp_path / f"{mode}-{with_api}"))
            eng = StripeSparkSync(spark, store, api=api)
            counts = []
            # the second batch merges into existing tables, where a wrong
            # probe would leave a row's bucket un-committed
            for batch in (payloads[:5], payloads[5:]):
                if mode == "driver":
                    df = eng.events_df_from_json(batch)
                    assert getattr(df, "_stripe_driver_payloads", None) is not None
                else:
                    df = spark.createDataFrame([(p,) for p in batch], _RAW_EVENT_SCHEMA)
                counts.append(eng.process_webhook_events(df))
            results[mode] = (
                counts,
                table_rows(eng, "charges"),
                table_rows(eng, "customers"),
                table_rows(eng, "invoices"),
            )
        assert results["driver"] == results["distributed"]
        charges = results["driver"][1]
        assert charges["ch_E1"]["amount"] == 2  # stale event lost
        assert "ch_E4" in charges and "ch_E5" not in charges
        # the truncated refunds list was refetched only with an API attached
        assert ('"re_2"' in charges["ch_E3"]["refunds"]) is with_api
        assert '"il_1"' in results["driver"][3]["in_E1"]["lines"]


def test_driver_known_batch_with_transform_falls_back_and_applies_it(spark, tmp_path):
    from stripe_sync_engine_spark.sync import clear_transforms, register_transform

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh")))
    register_transform("customers", lambda df: df.withColumn("email", F.upper(F.col("email"))))
    try:
        counts = eng.process_webhook_events(
            eng.events_df_from_json(
                [fx.event("customer.updated", fx.customer(id="cus_T2", email="low@x.io"))]
            )
        )
        assert counts["customers"] == 1
        assert table_rows(eng, "customers")["cus_T2"]["email"] == "LOW@X.IO"
    finally:
        clear_transforms("customers")


def test_transform_dropping_merge_key_fails_fast(engine):
    from stripe_sync_engine_spark.sync import clear_transforms, register_transform

    register_transform("charges", lambda df: df.drop("id"))
    try:
        with pytest.raises(ValueError, match="dropped the 'id' merge key"):
            process(engine, fx.event("charge.succeeded", fx.charge(id="ch_D")))
    finally:
        clear_transforms("charges")


# SURVEY §1.2: enum-as-text validation at write (reference Postgres enums)
def test_enum_violation_errors_batch(engine):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="enum violation"):
        process(
            engine,
            fx.event("customer.subscription.updated", fx.subscription(id="sub_E", status="bogus")),
        )


def test_enum_valid_value_passes(engine):
    process(
        engine,
        fx.event("customer.subscription.updated", fx.subscription(id="sub_OK", status="paused")),
    )
    assert table_rows(engine, "subscriptions")["sub_OK"]["status"] == "paused"


def test_enum_null_policy_quarantines(spark, tmp_path):
    from stripe_sync_engine_spark.sources.stripe_api import InMemoryStripeAPI
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.sync import StripeSparkSync, SyncConfig

    store = TableStore(spark, str(tmp_path / "wh_nullpolicy"))
    eng = StripeSparkSync(
        spark, store, api=InMemoryStripeAPI(), config=SyncConfig(enum_policy="null")
    )
    process(
        eng, fx.event("customer.subscription.updated", fx.subscription(id="sub_N", status="bogus"))
    )
    assert table_rows(eng, "subscriptions")["sub_N"]["status"] is None


# reconcile and replace-set paths rewrite only the buckets they touch
def test_reconcile_rewrites_subset_of_buckets(engine):
    import json as _json
    import os as _os

    subs = [
        fx.event(
            "customer.subscription.created",
            fx.subscription(id=f"sub_r{i}", items=[
                fx.sub_item(id=f"si_r{i}_a", subscription=f"sub_r{i}"),
                fx.sub_item(id=f"si_r{i}_b", subscription=f"sub_r{i}"),
            ]),
            created=100 + i,
        )
        for i in range(12)
    ]
    process(engine, *subs)
    mpath = _os.path.join(engine.store.root, "subscription_items", "MANIFEST.json")
    before = _json.load(open(mpath))["buckets"]
    # one subscription drops an item -> reconcile flips its deleted flag
    process(
        engine,
        fx.event(
            "customer.subscription.updated",
            fx.subscription(id="sub_r0", items=[
                fx.sub_item(id="si_r0_a", subscription="sub_r0"),
            ]),
            created=10_000,
        ),
    )
    after = _json.load(open(mpath))["buckets"]
    kept = {b for b in after if after[b] == before.get(b)}
    assert kept  # untouched buckets still serve their old files
    rows = table_rows(engine, "subscription_items")
    assert rows["si_r0_b"]["deleted"] is True
    assert rows["si_r0_a"]["deleted"] is False
    assert rows["si_r5_a"]["deleted"] is False


# vacuum retention: unreferenced versions survive the grace period
def test_vacuum_retention_grace(spark, tmp_path):
    import os as _os

    store = TableStore(spark, str(tmp_path / "wh_vac"), vacuum_retain_s=3600)
    df1 = spark.createDataFrame([("a", 1)], "id string, v int")
    df2 = spark.createDataFrame([("a", 2)], "id string, v int")
    store.write("t", df1)
    store.write("t", df2)  # re-points every bucket; v1 now unreferenced
    tdir = str(tmp_path / "wh_vac" / "t")
    versions = [d for d in _os.listdir(tdir) if d.startswith("v")]
    assert len(versions) == 2  # old version retained for in-flight readers
    # with no grace period the version THIS commit replaces is reclaimed;
    # the earlier retained orphan (v1) is deliberately NOT touched — only
    # vacuum_orphans may reclaim never-replaced/leftover dirs, because an
    # unreferenced dir could be a concurrent writer's in-flight version
    store_now = TableStore(spark, str(tmp_path / "wh_vac"), vacuum_retain_s=0.0)
    store_now.write("t", df1)
    versions = [d for d in _os.listdir(tdir) if d.startswith("v")]
    assert len(versions) == 2  # v1 (old orphan) + the new version
    removed = store_now.vacuum_orphans("t", min_age_s=0.0)
    assert len(removed) == 1
    versions = [d for d in _os.listdir(tdir) if d.startswith("v")]
    assert len(versions) == 1


# concurrent disjoint-bucket commits both survive: a second writer lands a
# manifest commit while the first is mid-write; the first's pointer swap is
# based on the LATEST manifest (re-read under the commit lock), so neither
# commit's bucket re-points are lost
def test_concurrent_disjoint_commits_both_land(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "wh_conc")
    store = TableStore(spark, root)
    base = spark.createDataFrame([("a", 1), ("b", 1)], "id string, v int")
    store.write("t", base)
    nb = store._table_n_buckets("t")
    bucket_of = {
        r["id"]: r["b"]
        for r in base.select("id", store.bucket_expr("id", nb).alias("b")).collect()
    }
    assert bucket_of["a"] != bucket_of["b"], "test needs keys in distinct buckets"
    store2 = TableStore(spark, root)
    df_b = spark.createDataFrame([("b", 99)], "id string, v int")
    interleaved = [False]
    orig_wv = store._write_version

    def racing_write_version(table, df, key, nbk, **kw):
        v = orig_wv(table, df, key, nbk, **kw)
        if not interleaved[0]:
            interleaved[0] = True
            # another writer commits bucket(b) while our commit is pending
            store2.write_buckets("t", df_b, [bucket_of["b"]])
        return v

    monkeypatch.setattr(store, "_write_version", racing_write_version)
    df_a = spark.createDataFrame([("a", 42)], "id string, v int")
    store.write_buckets("t", df_a, [bucket_of["a"]])
    rows = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert rows == {"a": 42, "b": 99}  # both concurrent commits survived


# full routing sweep: one upsert event per routed entity lands a row in its
# table — exercises the projection schema + route + merge path for the whole
# event surface, not just the scenario-tested entities
def test_every_upsert_route_lands_a_row(engine):
    import stripe_sync_engine_spark.sync.registry as R

    first_type_for: dict[str, str] = {}
    for etype, (entity, action) in R.EVENT_ROUTES.items():
        if action == R.UPSERT and entity not in first_type_for:
            first_type_for[entity] = etype
    events = [
        fx.event(etype, {"id": f"sweep_{entity}", "object": entity.rstrip("s")})
        for entity, etype in sorted(first_type_for.items())
    ]
    counts = process(engine, *events)
    for entity in first_type_for:
        assert counts.get(entity, 0) >= 1, f"{entity}: no merged rows reported"
        assert f"sweep_{entity}" in table_rows(engine, entity), entity


# the delete-routed half of the sweep: create → <entity>.deleted → row gone
def test_every_delete_route_removes_the_row(engine):
    import stripe_sync_engine_spark.sync.registry as R

    delete_routes = {
        entity: etype
        for etype, (entity, action) in R.EVENT_ROUTES.items()
        if action == R.DELETE
    }
    upsert_type_for = {
        entity: etype
        for etype, (entity, action) in sorted(R.EVENT_ROUTES.items(), reverse=True)
        if action == R.UPSERT
    }
    for entity, del_type in sorted(delete_routes.items()):
        oid = f"sweepdel_{entity}"
        process(engine, fx.event(upsert_type_for[entity], {"id": oid, "object": entity.rstrip("s")}, created=100))
        assert oid in table_rows(engine, entity), f"{entity}: seed row missing"
        process(engine, fx.event(del_type, {"id": oid, "object": entity.rstrip("s")}, created=200))
        assert oid not in table_rows(engine, entity), f"{entity}: {del_type} did not delete"


# scale guard: steady-state webhook processing never reads a full table —
# reconcile, replace-set, parent-backfill probes, and merges are all
# bucket-pruned (a full read here is O(table) per micro-batch, the sync
# layer's 100 TB anti-pattern; discovery pruning comes from bucketing the
# child-set tables by their parent FK, schemas/entities.py BUCKET_KEYS)
def test_webhook_batch_never_full_scans(engine, monkeypatch):
    engine.api.put("customers", fx.customer(id="cus_bf"))
    process(
        engine,
        fx.event(
            "customer.subscription.created",
            fx.subscription(id="sub_s", items=[
                fx.sub_item(id="si_a", subscription="sub_s"),
                fx.sub_item(id="si_b", subscription="sub_s"),
            ]),
            created=100,
        ),
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(ents=[fx.entitlement(id="ent_1")]),
            created=100,
        ),
    )
    assert engine.store.table_bucket_key("subscription_items") == "subscription"
    assert engine.store.table_bucket_key("active_entitlements") == "customer"
    with monkeypatch.context() as m:
        def no_full_read(table, *a, **k):
            raise AssertionError(f"full-table scan of {table} in webhook path")

        m.setattr(engine.store, "read", no_full_read)
        process(
            engine,
            fx.event(
                "customer.subscription.updated",
                fx.subscription(id="sub_s", items=[fx.sub_item(id="si_a", subscription="sub_s")]),
                created=200,
            ),
            fx.event(
                "entitlements.active_entitlement_summary.updated",
                fx.entitlement_summary(ents=[fx.entitlement(id="ent_2", feature="feat_2")]),
                created=200,
            ),
            fx.event("charge.succeeded", fx.charge(id="ch_bf", customer="cus_bf"), created=200),
        )
    items = table_rows(engine, "subscription_items")
    assert items["si_b"]["deleted"] is True and items["si_a"]["deleted"] is False
    assert set(table_rows(engine, "active_entitlements")) == {"ent_2"}
    assert "ch_bf" in table_rows(engine, "charges")
    assert "cus_bf" in table_rows(engine, "customers")


# migration bookkeeping: append-only checksummed history (reference
# database/migrate.ts:42-66 records name+hash per applied migration)
def test_migration_history_checksums(spark, tmp_path, monkeypatch):
    from pyspark.sql.types import StringType, StructField, StructType

    import stripe_sync_engine_spark.storage as S

    store = TableStore(spark, str(tmp_path / "wh_mig"))
    applied = store.migrate()
    hist1 = store.migration_history()
    assert len(applied) > 0
    assert len(hist1) == len(applied)  # one checksummed entry per table
    assert [h["version"] for h in hist1] == list(range(1, len(hist1) + 1))
    # idempotent: unchanged re-run creates no tables and appends nothing
    assert store.migrate() == []
    assert store.migration_history() == hist1
    # schema edit -> exactly one NEW checksummed entry, for that table only
    orig = S.entity_schema

    def patched(entity):
        s = orig(entity)
        if entity == "charges":
            return StructType(list(s.fields) + [StructField("new_col", StringType(), True)])
        return s

    monkeypatch.setattr(S, "entity_schema", patched)
    store.migrate()
    hist2 = store.migration_history()
    assert len(hist2) == len(hist1) + 1
    new = hist2[-1]
    old_charges = next(h for h in hist1 if h["table"] == "charges")
    assert new["table"] == "charges"
    assert new["version"] == len(hist1) + 1
    assert new["checksum"] != old_charges["checksum"]
    # ... and the edit is APPLIED: added column is readable (metadata-only
    # evolution — the manifest schema null-fills it at scan time)
    assert "new_col" in store.read("charges").columns


def test_migrate_applies_schema_edits(spark, tmp_path, monkeypatch):
    """Column add/drop is a metadata-only migration; a column type change
    rewrites with a cast. Existing rows survive both."""
    from pyspark.sql.types import StringType, StructField, StructType

    import stripe_sync_engine_spark.storage as S

    store = TableStore(spark, str(tmp_path / "wh_evolve"))
    store.migrate()
    orig_schema = S.entity_schema("products")
    import datetime as _dt

    row = {f.name: None for f in orig_schema.fields}
    ts = _dt.datetime(2024, 1, 1)
    row.update({"id": "prod_1", "name": "Widget", "updated_at": ts, "last_synced_at": ts})
    store.write(
        "products",
        spark.createDataFrame([tuple(row[f.name] for f in orig_schema.fields)], orig_schema),
    )
    orig = S.entity_schema

    def with_new_col(entity):
        s = orig(entity)
        if entity == "products":
            return StructType(list(s.fields) + [StructField("brand_new", StringType(), True)])
        return s

    monkeypatch.setattr(S, "entity_schema", with_new_col)
    store.migrate()
    rows = {r["id"]: r.asDict() for r in store.read("products").collect()}
    assert rows["prod_1"]["name"] == "Widget"  # data survived
    assert rows["prod_1"]["brand_new"] is None  # added column null-filled

    def with_retype(entity):
        s = with_new_col(entity)
        if entity == "products":
            fields = [
                StructField(f.name, StringType(), f.nullable) if f.name == "created" else f
                for f in s.fields
            ]
            return StructType(fields)
        return s

    monkeypatch.setattr(S, "entity_schema", with_retype)
    store.migrate()
    df = store.read("products")
    assert dict(df.dtypes)["created"] == "string"  # cast rewrite applied
    assert {r["id"] for r in df.collect()} == {"prod_1"}


# legacy-store upgrade: a table bucketed by id before BUCKET_KEYS declared
# parent-FK bucketing is rebucketed ONCE on first touch; no duplicate ids,
# reconcile still works
def test_legacy_id_bucketed_store_rebuckets(engine):
    import stripe_sync_engine_spark.storage as S

    schema = S.entity_schema("subscription_items")
    import datetime as _dt

    ts = _dt.datetime(2020, 1, 1)
    row = {f.name: None for f in schema.fields}
    row.update({"id": "si_old", "subscription": "sub_L", "deleted": False,
                "quantity": 1, "updated_at": ts, "last_synced_at": ts})
    legacy = engine.spark.createDataFrame(
        [tuple(row[f.name] for f in schema.fields)], schema
    )
    engine.store.write("subscription_items", legacy, key="id")  # legacy layout
    assert engine.store.table_bucket_key("subscription_items") == "id"
    process(
        engine,
        fx.event(
            "customer.subscription.updated",
            fx.subscription(id="sub_L", items=[
                fx.sub_item(id="si_old", subscription="sub_L", quantity=7),
                fx.sub_item(id="si_new", subscription="sub_L"),
            ]),
            created=1_700_000_000,
        ),
    )
    assert engine.store.table_bucket_key("subscription_items") == "subscription"
    rows = [r.asDict() for r in engine.store.read("subscription_items").collect()]
    by_id = {}
    for r in rows:
        assert r["id"] not in by_id, f"duplicate id {r['id']} after rebucket"
        by_id[r["id"]] = r
    assert by_id["si_old"]["quantity"] == 7  # merged, not duplicated
    assert "si_new" in by_id
    # reconcile against the rebucketed store still soft-deletes
    process(
        engine,
        fx.event(
            "customer.subscription.updated",
            fx.subscription(id="sub_L", items=[fx.sub_item(id="si_new", subscription="sub_L")]),
            created=1_700_000_100,
        ),
    )
    rows = {r["id"]: r.asDict() for r in engine.store.read("subscription_items").collect()}
    assert rows["si_old"]["deleted"] is True
    assert rows["si_new"]["deleted"] is False


# revoke-all: an entitlement summary with an EMPTY list clears the
# customer's set (replace-set touched derives from summaries, not rows)
def test_entitlement_summary_revoke_all(engine):
    process(
        engine,
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(ents=[fx.entitlement(id="ent_r1"), fx.entitlement(id="ent_r2")]),
            created=100,
        ),
    )
    assert set(table_rows(engine, "active_entitlements")) == {"ent_r1", "ent_r2"}
    process(
        engine,
        fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(ents=[]),
            created=200,
        ),
    )
    assert table_rows(engine, "active_entitlements") == {}


# tier-2 vacuum: an old unreferenced version dir (aged-out replaced dir or
# crash leftover) is swept by the next commit; a fresh one is left alone
def test_vacuum_sweeps_old_orphans_on_commit(spark, tmp_path):
    import os as _os

    store = TableStore(spark, str(tmp_path / "wh_orph"))
    df = spark.createDataFrame([("a", 1)], "id string, v int")
    store.write("t", df)
    tdir = str(tmp_path / "wh_orph" / "t")
    # fabricate an ancient orphan (version name encodes its creation ms)
    old = _os.path.join(tdir, "v1000_999")
    _os.makedirs(old)
    fresh_name = f"v{int(__import__('time').time() * 1000)}_999"
    _os.makedirs(_os.path.join(tdir, fresh_name))
    store.write("t", df)  # commit triggers the tier-2 sweep
    left = {d for d in _os.listdir(tdir) if d.startswith("v")}
    assert "v1000_999" not in left  # ancient orphan reclaimed
    assert fresh_name in left  # fresh dir (could be in-flight) survives


# parallel handler chains: with no API attached, disjoint-table handler
# groups run on concurrent driver threads. The final table state must be
# IDENTICAL to the serial loop's — including same-table groups
# (customer.updated + customer.deleted both write ``customers``), which
# must stay chained in sorted route order, never reordered by threading.
def test_parallel_chains_match_serial(spark, tmp_path):
    def mixed_batch():
        return [
            fx.event("product.created", fx.product(id="prod_p1"), created=100),
            fx.event("price.created", fx.price(id="price_p1"), created=100),
            fx.event("customer.created", fx.customer(id="cus_p1", name="A"), created=100),
            fx.event("charge.succeeded", fx.charge(id="ch_p1", customer="cus_p1"), created=100),
            fx.event(
                "customer.subscription.created",
                fx.subscription(id="sub_p1", customer="cus_p1"),
                created=100,
            ),
            # same-table conflict pair: deleted (partial) then an update at
            # a LATER ts — serial route order applies customer_deleted
            # before upsert; the upsert's newer ts must win either way
            fx.event("customer.deleted", {"id": "cus_p2", "object": "customer"}, created=200),
            fx.event("customer.updated", fx.customer(id="cus_p2", name="B"), created=300),
        ]

    states = {}
    for mode, width in (("serial", 1), ("parallel", 8)):
        store = TableStore(spark, str(tmp_path / f"wh_{mode}"))
        eng = StripeSparkSync(
            spark, store, api=None, config=SyncConfig(webhook_parallelism=width)
        )
        counts = eng.process_webhook_events(eng.events_df_from_json(mixed_batch()))
        assert counts["customers"] == 3  # created + deleted + updated
        states[mode] = {
            t: table_rows(eng, t)
            for t in ("products", "prices", "customers", "charges", "subscriptions")
        }
    assert states["parallel"] == states["serial"]
    assert states["parallel"]["customers"]["cus_p2"]["name"] == "B"


# time travel: every commit records a manifest snapshot; read(as_of_ms=...)
# reconstructs the table as of that commit while its version dirs survive
# vacuum (retention contract); a vacuumed snapshot raises, never silently
# returns partial data
def test_time_travel_reads(spark, tmp_path):
    import time as _time

    store = TableStore(spark, str(tmp_path / "wh_tt"), vacuum_retain_s=3600.0)
    store.write("t", spark.createDataFrame([("a", 1), ("b", 1)], "id string, v int"))
    t1 = store.commits("t")[-1]
    _time.sleep(0.01)
    touched = store.buckets_of(spark.createDataFrame([("a",)], "id string"))
    prior = store.read_buckets("t", touched)
    upd = spark.createDataFrame([("a", 2)], "id string, v int")
    from stripe_sync_engine_spark.operators.merge import merge_upsert

    store.write_buckets("t", merge_upsert(prior, upd, key="id", ts_col=None), touched)
    t2 = store.commits("t")[-1]
    assert t2 > t1
    assert {r["id"]: r["v"] for r in store.read("t").collect()} == {"a": 2, "b": 1}
    assert {r["id"]: r["v"] for r in store.read("t", as_of_ms=t1).collect()} == {"a": 1, "b": 1}
    assert {r["id"]: r["v"] for r in store.read("t", as_of_ms=t2).collect()} == {"a": 2, "b": 1}
    assert store.read("t", as_of_ms=t1 - 60_000) is None  # before the table existed


# ---------------------------------------------------------------------------
# Data skipping: the manifest's per-bucket column stats (harvested from
# parquet footers at commit) let read_where() skip buckets whose min/max
# exclude the predicate — the engine's analog of the reference's btree
# indexes on created/status/amount (migrations/0016_add_invoice_indexes.sql).
def test_data_skipping_created_scan_reads_subset(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_skip"))
    # 200 old rows (created < 1_000_000) spread across every bucket
    old = spark.range(200).selectExpr(
        "concat('ch_', id) AS id", "cast(id * 1000 as long) AS created", "'old' AS tag"
    )
    store.write("t", old)
    m = store._read_manifest("t")
    assert m["stats"], "commit must record per-bucket stats"
    all_buckets = set(map(int, m["buckets"]))
    # merge 3 recent rows — only their buckets' files are rewritten
    recent = spark.createDataFrame(
        [("ch_n1", 5_000_000, "new"), ("ch_n2", 5_000_100, "new"), ("ch_n3", 5_000_200, "new")],
        "id string, created long, tag string",
    )
    touched = store.buckets_of(recent, table="t")
    prior = store.read_buckets("t", touched)
    store.write_buckets("t", prior.unionByName(recent), touched)

    where = [("created", ">=", 2_000_000)]
    pruned = store.prune_buckets("t", where)
    # IO evidence: the skipping scan plans a STRICT subset of bucket files
    assert set(pruned) == set(touched)
    assert len(pruned) < len(all_buckets)
    assert len(store._bucket_paths("t", store._read_manifest("t"), pruned)) == len(pruned)
    # correctness: identical to the unpruned scan + filter
    got = {r["id"] for r in store.read_where("t", where).collect()}
    want = {r["id"] for r in store.read("t").filter("created >= 2000000").collect()}
    assert got == want == {"ch_n1", "ch_n2", "ch_n3"}
    # the other side of the range prunes nothing away that matches
    low = store.read_where("t", [("created", "<", 5_000)]).count()
    assert low == store.read("t").filter("created < 5000").count() == 5


def test_data_skipping_is_conservative_without_stats(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_skip2"))
    store.write("t", spark.createDataFrame([("a", 1), ("b", 9)], "id string, v int"))
    m = store._read_manifest("t")
    m.pop("stats", None)  # simulate a pre-stats manifest
    store._commit_manifest("t", m)
    assert set(store.prune_buckets("t", [("v", ">=", 100)])) == set(map(int, m["buckets"]))
    assert store.read_where("t", [("v", ">=", 5)]).count() == 1


def test_bucket_may_match_semantics():
    bm = TableStore._bucket_may_match
    st = {"rows": 10, "cols": {"v": {"min": 5, "max": 20, "nulls": 2}}}
    assert bm(st, "v", ">=", 21) is False
    assert bm(st, "v", ">=", 20) is True
    assert bm(st, "v", "<", 5) is False
    assert bm(st, "v", "<=", 5) is True
    assert bm(st, "v", "=", 4) is False
    assert bm(st, "v", "=", 12) is True
    assert bm(st, "v", "in", [1, 2]) is False
    assert bm(st, "v", "in", [1, 7]) is True
    assert bm(st, "v", "in", []) is False
    assert bm(st, "other", ">=", 0) is True  # no stats for the column
    assert bm(None, "v", ">=", 0) is True  # no stats for the bucket
    # all-null column never satisfies a comparison
    allnull = {"rows": 4, "cols": {"v": {"nulls": 4}}}
    assert bm(allnull, "v", ">=", 0) is False
    # unknown domain / mismatched types: conservative
    assert bm({"rows": 1, "cols": {"v": {"min": "a", "max": "b", "nulls": 0}}}, "v", ">=", 5)
    assert bm(st, "v", ">=", object()) is True


def test_data_skipping_timestamp_stats(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    store = TableStore(spark, str(tmp_path / "wh_skip3"))
    rows = [(f"e_{i}", dt.datetime(2024, 1, 1) + dt.timedelta(days=i)) for i in range(50)]
    store.write("t", spark.createDataFrame(rows, "id string, ts timestamp"))
    m = store._read_manifest("t")
    some = next(iter(m["stats"].values()))
    assert "min" in some["cols"]["ts"], "TIMESTAMP_MICROS writes must carry footer stats"
    cut = dt.datetime(2024, 2, 10)
    got = {r["id"] for r in store.read_where("t", [("ts", ">=", cut)]).collect()}
    want = {r["id"] for r in store.read("t").filter(F.col("ts") >= F.lit(cut)).collect()}
    assert got == want and got


# Windowed backfill: the created range splits into disjoint windows whose
# fetches run concurrently; final table state is identical to the serial
# scan (each object falls in exactly one window; merges serialize per
# table on the engine write lock).
def test_backfill_windows_matches_serial(spark, tmp_path):
    objs = [fx.product(id=f"prod_{i:04d}", created=1_000 + i) for i in range(300)]
    engines = {}
    for mode in ("serial", "windowed"):
        api = InMemoryStripeAPI()
        for o in objs:
            api.put("products", o)
        engines[mode] = StripeSparkSync(
            spark, TableStore(spark, str(tmp_path / f"wh_bw_{mode}")), api=api
        )
    span = {"gte": 1_050, "lt": 1_250}
    n_serial = engines["serial"].sync_backfill("products", created=span)["products"]
    n_win = engines["windowed"].sync_backfill_windows("products", span, n_windows=4)
    assert n_win == n_serial == 200
    s = {r["id"] for r in engines["serial"].store.read("products").collect()}
    w = {r["id"] for r in engines["windowed"].store.read("products").collect()}
    assert s == w and len(s) == 200
    # degenerate ranges fall back to one serial scan; open ranges refuse
    assert engines["windowed"].sync_backfill_windows("products", {"gte": 1_050, "lt": 1_052}, 4) == 2
    with pytest.raises(ValueError, match="lower created bound"):
        engines["windowed"].sync_backfill_windows("products", {"lt": 2_000}, 4)
    with pytest.raises(ValueError, match="upper created bound"):
        engines["windowed"].sync_backfill_windows("products", {"gte": 1_000}, 4)


def test_data_skipping_with_time_travel(spark, tmp_path):
    import time as _time

    store = TableStore(spark, str(tmp_path / "wh_skip_tt"), vacuum_retain_s=3600.0)
    old = spark.range(100).selectExpr("concat('x_', id) AS id", "cast(id as long) AS v")
    store.write("t", old)
    t1 = store.commits("t")[-1]
    _time.sleep(0.01)
    batch = spark.createDataFrame([("x_new", 10_000)], "id string, v long")
    touched = store.buckets_of(batch, table="t")
    store.write_buckets("t", store.read_buckets("t", touched).unionByName(batch), touched)
    # as-of the FIRST commit: the snapshot has no row matching v >= 5000
    assert store.read_where("t", [("v", ">=", 5_000)], as_of_ms=t1).count() == 0
    # current state: the pruned time-travel-free scan sees the new row
    assert {r["id"] for r in store.read_where("t", [("v", ">=", 5_000)]).collect()} == {"x_new"}
    # snapshot scan with a matching predicate equals unpruned filter
    got = store.read_where("t", [("v", "<", 5)], as_of_ms=t1).count()
    assert got == store.read("t", as_of_ms=t1).filter("v < 5").count() == 5


# Online rebucketing: TableStore.rebucket rewrites at a new bucket width in
# one commit; merges prune at the new width afterwards and retained history
# snapshots (old width) stay readable across the change.
def test_rebucket_changes_width_and_keeps_history(spark, tmp_path):
    import time as _time

    store = TableStore(spark, str(tmp_path / "wh_rbw"), vacuum_retain_s=3600.0)
    rows = spark.range(100).selectExpr("concat('ch_', id) AS id", "id AS v")
    store.write("t", rows)
    t_before = store.commits("t")[-1]
    assert store._table_n_buckets("t") == store.n_buckets
    _time.sleep(0.01)

    store.rebucket("t", 8)
    m = store._read_manifest("t")
    assert int(m["n_buckets"]) == 8
    assert len(m["buckets"]) <= 8
    assert store.read("t").count() == 100
    # fresh stats were harvested at the new width
    assert set(m["stats"]) == set(m["buckets"])
    # time travel to the pre-rebucket snapshot still reads the old layout
    assert store.read("t", as_of_ms=t_before).count() == 100

    # a merge after the rebucket probes and prunes at the NEW width
    batch = spark.createDataFrame([("ch_5", 500), ("ch_new", 1)], "id string, v long")
    touched = store.buckets_of(batch, table="t")
    assert all(b < 8 for b in touched)
    from stripe_sync_engine_spark.operators.merge import merge_upsert

    prior = store.read_buckets("t", touched)
    store.write_buckets("t", merge_upsert(prior, batch, key="id", ts_col=None), touched)
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got["ch_5"] == 500 and got["ch_new"] == 1 and len(got) == 101

    # no-op and error paths
    store.rebucket("t", 8)
    with pytest.raises(ValueError):
        store.rebucket("missing", 4)
    with pytest.raises(ValueError):
        store.rebucket("t", 0)


# Retention is counted from REPLACEMENT, not from a snapshot's own commit
# time: a version that was current for longer than the retention window must
# stay readable for the full window after it is replaced. (Regression: the
# old pruning keyed on the snapshot's own age, so the vacuum that runs at
# replacement deleted it immediately for slowly-updated tables.)
def test_retention_counted_from_replacement(spark, tmp_path):
    import time as _time

    store = TableStore(spark, str(tmp_path / "wh_ret_repl"), vacuum_retain_s=3600.0)
    store.write("t", spark.createDataFrame([("a", 1)], "id string, v int"))
    t1 = store.commits("t")[-1]
    _time.sleep(1.2)  # version stays current for longer than the probe window
    store.write("t", spark.createDataFrame([("a", 2)], "id string, v int"))
    # Own age of snapshot t1 is > 1.0s, but it was replaced just now — a
    # vacuum with a 1.0s window must NOT prune it.
    store.vacuum_orphans("t", min_age_s=1.0)
    assert t1 in store.commits("t")
    assert {r["id"]: r["v"] for r in store.read("t", as_of_ms=t1).collect()} == {"a": 1}
    # Once the REPLACEMENT itself ages past the window, it becomes prunable.
    _time.sleep(1.2)
    store.vacuum_orphans("t", min_age_s=1.0)
    assert t1 not in store.commits("t")


def test_time_travel_vacuumed_snapshot_raises(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_ttv"), vacuum_retain_s=0.0)
    store.write("t", spark.createDataFrame([("a", 1)], "id string, v int"))
    t1 = store.commits("t")[-1]
    __import__("time").sleep(0.01)
    store.write("t", spark.createDataFrame([("a", 2)], "id string, v int"))
    # retain=0: the replaced version dir was reclaimed at commit time
    with pytest.raises(FileNotFoundError):
        store.read("t", as_of_ms=t1).collect()


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (operators/rollup.py): after any sequence
# of commits, the maintained table must equal the same GROUP BY recomputed
# from the final source state — including updates that MOVE a row between
# groups, deletes, and replayed batches (zero delta)
# ---------------------------------------------------------------------------


def _charge_rollup_spec():
    from stripe_sync_engine_spark.operators.rollup import RollupSpec

    return RollupSpec(
        name="rollup_daily_charge_volume",
        entity="charges",
        group_by={"day": "date_trunc('DAY', to_timestamp(created))", "status": "status"},
        aggregates={"total_amount": "sum(amount)", "n_charges": "count(*)"},
        count_col="n_charges",
    )


def _recomputed(eng, spec):
    from stripe_sync_engine_spark.operators.rollup import full_rollup

    src = eng.store.read(spec.entity)
    return {
        tuple(r[c] for c in spec.gcols): tuple(r[c] for c in spec.acols)
        for r in full_rollup(src, spec).collect()
    }


def _maintained(eng, spec):
    rows = eng.store.read(spec.name)
    return (
        {}
        if rows is None
        else {
            tuple(r[c] for c in spec.gcols): tuple(r[c] for c in spec.acols)
            for r in rows.collect()
        }
    )


def test_rollup_incremental_matches_recompute(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_ru")), api=None)
    spec = _charge_rollup_spec()
    eng.register_rollup(spec)

    def ch(i, amount, created, status="succeeded"):
        return fx.event(
            "charge.updated",
            fx.charge(id=f"ch_{i}", amount=amount, status=status),
            created=created,
        )

    day1, day2 = 1_700_000_000, 1_700_100_000  # ~28h apart → distinct days
    process(eng, ch(1, 100, day1), ch(2, 200, day1), ch(3, 50, day2, "failed"))
    assert _maintained(eng, spec) == _recomputed(eng, spec)
    # update: ch_2's amount changes AND it moves to day2 (group migration)
    process(eng, ch(2, 500, day2 + 10))
    assert _maintained(eng, spec) == _recomputed(eng, spec)
    got = _maintained(eng, spec)
    assert sum(v[0] for v in got.values()) == 100 + 500 + 50


def test_rollup_replay_and_stale_are_zero_delta(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_rz")), api=None)
    spec = _charge_rollup_spec()
    eng.register_rollup(spec)
    e = fx.event("charge.updated", fx.charge(id="ch_r", amount=100), created=2_000)
    process(eng, e)
    before = _maintained(eng, spec)
    process(eng, e)  # replay
    stale = fx.event("charge.updated", fx.charge(id="ch_r", amount=999), created=1_000)
    process(eng, stale)  # older ts — merge no-op
    assert _maintained(eng, spec) == before == _recomputed(eng, spec)


def test_rollup_delete_and_group_drop(spark, tmp_path):
    from stripe_sync_engine_spark.operators.rollup import RollupSpec

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_rd")), api=None)
    spec = RollupSpec(
        name="rollup_products",
        entity="products",
        group_by={"active": "active"},
        aggregates={"n": "count(*)"},
        count_col="n",
    )
    eng.register_rollup(spec)
    process(eng, fx.event("product.created", fx.product(id="prod_a"), created=100))
    process(eng, fx.event("product.created", fx.product(id="prod_b"), created=100))
    assert _maintained(eng, spec) == _recomputed(eng, spec)
    process(
        eng,
        fx.event("product.deleted", {"id": "prod_a", "object": "product", "deleted": True}, created=200),
    )
    assert _maintained(eng, spec) == _recomputed(eng, spec)
    process(
        eng,
        fx.event("product.deleted", {"id": "prod_b", "object": "product", "deleted": True}, created=300),
    )
    # every row of the group deleted → the group row is gone, not zeroed
    assert _maintained(eng, spec) == {} == _recomputed(eng, spec)


def test_rollup_registered_on_existing_table_initializes(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_ri")), api=None)
    process(eng, fx.event("charge.updated", fx.charge(id="ch_0", amount=70), created=1_000))
    spec = _charge_rollup_spec()
    eng.register_rollup(spec)  # initial full compute
    assert _maintained(eng, spec) == _recomputed(eng, spec)
    process(eng, fx.event("charge.updated", fx.charge(id="ch_1", amount=30), created=1_500))
    assert _maintained(eng, spec) == _recomputed(eng, spec)


# retention counts from REPLACEMENT, not creation: a long-lived current
# version (ancient creation timestamp) that gets replaced under a positive
# retention must survive the commit's vacuum and stay snapshot-readable —
# protection is by reference from retained history, not by dir age
def test_retention_protects_long_lived_replaced_versions(spark, tmp_path):
    import json as _json
    import os as _os
    import shutil as _shutil

    store = TableStore(spark, str(tmp_path / "wh_ret"), vacuum_retain_s=3600.0)
    store.write("t", spark.createDataFrame([("a", 1)], "id string, v int"))
    tdir = str(tmp_path / "wh_ret" / "t")
    cur = _json.load(open(_os.path.join(tdir, "MANIFEST.json")))
    (real_version,) = set(cur["buckets"].values())
    # simulate a version that has been current for a long time: same files
    # under an ancient-creation name, manifest + history re-pointed to it
    old_name = "v1000_777"
    _shutil.copytree(_os.path.join(tdir, real_version), _os.path.join(tdir, old_name))
    cur["buckets"] = {b: old_name for b in cur["buckets"]}
    _json.dump(cur, open(_os.path.join(tdir, "MANIFEST.json"), "w"))
    newest_hist = max(store.commits("t"))
    _json.dump(cur, open(_os.path.join(tdir, "_history", f"{newest_hist}.json"), "w"))
    _shutil.rmtree(_os.path.join(tdir, real_version))
    t_before = newest_hist
    __import__("time").sleep(0.01)
    # the file munging above rewrote a history snapshot IN PLACE, which
    # real commits never do (snapshots are write-once) — use a fresh store
    # so the immutability-based history-ref cache starts cold, as it would
    # after a process restart
    store = TableStore(spark, str(tmp_path / "wh_ret"), vacuum_retain_s=3600.0)
    # replace it
    store.write("t", spark.createDataFrame([("a", 2)], "id string, v int"))
    assert _os.path.isdir(_os.path.join(tdir, old_name))  # survived vacuum
    snap = {r["id"]: r["v"] for r in store.read("t", as_of_ms=t_before).collect()}
    assert snap == {"a": 1}
    assert {r["v"] for r in store.read("t").collect()} == {2}


def test_register_rollup_duplicate_name_raises(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_rr2")), api=None)
    eng.register_rollup(_charge_rollup_spec())
    with pytest.raises(ValueError, match="already registered"):
        eng.register_rollup(_charge_rollup_spec())


# cross-batch concurrency: the HTTP front door is a threading server, so
# two webhook batches can process simultaneously on one engine. The store's
# commit lock only serializes the manifest swap — without the engine's
# per-table write locks, two batches touching the same bucket would be
# last-commit-wins and one batch's rows would silently vanish.
def test_concurrent_webhook_batches_lose_nothing(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_cc")), api=None)

    def one_batch(i):
        return process(
            eng, fx.event("charge.updated", fx.charge(id=f"ch_cc_{i}", amount=i), created=1_000 + i)
        )

    n = 12
    with ThreadPoolExecutor(max_workers=6) as pool:
        results = list(pool.map(one_batch, range(n)))
    assert all(r["charges"] == 1 for r in results)
    rows = table_rows(eng, "charges")
    assert {f"ch_cc_{i}" for i in range(n)} <= set(rows)
    assert all(rows[f"ch_cc_{i}"]["amount"] == i for i in range(n))


# combined: parallel chains + rollups on a parent-merged table AND a
# child table maintained through the reconcile ride-along, plus a delete —
# one mixed batch, every maintained rollup equals its recompute
def test_rollups_under_parallel_mixed_batch(spark, tmp_path):
    from stripe_sync_engine_spark.operators.rollup import RollupSpec, full_rollup

    eng = StripeSparkSync(
        spark, TableStore(spark, str(tmp_path / "wh_mix")), api=None,
        config=SyncConfig(webhook_parallelism=8),
    )
    charge_spec = _charge_rollup_spec()
    item_spec = RollupSpec(
        name="rollup_items_per_subscription",
        entity="subscription_items",
        group_by={"subscription": "subscription"},
        aggregates={"n_live": "sum(CASE WHEN deleted THEN 0 ELSE 1 END)", "n_rows": "count(*)"},
        count_col="n_rows",
    )
    eng.register_rollup(charge_spec)
    eng.register_rollup(item_spec)
    process(
        eng,
        fx.event("charge.succeeded", fx.charge(id="ch_m1", amount=10), created=1_000),
        fx.event("charge.succeeded", fx.charge(id="ch_m2", amount=20), created=1_000),
        fx.event("product.created", fx.product(id="prod_m"), created=1_000),
        fx.event(
            "customer.subscription.created",
            fx.subscription(id="sub_m", items=[
                fx.sub_item(id="si_m1", subscription="sub_m"),
                fx.sub_item(id="si_m2", subscription="sub_m"),
            ]),
            created=1_000,
        ),
    )
    # second batch: charge update, product delete, item vanishes (reconcile
    # flips deleted=True — the rollup delta must ride the same commit)
    process(
        eng,
        fx.event("charge.updated", fx.charge(id="ch_m1", amount=99), created=2_000),
        fx.event("product.deleted", {"id": "prod_m", "object": "product", "deleted": True}, created=2_000),
        fx.event(
            "customer.subscription.updated",
            fx.subscription(id="sub_m", items=[fx.sub_item(id="si_m1", subscription="sub_m")]),
            created=2_000,
        ),
    )
    for spec in (charge_spec, item_spec):
        maintained = {
            tuple(r[c] for c in spec.gcols): tuple(r[c] for c in spec.acols)
            for r in eng.store.read(spec.name).collect()
        }
        recomputed = {
            tuple(r[c] for c in spec.gcols): tuple(r[c] for c in spec.acols)
            for r in full_rollup(eng.store.read(spec.entity), spec).collect()
        }
        assert maintained == recomputed, spec.name
    items = {
        (r["subscription"],): (r["n_live"], r["n_rows"])
        for r in eng.store.read(item_spec.name).collect()
    }
    assert items[("sub_m",)] == (1, 2)  # si_m2 soft-deleted, still a row


# rollup through the replace-set path: entitlement summaries rewrite a
# customer's whole set (including revoke-all, where the batch has zero
# rows for the touched partition) — deltas must still track exactly
def test_rollup_on_replace_set_table(spark, tmp_path):
    from stripe_sync_engine_spark.operators.rollup import RollupSpec, full_rollup

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_rs")), api=None)
    spec = RollupSpec(
        name="rollup_ents_per_customer",
        entity="active_entitlements",
        group_by={"customer": "customer"},
        aggregates={"n": "count(*)"},
        count_col="n",
    )
    eng.register_rollup(spec)

    def summary(ents, customer="cus_1", created=100):
        return fx.event(
            "entitlements.active_entitlement_summary.updated",
            fx.entitlement_summary(customer=customer, ents=ents),
            created=created,
        )

    process(eng, summary([fx.entitlement(id="e1"), fx.entitlement(id="e2")], created=100))
    process(eng, summary([fx.entitlement(id="e9")], customer="cus_2", created=150))
    process(eng, summary([fx.entitlement(id="e3")], created=200))  # replace set
    maintained = {r["customer"]: r["n"] for r in eng.store.read(spec.name).collect()}
    assert maintained == {"cus_1": 1, "cus_2": 1}
    process(eng, summary([], created=300))  # revoke-all for cus_1
    maintained = {r["customer"]: r["n"] for r in eng.store.read(spec.name).collect()}
    recomputed = {
        r["customer"]: r["n"]
        for r in full_rollup(eng.store.read("active_entitlements"), spec).collect()
    }
    assert maintained == recomputed == {"cus_2": 1}


# time travel across a bucket-key rewrite: _ensure_bucket_key rewrites a
# legacy id-bucketed table to its declared parent-FK key; with retention
# on, the pre-rewrite snapshot stays readable
def test_time_travel_across_rebucketing(spark, tmp_path):
    import time as _time

    store = TableStore(spark, str(tmp_path / "wh_rb"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store, api=None)
    # create a legacy id-bucketed subscription_items table directly
    legacy = spark.createDataFrame(
        [("si_x", "sub_x", False)], "id string, subscription string, deleted boolean"
    )
    store.write("subscription_items", legacy, key="id")
    t_before = max(store.commits("subscription_items"))
    assert store.table_bucket_key("subscription_items") == "id"
    _time.sleep(0.01)
    # any merge triggers the one-time rebucket to the declared parent FK
    eng.api = None
    process(
        eng,
        fx.event(
            "customer.subscription.created",
            fx.subscription(id="sub_y", items=[fx.sub_item(id="si_y", subscription="sub_y")]),
            created=1_000,
        ),
    )
    assert store.table_bucket_key("subscription_items") == "subscription"
    now_ids = {r["id"] for r in store.read("subscription_items").collect()}
    assert now_ids == {"si_x", "si_y"}
    old = store.read("subscription_items", as_of_ms=t_before)
    assert {r["id"] for r in old.collect()} == {"si_x"}


# ---------------------------------------------------------------------------
# Non-additive rollups (min/max): tightened incrementally, refreshed when a
# stored extremum is endangered; equality with recompute must hold across
# inserts, tightens, endangered updates, group migration, and replays.
# ---------------------------------------------------------------------------


def _extrema_spec():
    from stripe_sync_engine_spark.operators.rollup import RollupSpec

    return RollupSpec(
        name="rollup_charge_extremes",
        entity="charges",
        group_by={"status": "status"},
        aggregates={"n_charges": "count(*)", "total_amount": "sum(amount)"},
        count_col="n_charges",
        min_aggregates={"min_amount": "amount"},
        max_aggregates={"max_amount": "amount"},
    )


def _state(eng, spec):
    rows = eng.store.read(spec.name)
    cols = [*spec.acols, *spec.xcols]
    return (
        {}
        if rows is None
        else {
            tuple(r[c] for c in spec.gcols): tuple(r[c] for c in cols) for r in rows.collect()
        }
    )


def _recomputed_full(eng, spec):
    from stripe_sync_engine_spark.operators.rollup import full_rollup

    cols = [*spec.acols, *spec.xcols]
    return {
        tuple(r[c] for c in spec.gcols): tuple(r[c] for c in cols)
        for r in full_rollup(eng.store.read(spec.entity), spec).collect()
    }


def test_minmax_rollup_matches_recompute_across_updates(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_mx")), api=None)
    spec = _extrema_spec()
    eng.register_rollup(spec)

    def ch(i, amount, created, status="succeeded"):
        return fx.event(
            "charge.updated",
            fx.charge(id=f"ch_{i}", amount=amount, status=status),
            created=created,
        )

    # inserts establish extremes
    process(eng, ch(1, 100, 1_000), ch(2, 900, 1_000), ch(3, 50, 1_000, "failed"))
    assert _state(eng, spec) == _recomputed_full(eng, spec)
    assert _state(eng, spec)[("succeeded",)] == (2, 1000, 100, 900)
    # tighten: a new global max — pure incremental path
    process(eng, ch(4, 2_000, 2_000))
    assert _state(eng, spec) == _recomputed_full(eng, spec)
    # non-extreme update: neither bound endangered
    process(eng, ch(1, 150, 3_000))
    assert _state(eng, spec) == _recomputed_full(eng, spec)
    # ENDANGERED: the max holder's amount drops — the stored max can no
    # longer be proven, so maintenance must refresh, not tighten
    process(eng, ch(4, 10, 4_000))
    assert _state(eng, spec) == _recomputed_full(eng, spec)
    assert _state(eng, spec)[("succeeded",)][3] == 900  # true new max
    # ENDANGERED min: the min holder rises
    process(eng, ch(4, 500, 5_000))
    assert _state(eng, spec) == _recomputed_full(eng, spec)
    # group migration: the failed charge succeeds → failed group vanishes
    process(eng, ch(3, 50, 6_000))
    got = _state(eng, spec)
    assert got == _recomputed_full(eng, spec)
    assert ("failed",) not in got
    # replay is a no-op
    before = _state(eng, spec)
    process(eng, ch(3, 50, 6_000))
    assert _state(eng, spec) == before


def test_register_rollup_rejects_float_additive_sums(spark, tmp_path):
    from stripe_sync_engine_spark.operators.rollup import RollupSpec

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_fv")), api=None)
    spec = RollupSpec(
        name="rollup_bad_float",
        entity="charges",
        group_by={"status": "status"},
        aggregates={"s": "sum(cast(amount as double))", "n": "count(*)"},
        count_col="n",
    )
    with pytest.raises(ValueError, match="integral/decimal"):
        eng.register_rollup(spec)
    # the decimal form of the same rollup is accepted
    ok = RollupSpec(
        name="rollup_ok_decimal",
        entity="charges",
        group_by={"status": "status"},
        aggregates={"s": "sum(cast(amount as decimal(18,2)))", "n": "count(*)"},
        count_col="n",
    )
    eng.register_rollup(ok)


def test_minmax_requires_count_col():
    from stripe_sync_engine_spark.operators.rollup import RollupSpec

    with pytest.raises(ValueError, match="count_col"):
        RollupSpec(
            name="r",
            entity="charges",
            group_by={"status": "status"},
            min_aggregates={"m": "amount"},
        )


# crash-drift: the delta is applied after the source commit; if a source
# commit lands with no rollup apply (crash, or out-of-band write), the next
# maintenance detects the missed delta via the applied-commit record and
# refreshes instead of applying a wrong-by-one delta.
def test_rollup_missed_delta_detected_and_healed(spark, tmp_path):
    from pyspark.sql import functions as F

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_dr")), api=None)
    spec = _charge_rollup_spec()
    eng.register_rollup(spec)
    process(eng, fx.event("charge.updated", fx.charge(id="ch_1", amount=100), created=1_000))
    assert eng.rollup_lag(spec.name) == 0
    # out-of-band source commit the rollup never saw (simulates the crash
    # window between source commit and rollup apply)
    src = eng.store.read("charges")
    eng.store.write("charges", src.withColumn("amount", F.col("amount") + 5))
    assert eng.rollup_lag(spec.name) == 1
    assert _maintained(eng, spec) != _recomputed(eng, spec)  # genuinely behind
    # next engine commit detects the gap and heals by refresh
    process(eng, fx.event("charge.updated", fx.charge(id="ch_2", amount=30), created=2_000))
    assert eng.rollup_lag(spec.name) == 0
    assert _maintained(eng, spec) == _recomputed(eng, spec)


def test_rollup_float_validation_deferred_to_first_refresh(spark, tmp_path):
    """A spec on a table with no schema yet cannot be type-checked at
    registration; the check must still run at first refresh/maintenance,
    never be silently skipped."""
    from stripe_sync_engine_spark.operators.rollup import RollupSpec

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_defer")), api=None)
    spec = RollupSpec(
        name="rollup_custom_float",
        entity="custom_metrics",  # not an entity table, not stored yet
        group_by={"k": "k"},
        aggregates={"s": "sum(v)", "n": "count(*)"},
        count_col="n",
    )
    eng.register_rollup(spec)  # deferred — no schema to check against
    eng.store.write(
        "custom_metrics", spark.createDataFrame([("a", 1.5)], "k string, v double"), key="k"
    )
    with pytest.raises(ValueError, match="integral/decimal"):
        eng.refresh_rollup("rollup_custom_float")


# A partial write whose planning straddles a concurrent rebucket must fail
# loudly at commit (its batch was bucketed at the old width; re-pointing
# new-width ids would replace whole buckets with just the batch), never
# silently corrupt. Engines serialize the two via rebucket_entity.
def test_write_straddling_rebucket_fails_loudly(spark, tmp_path):
    from stripe_sync_engine_spark.operators.merge import merge_upsert

    # retention keeps the old-width files readable so the straddling write
    # reaches its COMMIT (at retain=0 the rebucket's vacuum would already
    # fail the write's read job — loud too, but not the check under test)
    store = TableStore(spark, str(tmp_path / "wh_rbrace"), vacuum_retain_s=3600.0)
    store.write("t", spark.range(100).selectExpr("concat('x_', id) AS id", "id AS v"))
    batch = spark.createDataFrame([("x_1", 999)], "id string, v long")
    nb_planned = store._table_n_buckets("t")  # planned at width 32
    touched = store.buckets_of(batch, table="t")
    merged = merge_upsert(store.read_buckets("t", touched), batch, key="id", ts_col=None)
    store.rebucket("t", 8)  # lands between the plan and the commit
    with pytest.raises(RuntimeError, match="rebucketed"):
        store.write_buckets("t", merged, touched, planned_n_buckets=nb_planned)
    # table state is intact at the new width; a re-planned write succeeds
    assert store.read("t").count() == 100
    touched2 = store.buckets_of(batch, table="t")
    merged2 = merge_upsert(store.read_buckets("t", touched2), batch, key="id", ts_col=None)
    store.write_buckets("t", merged2, touched2)
    assert {r["v"] for r in store.read("t").where("id = 'x_1'").collect()} == {999}


def test_engine_rebucket_entity_serializes_with_merges(spark, tmp_path):
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_rbe")), api=None)
    process(eng, fx.event("charge.updated", fx.charge(id="ch_rb", amount=5), created=1_000))
    eng.rebucket_entity("charges", 4)
    assert eng.store._table_n_buckets("charges") == 4
    # merges keep working at the new width
    process(eng, fx.event("charge.updated", fx.charge(id="ch_rb", amount=7), created=2_000))
    rows = {r["id"]: r["amount"] for r in eng.store.read("charges").collect()}
    assert rows["ch_rb"] == 7


# Dependency-leveled parallel backfill: same final state as the serial
# dependency-ordered scan; parents always land before their children's
# level starts.
@pytest.mark.slow  # 24s serial-vs-parallel equivalence; serial backfill gated by test_parent_backfill
def test_backfill_parallel_matches_serial(spark, tmp_path):
    def load(api):
        for i in range(3):
            api.put("products", fx.product(id=f"prod_{i}", created=100 + i))
            api.put("customers", fx.customer(id=f"cus_{i}", created=100 + i))
            api.put("prices", fx.price(id=f"price_{i}", product=f"prod_{i}", created=200 + i))
            api.put(
                "subscriptions",
                fx.subscription(id=f"sub_{i}", customer=f"cus_{i}", created=300 + i),
            )
            api.put(
                "invoices",
                fx.invoice(id=f"in_{i}", customer=f"cus_{i}", created=400 + i),
            )
            api.put(
                "charges",
                fx.charge(id=f"ch_{i}", customer=f"cus_{i}", invoice=f"in_{i}", created=500 + i),
            )

    engines = {}
    for mode in ("serial", "parallel"):
        api = InMemoryStripeAPI()
        load(api)
        engines[mode] = StripeSparkSync(
            spark, TableStore(spark, str(tmp_path / f"wh_bp_{mode}")), api=api
        )
    counts_s = engines["serial"].sync_backfill("all")
    counts_p = engines["parallel"].sync_backfill_parallel()
    for e in ("products", "customers", "prices", "subscriptions", "invoices", "charges"):
        assert counts_p.get(e) == counts_s.get(e), e
        s = {r["id"] for r in engines["serial"].store.read(e).collect()}
        p = {r["id"] for r in engines["parallel"].store.read(e).collect()}
        assert s == p, e


# If the rollup table is MISSING while its source already has commits (the
# init write itself was lost to a crash), the next maintenance pass must
# recompute — initializing from one batch's contributions would silently
# drop every earlier group forever.
def test_rollup_lost_init_healed_by_refresh(spark, tmp_path):
    import shutil as _shutil

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_li")), api=None)
    spec = _charge_rollup_spec()
    eng.register_rollup(spec)  # source doesn't exist yet — no init
    process(eng, fx.event("charge.updated", fx.charge(id="ch_a", amount=100), created=1_000))
    assert _maintained(eng, spec) == _recomputed(eng, spec)
    # crash simulation: the rollup table (and its applied-state) vanish
    # while the source retains batch 1
    _shutil.rmtree(str(tmp_path / "wh_li" / spec.name))
    # next commit detects the missing-but-should-exist rollup and refreshes
    process(eng, fx.event("charge.updated", fx.charge(id="ch_b", amount=50), created=2_000))
    got = _maintained(eng, spec)
    assert got == _recomputed(eng, spec)
    assert sum(v[0] for v in got.values()) == 150  # batch-1 groups survived


def test_minmax_rollup_lost_init_healed_by_refresh(spark, tmp_path):
    import shutil as _shutil

    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh_lix")), api=None)
    spec = _extrema_spec()
    eng.register_rollup(spec)
    process(eng, fx.event("charge.updated", fx.charge(id="ch_a", amount=100), created=1_000))
    _shutil.rmtree(str(tmp_path / "wh_lix" / spec.name))
    # the healing commit is a REPLAY (same event) — the no-op skip must not
    # mask the missing table
    process(eng, fx.event("charge.updated", fx.charge(id="ch_a", amount=100), created=1_000))
    assert _state(eng, spec) == _recomputed_full(eng, spec)
    assert _state(eng, spec)[("succeeded",)] == (1, 100, 100, 100)


# compact(): small-file cleanup as a bucket-pruned partial commit, plus the
# sort_col variant that orders rows inside each bucket (row-group pruning
# companion to manifest-level data skipping).
def test_compact_merges_small_files_and_sorts(spark, tmp_path):
    import glob as _glob

    store = TableStore(spark, str(tmp_path / "wh_cp"))
    rows = spark.range(400).selectExpr("concat('k_', id) AS id", "id AS v")
    # scatter every bucket's rows over many tasks: pre_clustered=True skips
    # the rebalance, so each bucket dir collects one file per task
    store.write("t", rows.repartition(8), pre_clustered=True)

    def files_per_bucket():
        m = store._read_manifest("t")
        return {
            b: len(_glob.glob(
                f"{store._dir('t')}/{v}/_bucket={b}/*.parquet"
            ))
            for b, v in m["buckets"].items()
        }

    before = files_per_bucket()
    assert max(before.values()) > 1  # the fragmentation compact targets
    rewritten = store.compact("t")
    assert rewritten  # only oversized buckets rewrote
    after = files_per_bucket()
    assert max(after.values()) == 1
    assert store.read("t").count() == 400
    assert store.compact("t") == []  # idempotent: nothing left to do

    # sort_col variant rewrites everything, keeps data + stats intact
    rewritten = store.compact("t", sort_col="v")
    assert set(rewritten) == {int(b) for b in store._read_manifest("t")["buckets"]}
    assert store.read("t").count() == 400
    m = store._read_manifest("t")
    assert set(m["stats"]) == set(m["buckets"])  # stats re-harvested
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert got["k_7"] == 7 and len(got) == 400


# ---------------------------------------------------------------------------
# Round-7 storage hardening: stats-column restriction, session-tz-correct
# pruning, and compact's optimistic concurrency guard.
def test_stats_columns_restriction_bounds_harvest(spark, tmp_path):
    """With stats_columns set, footers are harvested ONLY for the indexed
    set (manifest size/commit work stop scaling with table width); reads
    predicated on unindexed columns stay exact — just unpruned."""
    store = TableStore(spark, str(tmp_path / "wh_scols"), stats_columns=["created"])
    rows = spark.range(200).selectExpr(
        "concat('k_', id) AS id", "cast(id * 1000 as long) AS created", "id AS v"
    )
    store.write("t", rows)
    m = store._read_manifest("t")
    assert m["stats"]
    harvested = {c for b in m["stats"].values() for c in b["cols"]}
    assert harvested == {"created"}
    # indexed predicate prunes...
    pruned = store.prune_buckets("t", [("created", ">=", 190_000)])
    assert len(pruned) < len(m["buckets"])
    got = {r["id"] for r in store.read_where("t", [("created", ">=", 190_000)]).collect()}
    assert got == {f"k_{i}" for i in range(190, 200)}
    # ...unindexed predicate reads every bucket but stays exact
    assert set(store.prune_buckets("t", [("v", ">=", 150)])) == set(map(int, m["buckets"]))
    assert store.read_where("t", [("v", ">=", 150)]).count() == 50


def test_data_skipping_respects_session_timezone(spark, tmp_path):
    """A naive datetime predicate on a TIMESTAMP column gets SQL-literal
    semantics: interpreted in the SESSION timezone, and — because
    read_where pins the instant before building either the skip plan or
    the exact filter — plan and filter agree by construction. (F.lit
    alone resolves naive values in the SYSTEM zone, measured; relying on
    it made skipping silently session-dependent.) Rows are pinned to
    absolute instants, the session moves off system-local, and a ``<=``
    cut falls between the two interpretations — the shape where a wrong
    assumption skips buckets the filter matches."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from pyspark.sql import functions as F

    utc = dt.timezone.utc
    store = TableStore(spark, str(tmp_path / "wh_tz"))
    # instants at 14:00 UTC (matches a 12:00-naive-NY cut = 17:00 UTC, but
    # NOT a 12:00-UTC cut) plus decoys well outside the window
    rows = [(f"m_{i}", dt.datetime(2024, 1, 1, 14, i, tzinfo=utc)) for i in range(5)]
    rows += [(f"d_{i}", dt.datetime(2024, 1, 2, 9, i, tzinfo=utc)) for i in range(5)]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        store.write("t", spark.createDataFrame(rows, "id string, ts timestamp"))
        cut = dt.datetime(2024, 1, 1, 12, 0)  # naive → session (NY) → 17:00 UTC
        got = {r["id"] for r in store.read_where("t", [("ts", "<=", cut)]).collect()}
        # the spec: the same cut as an explicit session-zone instant
        pinned = cut.replace(tzinfo=ZoneInfo("America/New_York"))
        want = {r["id"] for r in store.read("t").filter(F.col("ts") <= F.lit(pinned)).collect()}
        assert got == want == {f"m_{i}" for i in range(5)}
        # and the pruning really skipped the decoys' buckets
        resolved = store._resolve_where_tz(
            [("ts", "<=", cut)], store._read_manifest("t")
        )
        pruned = store.prune_buckets("t", resolved)
        assert len(pruned) < len(store._read_manifest("t")["buckets"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _id_in_bucket(spark, store, table, bucket, prefix="c"):
    """An id whose store bucket equals ``bucket`` — crafted so concurrency
    tests conflict deterministically instead of by hash luck."""
    nb = store._table_n_buckets(table)
    cands = spark.createDataFrame(
        [(f"{prefix}{i}",) for i in range(4 * nb)], "id string"
    ).withColumn("b", store.bucket_expr("id", nb))
    row = cands.where(f"b = {bucket}").limit(1).collect()
    assert row, f"no candidate id hashed into bucket {bucket}"
    return row[0]["id"]


def test_write_buckets_version_precondition_detects_conflict(spark, tmp_path):
    """planned_versions is the optimistic-concurrency guard: a concurrent
    commit moving a targeted bucket's version after planning makes the
    commit fail loudly instead of silently erasing the concurrent rows."""
    store = TableStore(spark, str(tmp_path / "wh_occ"))
    store.write("t", spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int"))
    m = store._read_manifest("t")
    planned = dict(m["buckets"])
    target = sorted(map(int, planned))
    stale = store.read_buckets("t", target)
    # concurrent writer lands between the plan and the commit — its id is
    # CRAFTED to hash into a targeted bucket (an id landing in a bucket
    # outside the stale write's target set conflicts with nothing)
    cid = _id_in_bucket(spark, store, "t", target[0], prefix="c")
    extra = spark.createDataFrame([(cid, 3)], "id string, v int")
    touched = store.buckets_of(extra, table="t")
    store.write_buckets("t", store.read_buckets("t", touched).unionByName(extra), touched)
    with pytest.raises(RuntimeError, match="concurrent"):
        store.write_buckets("t", stale, target, planned_versions=planned)
    # nothing was lost
    assert {r["id"] for r in store.read("t").collect()} == {"a", "b", cid}


def test_compact_aborts_on_concurrent_merge(spark, tmp_path):
    """compact() passes its planning manifest's versions as the commit
    precondition, so a merge racing between its read and its commit makes
    compact raise — never a lost update (ADVICE r6)."""
    root = str(tmp_path / "wh_cmp_race")
    store = TableStore(spark, root)
    rows = spark.range(100).selectExpr("concat('k_', id) AS id", "id AS v")
    store.write("t", rows.repartition(6), pre_clustered=True)  # fragment buckets
    side = TableStore(spark, root)  # the concurrent writer's handle
    real_write_version = store._write_version
    fired = {}

    def racing_write_version(table, df, key, nb, pre_clustered=False):
        if "x" not in fired:  # inject one concurrent commit mid-compact
            fired["x"] = True
            extra = spark.createDataFrame([(fired["cid"], 999)], "id string, v int")
            touched = side.buckets_of(extra, table="t")
            side.write_buckets(
                "t", side.read_buckets("t", touched).unionByName(extra), touched
            )
        return real_write_version(table, df, key, nb, pre_clustered=pre_clustered)

    # the racer's id must land in a bucket compact WILL rewrite, or there
    # is no conflict; compute a targeted (fragmented) bucket up front
    m0 = store._read_manifest("t")
    fired["cid"] = _id_in_bucket(spark, store, "t", sorted(map(int, m0["buckets"]))[0], "zz")
    store._write_version = racing_write_version
    try:
        with pytest.raises(RuntimeError, match="concurrent"):
            store.compact("t")
    finally:
        store._write_version = real_write_version
    got = {r["id"] for r in store.read("t").collect()}
    assert fired["cid"] in got and len(got) == 101  # the merge survived intact


def test_compact_entity_serializes_with_merges(engine):
    """compact_entity mirrors rebucket_entity: it runs under the table
    write lock, so interleaved engine merges and compactions converge with
    no loss and the table ends fully compacted."""
    import threading

    fx_events = [
        fx.event("charge.succeeded", fx.charge(id=f"ch_cmp{i}", amount=100 + i), created=2_000 + i)
        for i in range(40)
    ]
    engine.process_webhook_events(engine.events_df_from_json(fx_events[:20]))
    errs = []

    def mergers():
        try:
            for i in range(20, 40, 5):
                engine.process_webhook_events(
                    engine.events_df_from_json(fx_events[i : i + 5])
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t = threading.Thread(target=mergers)
    t.start()
    for _ in range(3):
        engine.compact_entity("charges")
    t.join()
    assert not errs
    ids = {r["id"] for r in engine.store.read("charges").collect()}
    assert {f"ch_cmp{i}" for i in range(40)} <= ids


# ---------------------------------------------------------------------------
# Spark SQL over the synced store (r7): create_views() registers each table
# as a temp view over the stripe_store Python DataSource; a WHERE on an
# indexed column reaches pushFilters and prunes buckets via manifest stats.
def _store_reader(store, table):
    from stripe_sync_engine_spark.sources.store_datasource import build_store_datasource

    cls = build_store_datasource()
    ds = cls({"root": store.root, "table": table})
    return ds.reader(ds.schema())


def test_store_view_prune_matches_table_store(spark, tmp_path):
    """The DataSource's compact pruning check must agree with
    TableStore.prune_buckets on every predicate shape — the pin that keeps
    the deliberate duplication honest — and stay conservative on naive
    datetimes (no skipping)."""
    import datetime as dt

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        LessThan,
    )

    store = TableStore(spark, str(tmp_path / "wh_dsrc"))
    rows = spark.range(300).selectExpr(
        "concat('ch_', id) AS id",
        "cast(id * 100 as long) AS amount",
        "timestamp_seconds(1700000000 + id * 3600) AS created",
        "CASE WHEN id % 3 = 0 THEN 'paid' ELSE 'open' END AS status",
    )
    store.write("t", rows)
    cases = [
        ([GreaterThanOrEqual(("amount",), 25_000)], [("amount", ">=", 25_000)]),
        ([LessThan(("amount",), 400)], [("amount", "<", 400)]),
        ([EqualTo(("status",), "paid")], [("status", "=", "paid")]),
        ([In(("id",), ("ch_1", "ch_299"))], [("id", "in", ["ch_1", "ch_299"])]),
        (
            [GreaterThanOrEqual(("amount",), 25_000), EqualTo(("status",), "paid")],
            [("amount", ">=", 25_000), ("status", "=", "paid")],
        ),
    ]
    for filters, where in cases:
        reader = _store_reader(store, "t")
        unhandled = reader.pushFilters(filters)
        assert list(unhandled) == filters  # exact predicate stays with Spark
        got = sorted(int(p.path.rsplit("=", 1)[1]) for p in reader.partitions() if p.path)
        assert got == store.prune_buckets("t", where), where
    # naive datetime: DataSource declines to skip (conservative)
    reader = _store_reader(store, "t")
    reader.pushFilters([GreaterThanOrEqual(("created",), dt.datetime(2099, 1, 1))])
    assert len([p for p in reader.partitions() if p.path]) == len(
        store._read_manifest("t")["buckets"]
    )
    # tz-aware datetime: prunes like the store does
    aware = dt.datetime(2023, 11, 15, tzinfo=dt.timezone.utc)
    reader = _store_reader(store, "t")
    reader.pushFilters([GreaterThanOrEqual(("created",), aware)])
    got = sorted(int(p.path.rsplit("=", 1)[1]) for p in reader.partitions() if p.path)
    assert got == store.prune_buckets("t", [("created", ">=", aware)])
    # IsNotNull on an all-present column keeps everything
    reader = _store_reader(store, "t")
    reader.pushFilters([IsNotNull(("status",))])
    assert len([p for p in reader.partitions() if p.path]) > 0


def test_create_views_sql_parity_and_pruning(engine):
    """The r6 VERDICT ask: view query ≡ store read, and IO evidence that a
    ``created`` predicate pruned buckets (task count == surviving buckets
    < all buckets). Also: a FILTERED query sees data merged after
    registration — it re-plans against the current manifest (an unfiltered
    scan may not; see test_unfiltered_view_scan_after_vacuum_fails_loudly)."""
    from pyspark.sql import functions as F

    spark, store = engine.spark, engine.store
    events = [
        fx.event(
            "charge.succeeded",
            fx.charge(id=f"ch_v{i}", amount=1000 + i, created=1_700_000_000 + i * 3600),
            created=1_700_000_000 + i * 3600,
        )
        for i in range(60)
    ]
    engine.process_webhook_events(engine.events_df_from_json(events))
    views = engine.create_views()
    assert "stripe_charges" in views
    cut = 1_700_000_000 + 50 * 3600
    sql_rows = spark.sql(
        f"SELECT id, amount FROM stripe_charges WHERE created >= {cut} ORDER BY id"
    ).collect()
    want = (
        store.read("charges")
        .filter(F.col("created") >= cut)
        .select("id", "amount")
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in want]
    assert len(sql_rows) == 10
    # IO evidence: the filtered scan plans exactly the surviving buckets
    pruned = store.prune_buckets("charges", [("created", ">=", cut)])
    total = len(store._read_manifest("charges")["buckets"])
    view_df = spark.table("stripe_charges").filter(F.col("created") >= cut)
    n_parts = view_df.rdd.getNumPartitions()
    assert n_parts == max(1, len(pruned)) < total
    # freshness: a merge AFTER registration is visible to the same view
    engine.process_webhook_events(
        engine.events_df_from_json(
            [
                fx.event(
                    "charge.succeeded",
                    fx.charge(id="ch_fresh", amount=9999, created=1_900_000_000),
                    created=1_900_000_000,
                )
            ]
        )
    )
    n = spark.sql("SELECT count(*) AS n FROM stripe_charges WHERE created >= 1900000000").collect()
    assert n[0]["n"] == 1


def test_unfiltered_view_scan_after_vacuum_fails_loudly(engine):
    """An unfiltered view scan can reuse the manifest an earlier query on
    the view planned with. Once a later commit replaces a bucket it points
    at and vacuum reclaims the old version (default vacuum_retain_s=0), the
    scan must fail and name the version and the remedy, not return the
    table without those rows. Re-registering reads the current manifest
    again."""
    spark, store = engine.spark, engine.store
    process(engine, fx.event("charge.succeeded", fx.charge(id="ch_V1", amount=1), created=1_000))
    engine.create_views()
    assert spark.sql("SELECT id, amount FROM stripe_charges").collect() == [("ch_V1", 1)]
    v1_bucket = store.buckets_of_values(["ch_V1"], table="charges")[0]
    stale_version = store._read_manifest("charges")["buckets"][str(v1_bucket)]
    process(
        engine,
        fx.event("charge.updated", fx.charge(id="ch_V1", amount=2), created=2_000),
        fx.event("charge.succeeded", fx.charge(id="ch_V2", amount=3), created=2_000),
    )
    assert len(table_rows(engine, "charges")) == 2
    with pytest.raises(Exception, match="create_views") as err:
        spark.sql("SELECT id, amount FROM stripe_charges").collect()
    assert stale_version in str(err.value)
    engine.create_views()
    got = spark.sql("SELECT id, amount FROM stripe_charges ORDER BY id").collect()
    assert [tuple(r) for r in got] == [("ch_V1", 2), ("ch_V2", 3)]
    # a fully pruned scan still plans the empty sentinel partition: no rows, no error
    assert spark.sql("SELECT id FROM stripe_charges WHERE created < 0").collect() == []


def test_create_views_as_of_snapshot(spark, tmp_path):
    """as_of_ms pins views to the retained snapshot (TIMESTAMP AS OF):
    the snapshot view serves the old state next to the live view, with
    the snapshot's own stats still pruning."""
    import time as _time

    store = TableStore(spark, str(tmp_path / "wh_asof_v"), vacuum_retain_s=3600.0)
    eng = StripeSparkSync(spark, store, api=None)
    store.write("charges", spark.createDataFrame([("ch_1", 100)], "id string, amount long"))
    _time.sleep(0.01)
    t1 = int(_time.time() * 1000)
    _time.sleep(0.01)
    touched = store.buckets_of(
        spark.createDataFrame([("ch_2",)], "id string"), table="charges"
    )
    store.write_buckets(
        "charges",
        store.read_buckets("charges", touched).unionByName(
            spark.createDataFrame([("ch_2", 200)], "id string, amount long")
        ),
        touched,
    )
    assert "stripe_charges" in eng.create_views()
    assert eng.create_views(prefix="stripe_asof_", as_of_ms=t1) == ["stripe_asof_charges"]
    live = {r["id"] for r in spark.sql("SELECT id FROM stripe_charges").collect()}
    old = {r["id"] for r in spark.sql("SELECT id FROM stripe_asof_charges").collect()}
    assert live == {"ch_1", "ch_2"} and old == {"ch_1"}
    # before the table existed: no view registered
    assert eng.create_views(prefix="x_", as_of_ms=t1 - 10_000_000) == []


def test_datasource_prune_equivalence_property(spark, tmp_path):
    """Hypothesis pin: the DataSource's compact _may_match agrees with
    TableStore._bucket_may_match on every generated (stats, predicate)
    for the value domains a pushed filter carries — the guard that keeps
    the deliberate duplication from drifting."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    store = TableStore(spark, str(tmp_path / "wh_prop"))
    store.write("t", spark.createDataFrame([("a", 1)], "id string, v int"))
    # the check is only reachable through partitions() (nested closure), so
    # drive equivalence at the OUTCOME level: plant generated stats on a
    # one-bucket manifest and compare keep/skip decisions
    num = st.one_of(st.integers(-1000, 1000), st.floats(-1e6, 1e6, allow_nan=False))
    stat = st.fixed_dictionaries(
        {
            "rows": st.integers(0, 100),
            "cols": st.fixed_dictionaries(
                {
                    "v": st.fixed_dictionaries(
                        {"nulls": st.one_of(st.none(), st.integers(0, 100))},
                        optional={"min": num, "max": num},
                    )
                }
            ),
        }
    )
    ops = st.sampled_from([">=", ">", "<=", "<", "="])

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    fcls = {
        ">=": GreaterThanOrEqual,
        ">": GreaterThan,
        "<=": LessThanOrEqual,
        "<": LessThan,
        "=": EqualTo,
    }

    @settings(max_examples=200, deadline=None)
    @given(bstats=st.one_of(st.none(), stat), op=ops, val=num)
    def check(bstats, op, val):
        want = TableStore._bucket_may_match(bstats, "v", op, val)
        # outcome-level: plant the stats on the real manifest's buckets and
        # compare the reader's keep-set against prune_buckets
        reader = _store_reader(store, "t")
        reader._manifest = {
            "n_buckets": 1,
            "buckets": {"0": "v0"},
            "stats": {"0": bstats},
            "schema": store._read_manifest("t")["schema"],
        }
        reader._dir = str(tmp_path / "nonexistent")
        reader.pushFilters([fcls[op](("v",), val)])
        kept = [p for p in reader.partitions() if p.path]
        assert bool(kept) == want, (bstats, op, val)

    check()


def test_data_skipping_null_ops(spark, tmp_path):
    """isnull/isnotnull predicates prune via per-bucket null counts: a
    bucket with zero recorded nulls is skipped by isnull, an all-null
    bucket by isnotnull — and results equal the unpruned filter."""
    store = TableStore(spark, str(tmp_path / "wh_nulls"))
    rows = spark.range(100).selectExpr(
        "concat('k_', id) AS id",
        "CASE WHEN id < 10 THEN NULL ELSE cast(id AS long) END AS v",
    )
    store.write("t", rows)
    m = store._read_manifest("t")
    want_null = {r["id"] for r in store.read("t").filter("v IS NULL").collect()}
    got_null = {r["id"] for r in store.read_where("t", [("v", "isnull", None)]).collect()}
    assert got_null == want_null and len(got_null) == 10
    pruned = store.prune_buckets("t", [("v", "isnull", None)])
    assert len(pruned) < len(m["buckets"])  # zero-null buckets skipped
    got_nn = store.read_where("t", [("v", "isnotnull", None)]).count()
    assert got_nn == 90


def _mp_lock_worker(root, counter, n):
    import sys

    sys.path.insert(0, "/root/repo")
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(None, root)
    for _ in range(n):
        with store._commit_lock("t"):
            with open(counter) as f:
                v = int(f.read())
            with open(counter, "w") as f:
                f.write(str(v + 1))


def test_commit_lock_mutual_exclusion_across_processes(tmp_path):
    """The commit lock is an O_CREAT|O_EXCL lock FILE precisely so that
    writers in different PROCESSES serialize (the threading locks only
    cover one driver). Four processes hammer a non-atomic read-modify-
    write under the lock; the counter is exact iff mutual exclusion
    held. (TableStore is constructed sparkless — the lock never touches
    the session.)"""
    import multiprocessing as mp

    root = str(tmp_path / "wh_mplock")
    counter = str(tmp_path / "counter.txt")
    with open(counter, "w") as f:
        f.write("0")

    ctx = mp.get_context("spawn")  # no forked-JVM state
    procs = [ctx.Process(target=_mp_lock_worker, args=(root, counter, 25)) for _ in range(4)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    with open(counter) as f:
        assert int(f.read()) == 100


def test_engine_maintain_compacts_and_reports(spark, tmp_path):
    """maintain() = compaction + orphan/history reclamation + optional
    landing vacuum in one cron-able call, safe next to live merges."""
    import os as _os

    store = TableStore(spark, str(tmp_path / "wh_maint"))
    eng = StripeSparkSync(spark, store, api=None)
    # fragment a table (pre_clustered skips the rebalance, so each bucket
    # collects one file per task)
    rows = spark.range(200).selectExpr("concat('k_', id) AS id", "id AS v")
    store.write("t", rows.repartition(6), pre_clustered=True)
    # plant a FRESH orphan version dir (crash leftover): compaction's own
    # commit-time vacuum spares it (ORPHAN_GRACE_S), so it is maintain()'s
    # explicit min_age_s=0 sweep that must reclaim it
    import time as _time

    orphan = _os.path.join(store._dir("t"), f"v{int(_time.time() * 1000)}_1")
    _os.makedirs(orphan)
    # plant an ORPHANED flock sidecar (its side file vacuumed) and a
    # live one (side file still present) — maintain()'s sidecar sweep
    # must reclaim exactly the orphan (VERDICT r12 #5)
    from stripe_sync_engine_spark import commitio as _cio

    dead_side = _os.path.join(store.root, "gone.json")
    live_side = _os.path.join(store.root, "here.json")
    _cio.read_modify_write(dead_side, lambda p: "{}")
    _cio.read_modify_write(live_side, lambda p: "{}")
    _os.unlink(dead_side)
    dead_lock = _os.path.join(store.root, f".gone.json{_cio.LOCK_SIDECAR_SUFFIX}")
    live_lock = _os.path.join(store.root, f".here.json{_cio.LOCK_SIDECAR_SUFFIX}")
    assert _os.path.exists(dead_lock) and _os.path.exists(live_lock)
    report = eng.maintain(orphan_min_age_s=0.0)
    assert report["compacted"].get("t", 0) > 0
    assert report["orphans_removed"].get("t", 0) >= 1
    assert not _os.path.exists(orphan)
    assert report["lock_sidecars_removed"] == 1
    assert not _os.path.exists(dead_lock) and _os.path.exists(live_lock)
    assert store.read("t").count() == 200
    # steady state: nothing left to do
    report2 = eng.maintain(orphan_min_age_s=0.0)
    assert report2["compacted"] == {}
    assert report2["lock_sidecars_removed"] == 0


def test_maintain_folds_gate_state_past_horizon(spark, tmp_path):
    """maintain(fold_gates_past_horizon=True) collapses the span gate's
    per-(gram,batch) rows and the postings per-batch stats to one
    _folded row each, reports which gates folded, and the fold horizon
    is enforced afterwards (a folded batch id refuses to re-register)."""
    import pytest

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.operators.span_dedup import IncrementalSpanDeduper
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.sync.engine import StripeSparkSync

    store = TableStore(spark, str(tmp_path / "wh_maint_fold"))
    eng = StripeSparkSync(spark, store)
    docs = spark.createDataFrame(
        [(i, f"gate fold words {i} repeated gate fold words {i}") for i in range(6)],
        "doc_id long, text string",
    )
    span = IncrementalSpanDeduper(store, k=3)
    span.register(docs.where("doc_id < 3"), "run:0")
    span.register(docs.where("doc_id >= 3"), "run:1")
    idx = PersistedPostingsIndex(store)
    idx.register(docs.where("doc_id < 3"), "run:0")
    idx.register(docs.where("doc_id >= 3"), "run:1")
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.operators.packing import IncrementalPacker

    packer = IncrementalPacker(store, budget=64, n_shards=4)
    packer.pack_batch(docs.withColumn("n", F.lit(10)), "n", "run:0")
    packer.pack_batch(docs.withColumn("n", F.lit(7)), "n", "run:1")

    before = {
        t: store.read(t).count()
        for t in ("_gram_counts", "_postings_stats", "_pack_progress")
    }
    report = eng.maintain(fold_gates_past_horizon=True)
    assert report["gates_folded"] == ["_gram_counts", "_postings_stats", "_pack_progress"]
    # fold no longer happens silently: per-gate stats match the outcome
    stats = {s["table"]: s for s in report["gate_fold_stats"]}
    assert set(stats) == set(before)
    for t, s in stats.items():
        assert s["rows_before"] == before[t]
        assert s["rows_after"] == store.read(t).count()
        assert s["batches_absorbed"] == 2  # run:0 and run:1
        assert s["into_batch_id"] == "_folded"
    # ... and the report landed durably in the maintenance log
    log = eng.read_maintenance_log()
    assert log and log[-1]["gate_fold_stats"] == report["gate_fold_stats"]
    assert log[-1]["at_ms"] > 0
    assert {r["batch_id"] for r in store.read("_pack_progress").collect()} == {"_folded"}
    with pytest.raises(RuntimeError, match="folded"):
        packer.register(docs.withColumn("n", F.lit(1)), "n", "run:1")
    assert {r["batch_id"] for r in store.read("_gram_counts").select("batch_id").distinct().collect()} == {"_folded"}
    assert [r["batch_id"] for r in store.read("_postings_stats").collect()] == ["_folded"]
    with pytest.raises(RuntimeError, match="folded"):
        span.register(docs.limit(1), "run:0")
    with pytest.raises(RuntimeError, match="folded"):
        idx.register(docs.limit(1), "run:1")
    # a second fold pass has nothing to absorb and says so
    report3 = eng.maintain(fold_gates_past_horizon=True)
    assert report3["gate_fold_stats"] == []
    # steady-state maintain without the flag never touches gate state
    report2 = eng.maintain()
    assert "gates_folded" not in report2
    assert len(eng.read_maintenance_log()) == 3  # every pass logged
