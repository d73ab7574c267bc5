"""HTTP front-door tests — mirrors the reference's route tests
(packages/fastify-app/src/test/webhooks.test.ts:64-168: signed event in →
row in store; bad signature → 400) plus the API-key guard semantics of
utils/verifyApiKey.ts."""

from __future__ import annotations

import dataclasses
import http.client
import json
import time

import pytest

from stripe_sync_engine_spark.api import Router, api_key_matches, serve
from stripe_sync_engine_spark.sources.stripe_api import InMemoryStripeAPI
from stripe_sync_engine_spark.sources.webhook import sign_header
from stripe_sync_engine_spark.storage import TableStore
from stripe_sync_engine_spark.sync import StripeSparkSync, SyncConfig
from tests import fixtures as fx

SECRET = "whsec_test_secret"
API_KEY = "api_key_test"


@pytest.fixture()
def engine(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "warehouse"))
    return StripeSparkSync(
        spark, store, api=InMemoryStripeAPI(), config=SyncConfig(webhook_secret=SECRET)
    )


@pytest.fixture()
def router(engine):
    return Router(engine, api_key=API_KEY)


def signed_post(router, payload: str, secret: str = SECRET):
    header = sign_header(secret, int(time.time()), payload)
    return router.handle("POST", "/webhooks", {"Stripe-Signature": header}, payload.encode())


def table_rows(eng, table):
    df = eng.store.read(table)
    return {} if df is None else {r["id"]: r.asDict() for r in df.collect()}


def test_health(router):
    status, body = router.handle("GET", "/health", {}, b"")
    assert status == 200
    assert body["received"] is True and body["statusCode"] == 200


def test_webhook_signed_event_lands_in_store(router, engine):
    payload = fx.event("charge.succeeded", fx.charge(id="ch_http"), created=1_700_000_500)
    status, body = signed_post(router, payload)
    assert (status, body) == (200, {"received": True})
    assert table_rows(engine, "charges")["ch_http"]["amount"] == 4200


def test_webhook_bad_signature_400(router, engine):
    payload = fx.event("charge.succeeded", fx.charge(id="ch_bad"))
    status, body = signed_post(router, payload, secret="whsec_wrong")
    assert status == 400
    assert str(body).startswith("Webhook Error:")
    assert "ch_bad" not in table_rows(engine, "charges")


def test_webhook_malformed_header_400(router):
    payload = fx.event("charge.succeeded", fx.charge())
    status, _ = router.handle(
        "POST", "/webhooks", {"Stripe-Signature": "t=abc,v1=zzz"}, payload.encode()
    )
    assert status == 400


def test_sync_requires_api_key(router):
    assert router.handle("POST", "/sync", {}, b"")[0] == 401
    assert router.handle("POST", "/sync", {"Authorization": "nope"}, b"")[0] == 401
    # longer-than-key header is rejected (reference verifyApiKey.ts:27)
    assert router.handle("POST", "/sync", {"Authorization": API_KEY + "x"}, b"")[0] == 401


def test_sync_backfill_roundtrip(router, engine):
    engine.api.put("customers", fx.customer(id="cus_http"))
    status, body = router.handle(
        "POST", "/sync", {"Authorization": API_KEY}, json.dumps({"object": "customers"}).encode()
    )
    assert status == 200 and body["statusCode"] == 200
    assert "cus_http" in table_rows(engine, "customers")


def test_sync_single_prefix_dispatch(router, engine):
    engine.api.put("customers", fx.customer(id="cus_single"))
    status, body = router.handle(
        "POST", "/sync/single/cus_single", {"Authorization": API_KEY}, b""
    )
    assert status == 200
    assert "cus_single" in table_rows(engine, "customers")


def test_sync_daily_window(router, engine):
    # one recent object (inside the 24h window) and one ancient one
    now = int(time.time())
    engine.api.put("customers", {**fx.customer(id="cus_new"), "created": now - 3600})
    engine.api.put("customers", {**fx.customer(id="cus_old"), "created": now - 40 * 86_400})
    status, _ = router.handle("POST", "/sync/daily", {"Authorization": API_KEY}, b"")
    assert status == 200
    rows = table_rows(engine, "customers")
    assert "cus_new" in rows and "cus_old" not in rows


def test_unknown_route_404(router):
    assert router.handle("GET", "/nope", {}, b"")[0] == 404
    assert router.handle("POST", "/sync/hourly", {"Authorization": API_KEY}, b"")[0] == 404


def test_api_key_matches_timing_safe_semantics():
    assert api_key_matches("abc", "abc")
    assert not api_key_matches("abcd", "abc")  # longer than key → reject
    assert not api_key_matches("ab", "abc")  # padded compare fails
    assert not api_key_matches("abc", None)
    assert not api_key_matches(None, "abc")


def test_end_to_end_over_socket(engine):
    server = serve(engine, api_key=API_KEY, port=0)
    try:
        port = server.server_address[1]
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        payload = fx.event("charge.succeeded", fx.charge(id="ch_sock"), created=1_700_000_900)
        header = sign_header(SECRET, int(time.time()), payload)
        conn.request("POST", "/webhooks", body=payload, headers={"Stripe-Signature": header})
        resp = conn.getresponse()
        assert resp.status == 200
        assert json.loads(resp.read()) == {"received": True}
        conn.request("GET", "/health")
        assert conn.getresponse().status == 200
    finally:
        server.shutdown()
    assert table_rows(engine, "charges")["ch_sock"]["amount"] == 4200


def spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches from the calling thread, counted through
    a job group scoped to the call."""
    sc = spark.sparkContext
    group = f"jobcount-{time.monotonic_ns()}"

    def in_group(name, call):
        sc.setJobGroup(name, name)
        try:
            call()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    in_group(group, fn)
    # the status tracker is fed asynchronously, in order: once a later
    # sentinel job is listed, every job ``fn`` started is listed too
    in_group(group + "-sentinel", lambda: spark.range(1).collect())
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group + "-sentinel"):
        assert time.monotonic() < deadline, "status tracker never listed the sentinel job"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_api_attached_webhook_runs_no_more_jobs_than_api_less(spark, tmp_path, engine, router):
    """An attached Stripe API costs a single webhook no extra Spark jobs:
    the list-expansion check and the merge's bucket probe are decided from
    the decoded payload on the driver. Related-entity backfill is off on
    both engines — its parent-table probes are work only an API-attached
    engine does at all."""
    engine.config = dataclasses.replace(engine.config, backfill_related_entities=False)
    bare = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "bare")), config=engine.config)
    bare_router = Router(bare, api_key=API_KEY)
    # the table-creating POST, then a merge into the existing table
    for i in range(2):
        payload = fx.event("charge.succeeded", fx.charge(id=f"ch_jobs{i}"), created=1_000 + i)
        statuses = []
        with_api = spark_jobs(spark, lambda: statuses.append(signed_post(router, payload)[0]))
        without = spark_jobs(spark, lambda: statuses.append(signed_post(bare_router, payload)[0]))
        assert statuses == [200, 200]
        assert with_api <= without, (i, with_api, without)
    assert sorted(table_rows(engine, "charges")) == sorted(table_rows(bare, "charges"))


@pytest.mark.slow  # 340s: full-corpus sweep; per-fixture projection gated by test_fixture_corpus
def test_webhook_corpus_sweep_over_http(router, engine):
    """The reference's e2e shape (test/webhooks.test.ts:64-168): each
    production-shaped fixture posts to /webhooks with a freshly signed
    header, then the row exists with last_synced_at == event.created.
    One signed POST per corpus event, batched assertions per table."""
    import datetime as _dt
    import json as _json

    from stripe_sync_engine_spark.sync import registry as R
    from tests.fixtures_corpus import CORPUS

    for name, ev in sorted(CORPUS.items()):
        status, body = signed_post(router, _json.dumps(ev))
        assert (status, body) == (200, {"received": True}), name
    # Expected final state per (entity, id) under the engine's declared
    # semantics: sequential posts, timestamp-protected upserts (stored
    # last_synced_at = max applied event.created), hard deletes remove the
    # row, and a later upsert re-inserts it. Several fixtures share one id
    # (e.g. the five charge_* events mutate one charge), so assertions are
    # on the fold of the whole sweep, not per event.
    expected_ts: dict[tuple[str, str], int] = {}
    seen: set[tuple[str, str]] = set()
    summary = None
    for name, ev in sorted(CORPUS.items()):
        entity, action = R.EVENT_ROUTES[ev["type"]]
        obj = ev["data"]["object"]
        if action == R.ENTITLEMENT_SUMMARY:
            summary = obj
            continue
        key = (entity, obj["id"])
        seen.add(key)
        if action == R.DELETE:
            expected_ts.pop(key, None)
        else:
            expected_ts[key] = max(expected_ts.get(key, 0), ev["created"])
    by_entity: dict[str, dict] = {}
    for entity, oid in seen:
        by_entity.setdefault(entity, table_rows(engine, entity))
    for (entity, oid), created in expected_ts.items():
        rows = by_entity[entity]
        assert oid in rows, f"{oid} not in {entity}"
        want_ts = _dt.datetime.fromtimestamp(created, tz=_dt.timezone.utc).replace(tzinfo=None)
        assert rows[oid]["last_synced_at"] == want_ts, (entity, oid)
    for entity, oid in seen - set(expected_ts):
        assert oid not in by_entity[entity], f"{oid} should be deleted from {entity}"
    # the entitlement summary replaced the customer's set
    assert summary is not None
    ents = table_rows(engine, "active_entitlements")
    want_ids = {e["id"] for e in summary["entitlements"]["data"]}
    got_ids = {
        i for i, r in ents.items() if r.get("customer") == summary["customer"]
    }
    assert got_ids == want_ids


def test_webhook_landing_mode_streams_to_store(spark, tmp_path, engine):
    """High-throughput webhook path: POSTs land signed envelopes as files
    (HMAC still checked inline — bad signatures get a 400 and land
    nothing), and the streaming pipeline consumes, re-verifies, and merges
    them in micro-batches."""
    import os as _os

    from stripe_sync_engine_spark.streaming.pipeline import start_webhook_stream

    landing = str(tmp_path / "landing_http")
    r = Router(engine, api_key=API_KEY, landing_dir=landing)
    e1 = fx.event("charge.succeeded", fx.charge(id="ch_land1", amount=111), created=1_000)
    e2 = fx.event("charge.updated", fx.charge(id="ch_land1", amount=222), created=2_000)
    for payload in (e1, e2):
        header = sign_header(SECRET, int(time.time()), payload)
        status, body = r.handle("POST", "/webhooks", {"Stripe-Signature": header}, payload.encode())
        assert (status, body) == (200, {"received": True})
    # bad signature: 400, nothing landed
    status, _ = r.handle(
        "POST", "/webhooks", {"Stripe-Signature": "t=1,v1=" + "0" * 64}, e1.encode()
    )
    assert status == 400
    assert engine.store.read("charges") is None  # nothing processed inline
    files = [f for f in _os.listdir(landing) if not f.startswith(".")]
    assert len(files) == 2  # one envelope file per accepted POST
    # the stream drains the landing zone with re-verification
    q = start_webhook_stream(
        engine, landing, str(tmp_path / "ckpt_http"), available_now=True, secret=SECRET
    )
    q.awaitTermination(120)
    rows = table_rows(engine, "charges")
    assert rows["ch_land1"]["amount"] == 222  # last-write-wins across POSTs
