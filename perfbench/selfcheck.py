"""Tests for the benchmark's own code (not the engine's).

    python3 -m pytest perfbench/selfcheck.py -q -p no:cacheprovider

The file name keeps these out of pytest's default discovery: a bare
``pytest`` from the repository root must not start the shared JVM with the
small session below before the engine's suite starts its own (the driver
heap and other launch-time settings are fixed by whichever session comes
first).
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import generator as gen  # noqa: E402
import oracle as orc  # noqa: E402
import run  # noqa: E402
from tracer import Span, Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# -- generator -----------------------------------------------------------------

def test_same_seed_same_bytes():
    a, b = gen.make_account(7, 30), gen.make_account(7, 30)
    assert json.dumps(a.objects, sort_keys=True) == json.dumps(b.objects, sort_keys=True)
    ea, eb = gen.make_events(7, a, 300), gen.make_events(7, b, 300)
    assert [d.body for d in ea] == [d.body for d in eb]
    assert [d.body for d in gen.make_events(8, gen.make_account(8, 30), 300)] != [d.body for d in ea]
    ca, cb = gen.make_corpus(7, 50), gen.make_corpus(7, 50)
    assert ca == cb
    assert gen.make_windows(7, ca, 3) == gen.make_windows(7, cb, 3)


def test_account_is_foreign_key_consistent():
    o = gen.make_account(3, 40).objects
    ids = {e: {x["id"] for x in o[e]} for e in o}
    assert all(p["product"] in ids["products"] for p in o["prices"])
    assert all(s["customer"] in ids["customers"] for s in o["subscriptions"])
    assert all(i["subscription"] in ids["subscriptions"] for i in o["invoices"])
    assert all(c["invoice"] in ids["invoices"] for c in o["charges"])
    assert all(x["charge"] in ids["charges"] for x in o["refunds"] + o["disputes"])
    # shape does not depend on the seed
    assert {e: len(v) for e, v in o.items()} == {
        e: len(v) for e, v in gen.make_account(4, 40).objects.items()}


def test_stream_rules():
    acct = gen.make_account(5, 40)
    events = gen.make_events(5, acct, 600)
    per_obj: dict[str, list[dict]] = {}
    for d in events:
        per_obj.setdefault(d.object_id, []).append(json.loads(d.body))
    ids = [json.loads(d.body)["id"] for d in events]
    # created is strictly increasing over first deliveries
    firsts, seen = [], set()
    for d in events:
        env = json.loads(d.body)
        if env["id"] not in seen:
            seen.add(env["id"])
            firsts.append(env["created"])
    assert firsts == sorted(firsts) and len(set(firsts)) == len(firsts)
    n_dup = len(ids) - len(set(ids))  # replays and duplicates re-send an event id
    assert 0.08 * len(ids) < n_dup < 0.25 * len(ids)
    for evs in per_obj.values():
        types = [e["type"] for e in evs]
        for t in ("product.deleted", "price.deleted"):
            if t in types:  # a hard delete is the last delivery of its object
                assert types.index(t) == len(types) - 1
        if "customer.deleted" in types:
            after = evs[types.index("customer.deleted") + 1:]
            assert all(e["created"] < evs[types.index("customer.deleted")]["created"] for e in after)
    deleted_products = {o for o, evs in per_obj.items() if evs[-1]["type"] == "product.deleted"}
    evented_prices = {e["data"]["object"]["product"] for evs in per_obj.values() for e in evs
                      if e["type"] == "price.updated"}
    assert not deleted_products & evented_prices


# -- oracle --------------------------------------------------------------------

def _event(etype: str, obj: dict, created: int, eid: str) -> str:
    return json.dumps({"id": eid, "type": etype, "created": created, "data": {"object": obj}})


def test_oracle_stale_replay_is_noop():
    o = orc.Oracle()
    new = _event("charge.updated", {"id": "ch_1", "amount": 2}, 20, "e2")
    old = _event("charge.updated", {"id": "ch_1", "amount": 1}, 10, "e1")
    assert o.apply(new)
    assert not o.apply(old)
    assert o.live("charges")["ch_1"].fields["amount"] == 2


def test_oracle_duplicate_is_idempotent():
    o = orc.Oracle()
    e = _event("customer.updated", {"id": "cus_1", "balance": 5}, 10, "e1")
    assert o.apply(e)
    assert not o.apply(e)
    assert o.live("customers")["cus_1"].ts == 10


def test_oracle_customer_deleted_is_partial():
    o = orc.Oracle()
    o.load("customers", [{"id": "cus_1", "object": "customer", "email": "a@b.c"}])
    o.apply(_event("customer.deleted", {"id": "cus_1", "object": "customer", "deleted": True}, 30, "e3"))
    row = o.live("customers")["cus_1"]
    assert row.deleted and row.ts == 30 and row.fields["email"] == "a@b.c"


def test_oracle_hard_delete():
    o = orc.Oracle()
    o.load("products", [{"id": "prod_1", "object": "product"}])
    assert o.apply(_event("product.deleted", {"id": "prod_1", "object": "product", "deleted": True}, 5, "e"))
    assert "prod_1" not in o.live("products")


def test_diff_table_reports_mismatch():
    rows = {"ch_1": orc.Row({"id": "ch_1", "amount": 2}, 20)}
    store = {"ch_1": {"id": "ch_1", "amount": 3, "last_synced_at": 20.0}}
    assert orc.diff_table(rows, store, ["id", "amount"], (0, 1))
    store["ch_1"]["amount"] = 2
    assert not orc.diff_table(rows, store, ["id", "amount"], (0, 1))


# -- tracer --------------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    t = Tracer(sc=None)
    t.spans = [
        Span("a", 0.0, 10.0, None, None, 1),
        Span("b", 1.0, 4.0, 0, None, 1),
        Span("c", 3.0, 6.0, 0, None, 2),   # overlaps b (another thread)
        Span("d", 8.0, 12.0, 0, None, 1),  # clipped to the parent's end
        Span("e", 2.0, 3.0, 1, None, 1),
    ]
    assert t.self_times() == pytest.approx([10 - (5 + 2), 3 - 1, 3, 4, 1])
    agg = t.by_name()
    assert agg["a"]["calls"] == 1 and agg["a"]["self_s"] == pytest.approx(3)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_job_attribution_on_a_tiny_job(spark):
    sc = spark.sparkContext
    before = run.calibrate(spark, 1)
    lo = max(sc.statusTracker().getJobIdsForGroup("perfbench:calib"))
    t = Tracer(sc)
    t.install_py4j_counter()
    try:
        with t.span("outer"):
            with t.span("inner"):
                spark.range(10).count()
            with t.span("pure", spark=False):
                spark.range(10).collect()  # runs under the outer span's group
    finally:
        t.uninstall()
    run.calibrate(spark, 1)
    hi = max(sc.statusTracker().getJobIdsForGroup("perfbench:calib"))
    jobs = t.jobs_by_name(["outer", "inner", "pure"], (lo, hi))
    assert before and jobs["inner"] >= 1 and jobs["outer"] >= 1 and jobs["pure"] == 0
    agg = t.by_name()
    assert agg["inner"]["py4j"] > 0 and agg["pure"]["py4j"] > 0
    assert t.py4j_total >= agg["inner"]["py4j"] + agg["pure"]["py4j"]
    assert sc.getLocalProperty("spark.jobGroup.id") is None  # restored


# -- names -----------------------------------------------------------------------

def test_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = ([w["name"] for w in bench["workloads"]]
             + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]])
    assert all(NAME.match(n) for n in names)
    assert len(set(names)) == len(names)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    from workloads import WORKLOADS

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
