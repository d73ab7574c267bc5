"""Seeded inputs for the benchmark: a foreign-key-consistent Stripe account,
a webhook event stream over it, and a text+vector corpus with change
windows.

Everything derives from one ``random.Random(seed)``, and nothing reads the
clock, so the same seed yields byte-identical events.

Stream rules the oracle relies on:

* event ``created`` values grow strictly along the whole stream (hence per
  object), so the last-write-wins final state does not depend on the order
  in which deliveries for different objects interleave;
* a stale replay re-delivers an OLDER event of an object after a newer one;
  a duplicate re-delivers the object's latest event unchanged;
* ``customer.deleted`` carries only ``id``/``object``/``deleted`` (a partial
  update), and no later event touches that customer;
* ``product.deleted``/``price.deleted`` are hard deletes and the last event
  of their object. A product is deleted only if none of its prices is ever
  evented, so no event can make the engine re-fetch a deleted parent.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

#: Stripe ``created`` of the account's objects (2020-09).
OBJECT_EPOCH = 1_600_000_000
#: ``created`` of the first event (2033): above any wall-clock sync time the
#: backfill stamps, so every event is newer than the backfilled rows.
EVENT_EPOCH = 2_000_000_000

ENTITIES = (
    "products", "prices", "customers", "subscriptions",
    "invoices", "charges", "refunds", "disputes",
)

SUB_STATUSES = ("active", "trialing", "past_due", "canceled")
INVOICE_STATUSES = ("draft", "open", "paid", "void")


@dataclass
class Account:
    """Objects per entity, in creation order."""

    objects: dict[str, list[dict]] = field(default_factory=lambda: {e: [] for e in ENTITIES})


def _tag(seed: int) -> str:
    return f"{seed % 1000:03d}"


def make_account(seed: int, n_customers: int) -> Account:
    """products→prices, customers→subscriptions→invoices→charges→
    refunds/disputes; every foreign key points at an earlier object."""
    rng = random.Random(seed)
    tag = _tag(seed)
    acct = Account()
    o = acct.objects
    clock = iter(range(OBJECT_EPOCH, OBJECT_EPOCH + 10**8, 37))

    for i in range(max(2, n_customers // 20)):
        o["products"].append({
            "id": f"prod_{tag}{i:05d}", "object": "product", "active": True,
            "name": f"Plan {i}", "description": rng.choice(("basic", "pro", "team")),
            "created": next(clock), "livemode": False,
        })
    for p in o["products"]:
        for j in range(2):
            o["prices"].append({
                "id": f"price_{p['id'][5:]}{j}", "object": "price", "active": True,
                "product": p["id"], "currency": "usd",
                "unit_amount": rng.randrange(500, 20_000, 100),
                "type": "recurring" if j == 0 else "one_time",
                "created": next(clock), "livemode": False,
            })
    for i in range(n_customers):
        o["customers"].append({
            "id": f"cus_{tag}{i:05d}", "object": "customer", "name": f"Customer {i}",
            "email": f"c{i}@example.com", "balance": rng.randrange(0, 5000),
            "currency": "usd", "delinquent": False, "created": next(clock),
            "livemode": False,
        })
    # Per-entity counts depend only on n_customers, never on the seed, so
    # every seed builds a store of the same shape.
    for i, c in enumerate(o["customers"]):
        if i % 10 < 7:
            o["subscriptions"].append({
                "id": f"sub_{c['id'][4:]}", "object": "subscription", "customer": c["id"],
                "status": SUB_STATUSES[i % len(SUB_STATUSES)], "cancel_at_period_end": False,
                "created": next(clock), "livemode": False,
            })
    for i, s in enumerate(o["subscriptions"]):
        for j in range(1 + i % 2):
            total = rng.randrange(1000, 50_000, 100)
            status = INVOICE_STATUSES[(i + j) % len(INVOICE_STATUSES)]
            o["invoices"].append({
                "id": f"in_{s['id'][4:]}{j}", "object": "invoice", "customer": s["customer"],
                "subscription": s["id"], "status": status, "total": total,
                "amount_due": total, "amount_paid": total if status == "paid" else 0,
                "currency": "usd", "created": next(clock), "livemode": False,
            })
    for inv in o["invoices"]:
        if inv["status"] != "draft":
            o["charges"].append(_charge(rng, f"ch_{inv['id'][3:]}", inv["customer"], inv["id"], next(clock)))
    for i, ch in enumerate(list(o["charges"])):
        if i % 10 == 3:
            o["refunds"].append({
                "id": f"re_{ch['id'][3:]}", "object": "refund", "charge": ch["id"],
                "amount": ch["amount"] // 2, "currency": "usd", "status": "succeeded",
                "created": next(clock),
            })
        elif i % 25 == 7:
            o["disputes"].append({
                "id": f"dp_{ch['id'][3:]}", "object": "dispute", "charge": ch["id"],
                "amount": ch["amount"], "currency": "usd", "status": "needs_response",
                "reason": "fraudulent", "created": next(clock), "livemode": False,
            })
    return acct


def _charge(rng: random.Random, cid: str, customer: str, invoice: str | None, created: int) -> dict:
    ok = rng.random() < 0.85
    return {
        "id": cid, "object": "charge", "customer": customer, "invoice": invoice,
        "amount": rng.randrange(500, 50_000, 50), "currency": "usd",
        "status": "succeeded" if ok else "failed", "paid": ok, "captured": ok,
        "refunded": False, "created": created, "livemode": False,
    }


@dataclass(frozen=True)
class Delivery:
    """One webhook delivery: the object it is about and the raw body."""

    entity: str
    object_id: str
    body: str


# (event type, entity) choices for updates, with weights
_UPDATE_MIX = (
    ("charge.updated", "charges", 24),
    ("customer.updated", "customers", 18),
    ("invoice.updated", "invoices", 16),
    ("customer.subscription.updated", "subscriptions", 12),
    ("charge.refund.updated", "refunds", 4),
    ("charge.dispute.updated", "disputes", 3),
    ("price.updated", "prices", 3),
    ("product.updated", "products", 2),
)


def make_events(seed: int, acct: Account, n_events: int) -> list[Delivery]:
    """``n_events`` deliveries over ``acct``: ~75% fresh updates/creates,
    ~10% stale replays, ~5% duplicates, the rest customer soft deletes and
    product/price hard deletes (plus new charges/customers)."""
    rng = random.Random(seed * 7919 + 1)
    tag = _tag(seed)
    live = {e: {x["id"]: dict(x) for x in acct.objects[e]} for e in ENTITIES}
    history: dict[str, list[Delivery]] = {}  # object id → its deliveries
    frozen: set[str] = set()   # objects that may receive no more events
    pinned: set[str] = set()   # products whose prices were evented
    out: list[Delivery] = []
    seq = 0
    new_charges = 0
    new_customers = 0

    def emit(etype: str, entity: str, obj: dict) -> None:
        nonlocal seq
        body = json.dumps({
            "id": f"evt_{tag}{seq:07d}", "object": "event", "api_version": "2020-08-27",
            "created": EVENT_EPOCH + seq, "data": {"object": obj}, "livemode": False,
            "pending_webhooks": 1, "request": None, "type": etype,
        }, sort_keys=True)
        seq += 1
        d = Delivery(entity, obj["id"], body)
        history.setdefault(obj["id"], []).append(d)
        out.append(d)

    weights = [w for _, _, w in _UPDATE_MIX]
    while len(out) < n_events:
        r = rng.random()
        redeliverable = [k for k, h in history.items() if k not in frozen]
        if r < 0.10 and redeliverable:
            oid = rng.choice(sorted(redeliverable))
            h = history[oid]
            if len(h) >= 2:  # an older event after a newer one
                out.append(h[rng.randrange(len(h) - 1)])
            continue
        if r < 0.15 and redeliverable:
            out.append(history[rng.choice(sorted(redeliverable))][-1])
            continue
        if r < 0.17:
            cands = sorted(k for k in live["customers"] if k not in frozen)
            if cands:
                cid = rng.choice(cands)
                emit("customer.deleted", "customers", {"id": cid, "object": "customer", "deleted": True})
                frozen.add(cid)
            continue
        if r < 0.18:
            prods = sorted(k for k in live["products"] if k not in frozen and k not in pinned)
            if len(prods) > 1:
                pid = rng.choice(prods)
                for pr in sorted(k for k, v in live["prices"].items() if v["product"] == pid):
                    frozen.add(pr)  # its prices never get an event from here on
                emit("product.deleted", "products", {"id": pid, "object": "product", "deleted": True})
                frozen.add(pid)
                del live["products"][pid]
            continue
        if r < 0.19:
            prices = sorted(k for k in live["prices"] if k not in frozen)
            if len(prices) > 1:
                pid = rng.choice(prices)
                emit("price.deleted", "prices", {"id": pid, "object": "price", "deleted": True})
                frozen.add(pid)
                del live["prices"][pid]
            continue
        if r < 0.22:
            custs = sorted(x["id"] for x in acct.objects["customers"])
            ch = _charge(rng, f"ch_{tag}n{new_charges:05d}", rng.choice(custs), None,
                         OBJECT_EPOCH + 10**7 + new_charges)
            new_charges += 1
            live["charges"][ch["id"]] = ch
            emit("charge.succeeded" if ch["paid"] else "charge.failed", "charges", ch)
            continue
        if r < 0.24:
            cid = f"cus_{tag}n{new_customers:05d}"
            c = {"id": cid, "object": "customer", "name": f"New {new_customers}",
                 "email": f"n{new_customers}@example.com", "balance": 0, "currency": "usd",
                 "delinquent": False, "created": OBJECT_EPOCH + 10**7 + new_customers,
                 "livemode": False}
            new_customers += 1
            live["customers"][cid] = c
            emit("customer.created", "customers", c)
            continue
        etype, entity, _ = rng.choices(_UPDATE_MIX, weights)[0]
        cands = sorted(k for k in live[entity] if k not in frozen)
        if not cands:
            continue
        oid = rng.choice(cands)
        obj = dict(live[entity][oid])
        _mutate(rng, entity, obj)
        live[entity][oid] = obj
        if entity == "prices":
            pinned.add(obj["product"])
        emit(etype, entity, obj)
    return out


def _mutate(rng: random.Random, entity: str, obj: dict) -> None:
    if entity == "charges":
        obj["amount"] = rng.randrange(500, 50_000, 50)
        obj["status"] = rng.choice(("succeeded", "succeeded", "failed"))
        obj["paid"] = obj["status"] == "succeeded"
    elif entity == "customers":
        obj["balance"] = rng.randrange(0, 5000)
        obj["delinquent"] = rng.random() < 0.2
    elif entity == "invoices":
        obj["status"] = rng.choice(INVOICE_STATUSES)
        obj["amount_paid"] = obj["total"] if obj["status"] == "paid" else 0
    elif entity == "subscriptions":
        obj["status"] = rng.choice(SUB_STATUSES)
        obj["cancel_at_period_end"] = rng.random() < 0.3
    elif entity in ("refunds", "disputes"):
        obj["status"] = rng.choice(("succeeded", "pending") if entity == "refunds"
                                   else ("needs_response", "under_review", "won", "lost"))
    elif entity == "prices":
        obj["unit_amount"] = rng.randrange(500, 20_000, 100)
    elif entity == "products":
        obj["name"] = f"{obj['name'].split(' v')[0]} v{rng.randrange(100)}"


# -- corpus ---------------------------------------------------------------

VOCAB = tuple(f"{a}{b}" for a in ("spark", "sync", "query", "index", "merge", "event",
                                   "table", "vector", "bucket", "stream")
              for b in ("", "s", "er", "ing", "ed", "ly", "ion", "al"))
DIM = 16


def _doc(rng: random.Random, doc_id: int) -> tuple[int, str, list[float]]:
    n = rng.randint(12, 40)
    # Zipf-ish term choice: low ranks dominate, like natural text
    words = [VOCAB[min(int(rng.paretovariate(1.2)) - 1, len(VOCAB) - 1)] for _ in range(n)]
    vec = [round(rng.gauss(0.0, 1.0), 6) for _ in range(DIM)]
    return doc_id, " ".join(words), vec


def make_corpus(seed: int, n_docs: int) -> dict[int, tuple[int, str, list[float]]]:
    rng = random.Random(seed * 104729 + 3)
    return {i: _doc(rng, i) for i in range(n_docs)}


@dataclass(frozen=True)
class Window:
    """One source commit's worth of changes to the corpus table."""

    updates: tuple[tuple[int, str, list[float]], ...]
    inserts: tuple[tuple[int, str, list[float]], ...]
    deletes: tuple[int, ...]


def make_windows(seed: int, corpus: dict, n_windows: int, n_upd: int = 20,
                 n_ins: int = 20, n_del: int = 10) -> list[Window]:
    """Change windows over ``corpus`` (which they do not modify)."""
    rng = random.Random(seed * 15485863 + 5)
    ids = set(corpus)
    next_id = max(ids) + 1
    out = []
    for _ in range(n_windows):
        pool = sorted(ids)
        picked = rng.sample(pool, n_upd + n_del)
        dels = tuple(sorted(picked[n_upd:]))
        upds = tuple(_doc(rng, i) for i in sorted(picked[:n_upd]))
        ins = tuple(_doc(rng, next_id + k) for k in range(n_ins))
        next_id += n_ins
        ids.difference_update(dels)
        ids.update(d[0] for d in ins)
        out.append(Window(upds, ins, dels))
    return out
