"""Pure-Python last-write-wins model of the synced tables.

It mirrors the reference's sync semantics, independently of the engine:

* an upsert replaces the whole row when the row is absent or older
  (``last_synced_at < event.created``); a stale or duplicate delivery is a
  no-op;
* ``customer.deleted`` is a partial update of ``object``/``deleted`` under
  the same timestamp rule;
* ``product.deleted``/``price.deleted`` remove the row.

Backfilled rows carry ``ts=None``: the engine stamps them with the wall
clock at sync time, which is older than every generated event.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

UPSERT, PARTIAL_DELETE, HARD_DELETE = "upsert", "partial_delete", "hard_delete"

#: event type → (table, action) for every type the generator emits
ROUTES: dict[str, tuple[str, str]] = {
    "charge.updated": ("charges", UPSERT),
    "charge.succeeded": ("charges", UPSERT),
    "charge.failed": ("charges", UPSERT),
    "customer.created": ("customers", UPSERT),
    "customer.updated": ("customers", UPSERT),
    "customer.deleted": ("customers", PARTIAL_DELETE),
    "invoice.updated": ("invoices", UPSERT),
    "customer.subscription.updated": ("subscriptions", UPSERT),
    "charge.refund.updated": ("refunds", UPSERT),
    "charge.dispute.updated": ("disputes", UPSERT),
    "price.updated": ("prices", UPSERT),
    "price.deleted": ("prices", HARD_DELETE),
    "product.updated": ("products", UPSERT),
    "product.deleted": ("products", HARD_DELETE),
}


@dataclass
class Row:
    fields: dict
    ts: int | None  # event created (s); None = backfilled
    deleted: bool = False


class Oracle:
    def __init__(self) -> None:
        self.tables: dict[str, dict[str, Row]] = {}

    def load(self, table: str, objs: list[dict]) -> None:
        """Backfilled objects (no event timestamp)."""
        t = self.tables.setdefault(table, {})
        for o in objs:
            t[o["id"]] = Row(dict(o), None, bool(o.get("deleted", False)))

    def apply(self, body: str) -> bool:
        """Apply one delivery; returns whether it changed the state."""
        env = json.loads(body)
        table, action = ROUTES[env["type"]]
        obj, ts = env["data"]["object"], int(env["created"])
        t = self.tables.setdefault(table, {})
        cur = t.get(obj["id"])
        newer = cur is None or cur.ts is None or cur.ts < ts
        if action == HARD_DELETE:
            changed = t.pop(obj["id"], None) is not None
        elif not newer:
            changed = False
        elif action == UPSERT:
            t[obj["id"]] = Row(dict(obj), ts, bool(obj.get("deleted", False)))
            changed = True
        else:  # partial update: object/deleted only, the rest is kept
            kept = dict(cur.fields) if cur is not None else {"id": obj["id"]}
            kept["object"] = obj["object"]
            t[obj["id"]] = Row(kept, ts, True)
            changed = True
        return changed

    def live(self, table: str) -> dict[str, Row]:
        return self.tables.get(table, {})

    def live_json_bytes(self) -> int:
        """JSON bytes of every live object: the payload the tables mirror."""
        return sum(
            len(json.dumps(r.fields, sort_keys=True))
            for t in self.tables.values() for r in t.values()
        )


def diff_table(oracle_rows: dict[str, Row], store_rows: dict[str, dict],
               columns: list[str], sync_window: tuple[float, float],
               limit: int = 5) -> list[str]:
    """Differences between the oracle and the store's rows of one table.

    Compares the id sets, every column the generator emits, ``deleted``
    where the table has it, and ``last_synced_at`` (epoch seconds): the
    event's ``created`` for evented rows, inside ``sync_window`` for
    backfilled ones."""
    out: list[str] = []
    missing = sorted(set(oracle_rows) - set(store_rows))
    extra = sorted(set(store_rows) - set(oracle_rows))
    if missing:
        out.append(f"missing ids {missing[:limit]} (+{max(0, len(missing) - limit)})")
    if extra:
        out.append(f"unexpected ids {extra[:limit]} (+{max(0, len(extra) - limit)})")
    lo, hi = sync_window
    for oid in sorted(set(oracle_rows) & set(store_rows)):
        want, got = oracle_rows[oid], store_rows[oid]
        for c in columns:
            if c == "deleted" or c not in got:
                continue
            if want.fields.get(c) != got[c]:
                out.append(f"{oid}.{c}: want {want.fields.get(c)!r} got {got[c]!r}")
        if "deleted" in got and bool(got["deleted"]) != want.deleted:
            out.append(f"{oid}.deleted: want {want.deleted} got {got['deleted']}")
        synced = got.get("last_synced_at")
        if want.ts is not None:
            if synced != want.ts:
                out.append(f"{oid}.last_synced_at: want {want.ts} got {synced}")
        elif synced is None or not (lo <= synced <= hi):
            out.append(f"{oid}.last_synced_at: {synced} outside backfill window {sync_window}")
        if len(out) >= limit:
            break
    return out
