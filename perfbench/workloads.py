"""The benchmark's workloads. Each sets up, runs a closed loop for a fixed
time (or, traced, a fixed number of cycles), and checks its outputs against
an engine-independent model. Both report a WRITE latency (applying a
change) and a READ latency (answering a query).

* ``sync_sql`` — the Stripe mirror as a deployment runs it, through the
  HTTP front door of one engine with an in-memory Stripe attached.
  Set-up: ``POST /sync`` backfills a generated account (one request per
  entity, all concurrent), then ``create_views()``.
  Each cycle: one signed single-event ``POST /webhooks`` for each of
  charges, customers and invoices (the stream has stale replays,
  duplicates, soft and hard deletes), then
  a point lookup of each written object through its ``stripe_*`` view
  (read-your-writes), then one of five SQL templates. Checked: every query
  equals DuckDB over the oracle's state, and at the end every entity table
  equals the last-write-wins oracle, ``deleted`` flags and
  ``last_synced_at`` included.
* ``corpus_cdc`` — the change-feed consumer. Each cycle commits ~20
  updates, 20 inserts and 10 deletes to a corpus table (not timed), times
  one ``maintain_corpus_indexes`` call (the write) over the exact-dedup
  gate, BM25 postings and IVF-PQ, then times one BM25 and one IVF-PQ top-k
  (the reads). Checked: each window's report, the index audit, and BM25 /
  IVF-PQ top-k equal to indexes built fresh from the final table.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import re
import statistics
import threading
import time
from collections import deque
from dataclasses import dataclass, field

import generator as gen
import oracle as orc

#: buckets per table: few, as a store of this size would be configured
N_BUCKETS = 4
API_KEY = "perfbench-api-key"
SECRET = "whsec_perfbench"
SYNC_ENTITIES = ("products", "prices", "customers", "subscriptions", "invoices", "charges")
#: backfill chains, run concurrently. With related-entity backfill off no
#: entity's sync reads another's table, so every entity is its own chain.
BACKFILL_CHAINS = tuple((e,) for e in SYNC_ENTITIES)
#: A timed cycle writes one delivery of each of these tables: the same
#: table mix every cycle and seed, so the write median is comparable.
#: The warm-up write is the first delivery for one of the other tables.
WRITE_GROUPS = (("charges",), ("customers",), ("invoices",))
OTHER_GROUP = ("subscriptions", "products", "prices")
#: cycles per phase of a traced run: a fixed count, so its job and py4j
#: counts repeat exactly for a seed
TRACE_CYCLES = {"sync_sql": 1, "corpus_cdc": 1}


@dataclass
class Outcome:
    """What a workload's timed phase produced."""

    writes_s: list[float] = field(default_factory=list)
    reads_s: list[float] = field(default_factory=list)
    busy_s: float = 0.0  # wall time operations were in flight
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    store_bytes: int = 0
    live_bytes: int = 1
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(msg)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0 if xs else float("nan")


# -- sync_sql ------------------------------------------------------------------

class Client:
    """One HTTP/1.0 connection per request, as the stdlib server speaks."""

    def __init__(self, port: int) -> None:
        self.port = port

    def post(self, path: str, body: bytes, headers: dict[str, str]) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request("POST", path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def webhook(self, d: gen.Delivery, op: str) -> int:
        from stripe_sync_engine_spark.sources.webhook import sign_header

        headers = {"Stripe-Signature": sign_header(SECRET, int(time.time()), d.body),
                   "Content-Type": "application/json", "X-Perfbench-Op": op}
        return self.post("/webhooks", d.body.encode(), headers)[0]

    def sync(self, op: str, entity: str) -> tuple[int, dict]:
        headers = {"Authorization": API_KEY, "Content-Type": "application/json",
                   "X-Perfbench-Op": op}
        status, body = self.post("/sync", json.dumps({"object": entity}).encode(), headers)
        return status, (json.loads(body) if status == 200 else {})


def store_rows(store, table: str, columns: list[str]) -> dict[str, dict]:
    """The table's rows by id: ``columns`` that exist, ``deleted`` where the
    table has it, and ``last_synced_at`` as epoch seconds."""
    from pyspark.sql import functions as F

    df = store.read(table)
    if df is None:
        return {}
    cols = [c for c in columns if c in df.columns]
    if "deleted" in df.columns and "deleted" not in cols:
        cols.append("deleted")
    rows = df.select(*cols, F.col("last_synced_at").cast("double").alias("last_synced_at")).collect()
    return {r["id"]: r.asDict() for r in rows}


def entity_columns(acct: gen.Account) -> dict[str, list[str]]:
    out = {}
    for e, objs in acct.objects.items():
        cols: list[str] = []
        for o in objs:
            cols.extend(k for k in o if k not in cols)
        out[e] = cols
    return out


TEMPLATES = ("recent", "top_customers", "sub_status", "invoice_aging", "latest_charge")


class SyncSql:
    name = "sync_sql"
    n_customers = 40
    n_events = 800

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        acct = gen.make_account(ctx.seed, self.n_customers)
        # refunds and disputes stay out: each backfilled table costs a few
        # seconds of set-up in every run (see README "Time budget")
        self.acct = gen.Account({e: acct.objects[e] if e in SYNC_ENTITIES else []
                                 for e in gen.ENTITIES})
        self.events = gen.make_events(ctx.seed, self.acct, self.n_events)
        # One stream-ordered queue per group of entities. A cycle writes the
        # next delivery of every group, so each cycle (and each seed) times
        # the same mix of tables; per-object order is stream order, since
        # an object belongs to exactly one group.
        groups = WRITE_GROUPS + (OTHER_GROUP,)
        queues = [deque() for _ in groups]
        for i, d in enumerate(self.events):
            queues[next(g for g, es in enumerate(groups) if d.entity in es)].append(i)
        self.queues, self.other = queues[:-1], queues[-1]
        self.cols = entity_columns(self.acct)
        self.oracle = orc.Oracle()
        self.rng = random.Random(ctx.seed * 31 + 7)
        # one template per cycle, starting at a seed-dependent one, so a
        # set of seeds times every template
        self.first_template = ctx.seed % len(TEMPLATES)
        created = [c["created"] for c in self.acct.objects["charges"]]
        self.created_range = (min(created), max(created))
        self.n_queries = 0
        self.n_cycles = 0

    def setup(self) -> None:
        import duckdb

        from stripe_sync_engine_spark.api import serve
        from stripe_sync_engine_spark.sources.stripe_api import InMemoryStripeAPI
        from stripe_sync_engine_spark.storage import TableStore
        from stripe_sync_engine_spark.sync import StripeSparkSync, SyncConfig

        spark = self.ctx.spark
        self.api = InMemoryStripeAPI()
        for entity, objs in self.acct.objects.items():
            for o in objs:
                self.api.put(entity, o)
        # retention beyond the longest query, as a deployment that reads
        # while it writes must configure it (TableStore docstring)
        self.store = TableStore(spark, self.ctx.path("sync_wh"), n_buckets=N_BUCKETS,
                                vacuum_retain_s=600.0)
        # Related-entity backfill is off: the generated stream never refers
        # to a parent the store lacks, and its per-flush parent probes
        # would make the backfill alone outlast the run's time budget.
        self.engine = StripeSparkSync(spark, self.store, api=self.api, config=SyncConfig(
            webhook_secret=SECRET, backfill_related_entities=False))
        self.server = serve(self.engine, api_key=API_KEY, port=0)
        self.client = Client(self.server.server_address[1])
        t0 = time.time()
        self.backfill_objects = self.backfill()
        self.backfill_s = time.time() - t0
        self.sync_window = [t0 - 1.0, time.time() + 1.0]
        for e, objs in self.acct.objects.items():
            self.oracle.load(e, objs)
        self.engine.create_views()
        self.duck = duckdb.connect()
        self.dirty = set(gen.ENTITIES)
        # warm-up: one write, a point lookup and the first cycle's template;
        # the write is part of the oracle's history, so no throwaway store
        # is needed
        warm = Outcome()
        self.write(warm, self.other)
        self.query(warm, self.sql_for("point"))
        self.query(warm, self.sql_for(self.template(0)))  # the first cycle's
        if warm.failed:
            raise RuntimeError(f"warm-up failed: {warm.problems[:3]}")

    def backfill(self, op: str = "backfill") -> int:
        """``POST /sync`` per entity, the chains of BACKFILL_CHAINS running
        concurrently over one connection each. Returns objects synced."""
        results: list[tuple[str, int, dict]] = []

        def chain(entities: tuple[str, ...]) -> None:
            for e in entities:
                status, counts = self.client.sync(f"{op}:{e}", e)
                results.append((e, status, counts))

        threads = [threading.Thread(target=chain, args=(c,)) for c in BACKFILL_CHAINS]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        bad = [(e, st) for e, st, _ in results if st != 200]
        if bad or len(results) != len(SYNC_ENTITIES):
            raise RuntimeError(f"POST /sync failed: {bad or results}")
        return sum(c.get(e, 0) for e, _, c in results)

    # -- writes --
    def write(self, out: Outcome, queue: deque) -> gen.Delivery | None:
        """POST the next delivery of ``queue``; on 2xx the oracle applies it
        too."""
        if not queue:
            raise RuntimeError("sync_sql ran out of generated events")
        i = queue.popleft()
        d = self.events[i]
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            status = self.client.webhook(d, op=f"wh{i}")
        except OSError as e:
            status = f"{type(e).__name__}: {e}"
        lat = time.perf_counter() - t0
        out.busy_s += lat
        if status != 200:
            out.fail(f"webhook {d.object_id} returned {status}")
            return None
        out.writes_s.append(lat)
        self.oracle.apply(d.body)
        self.dirty.add(d.entity)
        if d.entity in ("products", "prices") and d.object_id not in self.oracle.live(d.entity):
            self.api.objects[d.entity].pop(d.object_id, None)  # gone upstream too
        return d

    # -- reads --
    def view_cols(self, entity: str) -> list[str]:
        cols = list(self.cols[entity])
        return cols + ["deleted"] if entity == "customers" else cols

    def sql_for(self, template: str, entity: str | None = None, oid: str | None = None) -> str:
        rng = self.rng
        if template == "point":
            if entity is None:
                entity = rng.choice(("charges", "customers", "invoices"))
                oid = rng.choice(self.acct.objects[entity])["id"]
            return f"SELECT {', '.join(self.view_cols(entity))} FROM stripe_{entity} WHERE id = '{oid}'"
        if template == "recent":
            t = rng.randint(*self.created_range)
            return f"SELECT count(*) AS n, sum(amount) AS total FROM stripe_charges WHERE created >= {t}"
        if template == "top_customers":
            return ("SELECT c.id, c.email, sum(ch.amount) AS revenue FROM stripe_charges ch "
                    "JOIN stripe_customers c ON ch.customer = c.id WHERE ch.status = 'succeeded' "
                    "GROUP BY c.id, c.email ORDER BY revenue DESC, c.id LIMIT 10")
        if template == "sub_status":
            return "SELECT status, count(*) AS n FROM stripe_subscriptions GROUP BY status ORDER BY status"
        if template == "invoice_aging":
            a, b = sorted(rng.sample([o["created"] for o in self.acct.objects["invoices"]], 2))
            return (f"SELECT CASE WHEN created >= {b} THEN 'recent' WHEN created >= {a} THEN 'middle' "
                    "ELSE 'old' END AS age, count(*) AS n, sum(amount_due) AS due "
                    "FROM stripe_invoices WHERE status = 'open' GROUP BY 1 ORDER BY 1")
        if template == "latest_charge":
            return ("SELECT customer, id, amount FROM (SELECT customer, id, amount, row_number() "
                    "OVER (PARTITION BY customer ORDER BY created DESC, id DESC) AS rn "
                    "FROM stripe_charges) t WHERE rn = 1 ORDER BY customer LIMIT 25")
        raise ValueError(template)

    def expected(self, sql: str) -> list[tuple]:
        """DuckDB's answer over the oracle's current state."""
        import pandas as pd

        for e in self.dirty:
            cols = self.view_cols(e)
            if not cols:
                continue  # no such objects in this account: never queried
            recs = [{**{c: r.fields.get(c) for c in cols}, **({"deleted": r.deleted} if e == "customers" else {})}
                    for r in self.oracle.live(e).values()]
            df = pd.DataFrame.from_records(recs, columns=cols)
            for c in cols:
                vals = [v for v in df[c] if v is not None]
                if vals and all(isinstance(v, bool) for v in vals):
                    df[c] = df[c].astype("boolean")
                elif vals and all(isinstance(v, int) for v in vals):
                    df[c] = df[c].astype("Int64")
                else:
                    df[c] = df[c].astype("object")
            self.duck.register(f"stripe_{e}", df)
        self.dirty.clear()
        return [tuple(r) for r in self.duck.execute(sql).fetchall()]

    def query(self, out: Outcome, sql: str) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        op = f"q{self.n_queries}"
        self.n_queries += 1
        out.attempted += 1
        t1 = time.perf_counter()
        self.register_views(sql)
        t0 = time.perf_counter()
        out.busy_s += t0 - t1
        try:
            if tracer is not None:
                with tracer.span("analytics.plan", op):
                    df = spark.sql(sql)
                with tracer.span("analytics.execute", op):
                    rows = df.collect()
            else:
                rows = spark.sql(sql).collect()
        except Exception as e:  # noqa: BLE001 — a failed query is a counted failure
            out.fail(f"{sql[:60]}: {type(e).__name__}: {e}")
            return
        lat = time.perf_counter() - t0
        out.reads_s.append(lat)
        out.busy_s += lat
        got, want = [tuple(r) for r in rows], self.expected(sql)
        if got != want:
            out.fail(f"{sql[:80]}: spark {got[:3]} != duckdb {want[:3]}")

    # -- the loop --
    def template(self, cycle: int) -> str:
        return TEMPLATES[(self.first_template + cycle) % len(TEMPLATES)]

    def register_views(self, sql: str) -> None:
        """Re-register, the way ``create_views`` does, the ``stripe_*``
        views ``sql`` reads. A view keeps the manifest of the commit it was
        created after: queried after a later commit it reads replaced
        bucket versions and silently returns stale or missing rows (the
        read-your-writes gate fails within a few cycles without this)."""
        for table in SYNC_ENTITIES:
            if re.search(rf"\bstripe_{table}\b", sql):
                (self.ctx.spark.read.format("stripe_store").option("root", self.store.root)
                 .option("table", table).load().createOrReplaceTempView(f"stripe_{table}"))

    def cycle(self, out: Outcome) -> None:
        """One webhook POST per write group, then a point lookup of each
        written object (read-your-writes), then one template query."""
        written = [self.write(out, q) for q in self.queues]
        for d in written:
            if d is not None:
                self.query(out, self.sql_for("point", d.entity, d.object_id))
        self.query(out, self.sql_for(self.template(self.n_cycles)))
        self.n_cycles += 1

    def extra_traced_ops(self, out: Outcome) -> None:
        """Traced runs also re-run the backfill and the view registration,
        so those layers are measured too."""
        out.attempted += 1
        self.backfill("resync")
        self.sync_window[1] = time.time() + 1.0
        self.engine.create_views()

    def check(self, out: Outcome) -> None:
        for e in gen.ENTITIES:
            problems = orc.diff_table(self.oracle.live(e), store_rows(self.store, e, self.cols[e]),
                                      self.cols[e], tuple(self.sync_window))
            out.attempted += 1
            if problems:
                out.fail(f"{e}: {problems}", len(problems))
        out.store_bytes = du(self.ctx.path("sync_wh"))
        out.live_bytes = self.oracle.live_json_bytes()
        out.detail["backfill_objects_per_s"] = (self.backfill_objects / self.backfill_s, "obj/s")
        out.detail["webhook_p50_ms"] = (p50_ms(out.writes_s), "ms")
        out.detail["query_p50_ms"] = (p50_ms(out.reads_s), "ms")

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.duck.close()


# -- corpus_cdc ----------------------------------------------------------------

class CorpusCdc:
    name = "corpus_cdc"
    n_docs = 500
    n_windows = 40

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.live = gen.make_corpus(ctx.seed, self.n_docs)
        self.windows = gen.make_windows(ctx.seed, self.live, self.n_windows)
        self.rng = random.Random(ctx.seed * 17 + 1)
        self.k = 0
        self.rows = 0

    def setup(self) -> None:
        from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
        from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
        from stripe_sync_engine_spark.operators.pq_index import PersistedIVFPQ, train_ivf_pq
        from stripe_sync_engine_spark.storage import TableStore
        from stripe_sync_engine_spark.sync import StripeSparkSync

        spark = self.ctx.spark
        # the change feed diffs replaced versions: keep them for the run
        self.store = TableStore(spark, self.ctx.path("cdc_wh"), n_buckets=N_BUCKETS,
                                vacuum_retain_s=3600.0)
        self.engine = StripeSparkSync(spark, self.store)
        self.commit_source()
        self.ivf = train_ivf_pq(self.store.read("multidoc").withColumnRenamed("doc_id", "vec_id"),
                                n_cells=8, m=4, k=16)
        self.targets = dict(
            gates=[IncrementalDeduper(self.store, table="_md_fps")],
            postings=PersistedPostingsIndex(self.store, table="_md_postings",
                                            stats_table="_md_postings_stats",
                                            forward_table="_md_postings_docs"),
            ann=PersistedIVFPQ(self.store, self.ivf, table="_md_codes", id_col="doc_id",
                               forward_table="_md_fwd"),
        )
        self.engine.maintain_corpus_indexes("perfbench", "multidoc", **self.targets)  # birth
        warm = Outcome()
        self.cycle(warm)
  # warm-up: one full cycle, part of the corpus history
        if warm.failed:
            raise RuntimeError(f"warm-up failed: {warm.problems[:3]}")

    def commit_source(self) -> None:
        df = self.ctx.spark.createDataFrame(
            sorted(self.live.values()), "doc_id long, text string, embedding array<double>")
        self.store.write("multidoc", df, key="doc_id")

    def timed_read(self, out: Outcome, fn) -> None:
        out.attempted += 1
        t0 = time.perf_counter()
        fn()
        lat = time.perf_counter() - t0
        out.reads_s.append(lat)
        out.busy_s += lat

    def cycle(self, out: Outcome) -> None:
        if self.k >= len(self.windows):
            raise RuntimeError("corpus_cdc ran out of generated windows")
        w = self.windows[self.k]
        self.k += 1
        for d in w.deletes:
            del self.live[d]
        for doc in w.updates + w.inserts:
            self.live[doc[0]] = doc
        self.commit_source()
        out.attempted += 1
        t0 = time.perf_counter()
        rep = self.engine.maintain_corpus_indexes("perfbench", "multidoc", **self.targets)
        lat = time.perf_counter() - t0
        out.writes_s.append(lat)
        out.busy_s += lat
        self.rows += rep["rows"]
        want = len(w.updates) + len(w.inserts) + len(w.deletes)
        if not rep["applied"] or rep["rows"] != want:
            out.fail(f"window {self.k}: report {rep}, expected {want} rows")
        terms = [self.rng.choice(gen.VOCAB[:12]), self.rng.choice(gen.VOCAB)]
        vec = list(self.live[self.rng.choice(sorted(self.live))][2])
        self.timed_read(out, lambda: self.targets["postings"].topk(terms, k=10).collect())
        self.timed_read(out, lambda: self.targets["ann"].topk([(0, vec)], k=10, nprobe=4).collect())

    def extra_traced_ops(self, out: Outcome) -> None:
        pass

    def check(self, out: Outcome) -> None:
        from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
        from stripe_sync_engine_spark.operators.pq_index import PersistedIVFPQ

        out.store_bytes = du(self.ctx.path("cdc_wh"))
        out.live_bytes = sum(len(json.dumps(d)) for d in self.live.values())
        out.detail["cdc_window_p50_ms"] = (p50_ms(out.writes_s), "ms")
        out.detail["cdc_rows_per_s"] = (self.rows / max(sum(out.writes_s), 1e-9), "rows/s")
        out.attempted += 1
        audit = self.engine.audit_corpus_indexes("multidoc", **self.targets)
        if not audit.get("ok"):
            out.fail(f"audit_corpus_indexes not ok: {audit}")
        final = self.store.read("multidoc")
        fresh_p = PersistedPostingsIndex(self.store, table="_fresh_postings",
                                         stats_table="_fresh_postings_stats",
                                         forward_table="_fresh_postings_docs")
        fresh_p.register(final, "fresh:0")
        fresh_a = PersistedIVFPQ(self.store, self.ivf, table="_fresh_codes", id_col="doc_id",
                                 forward_table="_fresh_fwd")
        fresh_a.register(final, "fresh:0")
        rng = random.Random(self.ctx.seed)
        terms = [rng.choice(gen.VOCAB[:12]), rng.choice(gen.VOCAB), rng.choice(gen.VOCAB)]
        out.attempted += 1
        got, want = _bm25(self.targets["postings"], terms), _bm25(fresh_p, terms)
        if got != want:
            out.fail(f"bm25 {terms}: maintained {got[:3]} != fresh {want[:3]}")
        docs = sorted(self.live)
        queries = [(i, list(self.live[docs[rng.randrange(len(docs))]][2])) for i in range(3)]
        out.attempted += 1
        got, want = _ann(self.targets["ann"], queries), _ann(fresh_a, queries)
        if got != want:
            out.fail(f"ivf-pq topk: maintained {got[:3]} != fresh {want[:3]}")

    def close(self) -> None:
        pass


def _bm25(index, terms: list[str]) -> list[tuple]:
    rows = index.topk(terms, k=10).collect()
    return sorted((r["doc_id"], round(r["score"], 9)) for r in rows)


def _ann(index, queries) -> list[tuple]:
    rows = index.topk(queries, k=10, nprobe=4).collect()
    return sorted(tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows)


WORKLOADS = {w.name: w for w in (SyncSql, CorpusCdc)}
