"""Property-based checks (hypothesis) of the merge engine's declared
semantics: the set-oriented, batch-at-a-time merge must converge to the
same table state regardless of how an event stream is split into batches,
ordered within batches, or replayed — the invariant that makes unordered
at-least-once webhook delivery safe (SURVEY T1/T2).

Spec under test (operators/merge.py):
* within a batch: per-key argmax of (ts, tiebreak) wins;
* across batches: a row only updates when strictly newer
  (``last_synced_at IS NULL OR < incoming``) — the reference's ON
  CONFLICT condition (database/postgres.ts:178-179), so with unique ts
  per key, ANY batching of the same events yields the per-key max-ts row.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stripe_sync_engine_spark.operators.merge import merge_upsert

KEYS = ["a", "b", "c"]


def _events_strategy():
    # (key, ts_seconds, value, event_seq); ts unique across the stream so
    # batch-split invariance holds exactly (ties are resolved by batch
    # boundaries by design — the reference's strict < does the same)
    return st.lists(
        st.tuples(
            st.sampled_from(KEYS),
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[1],
    )


def _expected_final(events):
    """Sequential/argmax model: per key, the max-ts event wins."""
    best: dict[str, tuple[int, int]] = {}
    for key, ts, val in events:
        if key not in best or ts > best[key][0]:
            best[key] = (ts, val)
    return {k: (ts, v) for k, (ts, v) in best.items()}


def _df(spark, rows):
    return spark.createDataFrame(
        [
            (k, v, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts))
            for (k, ts, v) in rows
        ],
        "id string, value long, last_synced_at timestamp",
    )


def _apply_batches(spark, batches):
    target = None
    for batch in batches:
        if not batch:
            continue
        target = merge_upsert(target, _df(spark, batch), key="id", ts_col="last_synced_at")
    return target


def _state(df):
    if df is None:
        return {}
    return {
        r["id"]: (int((r["last_synced_at"] - dt.datetime(2024, 1, 1)).total_seconds()), r["value"])
        for r in df.collect()
    }


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_events_strategy(), split=st.integers(min_value=0, max_value=11), seed=st.randoms())
def test_batch_split_and_order_invariance(spark, events, split, seed):
    """Any split point, any intra-batch order, optionally reversed batch
    order → same final state as the per-key argmax model."""
    cut = min(split, len(events))
    b1, b2 = list(events[:cut]), list(events[cut:])
    seed.shuffle(b1)
    seed.shuffle(b2)
    batches = [b1, b2] if seed.random() < 0.5 else [b2, b1]
    final = _state(_apply_batches(spark, batches))
    assert final == _expected_final(events)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_events_strategy())
def test_replay_idempotent(spark, events):
    once = _state(_apply_batches(spark, [events]))
    twice = _state(_apply_batches(spark, [events, events]))
    assert once == twice == _expected_final(events)


# ---------------------------------------------------------------------------
# merge_upsert_clustered: the single-shuffle (union + bucket-clustered
# argmax) formulation must agree with the join-based merge_upsert for ANY
# target/source, including duplicate source keys, equal timestamps (target
# must win), NULL timestamps on either side, and tiebreak ordering.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as _F  # noqa: E402

from stripe_sync_engine_spark.operators.merge import (  # noqa: E402
    collect_arrow,
    merge_upsert_arrow,
    merge_upsert_clustered,
)

def _cluster():
    # built lazily — Column construction needs an active SparkContext
    return _F.pmod(_F.xxhash64(_F.col("id").cast("string")), _F.lit(4)).cast("int")

_ts_or_null = st.one_of(st.none(), st.integers(min_value=0, max_value=5))


def _merge_rows(spark, rows, with_tiebreak, with_note=False):
    """rows: (key, ts|None, value[, note][, seq])."""
    base = dt.datetime(2024, 1, 1)
    data = []
    for k, ts, v, *rest in rows:
        row = [k, v]
        if with_note:
            row.append(f"n{rest.pop(0)}")
        row.append(base + dt.timedelta(seconds=ts) if ts is not None else None)
        if with_tiebreak:
            row.append(f"evt_{rest.pop(0):03d}")
        data.append(tuple(row))
    schema = (
        "id string, value long, "
        + ("note string, " if with_note else "")
        + "last_synced_at timestamp"
        + (", _event_id string" if with_tiebreak else "")
    )
    return spark.createDataFrame(data, schema)


def _kernel_merge(spark, target, sdf, with_note=False, **kw):
    """``merge_upsert_arrow`` over the same rows, back as a DataFrame (an
    empty target table stands in for ``target=None``: the kernel always
    merges into bucket contents)."""
    tgt = collect_arrow(_merge_rows(spark, target, False, with_note=with_note))
    return spark.createDataFrame(merge_upsert_arrow(tgt, collect_arrow(sdf), **kw))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=st.lists(
        st.tuples(st.sampled_from(KEYS), _ts_or_null, st.integers(0, 99), st.integers(0, 9)),
        max_size=3,
        unique_by=lambda t: t[0],
    ),
    source=st.lists(
        st.tuples(st.sampled_from(KEYS), _ts_or_null, st.integers(0, 99), st.integers(0, 9)),
        min_size=1,
        max_size=8,
    ),
    update_cols=st.one_of(st.none(), st.lists(st.sampled_from(["value", "note"]), unique=True)),
)
def test_clustered_merge_equals_join_merge(spark, target, source, update_cols):
    """Full-row (``update_cols=None``) and partial merges: ``note`` is a
    non-key, non-ts column, so a partial update that leaves it out must
    keep the target's value on a matched row. Both placements — the Spark
    ``merge_upsert_clustered`` and the driver kernel ``merge_upsert_arrow``
    — must equal the join-based reference."""
    tdf = _merge_rows(spark, target, False, with_note=True) if target else None
    src = [(k, ts, v, n, i) for i, (k, ts, v, n) in enumerate(source)]
    sdf = _merge_rows(spark, src, True, with_note=True)
    kw = dict(key="id", ts_col="last_synced_at", tiebreak_cols=["_event_id"], update_cols=update_cols)
    want = merge_upsert(tdf, sdf, **kw).drop("_event_id")
    got = merge_upsert_clustered(tdf, sdf, _cluster(), **kw).drop("_event_id")
    kernel = _kernel_merge(spark, target, sdf, with_note=True, **kw)
    cols = ["id", "value", "note", "last_synced_at"]
    expected = sorted(map(tuple, want.select(cols).collect()))
    assert sorted(map(tuple, got.select(cols).collect())) == expected
    assert sorted(map(tuple, kernel.select(cols).collect())) == expected


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=st.lists(
        st.tuples(st.sampled_from(KEYS), _ts_or_null, st.integers(0, 99)),
        max_size=3,
        unique_by=lambda t: t[0],
    ),
    source=st.lists(
        st.tuples(st.sampled_from(KEYS), _ts_or_null, st.integers(0, 99)),
        min_size=1,
        max_size=6,
    ),
)
def test_clustered_merge_no_ts_tiebreak_only(spark, target, source):
    """ts_col=None + tiebreaks: source always beats target, last event wins."""
    tdf = _merge_rows(spark, target, False) if target else None
    src = [(k, ts, v, i) for i, (k, ts, v) in enumerate(source)]
    sdf = _merge_rows(spark, src, True)
    want = merge_upsert(tdf, sdf, key="id", ts_col=None, tiebreak_cols=["_event_id"]).drop(
        "_event_id"
    )
    got = merge_upsert_clustered(
        tdf, sdf, _cluster(), key="id", ts_col=None, tiebreak_cols=["_event_id"]
    ).drop("_event_id")
    kernel = _kernel_merge(
        spark, target, sdf, key="id", ts_col=None, tiebreak_cols=["_event_id"]
    )
    cols = ["id", "value", "last_synced_at"]
    expected = sorted(map(tuple, want.select(cols).collect()))
    assert sorted(map(tuple, got.select(cols).collect())) == expected
    assert sorted(map(tuple, kernel.select(cols).collect())) == expected


# ---------------------------------------------------------------------------
# Skew operators: the salted physical shape must be semantically invisible
# for ANY input, including duplicate keys on both sides, unmatched keys,
# and a degenerate n_salt of 1.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from stripe_sync_engine_spark.operators.skew import (  # noqa: E402
    salted_join,
    two_level_count_distinct,
)


def _pairs_strategy(max_key: int = 4):
    return st.lists(
        st.tuples(st.integers(min_value=0, max_value=max_key), st.integers(min_value=0, max_value=9)),
        min_size=0,
        max_size=10,
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_pairs_strategy(), right=_pairs_strategy(), n_salt=st.sampled_from([1, 3, 8]), how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]))
def test_salted_join_equals_plain_join(spark, left, right, n_salt, how):
    ldf = spark.createDataFrame(left or [(99, 0)], "k int, line int")
    rdf = spark.createDataFrame(right or [(98, 0)], "k int, v int")
    got = salted_join(ldf, rdf, "k", salt_on=F.col("line"), n_salt=n_salt, how=how)
    want = ldf.join(rdf, "k", how)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_pairs_strategy(max_key=2))
def test_two_level_count_distinct_exact(spark, rows):
    df = spark.createDataFrame(rows or [(0, 0)], "k int, u int")
    got = {r["k"]: r["n"] for r in two_level_count_distinct(df, "k", "u", alias="n").collect()}
    want: dict[int, set[int]] = {}
    for k, u in rows or [(0, 0)]:
        want.setdefault(k, set()).add(u)
    assert got == {k: len(s) for k, s in want.items()}


# ---------------------------------------------------------------------------
# replace_set (S11): per-partition set replacement, including the explicit
# `touched` override used by revoke-all entitlement summaries
# ---------------------------------------------------------------------------

_rs_rows = st.lists(
    st.tuples(st.sampled_from(["p", "q", "r"]), st.integers(min_value=0, max_value=9)),
    min_size=0,
    max_size=8,
    unique_by=lambda t: t,
)


@given(target=_rs_rows, source=_rs_rows, extra_touched=st.lists(st.sampled_from(["p", "q", "r"]), max_size=3))
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_replace_set_model(spark, target, source, extra_touched):
    """Model: for every partition in touched (source partitions plus the
    explicit extras), the result holds exactly the source's rows; every
    other target row survives untouched."""
    from stripe_sync_engine_spark.operators.merge import replace_set

    tdf = spark.createDataFrame(
        [(f"{p}_{v}", p, v) for p, v in target], "id string, part string, v int"
    )
    sdf = spark.createDataFrame(
        [(f"{p}_{v}", p, v) for p, v in source], "id string, part string, v int"
    )
    touched_parts = sorted({p for p, _ in source} | set(extra_touched))
    touched_df = spark.createDataFrame([(p,) for p in touched_parts], "part string")
    got = sorted(
        (r["id"], r["part"], r["v"])
        for r in replace_set(tdf, sdf, partition_key="part", touched=touched_df).collect()
    )
    want = sorted(
        {(f"{p}_{v}", p, v) for p, v in target if p not in touched_parts}
        | {(f"{p}_{v}", p, v) for p, v in source}
    )
    # sorted LISTS, not sets: a duplicated output row must fail
    assert got == want


# Contract documentation test (operators/merge.py): merge_upsert_clustered
# requires one key ↔ one cluster value. With a CONSISTENT cluster column the
# clustered form equals the join-based merge; with an inconsistent one (a
# violation of the declared invariant — impossible for the engine's
# immutable FK bucket keys) keys duplicate, which is why mutable columns
# must never be declared as bucket keys.
def test_clustered_merge_cluster_consistency_contract(spark):
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.operators.merge import merge_upsert, merge_upsert_clustered

    tgt = spark.createDataFrame(
        [("si_1", "sub_a", 1.0), ("si_2", "sub_b", 1.0)], "id string, parent string, ts double"
    )
    cluster = F.pmod(F.xxhash64(F.col("parent")), F.lit(8))
    # consistent parent: clustered == join-based
    src_ok = spark.createDataFrame([("si_1", "sub_a", 2.0)], "id string, parent string, ts double")
    got = {
        (r["id"], r["ts"])
        for r in merge_upsert_clustered(tgt, src_ok, cluster, key="id", ts_col="ts").collect()
    }
    want = {
        (r["id"], r["ts"])
        for r in merge_upsert(tgt, src_ok, key="id", ts_col="ts").collect()
    }
    assert got == want == {("si_1", 2.0), ("si_2", 1.0)}
    # violated invariant: same id, different parent → duplicate id survives
    src_bad = spark.createDataFrame([("si_1", "sub_zz", 2.0)], "id string, parent string, ts double")
    rows = merge_upsert_clustered(tgt, src_bad, cluster, key="id", ts_col="ts").collect()
    assert sorted(r["id"] for r in rows) == ["si_1", "si_1", "si_2"]

# r16: num_partitions pins the clustered merge's ONE exchange to an explicit
# count (one task per touched bucket at the write) — purely physical. The
# merged ROWS must be identical to the default, and the plan must still have
# exactly one Exchange (the explicit repartition satisfies the window's
# clustered distribution, so Catalyst adds no second one).
def test_clustered_merge_num_partitions_physical_only(spark):
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.operators.merge import merge_upsert_clustered

    tgt = spark.createDataFrame(
        [(f"k{i}", float(i % 3), i) for i in range(40)], "id string, ts double, v long"
    )
    src = spark.createDataFrame(
        [(f"k{i}", float(i % 4), i + 100) for i in range(0, 60, 2)],
        "id string, ts double, v long",
    )
    cluster = F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8)).cast("int")
    base = merge_upsert_clustered(tgt, src, cluster, key="id", ts_col="ts")
    pinned = merge_upsert_clustered(
        tgt, src, cluster, key="id", ts_col="ts", num_partitions=8
    )
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, base.collect()))
    # the AQE plan string prints the final AND the initial plan — count
    # exchanges in the final section only
    plan = (
        pinned._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert plan.count("Exchange") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan  # AQE must not coalesce it
    assert pinned.rdd.getNumPartitions() == 8
