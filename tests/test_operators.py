"""Unit tests for standalone operators (range join)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stripe_sync_engine_spark.operators.range_join import interval_range_join


def _ts(s: float):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_range_join_bounds(spark):
    """Window is (left+lower, left+upper]: lower exclusive, upper inclusive."""
    left = spark.createDataFrame([(1, _ts(0))], "lid int, lt timestamp")
    right = spark.createDataFrame(
        [(10, _ts(0)), (11, _ts(0.000001)), (12, _ts(600)), (13, _ts(600.000001))],
        "rid int, rt timestamp",
    )
    out = interval_range_join(left, right, "lt", "rt", lower_s=0, upper_s=600)
    assert sorted(r["rid"] for r in out.collect()) == [11, 12]


def test_range_join_bucket_spanning(spark):
    """Matches are found across bucket boundaries and never duplicated."""
    left = spark.createDataFrame([(1, _ts(599))], "lid int, lt timestamp")
    # 1199 is inside (599, 1199]; bucket(599..1199) spans buckets 0 and 1
    right = spark.createDataFrame(
        [(20, _ts(600)), (21, _ts(1199)), (22, _ts(1200))], "rid int, rt timestamp"
    )
    out = interval_range_join(left, right, "lt", "rt", lower_s=0, upper_s=600).collect()
    assert sorted(r["rid"] for r in out) == [20, 21]
    assert len(out) == 2  # exactly-once per qualifying pair


def test_range_join_equi_keys(spark):
    left = spark.createDataFrame([(1, "u1", _ts(0)), (2, "u2", _ts(0))], "lid int, lu string, lt timestamp")
    right = spark.createDataFrame([(30, "u1", _ts(5))], "rid int, ru string, rt timestamp")
    out = interval_range_join(
        left, right, "lt", "rt", lower_s=0, upper_s=600, equi_keys=[("lu", "ru")]
    ).collect()
    assert [(r["lid"], r["rid"]) for r in out] == [(1, 30)]


def test_range_join_negative_window(spark):
    """A look-back window (lower < upper <= 0) works the same way."""
    left = spark.createDataFrame([(1, _ts(100))], "lid int, lt timestamp")
    right = spark.createDataFrame(
        [(40, _ts(40)), (41, _ts(99)), (42, _ts(100))], "rid int, rt timestamp"
    )
    out = interval_range_join(left, right, "lt", "rt", lower_s=-60, upper_s=0).collect()
    # window is (40, 100]: ts=40 sits exactly on the exclusive lower bound
    assert sorted(r["rid"] for r in out) == [41, 42]


# ---------------------------------------------------------------------------
# Skew operators (operators/skew.py)
# ---------------------------------------------------------------------------

from stripe_sync_engine_spark.operators.skew import salted_join, two_level_count_distinct  # noqa: E402


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_matches_plain_inner(spark):
    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "a", "b") for i in range(5 if k == "hot" else 1)],
        "k string, line int",
    )
    right = spark.createDataFrame([("hot", 1), ("a", 2), ("c", 3)], "k string, v int")
    got = salted_join(left, right, "k", salt_on=F.col("line"), n_salt=4)
    want = left.join(right, "k")
    assert _rows(got) == _rows(want)


def test_salted_join_left_keeps_unmatched_once(spark):
    left = spark.createDataFrame([("a", 1), ("zzz", 2), ("zzz", 3)], "k string, line int")
    right = spark.createDataFrame([("a", 10)], "k string, v int")
    got = salted_join(left, right, "k", salt_on=F.col("line"), n_salt=8, how="left")
    want = left.join(right, "k", "left")
    assert _rows(got) == _rows(want)  # unmatched rows exactly once, not n_salt times


def test_salted_join_semi_anti(spark):
    left = spark.createDataFrame([("a", 1), ("b", 2)], "k string, line int")
    right = spark.createDataFrame([("a", 10)], "k string, v int")
    semi = salted_join(left, right, "k", salt_on=F.col("line"), n_salt=4, how="left_semi")
    anti = salted_join(left, right, "k", salt_on=F.col("line"), n_salt=4, how="left_anti")
    assert _rows(semi) == _rows(left.join(right, "k", "left_semi"))
    assert _rows(anti) == _rows(left.join(right, "k", "left_anti"))


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([("a", 1)], "k string, line int")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(df, df, "k", salt_on=F.col("line"), how="right")


def test_two_level_count_distinct(spark):
    df = spark.createDataFrame(
        [("hot", u) for u in (1, 1, 2, 3, 3, 3)] + [("cold", 9)], "k string, u int"
    )
    got = {r["k"]: r["n"] for r in two_level_count_distinct(df, "k", "u", alias="n").collect()}
    assert got == {"hot": 3, "cold": 1}


def test_hll_estimate_within_bound(spark, sf_dir):
    """q28's HLL estimate must land within 5% of q26's exact count (the
    oracle-gated truth) for every event_type."""
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    exact = {
        r["event_type"]: r["n_users"]
        for r in REGISTRY["q26_count_distinct_skew"].spark(spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in REGISTRY["q28_hll_distinct"].spark(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n), (k, approx[k], n)


# ---------------------------------------------------------------------------
# Dedup internals (plans/dedup.py)
# ---------------------------------------------------------------------------


def test_minhash_bands_parity(spark, sf_dir):
    """The MinHash band stage was folded out of the registry (it is a pure
    intermediate of dd_minhash_lsh_pairs); this keeps its value-level
    oracle parity checked here instead."""
    from stripe_sync_engine_spark.plans.dedup import (
        SQL_MINHASH_BANDS,
        SQL_MINHASH_SIGS,
        _minhash_band_rows,
    )
    from tests.oracle import compare, run_oracle

    df = _minhash_band_rows(spark, sf_dir)
    want = run_oracle(f"WITH sigs AS ({SQL_MINHASH_SIGS}) {SQL_MINHASH_BANDS}", sf_dir)
    compare(df, want, "minhash_bands")


def test_lsh_bucket_cap_drops_oversized(spark, sf_dir, monkeypatch):
    """With the cap forced to 1, every bucket that could produce a pair
    (size >= 2) is dropped before collect_list — so the pair set is empty.
    Proves the declared LSH_BUCKET_MAX bound executes on the Spark side."""
    import stripe_sync_engine_spark.plans.dedup as dd

    monkeypatch.setattr(dd, "LSH_BUCKET_MAX", 1)
    assert dd.dd_minhash_lsh_pairs(spark, sf_dir).count() == 0


def test_embed_bucket_cap_drops_oversized(spark, sf_dir, monkeypatch):
    """Same bound, embedding-LSH variant (dd_embed_cosine)."""
    import stripe_sync_engine_spark.plans.similarity as sim

    monkeypatch.setattr(sim, "EMBED_BUCKET_MAX", 1)
    assert sim.dd_embed_cosine(spark, sf_dir).count() == 0


def test_alternating_components_chain(spark):
    """Worst-case diameter graph: a 64-node chain, forced onto the
    DISTRIBUTED path (local_threshold=0). Per-hop min-label propagation
    needs 63 sweeps; the large-star/small-star alternation must converge
    in O(log n) rounds with every node labeled by the component minimum."""
    from stripe_sync_engine_spark.plans.dedup import alternating_components

    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u long, v long")
    labels, rounds = alternating_components(edges, local_threshold=0)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert 1 <= rounds <= 10, rounds


def test_alternating_components_two_components(spark):
    """Both physical strategies (driver union-find / distributed
    alternation) produce identical labels."""
    from stripe_sync_engine_spark.plans.dedup import alternating_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 30), (30, 20)], "u long, v long"
    )
    want = {3: 3, 5: 3, 9: 3, 20: 20, 30: 20}
    local_labels, local_rounds = alternating_components(edges)
    assert local_rounds == 0  # small graph → driver union-find path
    assert {r["node"]: r["label"] for r in local_labels.collect()} == want
    dist_labels, dist_rounds = alternating_components(edges, local_threshold=0)
    assert dist_rounds >= 1
    assert {r["node"]: r["label"] for r in dist_labels.collect()} == want


def test_alternating_components_random_graphs_agree(spark):
    """Seeded random graphs: the distributed large-star/small-star path and
    the driver union-find path must label identically (each component by
    its minimum node). Guards the alternation algebra on shapes beyond
    chains/stars: cycles, multi-component forests, dense pockets."""
    import random

    from stripe_sync_engine_spark.plans.dedup import alternating_components

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        edges = [
            (u, v)
            for u in range(n)
            for v in range(u + 1, n)
            if rng.random() < 0.04
        ]
        df = spark.createDataFrame(edges, "u long, v long")
        local, r0 = alternating_components(df)
        dist, r1 = alternating_components(df, local_threshold=0)
        assert r0 == 0 and r1 >= 1
        got_local = {r["node"]: r["label"] for r in local.collect()}
        got_dist = {r["node"]: r["label"] for r in dist.collect()}
        assert got_local == got_dist, f"seed {seed}: path disagreement"


# ---------------------------------------------------------------------------
# Plan-shape guards: the physical properties the engine claims (scan-level
# filter pushdown, broadcast dimension joins, top-k short-circuit) must
# survive refactors — these assert on the compiled plan, not the results
# ---------------------------------------------------------------------------


def _plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    plan = _plan_of(REGISTRY["q03_top10_customers"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_dimension_join_is_broadcast(spark, sf_dir):
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    plan = _plan_of(REGISTRY["q02_revenue_per_customer"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_bm25_topk_compiles_to_take_ordered(spark, sf_dir):
    """The registered BM25 query's final cut is a global top-k
    (TakeOrderedAndProject), never a full sort, and the tiny df/avgdl
    aggregates come back as broadcasts."""
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    plan = _plan_of(REGISTRY["txt_bm25_topk"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_q08_fold_single_aggregation_exchange(spark, sf_dir):
    """The folded q08 (daily rollup + trailing-window columns) keeps ONE
    aggregation exchange over the events scan: the trailing anchor joins
    as a broadcast single-row aggregate, and the conditional *_trail7
    aggregates ride the same (day, event_type) hash aggregate."""
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    plan = _plan_of(REGISTRY["q08_daily_rollup"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row anchor join
    # exactly one hashpartitioning exchange: the rollup's own (the anchor
    # aggregate's exchange is SinglePartition, not a hash shuffle)
    assert plan.count("hashpartitioning") == 1


def test_point_lookup_pushes_filter_to_scan(spark, sf_dir):
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    plan = _plan_of(REGISTRY["q01_point_lookup"].spark(spark, sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "point lookup must push its key predicate into the parquet scan"


def test_clustered_merge_is_single_exchange(spark, tmp_path):
    """The micro-batch merge's claimed physical shape, for a full-row
    merge and for the partial customer.deleted merge: ONE shuffle (hash
    by the store's bucket expression), no full-outer join, and no
    rebalance before the bucketed write (merge_upsert_clustered +
    write_buckets(pre_clustered=True))."""
    import json as _json

    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.sync import StripeSparkSync

    store = TableStore(spark, str(tmp_path / "wh_plan"))
    eng = StripeSparkSync(spark, store)

    def batch(start, n):
        return [
            _json.dumps(
                {
                    "id": f"evt_{i:06d}",
                    "object": "event",
                    "type": "charge.updated",
                    "created": 1_700_000_000 + i,
                    "data": {"object": {"id": f"ch_{i % 40}", "object": "charge", "amount": i}},
                }
            )
            for i in range(start, start + n)
        ]

    eng.process_webhook_events(eng.events_df_from_json(batch(0, 100)))  # table exists
    from pyspark.sql import functions as F

    parsed = eng._parse_envelope(eng.events_df_from_json(batch(100, 100))).withColumn(
        "sync_ts", F.to_timestamp(F.col("event_created"))
    )
    def assert_single_exchange(entity, rows, update_cols=None):
        merged, touched, _bkey, _n = eng._merge_plan(entity, rows, update_cols=update_cols)
        assert touched
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        assert "FullOuter" not in plan and "full_outer" not in plan

    assert_single_exchange(
        "charges", eng._project("charges", parsed, carry={"_event_id": F.col("event_id")})
    )

    # the partial customer.deleted merge into an existing table: same shape
    def customer_events(kind, start):
        return [
            _json.dumps(
                {
                    "id": f"evt_{kind}_{i:06d}",
                    "object": "event",
                    "type": f"customer.{kind}",
                    "created": 1_700_000_000 + start + i,
                    "data": {"object": {"id": f"cus_{i}", "object": "customer", "email": "a@b"}},
                }
            )
            for i in range(20)
        ]

    eng.process_webhook_events(eng.events_df_from_json(customer_events("created", 0)))
    parsed = eng._parse_envelope(eng.events_df_from_json(customer_events("deleted", 100))).withColumn(
        "sync_ts", F.to_timestamp(F.col("event_created"))
    )
    assert_single_exchange(
        "customers",
        eng._project("customers", parsed, carry={"_event_id": F.col("event_id")}),
        update_cols=["object", "deleted", "updated_at"],
    )


# ---------------------------------------------------------------------------
# Real image-header decode (functions/multimodal.decode_real): pure-stdlib
# PNG/GIF/BMP/JPEG container parsing — the former PIL/ffmpeg seam, closed
# for header metadata. The mm_media_probe registry entry value-checks the
# distributed path; these gate the parser itself.
def test_decode_real_parses_all_formats():
    import struct

    from stripe_sync_engine_spark.functions.multimodal import decode_real

    png = b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR" + struct.pack(">II", 800, 600)
    assert decode_real(png) == {"format": "png", "width": 800, "height": 600}
    gif = b"GIF87a" + struct.pack("<HH", 12, 34)
    assert decode_real(gif) == {"format": "gif", "width": 12, "height": 34}
    bmp = b"BM" + b"\x00" * 12 + struct.pack("<I", 40) + struct.pack("<ii", 64, -48)
    assert decode_real(bmp) == {"format": "bmp", "width": 64, "height": 48}  # top-down DIB
    # JPEG with an APP0 segment before the SOF0 frame header
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x03"
    assert decode_real(b"\xff\xd8" + app0 + sof0) == {
        "format": "jpeg",
        "width": 640,
        "height": 480,
    }


def test_decode_real_rejects_truncated_and_unknown():
    import pytest as _pytest

    from stripe_sync_engine_spark.functions.multimodal import decode_real

    for bad in (b"\x89PNG\r\n\x1a\n\x00\x00", b"GIF89a\x01", b"BM\x00\x00", b"\xff\xd8\xff\xdb", b"RIFF1234WAVE"):
        with _pytest.raises(ValueError):
            decode_real(bad)


def test_decode_headers_yields_null_rows_for_bad_payloads(spark):
    from stripe_sync_engine_spark.functions.multimodal import decode_headers

    df = spark.createDataFrame(
        [(1, bytearray(b"GIF89a\x10\x00\x20\x00")), (2, bytearray(b"notanimage"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: (r["format"], r["width"], r["height"]) for r in decode_headers(df).collect()}
    assert rows[1] == ("gif", 16, 32)
    assert rows[2] == (None, None, None)


def _wav_bytes(samples, rate=8000, channels=1, extra_chunk=False):
    """Minimal valid 16-bit PCM WAV container around ``samples``
    (interleaved if channels > 1)."""
    import struct

    pcm = b"".join(struct.pack("<h", s) for s in samples)
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * 2 * channels, 2 * channels, 16
    )
    chunks = fmt
    if extra_chunk:  # odd-sized chunk: the walk must apply RIFF pad-to-even
        chunks = b"LIST" + struct.pack("<I", 3) + b"abc\x00" + chunks
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_probe_real_parses_wav_and_rejects_bad_containers():
    import struct

    import pytest as _pytest

    from stripe_sync_engine_spark.functions.multimodal import probe_real

    m = probe_real(_wav_bytes([100, -200, 300, 0], rate=16000))
    assert (m["format"], m["channels"], m["sample_rate"], m["bits"], m["n_samples"]) == (
        "wav", 1, 16000, 16, 4,
    )
    assert m["pcm"] == struct.pack("<4h", 100, -200, 300, 0)
    # stereo frame count, and an odd-sized leading chunk exercising the
    # RIFF even-byte padding rule
    st = probe_real(_wav_bytes([1, 2, 3, 4, 5, 6], channels=2, extra_chunk=True))
    assert (st["channels"], st["n_samples"]) == (2, 3)
    # images still route through the image branch
    png = b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR" + struct.pack(">II", 8, 9)
    assert probe_real(png)["format"] == "png"
    # non-PCM audio format, short fmt, truncated data all raise (NULL-row path)
    ieee = _wav_bytes([1]).replace(struct.pack("<IHH", 16, 1, 1), struct.pack("<IHH", 16, 3, 1), 1)
    for bad in (ieee, b"RIFF" + struct.pack("<I", 4) + b"WAVE", _wav_bytes([1, 2, 3])[:-2]):
        with _pytest.raises(ValueError):
            probe_real(bad)


def test_probe_media_mixed_column_real_dsp(spark):
    """probe_media over a mixed image/audio/garbage binary column: one
    Arrow pass, images get dims, WAV gets REAL numpy DSP — values checked
    against hand-computed signal stats."""
    import math

    from stripe_sync_engine_spark.functions.multimodal import probe_media

    samples = [1000, -1000, 2000, -500, 0, 500]  # zero sample: signbit(0) is +
    df = spark.createDataFrame(
        [
            (1, bytearray(b"GIF89a\x10\x00\x20\x00")),
            (2, bytearray(_wav_bytes(samples, rate=8000))),
            (3, bytearray(b"notmedia")),
            (4, bytearray(_wav_bytes([], rate=8000))),  # empty audio: meta only
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in probe_media(df).collect()}
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("gif", 16, 32)
    assert rows[1]["rms"] is None
    w = rows[2]
    assert (w["format"], w["channels"], w["sample_rate"], w["bits"], w["n_samples"]) == (
        "wav", 1, 8000, 16, 6,
    )
    assert w["duration_ms"] == 6 * 1000.0 / 8000
    assert w["rms"] == math.sqrt(sum(s * s for s in samples) / len(samples))
    assert w["peak"] == 2000
    # sign flips: +,-,+,-,0(+),+  → crossings at i=1,2,3,4
    assert w["zero_crossings"] == 4
    assert rows[3]["format"] is None and rows[3]["rms"] is None
    assert (rows[4]["format"], rows[4]["n_samples"]) == ("wav", 0)
    assert rows[4]["rms"] is None and rows[4]["duration_ms"] == 0.0


def _mp4_bytes(ts: int, dur: int, w: int, h: int) -> bytes:
    import struct

    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0x200)
    mvhd_body = bytes(4) + struct.pack(">IIII", 0, 0, ts, dur) + bytes(80)
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    tkhd_body = bytes(76) + struct.pack(">II", w << 16, h << 16)
    tkhd = struct.pack(">I", 8 + len(tkhd_body)) + b"tkhd" + tkhd_body
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak
    return ftyp + moov


def test_probe_media_mp4_box_walk(spark):
    """probe_media's ISO-BMFF branch: mvhd timescale/duration and the
    first video tkhd's 16.16 dims; an audio-only track (0x0 dims) leaves
    dims NULL; truncated boxes yield the NULL failure row."""
    import struct

    from stripe_sync_engine_spark.functions.multimodal import probe_media

    good = _mp4_bytes(ts=90000, dur=450000, w=1280, h=720)
    audio_only = _mp4_bytes(ts=600, dur=1200, w=0, h=0)
    truncated = good[:40]
    # size field pointing past the payload end must fail, not over-read
    bad_size = struct.pack(">I", len(good) + 999) + good[4:]
    df = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(audio_only)),
            (3, bytearray(truncated)),
            (4, bytearray(bad_size)),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in probe_media(df).collect()}
    g = rows[1]
    assert (g["format"], g["width"], g["height"]) == ("mp4", 1280, 720)
    assert g["duration_ms"] == 450000 * 1000.0 / 90000  # exactly 5000 ms
    assert g["channels"] is None and g["rms"] is None
    a = rows[2]
    assert (a["format"], a["width"], a["height"]) == ("mp4", None, None)
    assert a["duration_ms"] == 1200 * 1000.0 / 600
    assert rows[3]["format"] is None
    assert rows[4]["format"] is None


def _mp4_with_samples(frames, chunk_counts, co64=False):
    """Synthesized fragless MP4 with REAL sample tables: ftyp + mdat
    (frames laid out consecutively, grouped into chunks of the given
    counts) + moov/trak/mdia/minf/stbl{stsz,stsc,stco|co64}. Returns
    (payload, [(offset, size) per frame])."""
    import struct

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    def full(t, body):
        return box(t, bytes(4) + body)

    assert sum(chunk_counts) == len(frames)
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0x200)
    data = b"".join(frames)
    mdat = box(b"mdat", data)
    base = len(ftyp) + 8  # first frame byte inside mdat
    expected, offs, pos, fi = [], [], base, 0
    for cnt in chunk_counts:
        offs.append(pos)
        for _ in range(cnt):
            expected.append((pos, len(frames[fi])))
            pos += len(frames[fi])
            fi += 1
    # stsc runs: compress consecutive equal samples-per-chunk counts
    runs = []
    for c, cnt in enumerate(chunk_counts, start=1):
        if not runs or runs[-1][1] != cnt:
            runs.append((c, cnt, 1))
    stsz = full(
        b"stsz",
        struct.pack(">II", 0, len(frames))
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stsc = full(
        b"stsc",
        struct.pack(">I", len(runs)) + b"".join(struct.pack(">III", *r) for r in runs),
    )
    if co64:
        stco = full(
            b"co64",
            struct.pack(">I", len(offs)) + b"".join(struct.pack(">Q", o) for o in offs),
        )
    else:
        stco = full(
            b"stco",
            struct.pack(">I", len(offs)) + b"".join(struct.pack(">I", o) for o in offs),
        )
    stbl = box(b"stbl", stsz + stsc + stco)
    tkhd = box(b"tkhd", bytes(76) + struct.pack(">II", 320 << 16, 240 << 16))
    trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", stbl)))
    mvhd = box(b"mvhd", bytes(4) + struct.pack(">IIII", 0, 0, 600, 1200) + bytes(80))
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov, expected


@pytest.mark.parametrize("co64", [False, True])
def test_mp4_sample_table_round_trip(spark, co64):
    """sample_frames on a synthesized MP4 emits the REAL per-frame byte
    extents from the stsz/stsc/stco (or co64) walk — the exact (offset,
    size) pairs the builder placed in mdat, with signatures over the true
    frame bytes. An ftyp payload without a usable sample table yields no
    rows (failure-row convention)."""
    import hashlib

    from stripe_sync_engine_spark.functions.multimodal import (
        _build_mp4_frame_walker,
        sample_frames,
    )

    frames = [bytes([i]) * (20 + 7 * i) for i in range(9)]  # varied sizes
    payload, expected = _mp4_with_samples(frames, [2, 2, 4, 1], co64=co64)
    # the walker itself: every frame, exact extents
    assert _build_mp4_frame_walker()(payload) == expected
    # the operator: every FRAME_STRIDE-th frame with true offset/size/sig
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(_mp4_bytes(600, 1200, 320, 240)))],
        "doc_id long, payload binary",
    )
    rows = sorted(sample_frames(df).collect(), key=lambda r: r["frame_idx"])
    assert [r["doc_id"] for r in rows] == [1, 1, 1]  # doc 2: no stbl → no rows
    assert [(r["frame_idx"], r["frame_off"], r["frame_size"]) for r in rows] == [
        (i, *expected[i]) for i in (0, 4, 8)
    ]
    for r in rows:
        want = int(hashlib.md5(frames[r["frame_idx"]]).hexdigest()[:2], 16)
        assert r["frame_sig"] == want


def test_mp4_sample_table_hostile_headers(spark):
    """Adversarial containers follow the no-rows convention instead of
    killing the task or the executor: a truncated stsc (raises
    struct-level errors without guards), and a constant-size stsz whose
    declared sample count would allocate ~34 GB — both must be rejected
    by byte-extent validation BEFORE any allocation."""
    import struct

    from stripe_sync_engine_spark.functions.multimodal import (
        _build_mp4_frame_walker,
        sample_frames,
    )

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0x200)
    # stsc FullBox cut off right after version/flags (no entry_count)
    truncated_stsc = box(b"stsc", bytes(4))
    stsz_ok = box(b"stsz", bytes(4) + struct.pack(">II", 0, 0))
    stco_ok = box(b"stco", bytes(4) + struct.pack(">I", 0))
    stbl1 = box(b"stbl", stsz_ok + truncated_stsc + stco_ok)
    # constant-size stsz declaring 2^32-1 samples of 10 bytes each
    stsz_huge = box(b"stsz", bytes(4) + struct.pack(">II", 10, 0xFFFFFFFF))
    stsc_ok = box(b"stsc", bytes(4) + struct.pack(">I", 0))
    stbl2 = box(b"stbl", stsz_huge + stsc_ok + stco_ok)
    payloads = []
    for stbl in (stbl1, stbl2):
        trak = box(b"trak", box(b"mdia", box(b"minf", stbl)))
        payloads.append(ftyp + box(b"moov", trak))
    walker = _build_mp4_frame_walker()
    for p in payloads:
        with pytest.raises(ValueError):  # never struct.error, never OOM
            walker(p)
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    assert sample_frames(df).count() == 0  # no rows, no task failure


def test_frame_sample_ftyp_magic_coincidence_keeps_fixed_framing(spark):
    """A non-MP4 payload whose bytes 4:8 happen to spell 'ftyp' (any text
    can) must NOT be routed down the ISO-BMFF walker — that path emits
    zero rows on parse failure, silently diverging from the oracle's
    fixed-FRAME_BYTES arithmetic. The plausibility gate (leading box size
    a multiple of 4, >= 16, within the payload) sends it to fixed
    framing; a payload that PASSES the gate but has no sample table
    still follows the no-rows convention (it committed to being MP4)."""
    import struct

    from stripe_sync_engine_spark.functions.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        sample_frames,
    )

    text_like = b"ab: ftyp is mentioned in this plain prose document " * 8
    assert text_like[4:8] == b"ftyp"  # the coincidence under test
    size = struct.unpack(">I", text_like[0:4])[0]
    assert not (16 <= size <= len(text_like) and size % 4 == 0)  # gate rejects
    committed = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0x200) + b"x" * 64
    df = spark.createDataFrame(
        [(1, bytearray(text_like)), (2, bytearray(committed))],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df).collect()
    assert {r["doc_id"] for r in rows} == {1}  # doc 2: plausible ftyp, no stbl
    want_idx = list(range(0, len(text_like) // FRAME_BYTES, FRAME_STRIDE))
    got = sorted((r["frame_idx"], r["frame_off"]) for r in rows)
    assert got == [(i, i * FRAME_BYTES) for i in want_idx]


def test_frame_sample_spec_valid_size01_ftyp_takes_mp4_path(spark):
    """ISO-BMFF's other two size encodings — size==0 (box to EOF) and
    size==1 (64-bit largesize) — are spec-valid leading ftyp forms the
    walker supports, so the plausibility gate must route them down the
    MP4 path (zero rows without a sample table — the failure-row
    convention), NOT the fixed framing a rejected payload gets. Text
    payloads cannot produce the leading NUL bytes of either form."""
    import struct

    from stripe_sync_engine_spark.functions.multimodal import sample_frames

    size0 = struct.pack(">I", 0) + b"ftyp" + b"x" * 120
    size1 = (
        struct.pack(">I", 1)
        + b"ftyp"
        + struct.pack(">Q", 24)
        + b"isom"
        + struct.pack(">I", 0x200)
        + b"x" * 100
    )
    df = spark.createDataFrame(
        [(1, bytearray(size0)), (2, bytearray(size1))],
        "doc_id long, payload binary",
    )
    # both payloads exceed FRAME_BYTES, so fixed framing WOULD emit rows;
    # zero rows proves they took (and failed inside) the MP4 walker
    assert sample_frames(df).count() == 0


def test_frame_sample_implausible_ftyp_routes_to_fixed_framing(spark):
    """PINNED ROUTING for ftyp-magic payloads whose leading box is
    IMPLAUSIBLE (size 8/12, not a multiple of 4, or past the payload end
    — e.g. a file truncated inside its own ftyp box): they take the
    fixed-FRAME_BYTES framing, NOT the walker's zero-row failure branch.
    The gate cannot distinguish a truncated real MP4 from prose that
    coincidentally spells 'ftyp', and the driver's oracle mirrors fixed
    framing for every non-plausible payload — so implausible means
    'not committed to being MP4', deterministically. This test is the
    contract: changing the routing must change it knowingly."""
    import struct

    from stripe_sync_engine_spark.functions.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        sample_frames,
    )

    body = b"x" * 160
    truncated = struct.pack(">I", 4096) + b"ftypisom" + body  # size past EOF
    tiny = struct.pack(">I", 12) + b"ftypisom" + body  # below the 16 floor
    odd = struct.pack(">I", 18) + b"ftypisom" + body  # brand list can't be %4
    df = spark.createDataFrame(
        [(1, bytearray(truncated)), (2, bytearray(tiny)), (3, bytearray(odd))],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    n = len(truncated)  # all three payloads are the same length
    want_idx = list(range(0, n // FRAME_BYTES, FRAME_STRIDE))
    for d in (1, 2, 3):
        got = sorted(
            (r["frame_idx"], r["frame_off"]) for r in rows if r["doc_id"] == d
        )
        assert got == [(i, i * FRAME_BYTES) for i in want_idx]


def test_fold_ledger_epoch_convention():
    """The <prefix>:<int> id form is monotone-epochs-per-prefix BY
    CONTRACT: folding epoch 7 refuses every lower epoch of that prefix
    (that compaction is what keeps the ledger O(runs)); other id shapes
    are tracked verbatim."""
    import pytest as _pytest

    from stripe_sync_engine_spark.operators.incremental_dedup import FoldLedger

    class _Store:
        root = None

    import tempfile

    store = _Store()
    store.root = tempfile.mkdtemp()
    import os

    os.makedirs(os.path.join(store.root, "t"))
    led = FoldLedger(store, "t")
    led.add_all(["backfill:7", "oddball"])
    assert led.contains("backfill:7") and led.contains("backfill:3")
    assert led.contains("oddball")
    assert not led.contains("backfill:8") and not led.contains("oddball2")
    with _pytest.raises(RuntimeError, match="monotone epochs"):
        led.check_replayable("backfill:3")


def test_fold_ledger_free_form_ids_grow_and_warn(tmp_path, monkeypatch):
    """The free-form branch (no ``:<int>`` suffix) never compacts — each
    id persists verbatim, refused individually — so the ledger grows
    per batch BY DESIGN for manual callers. The guard: past
    FREEFORM_IDS_WARN ids, add_all warns and points at the epoch
    convention (whose O(runs) claim the epoch test pins)."""
    import json
    import os
    import warnings

    import pytest as _pytest

    from stripe_sync_engine_spark.operators import incremental_dedup as mod

    class _Store:
        root = str(tmp_path)

    os.makedirs(os.path.join(_Store.root, "t"))
    led = mod.FoldLedger(_Store(), "t")
    led.add_all([f"manual-{i}" for i in range(50)])
    led.add_all(["manual-3", "manual-99"])  # idempotent re-add + growth
    rec = json.load(open(os.path.join(_Store.root, "t", "_folded_batches.json")))
    assert len(rec["ids"]) == 51  # verbatim, no compaction
    assert mod.FoldLedger(_Store(), "t").contains("manual-49")
    with _pytest.raises(RuntimeError, match="already folded"):
        mod.FoldLedger(_Store(), "t").check_replayable("manual-0")

    monkeypatch.setattr(mod, "FREEFORM_IDS_WARN", 60)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        led.add_all([f"manual-x{i}" for i in range(20)])  # 71 > 60
    assert any("never compact" in str(w.message) for w in seen)
    # epoch-convention ids stay unaffected by the cap (they compact)
    os.makedirs(os.path.join(_Store.root, "t2"))
    led2 = mod.FoldLedger(_Store(), "t2")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        led2.add_all([f"run:{i}" for i in range(1000)])
    assert not any("never compact" in str(w.message) for w in seen)
    rec = json.load(open(os.path.join(_Store.root, "t2", "_folded_batches.json")))
    assert rec["runs"]["run"] == 999  # 1000 epochs -> ONE horizon


def test_audio_windows_segments_and_window_local_stats(spark):
    """audio_windows: fixed-length segments with a partial tail; per-window
    stats are computed INSIDE the window (the boundary pair between two
    windows contributes to neither), so counts are split-independent."""
    import math

    from stripe_sync_engine_spark.functions.multimodal import audio_windows

    # 5 samples, window=2 → windows [10,-10], [-10,10], [10]
    samples = [10, -10, -10, 10, 10]
    df = spark.createDataFrame(
        [(7, bytearray(_wav_bytes(samples))), (8, bytearray(b"junk"))],
        "doc_id long, payload binary",
    )
    rows = sorted(
        audio_windows(df, window=2).collect(), key=lambda r: (r["doc_id"], r["win_idx"])
    )
    assert [r["doc_id"] for r in rows] == [7, 7, 7]  # junk contributes no rows
    assert [(r["win_idx"], r["start_sample"], r["win_samples"]) for r in rows] == [
        (0, 0, 2), (1, 2, 2), (2, 4, 1),
    ]
    assert all(r["rms"] == 10.0 and r["peak"] == 10 for r in rows)
    # window-local crossings: [+,-] → 1, [-,+] → 1, [+] → 0; the w0→w1
    # boundary pair (-10,-10) and w1→w2 (10,10) are uncounted by design
    assert [r["zero_crossings"] for r in rows] == [1, 1, 0]
    assert math.isclose(rows[0]["rms"], 10.0)


def test_audio_windows_vectorized_matches_naive(spark):
    """The vectorized window DSP (reshape + bincount, r8) matches a naive
    per-window loop over an irregular signal with a partial tail — rms,
    peak and in-window zero crossings all agree window-for-window."""
    import math

    from stripe_sync_engine_spark.functions.multimodal import audio_windows

    # Deterministic irregular signal (LCG), 157 samples, window=16 → tail=13
    seed, samples = 12345, []
    for _ in range(157):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        samples.append(seed % 2001 - 1000)
    window = 16
    df = spark.createDataFrame(
        [(1, bytearray(_wav_bytes(samples)))], "doc_id long, payload binary"
    )
    rows = sorted(audio_windows(df, window=window).collect(), key=lambda r: r["win_idx"])
    assert len(rows) == math.ceil(157 / window)
    for r in rows:
        seg = [float(s) for s in samples[r["start_sample"] : r["start_sample"] + window]]
        assert r["win_samples"] == len(seg)
        assert math.isclose(r["rms"], math.sqrt(sum(x * x for x in seg) / len(seg)))
        assert r["peak"] == max(abs(x) for x in seg)
        # signbit ≡ (x < 0) here: int16-derived floats never produce -0.0
        want_zc = sum(1 for a, b in zip(seg, seg[1:]) if (a < 0) != (b < 0))
        assert r["zero_crossings"] == want_zc


def test_lsh_buckets_parity(spark, sf_dir):
    """The LSH bucket-assignment stage was folded out of the registry (it
    is a pure intermediate of sim_lsh_ann / dd_embed_cosine); this keeps
    its value-level oracle parity checked here instead."""
    from stripe_sync_engine_spark.plans.similarity import SQL_LSH_BUCKETS, sim_lsh_buckets
    from tests.oracle import compare, run_oracle

    df = sim_lsh_buckets(spark, sf_dir)
    want = run_oracle(SQL_LSH_BUCKETS, sf_dir)
    compare(df, want, "lsh_buckets")


# ---------------------------------------------------------------------------
# Runtime-optional pixel decode (r7): with PIL importable in the worker the
# meta/resize family emits REAL decoded dimensions; without it (this
# container) the deterministic fakes keep the oracles exact.
def _tiny_png(w: int = 8, h: int = 6) -> bytes:
    """A fully valid RGB PNG built with stdlib zlib — decodable by any
    real image library, not just our header parser."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))  # filter 0 + black rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _stub_pil(monkeypatch, dims_by_len):
    """Install a PIL stand-in into sys.modules so the worker body's
    ``from PIL import Image`` resolves — exercises the real-pixel branch
    logic in-process without the dependency."""
    import sys
    import types

    image_mod = types.ModuleType("PIL.Image")

    class _Img:
        def __init__(self, payload):
            if len(payload) not in dims_by_len:
                raise OSError("cannot identify image file")
            self.size = dims_by_len[len(payload)]

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    image_mod.open = lambda fobj: _Img(fobj.read())
    pil_mod = types.ModuleType("PIL")
    pil_mod.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil_mod)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)


def test_meta_decoder_real_branch(monkeypatch):
    """The worker body is a plain generator over pandas batches — drive it
    directly with a stubbed PIL: real dims flow into the dim columns,
    undecodable payloads become NULL-dim failure rows."""
    import pandas as pd

    from stripe_sync_engine_spark.functions.multimodal import (
        _build_meta_decoder,
        _build_resizer,
    )

    good, bad = b"\x01" * 100, b"junk"
    _stub_pil(monkeypatch, {100: (640, 480)})
    out = pd.concat(
        _build_meta_decoder("doc_id", "payload")(
            iter([pd.DataFrame({"doc_id": [1, 2], "payload": [good, bad]})])
        )
    )
    by_id = out.set_index("doc_id")
    assert (by_id.loc[1, "fake_width"], by_id.loc[1, "fake_height"]) == (640, 480)
    assert pd.isna(by_id.loc[2, "fake_width"]) and by_id.loc[2, "n_bytes"] == 4
    rout = pd.concat(
        _build_resizer("doc_id", "payload")(
            iter([pd.DataFrame({"doc_id": [1, 2], "payload": [good, bad]})])
        )
    ).set_index("doc_id")
    # 640x480 keep-aspect into (320, 240) → 320x240
    assert (rout.loc[1, "src_w"], rout.loc[1, "out_w"], rout.loc[1, "out_h"]) == (640, 320, 240)
    assert pd.isna(rout.loc[2, "out_w"])  # decoder failure row


def test_asset_profile_fold_matches_stages(spark, sf_dir):
    """mm_asset_profile (one Arrow pass) is column-for-column identical to
    the three standalone stages it folded (decode_binary_meta /
    resize_binary / extract_features) — the registry consolidation is a
    physical fold, not a semantic change. fake_width/fake_height in the
    meta stage are the fold's src_w/src_h (same arithmetic)."""
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.functions.multimodal import (
        decode_binary_meta,
        extract_features,
        profile_assets,
        resize_binary,
    )
    from stripe_sync_engine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    fold = {r["doc_id"]: r.asDict() for r in profile_assets(docs).collect()}
    meta = {r["doc_id"]: r.asDict() for r in decode_binary_meta(docs).collect()}
    rsz = {r["doc_id"]: r.asDict() for r in resize_binary(docs).collect()}
    feat = {r["doc_id"]: r.asDict() for r in extract_features(docs).collect()}
    assert set(fold) == set(meta) == set(rsz) == set(feat)
    for did, row in fold.items():
        assert (row["n_bytes"], row["content_sha"]) == (meta[did]["n_bytes"], meta[did]["content_sha"])
        assert (row["src_w"], row["src_h"]) == (meta[did]["fake_width"], meta[did]["fake_height"])
        assert all(row[c] == rsz[did][c] for c in ("src_w", "src_h", "out_w", "out_h", "out_bytes"))
        assert all(row[c] == feat[did][c] for c in ("n_digit", "n_upper", "n_lower", "n_space", "n_other"))


def test_meta_decoder_fake_branch_without_pil():
    """Without PIL (this container) the deterministic byte-length fake is
    bit-identical to the oracle formulation."""
    import importlib.util

    import pandas as pd
    import pytest

    from stripe_sync_engine_spark.functions.multimodal import _build_meta_decoder

    if importlib.util.find_spec("PIL") is not None:  # pragma: no cover
        pytest.skip("PIL present: fake branch not reachable")
    payload = b"\x02" * 123
    out = pd.concat(
        _build_meta_decoder("doc_id", "payload")(
            iter([pd.DataFrame({"doc_id": [7], "payload": [payload]})])
        )
    )
    assert tuple(out.iloc[0][["fake_width", "fake_height"]]) == (123 % 640, (123 * 7) % 480)


def test_real_pixel_decode_with_pil(spark):  # pragma: no cover
    """On a PIL-equipped deployment the full Spark path decodes real
    pixels: a valid generated PNG yields its true dimensions."""
    import importlib.util

    import pytest

    if importlib.util.find_spec("PIL") is None:
        pytest.skip("PIL not installed in this container (runtime-optional seam)")
    from stripe_sync_engine_spark.functions.multimodal import decode_binary_meta

    df = spark.createDataFrame([(1, _tiny_png(8, 6))], "doc_id long, payload binary")
    row = decode_binary_meta(df).collect()[0]
    assert (row["fake_width"], row["fake_height"]) == (8, 6)


# ---------------------------------------------------------------------------
# Incremental corpus dedup (r7): batches gate against a persisted,
# fingerprint-bucketed store table — O(batch ∩ buckets) per batch, replay-
# idempotent (operators/incremental_dedup.py).
def test_anti_probe_equals_left_anti(spark):
    """anti_probe (the broadcast batch-key probe every gate/sink uses) must
    be row-identical to a plain left-anti — including null keys (never
    match on either side), within-batch duplicates (all survive or none),
    and composite keys."""
    import random

    from stripe_sync_engine_spark.operators.incremental_dedup import anti_probe

    rng = random.Random(7)
    small = [
        (rng.choice([None, *range(6)]), rng.choice(["x", "y", None]), i) for i in range(40)
    ]
    big = [(rng.choice([None, *range(8)]), rng.choice(["x", "y", "z", None])) for _ in range(60)]
    sdf = spark.createDataFrame(small, "k1 int, k2 string, payload int")
    bdf = spark.createDataFrame(big, "k1 int, k2 string")
    from collections import Counter

    for keys in (["k1"], ["k1", "k2"]):
        expected = Counter(map(tuple, sdf.join(bdf.select(*keys), keys, "left_anti").collect()))
        got = Counter(map(tuple, anti_probe(sdf, bdf, keys).collect()))
        assert got == expected, keys


def test_incremental_dedup_across_batches(spark, tmp_path):
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_inc"))
    dd = IncrementalDeduper(store, content_col="text", id_col="doc_id")
    b1 = spark.createDataFrame(
        [(1, "alpha", "en"), (2, "beta", "en"), (7, "alpha", "de")],  # 7 dups 1 in-batch
        "doc_id long, text string, lang string",
    )
    got1 = {(r["doc_id"], r["text"], r["lang"]) for r in dd.filter_new(b1).collect()}
    assert got1 == {(1, "alpha", "en"), (2, "beta", "en")}  # min-id wins, schema intact
    assert dd.seen_count() == 2

    b2 = spark.createDataFrame(
        [(3, "alpha", "fr"), (4, "gamma", "en"), (5, "beta", "en"), (6, "delta", "en")],
        "doc_id long, text string, lang string",
    )
    got2 = {r["doc_id"] for r in dd.filter_new(b2).collect()}
    assert got2 == {4, 6}  # alpha/beta already in the corpus
    assert dd.seen_count() == 4

    # replay of batch 2 (at-least-once delivery): zero survivors, zero
    # commits — the manifest's version map is unchanged
    before = store._read_manifest(dd.table)["buckets"]
    assert dd.filter_new(b2).isEmpty()
    assert store._read_manifest(dd.table)["buckets"] == before

    # the probe is bucket-pruned: a one-row batch touches fewer buckets
    # than the fingerprint table holds
    b3 = spark.createDataFrame([(9, "epsilon", "en")], "doc_id long, text string, lang string")
    fps = dd._fingerprints(b3)
    touched = store.buckets_of(fps, key="fingerprint", table=dd.table)
    assert len(touched) == 1
    assert {r["doc_id"] for r in dd.filter_new(b3).collect()} == {9}


def test_incremental_dedup_unregister_takedown(spark, tmp_path):
    """The takedown path: a document deleted from the corpus stops
    suppressing future near-identical text — but taking down a
    NEVER-REGISTERED duplicate leaves the surviving keeper's fingerprint
    (and the gate) intact, and replays match nothing."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_take"))
    dd = IncrementalDeduper(store)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    dd.filter_new(b1)
    # a later near-identical resubmission is (correctly) rejected
    resub = spark.createDataFrame([(10, "alpha")], "doc_id long, text string")
    assert dd.select_new(resub).isEmpty()

    # takedown doc 1 with its pre-image content
    dd.unregister(spark.createDataFrame([(1, "alpha")], "doc_id long, text string"))
    assert dd.seen_count() == 2
    assert {r["doc_id"] for r in dd.select_new(resub).collect()} == {10}  # re-admitted

    # replay of the takedown: no-op, manifest versions unchanged
    before = store._read_manifest(dd.table)["buckets"]
    dd.unregister(spark.createDataFrame([(1, "alpha")], "doc_id long, text string"))
    assert store._read_manifest(dd.table)["buckets"] == before

    # taking down a non-registrant duplicate (content beta registered to
    # doc 2; a hypothetical doc 99 with the same content was never the
    # keeper) leaves the gate intact
    dd.unregister(spark.createDataFrame([(99, "beta")], "doc_id long, text string"))
    assert dd.seen_count() == 2
    assert dd.select_new(
        spark.createDataFrame([(11, "beta")], "doc_id long, text string")
    ).isEmpty()


def test_incremental_dedup_apply_changes_window(spark, tmp_path):
    """Gate maintenance straight off the change feed: deletes unregister
    their pre-images, inserts/updates register post-images, and the
    pinned update contract holds — updated-AWAY content stays registered
    (the corpus did contain it; the feed has no update pre-image)."""
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_gatecdc"), vacuum_retain_s=3600.0)
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    store.write("corpus", docs, key="doc_id")
    t0 = store.commits("corpus")[-1]
    dd = IncrementalDeduper(store)
    dd.register(store.read("corpus"))

    import time as _t

    _t.sleep(0.002)
    nxt = spark.createDataFrame(
        [(2, "beta"), (3, "gamma prime"), (4, "delta")],  # 1 deleted, 3 updated, 4 new
        "doc_id long, text string",
    )
    store.write("corpus", nxt, key="doc_id")
    feed = store.read_changes("corpus", t0).localCheckpoint(eager=True)
    kinds = {r["_change_type"] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == {"insert", "update", "delete"}
    n_commits = len(store.commits(dd.table))
    dd.apply_changes(feed)
    # both halves land in ONE commit of the gate table
    assert len(store.commits(dd.table)) == n_commits + 1

    probe = spark.createDataFrame(
        [(21, "alpha"), (22, "gamma"), (23, "gamma prime"), (24, "delta")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dd.select_new(probe).collect()}
    # alpha re-admitted (deleted, pre-image unregistered); 'gamma' still
    # suppressed (update pre-image pinned registered); new content seen
    assert got == {21}

    # replay of the window: converges (register idempotent, unregister
    # matches nothing)
    n = store.read(dd.table).count()
    dd.apply_changes(feed)
    assert store.read(dd.table).count() == n
    assert {r["doc_id"] for r in dd.select_new(probe).collect()} == {21}

    # an in-window content swap: doc 5 deletes 'x' while doc 6 inserts
    # it — 'x' stays registered, now under the inserter
    dd.register(spark.createDataFrame([(5, "x")], "doc_id long, text string"))
    dd.apply_changes(
        spark.createDataFrame(
            [(5, "x", "delete"), (6, "x", "insert")],
            "doc_id long, text string, _change_type string",
        )
    )
    owners = store.read(dd.table).where(F.col("fingerprint") == F.md5(F.lit("x")))
    assert [r["doc_id"] for r in owners.collect()] == [6]


def test_incremental_dedup_apply_changes_with_update_preimages(spark, tmp_path):
    """A feed read with emit_update_preimages=True upgrades the gate's
    update contract: updated-away content retires incrementally (its
    update_preimage row unregisters like a delete), so a resubmission of
    the OLD text is re-admitted — no rebuild needed."""
    from pyspark.sql import functions as F

    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_gatepre"), vacuum_retain_s=3600.0)
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    store.write("corpus", docs, key="doc_id")
    t0 = store.commits("corpus")[-1]
    dd = IncrementalDeduper(store)
    dd.register(store.read("corpus"))

    import time as _t

    _t.sleep(0.002)
    store.write(
        "corpus",
        spark.createDataFrame([(1, "alpha prime"), (2, "beta")], "doc_id long, text string"),
        key="doc_id",
    )
    feed = store.read_changes("corpus", t0, emit_update_preimages=True).localCheckpoint(
        eager=True
    )
    kinds = {r["_change_type"] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == {"update", "update_preimage"}
    dd.apply_changes(feed)

    probe = spark.createDataFrame(
        [(21, "alpha"), (22, "alpha prime")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in dd.select_new(probe).collect()}
    assert got == {21}  # old content retired; new content registered

    n = store.read(dd.table).count()
    dd.apply_changes(feed)  # replay converges
    assert store.read(dd.table).count() == n


def test_incremental_near_dedup_unregister_takedown(spark, tmp_path):
    """Near-gate takedown: deleting a registered document's band rows
    re-admits future near-identical text; the probe is band-bucket
    pruned and replays are no-ops. Docs too short to shingle unregister
    to a no-op instead of erroring."""
    from stripe_sync_engine_spark.operators.incremental_dedup import (
        IncrementalNearDeduper,
    )
    from stripe_sync_engine_spark.storage import TableStore

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly for more music tonight"
    )
    store = TableStore(spark, str(tmp_path / "wh_neartake"))
    near = IncrementalNearDeduper(store, threshold=0.5)
    near.register(spark.createDataFrame([(1, base)], "doc_id long, text string"))

    twin = spark.createDataFrame(
        [(10, base + " encore")], "doc_id long, text string"
    )
    assert near.select_new(twin).isEmpty()  # suppressed by doc 1

    near.unregister(spark.createDataFrame([(1, base)], "doc_id long, text string"))
    assert store.read(near.table).count() == 0
    assert {r["doc_id"] for r in near.select_new(twin).collect()} == {10}

    # replay + short-doc no-ops
    near.unregister(spark.createDataFrame([(1, base)], "doc_id long, text string"))
    near.unregister(spark.createDataFrame([(5, "too short")], "doc_id long, text string"))


def test_incremental_near_dedup_apply_changes_window(spark, tmp_path):
    """Near-gate CDC maintenance: a delete window's pre-image band rows
    unregister (future near-identical text re-admitted), insert
    post-images register, and a replay of the window converges."""
    from stripe_sync_engine_spark.operators.incremental_dedup import (
        IncrementalNearDeduper,
    )
    from stripe_sync_engine_spark.storage import TableStore

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly for more music tonight"
    )
    other = (
        "completely different words compose this second document about "
        "spark engines and parquet files in the analytics warehouse"
    )
    store = TableStore(spark, str(tmp_path / "wh_nearcdc"), vacuum_retain_s=3600.0)
    docs = spark.createDataFrame([(1, base)], "doc_id long, text string")
    store.write("corpus", docs, key="doc_id")
    t0 = store.commits("corpus")[-1]
    near = IncrementalNearDeduper(store, threshold=0.5)
    near.register(store.read("corpus"))

    import time as _t

    _t.sleep(0.002)
    store.write(
        "corpus", spark.createDataFrame([(2, other)], "doc_id long, text string"),
        key="doc_id",
    )
    feed = store.read_changes("corpus", t0).localCheckpoint(eager=True)
    kinds = {r["_change_type"] for r in feed.select("_change_type").collect()}
    assert kinds == {"insert", "delete"}
    near.apply_changes(feed)

    twin = spark.createDataFrame([(10, base + " encore")], "doc_id long, text string")
    other_twin = spark.createDataFrame(
        [(11, other + " appendix")], "doc_id long, text string"
    )
    assert {r["doc_id"] for r in near.select_new(twin).collect()} == {10}  # re-admitted
    assert near.select_new(other_twin).isEmpty()  # new content registered

    n = store.read(near.table).count()
    near.apply_changes(feed)  # replay converges
    assert store.read(near.table).count() == n


def test_gate_probe_stays_broadcast_without_auto(spark, tmp_path):
    """The gate's membership probe must stay a broadcast plan even when
    the store side is too big for auto-broadcast (simulated by disabling
    the threshold): the store scan is the SEMI side probed map-side
    against the broadcast batch keys, never a shuffled sort-merge — the
    reason anti_probe exists."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_bc"))
    dd = IncrementalDeduper(store)
    dd.register(
        spark.createDataFrame([(i, f"t{i}") for i in range(500)], "doc_id long, text string")
    )
    batch = spark.createDataFrame([(900, "t3"), (901, "zzz")], "doc_id long, text string")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = dd.select_new(batch)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the store-probing semi must build from the broadcast batch keys
        semis = [l for l in plan.splitlines() if "LeftSemi" in l and "fingerprint" in l]
        assert any("BroadcastHashJoin" in l for l in semis), plan
        assert {r["doc_id"] for r in dd.select_new(batch).collect()} == {901}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_register_rewrites_only_fresh_buckets(spark, tmp_path):
    """A mixed replay+fresh batch commits ONLY the buckets gaining rows;
    buckets the probe touched but left unchanged keep their version (no
    wasted rewrite IO — commit_window's contract)."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_fb"), n_buckets=16)
    dd = IncrementalDeduper(store)
    corpus = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(200)], "doc_id long, text string"
    )
    dd.filter_new(corpus)
    before = dict(store._read_manifest(dd.table)["buckets"])

    batch = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(150)]  # replays: many buckets probed
        + [(1000, "brand new")],  # one fresh doc: one bucket gains a row
        "doc_id long, text string",
    )
    assert {r["doc_id"] for r in dd.filter_new(batch).collect()} == {1000}
    after = store._read_manifest(dd.table)["buckets"]
    fresh_bucket = store.buckets_of(
        dd._fingerprints(batch.where("doc_id = 1000")), key="fingerprint", table=dd.table
    )
    changed = {b for b in after if after[b] != before.get(b)}
    assert changed == {str(b) for b in fresh_bucket} and len(changed) == 1


def test_incremental_dedup_registers_provenance(spark, tmp_path):
    """The fingerprint table records the FIRST registrant's id — the
    provenance answer to 'which document made this one a duplicate'."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_inc2"))
    dd = IncrementalDeduper(store)
    dd.filter_new(spark.createDataFrame([(10, "same text")], "doc_id long, text string"))
    dd.filter_new(spark.createDataFrame([(99, "same text")], "doc_id long, text string"))
    rows = store.read(dd.table).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 10


def test_incremental_near_dedup_gate(spark, tmp_path):
    """Near-dup gating against the persisted band index: a batch doc
    sharing most shingles with a registered doc is dropped, an unrelated
    doc passes, replays commit nothing, and candidates() reports the
    estimated Jaccard of the match."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalNearDeduper
    from stripe_sync_engine_spark.storage import TableStore

    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    near = base + " extra"  # shares almost every 5-shingle with base
    other = "completely different words compose this second document about spark engines and parquet files"
    store = TableStore(spark, str(tmp_path / "wh_near"))
    nd = IncrementalNearDeduper(store, threshold=0.5)

    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert {r["doc_id"] for r in nd.filter_new(b1).collect()} == {1}

    b2 = spark.createDataFrame([(2, near), (3, other)], "doc_id long, text string")
    cands = {(r["doc_id"], r["seen_doc_id"]): r["est_jaccard"] for r in nd.candidates(b2).collect()}
    assert cands.get((2, 1), 0.0) >= 0.5  # near-dup candidate with high estimate
    got2 = {r["doc_id"] for r in nd.filter_new(b2).collect()}
    assert got2 == {3}  # 2 gated out as near-dup of 1

    # replay: self-matches never GATE (a doc is not a near-dup of itself
    # — replay suppression is the exact gate's/keyed sink's job), but the
    # registration is a no-op: 3 passes again, 2 stays gated by 1, and
    # the manifest's version map is unchanged
    before = store._read_manifest(nd.table)["buckets"]
    assert {r["doc_id"] for r in nd.filter_new(b2).collect()} == {3}
    assert store._read_manifest(nd.table)["buckets"] == before

    # too-short doc: no shingles, bypasses the near gate by contract
    b3 = spark.createDataFrame([(9, "tiny text")], "doc_id long, text string")
    assert {r["doc_id"] for r in nd.filter_new(b3).collect()} == {9}

    # the index stores one row per (doc, band): 4 bands per indexed doc
    from stripe_sync_engine_spark.plans.dedup import LSH_BANDS

    n_rows = store.read(nd.table).count()
    assert n_rows == 2 * LSH_BANDS  # docs 1 and 3 registered; 2 and 9 not


def test_incremental_near_dedup_probe_is_bucket_pruned(spark, tmp_path):
    """The candidate probe reads only the batch's own band-key buckets."""
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalNearDeduper
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_near2"))
    nd = IncrementalNearDeduper(store)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    corpus = spark.createDataFrame(
        [(i, " ".join(words[i % 5 :] + words[: i % 5]) + f" tail{i} more{i} pad{i} word{i}") for i in range(40)],
        "doc_id long, text string",
    )
    nd.filter_new(corpus)
    from stripe_sync_engine_spark.plans.dedup import LSH_BANDS

    one = spark.createDataFrame([(100, "one single probe document with enough words to shingle fully")], "doc_id long, text string")
    rows = nd._band_rows(one)
    touched = store.buckets_of(rows, key="band_key", table=nd.table)
    total = len(store._read_manifest(nd.table)["buckets"])
    assert 0 < len(touched) <= LSH_BANDS  # ≤ one bucket per band key
    assert len(touched) < total or total <= 4


def test_incremental_embedding_index_gate(spark, tmp_path):
    """Embedding near-dup gating against the persisted LSH index: a
    batch vector nearly parallel to an indexed one is gated, an
    orthogonal-ish one passes, registration is replay-idempotent, and
    neighbors() reports the exact quantized cosine."""
    from stripe_sync_engine_spark.operators.embedding_index import IncrementalEmbeddingIndex
    from stripe_sync_engine_spark.storage import TableStore

    dim = 64
    base = [0.1] * dim
    near = [0.1] * (dim - 1) + [0.1001]        # cosine ~1 with base
    anti = [-0.1] * dim                         # cosine -1: opposite bucket
    store = TableStore(spark, str(tmp_path / "wh_emb"))
    ix = IncrementalEmbeddingIndex(store, threshold=0.92)
    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    assert ix.filter_new(mk([(1, base)])).count() == 1
    cands = {(r["vec_id"], r["seen_vec_id"]): r["cosine"] for r in ix.neighbors(mk([(2, near)])).collect()}
    assert cands.get((2, 1), 0.0) > 0.99
    got = {r["vec_id"] for r in ix.filter_new(mk([(2, near), (3, anti)])).collect()}
    assert got == {3}  # 2 gated as near-dup of 1; 3 (different bucket) passes
    # replay of an already-indexed id: self-matches don't gate, register no-ops
    before = store._read_manifest(ix.table)["buckets"]
    assert {r["vec_id"] for r in ix.filter_new(mk([(3, anti)])).collect()} == {3}
    assert store._read_manifest(ix.table)["buckets"] == before
    assert store.read(ix.table).count() == 2  # vectors 1 and 3 indexed once each


def test_embedding_index_unregister_and_apply_changes(spark, tmp_path):
    """Embedding-gate takedown + CDC window: deleting an indexed vector
    (pre-image embedding) re-admits future near-identical vectors; an
    update's post-image rows COMMIT (freshness is per (bucket, vec_id))
    while the old-bucket rows stay as ghosts per the keep-seen pin;
    replays are no-ops."""
    from stripe_sync_engine_spark.operators.embedding_index import (
        IncrementalEmbeddingIndex,
    )
    from stripe_sync_engine_spark.storage import TableStore

    dim = 64
    base = [0.1] * dim
    near = [0.1] * (dim - 1) + [0.1001]
    anti = [-0.1] * dim
    store = TableStore(spark, str(tmp_path / "wh_emb_take"))
    ix = IncrementalEmbeddingIndex(store, threshold=0.92)
    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    ix.register(mk([(1, base), (2, anti)]))
    assert ix.select_new(mk([(10, near)])).isEmpty()  # suppressed by 1

    # takedown vector 1 with its pre-image embedding
    ix.unregister(mk([(1, base)]))
    assert store.read(ix.table).count() == 1  # only vector 2 remains
    assert {r["vec_id"] for r in ix.select_new(mk([(10, near)])).collect()} == {10}
    # replay: no-op
    before = store._read_manifest(ix.table)["buckets"]
    ix.unregister(mk([(1, base)]))
    assert store._read_manifest(ix.table)["buckets"] == before

    # CDC window: 2 updated to base's neighborhood (bucket moves), 3 new
    feed = spark.createDataFrame(
        [(2, near, "update"), (3, anti, "insert")],
        "vec_id long, embedding array<float>, _change_type string",
    )
    ix.apply_changes(feed)
    # the update's NEW rows committed: a vector near `near` now gates on 2
    cands = {
        (r["vec_id"], r["seen_vec_id"]): r["cosine"]
        for r in ix.neighbors(mk([(11, base)])).collect()
    }
    assert cands.get((11, 2), 0.0) > 0.99
    # ghost: 2's old anti-bucket row remains (keep-seen pin) next to 3's
    rows = {(r["vec_id"], r["bucket"]) for r in store.read(ix.table).collect()}
    assert len([v for v, _ in rows if v == 2]) == 2  # old + new bucket
    n = store.read(ix.table).count()
    ix.apply_changes(feed)  # replay converges
    assert store.read(ix.table).count() == n


def test_embedding_index_band_upgrade_backfills(spark, tmp_path):
    """Raising n_bands on an existing index back-fills the missing
    higher-band rows when a vector is re-registered: freshness is per
    (vec_id, band), not per vec_id."""
    from stripe_sync_engine_spark.operators.embedding_index import IncrementalEmbeddingIndex
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_emb_up"))
    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    vec = [0.1] * 64
    IncrementalEmbeddingIndex(store, n_bands=1).register(mk([(1, vec)]))
    assert store.read("_embedding_index").count() == 1  # band-0 row only

    up = IncrementalEmbeddingIndex(store, n_bands=2)
    up.register(mk([(1, vec)]))  # re-register after the upgrade
    rows = store.read("_embedding_index").collect()
    bands = sorted(r["bucket"].split("|")[0] for r in rows)
    assert bands == ["0", "1"]  # band-1 back-filled, band-0 not duplicated

    # replay at 2 bands: nothing fresh, no commit
    before = store._read_manifest("_embedding_index")["buckets"]
    up.register(mk([(1, vec)]))
    assert store._read_manifest("_embedding_index")["buckets"] == before


def test_embedding_index_rejects_pre_band_format(spark, tmp_path):
    """An index whose bucket keys predate the '{band}|{bits}' format must
    fail loudly instead of silently never matching."""
    import pytest as _pytest

    from stripe_sync_engine_spark.operators.embedding_index import IncrementalEmbeddingIndex
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_emb_legacy"))
    legacy = spark.createDataFrame(
        [(1, "01100110", [7] * 64)], "vec_id long, bucket string, qv array<long>"
    )
    store.write("_embedding_index", legacy, key="bucket")
    ix = IncrementalEmbeddingIndex(store)
    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with _pytest.raises(RuntimeError, match="pre-band"):
        ix.neighbors(mk([(2, [0.1] * 64)]))
    with _pytest.raises(RuntimeError, match="pre-band"):
        ix.register(mk([(2, [0.1] * 64)]))


def test_register_replans_on_occ_race(spark, tmp_path, monkeypatch):
    """A register that loses the OCC race to an out-of-band writer (a
    maintain() compaction under a live stream) re-plans and converges
    instead of propagating the abort into the streaming query."""
    from stripe_sync_engine_spark.operators import incremental_dedup as mod
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_occ"))
    dd = mod.IncrementalDeduper(store)
    dd.register(spark.createDataFrame([(1, "one")], "doc_id long, text string"))

    real = mod.commit_window
    fails = {"left": 1}

    def flaky(*a, **kw):
        if fails["left"]:
            fails["left"] -= 1
            raise RuntimeError(
                "buckets [3] of '_document_fingerprints' were rewritten by a "
                "concurrent commit after this write was planned"
            )
        return real(*a, **kw)

    monkeypatch.setattr(mod, "commit_window", flaky)
    dd.register(spark.createDataFrame([(2, "two")], "doc_id long, text string"))
    assert fails["left"] == 0 and dd.seen_count() == 2

    # a non-OCC error is NOT retried
    def always(*a, **kw):
        raise RuntimeError("disk on fire")

    monkeypatch.setattr(mod, "commit_window", always)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="disk on fire"):
        dd.register(spark.createDataFrame([(3, "three")], "doc_id long, text string"))


def test_document_stream_zero_near_threshold_respected(spark, tmp_path, monkeypatch):
    """near_threshold=0.0 must reach the near gate as 0.0 (gate on ANY
    candidate), not be silently replaced by the 0.5 default."""
    import stripe_sync_engine_spark.streaming.documents as docs_mod
    from stripe_sync_engine_spark.storage import TableStore

    captured = {}
    real = docs_mod.IncrementalNearDeduper

    class Spy(real):
        def __init__(self, store, **kw):
            captured.update(kw)
            super().__init__(store, **kw)

    monkeypatch.setattr(docs_mod, "IncrementalNearDeduper", Spy)
    store = TableStore(spark, str(tmp_path / "wh_zt"))
    landing = tmp_path / "landing_zt"
    landing.mkdir()
    q = docs_mod.start_document_stream(
        store, str(landing), str(tmp_path / "ckpt_zt"), near_threshold=0.0
    )
    q.awaitTermination()
    assert captured["threshold"] == 0.0


def test_embedding_index_multiband_recovers_split_pair(spark, tmp_path):
    """LSH recall amplification: construct a high-cosine pair that band
    0's planes SPLIT (different buckets) but band 1 co-buckets — a
    1-band index misses it, a 2-band index gates it. The pair is found
    by deterministic search with the exact index arithmetic (float64,
    ×1e7, floor, int64, sign of plane dot)."""
    import numpy as np

    from stripe_sync_engine_spark.operators.embedding_index import (
        IncrementalEmbeddingIndex,
        band_planes,
    )
    from stripe_sync_engine_spark.plans.similarity import QUANT
    from stripe_sync_engine_spark.storage import TableStore

    p0 = np.array(band_planes(0), dtype=np.int64)
    p1 = np.array(band_planes(1), dtype=np.int64)

    def bits(v, planes):
        q = np.floor(v.astype(np.float64) * QUANT).astype(np.int64)
        return tuple(q @ planes.T > 0)

    def cosine(a, b):
        qa = np.floor(a.astype(np.float64) * QUANT).astype(np.int64)
        qb = np.floor(b.astype(np.float64) * QUANT).astype(np.int64)
        return float(qa @ qb) / (np.sqrt(qa @ qa) * np.sqrt(qb @ qb))

    rng = np.random.RandomState(7)
    found = None
    for _ in range(2000):
        v1 = rng.randn(64).astype(np.float32)
        # nudge along the band-0 plane the vector is closest to, scaled to
        # just cross it; keep nudging size small so cosine stays high
        q = np.floor(v1.astype(np.float64) * QUANT).astype(np.int64)
        margins = (q @ p0.T) / np.linalg.norm(q)
        j = int(np.argmin(np.abs(margins)))
        step = -(margins[j] * 1.2) / np.linalg.norm(p0[j])
        v2 = (v1.astype(np.float64) + step * p0[j]).astype(np.float32)
        if (
            bits(v1, p0) != bits(v2, p0)
            and bits(v1, p1) == bits(v2, p1)
            and cosine(v1, v2) >= 0.995
        ):
            found = (v1, v2)
            break
    assert found is not None, "no band-split pair found in 2000 draws"
    v1, v2 = found
    mk = lambda vid, v: spark.createDataFrame(
        [(vid, [float(x) for x in v])], "vec_id long, embedding array<float>"
    )
    one = IncrementalEmbeddingIndex(
        TableStore(spark, str(tmp_path / "wh_b1")), threshold=0.99, n_bands=1
    )
    one.register(mk(1, v1))
    assert one.select_new(mk(2, v2)).count() == 1  # band 0 split: missed
    two = IncrementalEmbeddingIndex(
        TableStore(spark, str(tmp_path / "wh_b2")), threshold=0.99, n_bands=2
    )
    two.register(mk(1, v1))
    assert two.select_new(mk(2, v2)).count() == 0  # band 1 recovers it
    # parity pin: band 0 of the multiband assignment IS the corpus plane set
    from stripe_sync_engine_spark.plans.similarity import buckets_and_quant_for

    emb = mk(5, v1)
    ref = buckets_and_quant_for(emb).collect()[0]
    got = [r for r in two._bq(emb).collect() if r["bucket"].startswith("0|")][0]
    assert got["bucket"] == "0|" + ref["bucket"] and list(got["qv"]) == list(ref["qv"])


def test_sequence_packing_invariants(spark, sf_dir):
    """txt_bpe_tokens' packing columns obey the concat-and-chunk layout:
    within a shard, consecutive docs tile the token stream with no gaps
    (offset arithmetic), packs never exceed the budget except via a
    straddling doc, and straddle accounting matches the doc's length."""
    from stripe_sync_engine_spark.plans.registry import REGISTRY
    from stripe_sync_engine_spark.plans.textops import PACK_BUDGET

    rows = REGISTRY["txt_bpe_tokens"].spark(spark, sf_dir).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1  # sharded, not a single global window
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["doc_id"])
        start = 0
        for r in docs:
            assert r["pack_id"] == start // PACK_BUDGET
            assert r["pack_offset"] == start % PACK_BUDGET
            end = start + max(r["n_subwords"], 1) - 1
            assert r["packs_spanned"] == end // PACK_BUDGET - r["pack_id"] + 1
            start += r["n_subwords"]


def test_q08_trailing_fold_parity(spark, sf_dir):
    """The q08b_trailing_window semantics folded into q08 survive the fold:
    re-aggregating q08's *_trail7 columns over event_type reproduces the
    old standalone trailing-window query (same shared SQL fragment,
    SQL_TRAIL7_CUTOFF) exactly."""
    from tests.oracle import compare, run_oracle

    from stripe_sync_engine_spark.plans.analytics import SQL_TRAIL7_CUTOFF
    from stripe_sync_engine_spark.plans.registry import REGISTRY

    import pyspark.sql.functions as F

    folded = REGISTRY["q08_daily_rollup"].spark(spark, sf_dir)
    got = (
        folded.groupBy("event_type")
        .agg(
            F.sum("n_events_trail7").alias("n_events"),
            F.sum(F.col("total_value_trail7").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .where(F.col("n_events") > 0)
    )
    want = run_oracle(
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        WHERE ts >= {SQL_TRAIL7_CUTOFF}
        GROUP BY event_type
        """,
        sf_dir,
    )
    compare(got, want, "q08_trailing_fold")


def test_bm25_topk_matches_duckdb(spark, sf_dir):
    """BM25 ranking over the documents corpus vs the DuckDB formulation:
    same scores (relative float tolerance — ln differs by ~1 ulp between
    JVM and libm) and the same ranked doc set."""
    from tests.oracle import compare, run_oracle

    from stripe_sync_engine_spark.plans.textops import bm25_topk, sql_bm25_topk
    from stripe_sync_engine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "query", "join"]
    got = bm25_topk(docs, terms, k=20)
    want = run_oracle(sql_bm25_topk(terms, k=20), sf_dir)
    compare(got, want, "bm25_topk", float_exact=False)


def test_bm25_ranking_semantics(spark):
    """Hand-built corpus: a doc matching both rare terms outranks one
    matching only the common term; docs without any term don't appear."""
    from stripe_sync_engine_spark.plans.textops import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "rare common filler words here"),
            (2, "common words all over common words"),
            (3, "nothing relevant at all"),
            (4, "rare rare common extra"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["rare", "common"], k=10).collect()
    ranked = [r["doc_id"] for r in rows]
    assert set(ranked) == {1, 2, 4}          # doc 3 never scores
    assert ranked[0] == 4                     # two 'rare' hits dominate
    assert ranked.index(1) < ranked.index(2)  # rare beats common-only


def test_persisted_postings_matches_one_shot_bm25(spark, tmp_path, sf_dir):
    """Index registered in two batches ranks identically (within float
    tolerance) to the one-shot corpus scan; replays register nothing."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.plans.textops import bm25_topk
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    store = TableStore(spark, str(tmp_path / "wh_post"))
    idx = PersistedPostingsIndex(store)
    idx.register(b1, "b1")
    idx.register(b2, "b2")
    terms = ["spark", "query", "join"]
    got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=25).collect()}
    want = {r["doc_id"]: r["score"] for r in bm25_topk(docs, terms, k=25).collect()}
    assert set(got) == set(want)
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9), (d, got[d], s)
    # replay: identical results, no new rows
    n_rows = store.read(idx.table).count()
    idx.register(b1, "b1")
    assert store.read(idx.table).count() == n_rows
    got2 = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=25).collect()}
    assert got2 == got


def test_postings_fold_stats_horizon(spark, tmp_path, sf_dir):
    """fold_stats collapses the per-batch stats rows to one _folded row
    without moving any score, and ENFORCES its replay horizon: a folded
    batch id re-registering raises instead of silently inflating N/avgdl;
    post-fold batches register and query normally."""
    import pytest as _pytest

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1)
    b3 = docs.where(F.col("doc_id") % 3 == 2)
    store = TableStore(spark, str(tmp_path / "wh_post_fold"))
    idx = PersistedPostingsIndex(store)
    idx.register(b1, "run:0")
    idx.register(b2, "run:1")
    terms = ["spark", "query", "join"]
    before = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=25).collect()}
    idx.fold_stats()
    after = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=25).collect()}
    assert after == before  # same N/avgdl → bit-identical scores
    stats = store.read(idx.stats_table).collect()
    assert [r["batch_id"] for r in stats] == ["_folded"]
    with _pytest.raises(RuntimeError, match="folded"):
        idx.register(b1, "run:0")
    # post-fold registration works and the query sees the new docs
    idx.register(b3, "run:2")
    assert store.read(idx.stats_table).count() == 2  # _folded + run:2
    full = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_post_all")))
    full.register(docs, "all")
    want = {r["doc_id"]: r["score"] for r in full.topk(terms, k=25).collect()}
    got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=25).collect()}
    assert set(got) == set(want)
    import math

    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9)


def test_postings_long_horizon_lifecycle(spark, tmp_path, sf_dir):
    """Steady-state postings lifecycle at depth: many micro-batches with
    stats folds interleaved stay score-identical to a one-shot index
    build (depth is bounded by Spark's fixed per-job latency — the shape,
    register → fold → register → fold, is what's under test)."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_batches, fold_every = 8, 3
    store = TableStore(spark, str(tmp_path / "wh_post_long"))
    idx = PersistedPostingsIndex(store)
    for i in range(n_batches):
        idx.register(docs.where(F.pmod(F.col("doc_id"), F.lit(n_batches)) == i), f"run:{i}")
        if (i + 1) % fold_every == 0:
            idx.fold_stats()
    full = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_post_full")))
    full.register(docs, "all")
    terms = ["spark", "query", "join"]
    got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=25).collect()}
    want = {r["doc_id"]: r["score"] for r in full.topk(terms, k=25).collect()}
    assert set(got) == set(want) and got
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9)
    # stats stayed bounded: one _folded row + the unfolded tail
    assert store.read(idx.stats_table).count() <= 1 + (n_batches % fold_every or fold_every)


def test_postings_apply_changes_tracks_mutating_corpus(spark, tmp_path, sf_dir):
    """CDC-driven index maintenance: a corpus window of inserts, updates
    and deletes applied via apply_changes leaves the index score-
    identical to a fresh build over the corpus' current state — including
    N/avgdl (negative stats deltas net out) — and a replay of the whole
    window changes nothing."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    store = TableStore(spark, str(tmp_path / "wh_cdc_idx"), vacuum_retain_s=3600.0)
    store.write("corpus", docs, key="doc_id")
    t0 = store.commits("corpus")[-1]
    idx = PersistedPostingsIndex(store, table="_p", stats_table="_ps", forward_table="_pd")
    idx.register(store.read("corpus"), "b0")

    # mutate: delete 5 docs, rewrite 5 (one rewritten to NULL text), add 5
    import time as _t

    _t.sleep(0.002)
    cur = store.read("corpus")
    upd = cur.where("doc_id >= 10 and doc_id < 15").withColumn(
        "text",
        F.when(F.col("doc_id") == 10, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("spark spark rewritten query body "), F.col("text"))
        ),
    )
    new = spark.createDataFrame(
        [(1000 + i, f"brand new spark query join document {i}") for i in range(5)],
        "doc_id long, text string",
    )
    nxt = (
        cur.where("doc_id >= 5")  # doc_id 0..4 deleted
        .join(upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upd)
        .unionByName(new)
    )
    store.write("corpus", nxt, key="doc_id")

    feed = store.read_changes("corpus", t0).localCheckpoint(eager=True)
    kinds = {r["_change_type"] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == {"insert", "update", "delete"}  # the window is non-trivial
    idx.apply_changes(feed, "w1")

    fresh = PersistedPostingsIndex(
        TableStore(spark, str(tmp_path / "wh_cdc_fresh")),
        table="_p", stats_table="_ps", forward_table="_pd",
    )
    fresh.register(store.read("corpus"), "all")
    for terms in (["spark", "query", "join"], ["rewritten"], ["document"]):
        got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=30).collect()}
        want = {r["doc_id"]: r["score"] for r in fresh.topk(terms, k=30).collect()}
        assert set(got) == set(want) and got, terms
        for d, s in want.items():
            assert math.isclose(got[d], s, rel_tol=1e-9), (terms, d)
    # netted stats equal the fresh build's
    s_inc = store.read(idx.stats_table).groupBy().sum().collect()[0]
    s_new = fresh.store.read(fresh.stats_table).groupBy().sum().collect()[0]
    assert s_inc["sum(n_docs)"] == s_new["sum(n_docs)"]
    assert s_inc["sum(n_dl_docs)"] == s_new["sum(n_dl_docs)"]
    assert s_inc["sum(total_dl)"] == s_new["sum(total_dl)"]

    # replay the whole window: nothing moves (update rows kept, no dupes)
    before = {t: store.read(t).count() for t in (idx.table, idx.forward_table, idx.stats_table)}
    idx.apply_changes(feed, "w1")
    after = {t: store.read(t).count() for t in (idx.table, idx.forward_table, idx.stats_table)}
    assert after == before
    got = {r["doc_id"]: r["score"] for r in idx.topk(["spark", "query", "join"], k=30).collect()}
    want = {r["doc_id"]: r["score"] for r in fresh.topk(["spark", "query", "join"], k=30).collect()}
    assert got == want


def test_postings_apply_changes_insert_only_window_stays_lean(spark, tmp_path):
    """A one-sided change window must not grow the stats table with a
    zero row for its empty half (or burn that ledger id): an insert-only
    window lands only its ':ins' increment, a delete-only window only its
    ':del' delta, and scores match a fresh build after each."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_insonly"))
    v1 = spark.createDataFrame(
        [(i, f"alpha beta doc {i} corpus words") for i in range(8)],
        "doc_id long, text string",
    )
    idx = PersistedPostingsIndex(store)
    idx.register(v1, "b0")
    inserts = spark.createDataFrame(
        [(100 + i, f"fresh gamma insert {i} words", "insert") for i in range(4)],
        "doc_id long, text string, _change_type string",
    )
    deletes = spark.createDataFrame(
        [(3, None, "delete")], "doc_id long, text string, _change_type string"
    )
    live = v1.unionByName(inserts.drop("_change_type"))
    for window, feed, want_ids in (
        ("w1", inserts, ["b0", "w1:ins"]),  # no zero 'w1:del' row
        ("w2", deletes, ["b0", "w1:ins", "w2:del"]),  # no zero 'w2:ins' row
    ):
        idx.apply_changes(feed, window)
        ids = [r["batch_id"] for r in store.read(idx.stats_table).collect()]
        assert sorted(ids) == want_ids
        live = live.join(
            feed.where("_change_type = 'delete'").select("doc_id"), "doc_id", "left_anti"
        )
        full = PersistedPostingsIndex(TableStore(spark, str(tmp_path / f"wh_lean_{window}")))
        full.register(live, "all")
        got = {r["doc_id"]: r["score"] for r in idx.topk(["alpha", "gamma"], k=15).collect()}
        want = {r["doc_id"]: r["score"] for r in full.topk(["alpha", "gamma"], k=15).collect()}
        assert set(got) == set(want) and got
        for d, s in want.items():
            assert math.isclose(got[d], s, rel_tol=1e-9)


def test_postings_apply_changes_bootstraps_fresh_index(spark, tmp_path):
    """The documented CDC path must be usable from the very first poll:
    on a brand-new store the birth window (all inserts) has an empty
    delete side, and apply_changes must build the index instead of
    raising 'predates delete support' from the forward-table check that
    used to run before the empty-target check."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_boot"))
    docs = spark.createDataFrame(
        [(i, f"alpha boot doc {i} words") for i in range(6)],
        "doc_id long, text string",
    )
    store.write("corpus", docs, key="doc_id")
    feed = store.read_changes("corpus", 0).localCheckpoint(eager=True)
    assert {r["_change_type"] for r in feed.select("_change_type").collect()} == {
        "insert"
    }
    idx = PersistedPostingsIndex(store)
    idx.apply_changes(feed, "w0")  # must not raise on the empty delete side
    full = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_boot_f")))
    full.register(docs, "all")
    got = {r["doc_id"]: r["score"] for r in idx.topk(["alpha", "doc"], k=10).collect()}
    want = {r["doc_id"]: r["score"] for r in full.topk(["alpha", "doc"], k=10).collect()}
    assert set(got) == set(want) and got
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9)
    # direct unregister with an empty id set on a fresh store is a no-op too
    PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_boot_e"))).unregister(
        spark.createDataFrame([], "doc_id long"), "d0"
    )


@pytest.mark.parametrize(
    "crash_after",
    # default tier keeps a steady window's first-commit crash (the hardest
    # replay) and a birth window's forward-commit crash (the birth-replay
    # heal); the other matrix params run in the slow tier (pytest.ini
    # rationale)
    [
        0,
        pytest.param(1, marks=pytest.mark.slow),
        pytest.param(2, marks=pytest.mark.slow),
        pytest.param(("birth", 0), id="birth-0", marks=pytest.mark.slow),
        pytest.param(("birth", 1), id="birth-1", marks=pytest.mark.slow),
        pytest.param(("birth", 2), id="birth-2"),
    ],
)
def test_postings_merged_window_crash_replay_converges(spark, tmp_path, crash_after):
    """The merged one-commit-per-table CDC window (r15): crash after any
    prefix of its three commits — [] / [stats] / [stats, postings] — then
    re-apply, and the index converges to the fresh-build state (scores,
    netted stats, no duplicate forward rows); a further replay of the
    completed window moves nothing. This pins the replay matrix in
    ``apply_forward_window``'s docstring commit by commit, for a steady
    window and for a birth window (the first window on an empty store,
    whose commits create the three tables)."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    birth = isinstance(crash_after, tuple)
    if birth:
        crash_after = crash_after[1]
    store = TableStore(spark, str(tmp_path / "wh_crash_idx"), vacuum_retain_s=3600.0)
    docs = spark.createDataFrame(
        [(i, f"alpha spark doc {i} corpus query words") for i in range(20)],
        "doc_id long, text string",
    )
    store.write("corpus", docs, key="doc_id")
    t0 = store.commits("corpus")[-1]
    idx = PersistedPostingsIndex(store)
    if birth:
        feed = store.read_changes("corpus", 0).localCheckpoint(eager=True)
    else:
        idx.register(store.read("corpus"), "b0")

        import time as _t

        _t.sleep(0.002)
        cur = store.read("corpus")
        upd = cur.where("doc_id >= 5 and doc_id < 10").withColumn(
            "text",
            F.when(F.col("doc_id") == 5, F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("rewritten join body "), F.col("text"))
            ),
        )
        new = spark.createDataFrame(
            [(100 + i, f"brand new spark join document {i}") for i in range(3)],
            "doc_id long, text string",
        )
        nxt = (
            cur.where("doc_id >= 3")  # doc_id 0..2 deleted
            .join(upd.select("doc_id"), "doc_id", "left_anti")
            .unionByName(upd)
            .unionByName(new)
        )
        store.write("corpus", nxt, key="doc_id")
        feed = store.read_changes("corpus", t0).localCheckpoint(eager=True)
    kinds = {r["_change_type"] for r in feed.select("_change_type").distinct().collect()}
    assert kinds == ({"insert"} if birth else {"insert", "update", "delete"})

    # Crash injection: the window commits exactly three versions — stats
    # (the driver-side tiny commit, write_rows_buckets), then postings and
    # forward (commit_prepared manifest swaps; their file writes run
    # concurrently but commits are strictly ordered). A birth window
    # creates all three tables with store.write instead. Fail the
    # (crash_after+1)-th commit, whichever surface it lands on.
    calls = {"n": 0}
    orig_cp, orig_wrb, orig_w = store.commit_prepared, store.write_rows_buckets, store.write

    def crashing(orig):
        def run(*a, **k):
            if calls["n"] == crash_after:
                raise RuntimeError("injected crash")
            calls["n"] += 1
            return orig(*a, **k)

        return run

    store.commit_prepared = crashing(orig_cp)
    store.write_rows_buckets = crashing(orig_wrb)
    store.write = crashing(orig_w)
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.apply_changes(feed, "w1")
    store.commit_prepared, store.write_rows_buckets, store.write = orig_cp, orig_wrb, orig_w

    idx.apply_changes(feed, "w1")  # recovery replay heals

    fresh = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_crash_f")))
    fresh.register(store.read("corpus"), "all")
    queries = (
        (["spark", "query"], ["alpha"], ["doc"])
        if birth
        else (["spark", "join"], ["rewritten"], ["document"])
    )
    for terms in queries:
        got = {r["doc_id"]: r["score"] for r in idx.topk(terms, k=40).collect()}
        want = {r["doc_id"]: r["score"] for r in fresh.topk(terms, k=40).collect()}
        assert set(got) == set(want) and got, terms
        for d, s in want.items():
            assert math.isclose(got[d], s, rel_tol=1e-9), (terms, d)
    s_inc = store.read(idx.stats_table).groupBy().sum().collect()[0]
    s_new = fresh.store.read(fresh.stats_table).groupBy().sum().collect()[0]
    for c in ("sum(n_docs)", "sum(n_dl_docs)", "sum(total_dl)"):
        assert s_inc[c] == s_new[c], c
    # forward rows: exactly one batch of rows per live doc (no crash dupes)
    dup = (
        store.read(idx.forward_table)
        .groupBy("doc_id")
        .agg(F.count_distinct("batch_id").alias("n"))
        .where("n > 1")
        .count()
    )
    assert dup == 0
    # a further replay of the completed window moves nothing
    before = {
        t: store.read(t).count() for t in (idx.table, idx.forward_table, idx.stats_table)
    }
    idx.apply_changes(feed, "w1")
    after = {
        t: store.read(t).count() for t in (idx.table, idx.forward_table, idx.stats_table)
    }
    assert after == before


def test_postings_unregister_requires_forward_table(spark, tmp_path):
    """Indexes built before the forward table existed fail loudly on
    unregister instead of silently leaving stale postings."""
    import pytest as _pytest

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_legacy_idx"))
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    idx = PersistedPostingsIndex(store)
    idx.register(docs, "b0")
    # simulate a legacy index: drop the forward table
    import shutil

    shutil.rmtree(f"{store.root}/{idx.forward_table}")
    with _pytest.raises(RuntimeError, match="forward table"):
        idx.unregister(docs.select("doc_id"), "d0")


def test_persisted_postings_bucket_pruned_read(spark, tmp_path):
    """The query reads only the buckets its term hashes land in — not
    the whole postings table."""
    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(6)) + " shared") for i in range(50)],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "wh_post"), n_buckets=16)
    idx = PersistedPostingsIndex(store)
    idx.register(docs, "b1")
    probe = spark.createDataFrame([("shared",)], "term string").select(
        F.xxhash64("term").alias("term_h")
    )
    touched = store.buckets_of(probe, key="term_h", table=idx.table)
    assert len(touched) == 1  # one term -> one bucket
    rows = idx.topk(["shared"], k=100).collect()
    assert len(rows) == 50  # every doc contains it


def test_persisted_postings_query_before_build_raises(spark, tmp_path):
    import pytest as _pytest

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    idx = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh_post")))
    with _pytest.raises(RuntimeError, match="register"):
        idx.topk(["anything"])


def test_persisted_postings_null_text_parity(spark, tmp_path):
    """A NULL-text doc counts in BM25's N but not in avgdl — on BOTH the
    one-shot scan and the index, so scores stay parity-equal."""
    import math

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.plans.textops import bm25_topk
    from stripe_sync_engine_spark.storage import TableStore

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta"), (3, None), (4, "beta beta")],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "wh_post"))
    idx = PersistedPostingsIndex(store)
    idx.register(docs, "b1")

    def state():
        fwd = store.read(idx.forward_table)
        stats = sorted(map(tuple, store.read(idx.stats_table).collect()))
        scores = {r["doc_id"]: r["score"] for r in idx.topk(["alpha", "beta"], k=10).collect()}
        return fwd.count(), fwd.where("term_h IS NULL").count(), stats, scores

    first = state()
    assert first[1] == 1  # the NULL doc's sentinel forward row
    # a replay under the same id lands nothing: the forward freshness
    # key matches the sentinel's NULL term hash NULL-safely
    idx.register(docs, "b1")
    assert state() == first
    got = first[3]
    want = {r["doc_id"]: r["score"] for r in bm25_topk(docs, ["alpha", "beta"], k=10).collect()}
    assert set(got) == set(want) == {1, 2, 4}
    for d, s in want.items():
        assert math.isclose(got[d], s, rel_tol=1e-9), (d, got[d], s)


def _with_threshold(spark, value, fn):
    """``fn()`` with ``spark.sql.autoBroadcastJoinThreshold`` at ``value``
    (the bound of the indexes' driver placement), restored afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


def test_postings_topk_driver_and_spark_placements_agree(spark, tmp_path, sf_dir):
    """One index committed twice (its read set mixes bucket versions whose
    files disagree on nullability) queried with the broadcast threshold at
    its default (driver placement) and at -1 (Spark plan): the same doc
    order with scores within 1e-12; the default placement's
    ``topk().collect()`` runs 0 Spark jobs, the Spark plan more. Terms the
    index lacks give an empty frame with the same schema on both."""
    import math

    from stripe_sync_engine_spark.functions import xxh64
    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.tables import load_table
    from tests.test_http_api import spark_jobs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = TableStore(spark, str(tmp_path / "wh_post"))
    idx = PersistedPostingsIndex(store)
    idx.register(docs, "b1")
    # the second commit rewrites only its one document's term buckets
    idx.register(spark.createDataFrame([(10**9, "spark spark")], docs.schema), "b2")
    terms = ["spark", "query"]
    m = store._read_manifest(idx.table)
    touched = store.buckets_of_values(
        [xxh64.spark_xxhash64_str(t) for t in terms], table=idx.table
    )
    assert len({m["buckets"][str(b)] for b in touched}) == 2  # both commits

    driver = idx.topk(terms, k=25)
    spark_plan = _with_threshold(spark, "-1", lambda: idx.topk(terms, k=25))
    got, want = driver.collect(), spark_plan.collect()
    assert len(got) == 25
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for a, b in zip(got, want):
        assert math.isclose(a["score"], b["score"], rel_tol=1e-12), (a, b)

    assert spark_jobs(spark, lambda: idx.topk(terms, k=25).collect()) == 0
    assert _with_threshold(
        spark, "-1", lambda: spark_jobs(spark, lambda: idx.topk(terms, k=25).collect())
    ) > 0

    absent = ["zzz-not-a-term"]
    e_driver = idx.topk(absent)
    e_spark = _with_threshold(spark, "-1", lambda: idx.topk(absent))
    assert e_driver.collect() == e_spark.collect() == []
    assert e_driver.schema == e_spark.schema == driver.schema


def test_driver_read_fails_loudly_on_a_vacuumed_bucket(spark, tmp_path):
    """A bucket the manifest references whose directory is gone (a
    concurrent commit replaced and vacuumed it after the manifest was
    read) raises on the driver read — ``topk``'s stats read and, through
    ``read_rows_driver``, the windows' stats commit — instead of returning
    partial N/avgdl and silently wrong scores."""
    import os
    import shutil

    import pytest as _pytest

    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.storage import TableStore

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} beta") for i in range(12)], "doc_id long, text string"
    )
    store = TableStore(spark, str(tmp_path / "wh_post"))
    idx = PersistedPostingsIndex(store)
    for i in range(3):
        idx.register(docs.where(F.col("doc_id") % 3 == i), f"b{i}")
    assert len(idx.topk(["alpha"]).collect()) == 12
    sm = store._read_manifest(idx.stats_table)
    b, version = sorted(sm["buckets"].items())[0]
    shutil.rmtree(os.path.join(store.root, idx.stats_table, version, f"_bucket={b}"))
    with _pytest.raises(RuntimeError, match=f"bucket {b} of .*{version}.*concurrent commit"):
        idx.topk(["alpha"])
    with _pytest.raises(RuntimeError, match="concurrent commit"):
        store.read_rows_driver(idx.stats_table, [int(b)])


def test_read_arrow_casts_to_the_manifest_schema(spark, tmp_path):
    """``read_arrow`` returns the manifest's schema with every field
    nullable — bucket versions written by different commits disagree on
    nullability — and a column an older file lacks as nulls, the rows
    Spark's scan returns; ``max_bytes`` below the files' size declines
    the read."""
    from stripe_sync_engine_spark.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh"), n_buckets=4)
    store.write("t", spark.range(20).select("id", F.lit("x").alias("s")), key="id")
    b = store.buckets_of_values([3], table="t")[0]
    rows = store.read_buckets("t", [b]).withColumn("n", (F.col("id") * 10).cast("long"))
    store.write_buckets("t", rows.localCheckpoint(eager=True), [b], key="id")
    m = store._read_manifest("t")
    assert len(set(m["buckets"].values())) == 2
    got = store.read_arrow("t", sorted(int(x) for x in m["buckets"]))
    assert got.schema.names == ["id", "s", "n"]
    assert all(f.nullable for f in got.schema)
    want = sorted(tuple(r) for r in store.read("t").collect())
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == want
    assert sum(r["n"] is None for r in got.to_pylist()) == 20 - rows.count()
    assert store.read_arrow("t", [b], columns=["n"]).schema.names == ["n"]
    assert store.read_arrow("t", [b], max_bytes=10) is None
    assert store.read_arrow("t", [b], max_bytes=-1) is None


def test_commitio_primitives(tmp_path):
    """The one commit seam every durable side-file routes through:
    atomic JSON/text replace (dot-prefixed temp, no debris on success)
    and the append-line log primitive."""
    import json
    import os

    from stripe_sync_engine_spark.commitio import (
        append_line,
        atomic_write_json,
        atomic_write_text,
    )

    p = str(tmp_path / "nested" / "dir" / "state.json")
    atomic_write_json(p, {"a": 1})
    atomic_write_json(p, {"a": 2})  # replace, not append
    with open(p) as f:
        assert json.load(f) == {"a": 2}
    assert os.listdir(os.path.dirname(p)) == ["state.json"]  # no temp debris

    t = str(tmp_path / "run_id")
    atomic_write_text(t, "abc")
    assert open(t).read() == "abc"

    log = str(tmp_path / "funnel.jsonl")
    append_line(log, json.dumps({"batch_id": 0}))
    append_line(log, json.dumps({"batch_id": 1}))
    assert [json.loads(x) for x in open(log)] == [{"batch_id": 0}, {"batch_id": 1}]


def test_near_gate_update_registers_new_bands_without_preimages(spark, tmp_path):
    """An updated doc whose new text SHARES some band keys with its old
    rows must still register the new content's other bands — freshness
    is per (doc_id, band_key), the embedding gate's design. A
    doc_id-only probe would find the doc in a shared key's bucket and
    drop ALL the new rows, opening a permanent recall hole for the new
    content (the pre-image feed only retires OLD rows; it cannot restore
    rows that were never committed). Changed-key old rows stay as
    conservative keep-seen ghosts until pre-images retire them."""
    from stripe_sync_engine_spark.operators.incremental_dedup import (
        IncrementalNearDeduper,
    )
    from stripe_sync_engine_spark.plans.dedup import band_rows_of_sigs, minhash_sigs_for
    from stripe_sync_engine_spark.storage import TableStore

    old_text = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "from home tonight"
    )
    new_text = old_text.replace("tonight", "yesterday")

    def pairs(text):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return {
            (r["doc_id"], r["band_key"])
            for r in band_rows_of_sigs(minhash_sigs_for(df)).collect()
        }

    old_pairs, new_pairs = pairs(old_text), pairs(new_text)
    # the precondition under test: the update KEEPS some band keys and
    # GAINS at least one (deterministic for this fixed text pair)
    assert old_pairs & new_pairs and new_pairs - old_pairs

    store = TableStore(spark, str(tmp_path / "wh_near_upd"))
    gate = IncrementalNearDeduper(store)
    gate.register(spark.createDataFrame([(1, old_text)], "doc_id long, text string"))
    gate.register(spark.createDataFrame([(1, new_text)], "doc_id long, text string"))
    got = {
        (r["doc_id"], r["band_key"]) for r in store.read(gate.table).collect()
    }
    assert new_pairs <= got  # every NEW band row committed
    assert old_pairs <= got  # old rows remain as conservative ghosts

    # replay of the update registers nothing further
    n = store.read(gate.table).count()
    gate.register(spark.createDataFrame([(1, new_text)], "doc_id long, text string"))
    assert store.read(gate.table).count() == n

    # the mixed-generation staleness is closed too: band rows carry the
    # FULL m0..m11 signature, so for the band keys the update KEPT, the
    # table must hold a row with the NEW signature (freshness keys on
    # the sig digest, not just (doc_id, band_key)) — otherwise
    # candidates() would estimate Jaccard against the doc's OLD content
    # through those rows forever
    from stripe_sync_engine_spark.plans.dedup import MINHASH_SEEDS

    sig_cols = [f"m{s}" for s in range(MINHASH_SEEDS)]
    new_sig = tuple(
        minhash_sigs_for(
            spark.createDataFrame([(1, new_text)], "doc_id long, text string")
        )
        .collect()[0]
        .asDict()[c]
        for c in sig_cols
    )
    by_key = {}
    for r in store.read(gate.table).collect():
        by_key.setdefault(r["band_key"], set()).add(tuple(r[c] for c in sig_cols))
    for _, bk in old_pairs & new_pairs:
        assert new_sig in by_key[bk]  # a fresh-generation row exists


def test_ensure_local_checkpoint_idempotent(spark):
    """r15: fan-out targets' defensive feed checkpoint must be a no-op on
    a frame the engine already materialized (the plan root is a bare
    LogicalRDD), and a real materialization on anything with lineage —
    including a mere filter ON TOP of a checkpoint."""
    from stripe_sync_engine_spark.operators.incremental_dedup import (
        ensure_local_checkpoint,
    )

    df = spark.range(10).withColumnRenamed("id", "x")
    cp = df.localCheckpoint(eager=True)
    assert ensure_local_checkpoint(cp) is cp  # already materialized: pass through
    out = ensure_local_checkpoint(df)
    assert out is not df
    assert (
        out._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LogicalRDD"
    )
    assert sorted(r.x for r in out.collect()) == list(range(10))
    filtered = cp.where("x > 3")
    refiltered = ensure_local_checkpoint(filtered)
    assert refiltered is not filtered  # lineage on top: real checkpoint
    assert sorted(r.x for r in refiltered.collect()) == list(range(4, 10))


def test_checkpoint_parallel_materializes_in_order(spark):
    """r15 (guide §2.6): concurrent localCheckpoint of independent frames
    must return MATERIALIZED frames (bare LogicalRDD roots) in argument
    order with contents identical to sequential checkpointing, across
    arities 0/1/3."""
    from stripe_sync_engine_spark.operators.incremental_dedup import (
        checkpoint_parallel,
    )

    assert checkpoint_parallel() == ()
    (one,) = checkpoint_parallel(spark.range(5).withColumnRenamed("id", "x"))
    assert (
        one._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LogicalRDD"
    )
    assert sorted(r.x for r in one.collect()) == list(range(5))
    a, b, c = checkpoint_parallel(
        spark.range(3).withColumnRenamed("id", "x"),
        spark.range(10).withColumnRenamed("id", "x").where("x >= 7"),
        spark.range(2).selectExpr("id * 100 as x"),
    )
    for df in (a, b, c):
        assert (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    assert sorted(r.x for r in a.collect()) == [0, 1, 2]
    assert sorted(r.x for r in b.collect()) == [7, 8, 9]
    assert sorted(r.x for r in c.collect()) == [0, 100]


def test_xxh64_matches_spark(spark, tmp_path):
    """The driver-side bucket probe (r16) stands on
    ``functions/xxh64.spark_xxhash64_str`` being BIT-IDENTICAL to the
    JVM ``xxhash64(cast(key as string))`` — a divergence would silently
    read the wrong buckets. Sweep every code path of the algorithm:
    empty input, the 1/4/8-byte tails, the >=32-byte stripe loop,
    multi-stripe, unicode multi-byte encodings, and integer casts — plus
    the pmod bucket parity against the store's own expression."""
    import random
    import string as _s

    from stripe_sync_engine_spark.functions.xxh64 import spark_xxhash64_str
    from stripe_sync_engine_spark.storage import TableStore

    rnd = random.Random(7)
    cases = (
        ["", "a", "ab", "abc", "abcd", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
         "v" * 33, "long" * 50, "ünïcødé", "汉字テスト🙂", "\x00\x01ctl"]
        + ["".join(rnd.choices(_s.printable, k=rnd.randint(0, 120))) for _ in range(60)]
    )
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    assert all(got[c] == spark_xxhash64_str(c) for c in cases)
    ints = [0, 1, -1, 42, 2**31, -(2**63), 2**63 - 1] + [
        rnd.randint(-(2**63), 2**63 - 1) for _ in range(40)
    ]
    got_i = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(i,) for i in ints], "v long")
        .select("v", F.xxhash64(F.col("v").cast("string")).alias("h"))
        .collect()
    }
    assert all(got_i[i] == spark_xxhash64_str(i) for i in ints)
    st = TableStore(spark, str(tmp_path / "wh_xxh"), n_buckets=32)
    assert st.buckets_of_values(cases) == st.buckets_of(
        spark.createDataFrame([(c,) for c in cases], "s string"), key="s"
    )
    # unsupported key types fail loudly, never hash to a wrong bucket
    import pytest as _pytest

    with _pytest.raises(TypeError):
        spark_xxhash64_str(1.5)
    with _pytest.raises(TypeError):
        spark_xxhash64_str(True)
