"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression.

Why: the store's bucket assignment is ``pmod(xxhash64(cast(key as
string)), n_buckets)`` (storage.bucket_expr), computed JVM-side — so a
probe whose key VALUES are already known on the driver (a BM25 query's
terms, an ANN query's probed cell ids) still paid one Spark
collect job just to learn which buckets to read (r16 measured ~0.15-0.3s
of fixed job latency per probe, ×2-3 probes per indexed query). XXH64 is
a public, fully-specified algorithm (Collet's xxHash, the same function
Spark implements in ``XxHash64Function``); this module reimplements it
for the DRIVER-KNOWN-VALUE case only, letting those probes run in
microseconds with zero jobs. Distributed probes (window id sets) keep
the Spark path — collecting them would violate the bounded-driver rule.

Equivalence to the JVM expression is pinned by
``tests/test_operators.py::test_xxh64_matches_spark`` over ascii /
unicode / long / empty strings and integer casts; a mismatch here would
silently read the wrong buckets, which is why the test sweeps the
stripe (>= 32 bytes), 8/4/1-byte tail, and multi-block paths. A Spark
whose ``xxhash64`` or string cast differs is caught at run time too:
``driver_hash_matches`` checks a probe vector against the running
SparkContext before the first driver-side hash, and its callers fall
back to the Spark expression on a mismatch.
"""

from __future__ import annotations

import logging
import threading
import weakref

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

#: Spark's fixed seed for the ``xxhash64`` SQL expression
SPARK_SEED = 42

#: ``driver_hash_matches``' probe vector: a 45-byte string (the 32-byte
#: stripe loop plus an 8-, a 4- and a 1-byte tail), one string per tail
#: path on its own, a non-ASCII string and an int (Spark's long→string cast)
PARITY_PROBE = (
    "driver-side bucket placement probe: 45 bytes!",
    "8 bytes!",
    "four",
    "1",
    "ünïcødé 汉字 🙂",
    -9007199254740993,
)

#: SparkContext → whether the probe vector matched (weak keys: a stopped
#: context's entry goes with it, and no lookup costs a JVM round trip)
_PARITY: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PARITY_LOCK = threading.Lock()


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned 64-bit XXH64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64_str(value: str | int) -> int:
    """``F.xxhash64(F.col(c).cast("string"))`` for a driver-known value,
    as the SIGNED long Spark returns. Accepts str (hashed as UTF-8) and
    int (Spark's long→string cast is the decimal rendering, i.e.
    ``str(int)``); anything else must go through the JVM expression."""
    if isinstance(value, bool) or not isinstance(value, (str, int)):
        raise TypeError(
            f"driver-side xxhash64 supports str/int keys only (got "
            f"{type(value).__name__}); use the Spark expression"
        )
    h = xxh64(str(value).encode("utf-8"))
    return h - (1 << 64) if h >= (1 << 63) else h


def driver_hash_matches(spark) -> bool:
    """Whether ``spark_xxhash64_str`` equals the running Spark's
    ``xxhash64(cast(v as string))`` on ``PARITY_PROBE`` — one small Spark
    job per SparkContext, memoized per context. A mismatch logs
    one warning; the driver-side hash callers
    (``TableStore.bucket_counts_of_values``/``buckets_of_values`` and
    the postings ``topk`` term hashes) then take the Spark expression,
    which costs a job per probe but never places a row in the wrong
    bucket."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    with _PARITY_LOCK:
        if sc not in _PARITY:
            rows = [
                (i, v, None) if isinstance(v, str) else (i, None, v)
                for i, v in enumerate(PARITY_PROBE)
            ]
            text = F.coalesce(F.col("s"), F.col("n").cast("string"))
            got = [
                r["h"]
                for r in spark.createDataFrame(rows, "i int, s string, n long")
                .orderBy("i")
                .select(F.xxhash64(text).alias("h"))
                .collect()
            ]
            bad = [v for v, h in zip(PARITY_PROBE, got) if spark_xxhash64_str(v) != h]
            if bad:
                logging.getLogger(__name__).warning(
                    "driver-side XXH64 disagrees with this Spark's xxhash64 on "
                    "%d of %d probe values (%r); bucket probes of driver-known "
                    "keys fall back to Spark jobs",
                    len(bad),
                    len(PARITY_PROBE),
                    bad,
                )
            _PARITY[sc] = not bad
        return _PARITY[sc]
