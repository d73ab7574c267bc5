"""Webhook signature verification (SURVEY S6).

The reference verifies Stripe's ``stripe-signature`` header before
parsing: hex HMAC-SHA256 of ``"{timestamp}.{raw_body}"`` with the
endpoint secret (stripe.webhooks.constructEventAsync,
stripeSync.ts:97-105; the algorithm is re-derived in its test at
test/webhooks.test.ts:133-135).

Two entry points, one check:
* ``verify_signature`` — pure-Python, for the HTTP edge / driver-side
  single events.
* ``with_signature_verified`` — bulk column-wise verification for landed
  event batches: ``verify_signature`` inside an Arrow-batched pandas UDF
  (Spark has no HMAC built-in; per-row Python would be the slow path).
"""

from __future__ import annotations

import hashlib
import hmac as hmac_mod

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def compute_signature(secret: str, timestamp: int, payload: str) -> str:
    mac = hmac_mod.new(secret.encode(), f"{timestamp}.{payload}".encode(), hashlib.sha256)
    return mac.hexdigest()


def sign_header(secret: str, timestamp: int, payload: str) -> str:
    """Build a Stripe-style ``t=<ts>,v1=<sig>`` header value."""
    return f"t={timestamp},v1={compute_signature(secret, timestamp, payload)}"


def verify_signature(secret: str, header: str, payload: str, tolerance_s: int | None = None, now: int | None = None) -> bool:
    """Constant-time verification of a ``t=...,v1=...`` header.

    Every malformed-header shape (missing fields, non-numeric timestamp)
    returns False rather than raising: this runs on untrusted input inside
    batch verification, where one poisoned row must not fail the job."""
    parts = dict(p.split("=", 1) for p in header.split(",") if "=" in p)
    ts, sig = parts.get("t"), parts.get("v1")
    if ts is None or sig is None:
        return False
    try:
        ts_int = int(ts)
    except ValueError:
        return False
    expected = compute_signature(secret, ts_int, payload)
    if not hmac_mod.compare_digest(expected, sig):
        return False
    if tolerance_s is not None and now is not None and abs(now - ts_int) > tolerance_s:
        return False
    return True


def with_signature_verified(df: DataFrame, secret: str, payload_col: str = "value", header_col: str = "signature") -> DataFrame:
    """Adds ``signature_valid`` (boolean) via an Arrow-batched pandas UDF —
    vectorized transfer, ``verify_signature`` per row only inside the
    batch loop. A NULL payload or header is invalid."""

    @pandas_udf("boolean")
    def _verify(payload: pd.Series, header: pd.Series) -> pd.Series:
        return pd.Series(
            [
                h is not None and p is not None and verify_signature(secret, h, p)
                for p, h in zip(payload, header)
            ]
        )

    return df.withColumn("signature_valid", _verify(F.col(payload_col), F.col(header_col)))
