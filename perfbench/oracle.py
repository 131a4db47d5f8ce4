"""NumPy oracles for every workload's outputs.

Decoded points are compared through an order-free fingerprint per
(conv_id, channel): point count, sum of ts offsets, sum of values mod
a prime, and sum of (ts mod q)(v mod q), all in int64 without
overflow.  Any dropped, added, shifted or bit-flipped point changes at
least one of them.  Written blocks are collected and decoded in this
process by the native codec; serve answers are collected as rows.
Tier rows are compared exactly.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

from gen import BASE_MS, Corpus

P = 1_000_003
Q = 65_521
FP_COLS = ["n", "s_ts", "s_v", "s_tv"]


def value_as_long(v: np.ndarray) -> np.ndarray:
    """Channel values as int64 (the double channels are integer-valued)."""
    return v.astype(np.int64) if v.dtype.kind == "f" else v


def fingerprint_arrays(conv_id: np.ndarray, channel: np.ndarray,
                       ts: np.ndarray, v: np.ndarray) -> pd.DataFrame:
    v = value_as_long(np.asarray(v))
    ts = np.asarray(ts, dtype=np.int64)
    df = pd.DataFrame({
        "conv_id": conv_id, "channel": channel, "n": 1,
        "s_ts": ts - BASE_MS, "s_v": np.mod(v, P),
        "s_tv": np.mod(ts, Q) * np.mod(v, Q)})
    return (df.groupby(["conv_id", "channel"], sort=True)[FP_COLS].sum()
            .astype(np.int64))


def fingerprint_corpus(c: Corpus, channels, mask=None) -> pd.DataFrame:
    """Expected fingerprint of every (conv_id, channel) series."""
    if mask is not None:
        c = c.take(mask)
    conv = c.conv_ids[c.conv]
    return pd.concat(fingerprint_arrays(conv, np.full(c.n, ch, dtype=object), c.ts_ms,
                                        c.channel_values(ch))
                     for ch in channels).sort_index()


def blocks_fingerprint(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fingerprint of collected block rows (conv_id, channel, kind,
    n_points, payload), decoded in this process by the native codec."""
    from gorilla_tsc_spark.codec import native
    payloads = [bytes(p) for p in pdf["payload"]]
    res = native.decode_many(payloads, pdf["n_points"].to_numpy(np.int64))
    if res is None:
        raise RuntimeError("the native codec is unavailable")
    ts, bits, lens = res
    double = np.repeat(pdf["kind"].to_numpy(object) == "double", lens)
    v = bits.view(np.int64).copy()
    v[double] = bits[double].view(np.float64).astype(np.int64)
    return fingerprint_arrays(np.repeat(pdf["conv_id"].to_numpy(object), lens),
                              np.repeat(pdf["channel"].to_numpy(object), lens),
                              ts, v)


def value_long_column():
    """Decoded value as one non-null long column (the double channels
    are integer-valued), so collected answers keep every int64 bit."""
    from pyspark.sql import functions as F
    return F.coalesce(F.col("v_long"), F.col("v_double").cast("long"))


def points_fingerprint(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fingerprint of collected (conv_id, channel, ts_ms, v) answers."""
    return fingerprint_arrays(pdf["conv_id"].to_numpy(object),
                              pdf["channel"].to_numpy(object),
                              pdf["ts_ms"].to_numpy(np.int64),
                              pdf["v"].to_numpy(np.int64))


def same(expected: pd.DataFrame, got: pd.DataFrame) -> bool:
    """Exact equality of two indexed frames, ignoring row order."""
    if len(expected) != len(got):
        return False
    e = expected.sort_index()
    g = got.sort_index()
    return bool(e.index.equals(g.index)
                and (e.to_numpy() == g[e.columns].to_numpy()).all())


# -- rollup tiers -------------------------------------------------------

TIER_COLS = ["cnt", "vmin", "vmax", "vsum"]


def tier_arrays(c: Corpus, channels, bucket_ms: int, mask=None) -> pd.DataFrame:
    """(conv_id, channel, bucket) -> cnt/vmin/vmax/vsum, as the rollup
    operators compute them."""
    if mask is not None:
        c = c.take(mask)
    frames = []
    for ch in channels:
        frames.append(pd.DataFrame({
            "conv_id": c.conv_ids[c.conv], "channel": ch,
            "bucket": (c.ts_ms // bucket_ms) * bucket_ms,
            "v": c.channel_values(ch).astype(np.float64)}))
    df = pd.concat(frames)
    g = df.groupby(["conv_id", "channel", "bucket"], sort=True)["v"]
    out = pd.DataFrame({"cnt": g.size(), "vmin": g.min(), "vmax": g.max(),
                        "vsum": g.sum()})
    out["cnt"] = out["cnt"].astype(np.int64)
    return out


def collected_tier(rows, extra=()) -> pd.DataFrame:
    df = pd.DataFrame([tuple(r) for r in rows],
                      columns=["conv_id", "channel", "bucket", *TIER_COLS, *extra])
    df["cnt"] = df["cnt"].astype(np.int64)
    return df.set_index(["conv_id", "channel", "bucket"]).sort_index()


def series_counts(c: Corpus, mask=None) -> pd.Series:
    """Points per conversation: what Σn per series must equal in every
    family tier over a one-point-per-turn channel."""
    if mask is not None:
        c = c.take(mask)
    counts = np.bincount(c.conv, minlength=len(c.conv_ids))
    nz = counts > 0
    return pd.Series(counts[nz].astype(np.int64),
                     index=pd.Index(c.conv_ids[nz], name="conv_id")).sort_index()
