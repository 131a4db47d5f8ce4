"""Seeded transcript generator for the benchmark.

Everything the engine's behaviour depends on is drawn from one
``numpy.random.Generator``:

- conversation lengths: lognormal, plus a few hot conversations;
- per-conversation ms stride with jitter, and occasional long gaps;
- text drawn from a pool whose word-count spread sets how well the
  ``len`` channel compresses;
- for raw JSONL batches, the share of late, corrupt and duplicate lines.

Conversation lengths, strides and text word counts are one fixed draw
(``fixed``) whose order the seed sets, so seeds differ in arrangement,
not in the amount of work.  The generator keeps its own arrays
(``Corpus``), so every check can be computed with NumPy from the same
draw that produced the input files.
Texts come from a finite pool so the ``text_hash`` channel (Spark's
``xxhash64``) is known per pool entry without hashing every turn.
"""
from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
BASE_MS = 1_700_000_000_000 - (1_700_000_000_000 % DAY_MS)
ROLES = ("user", "assistant", "tool")
TOOLS = (None, "search", "python", "browser", "calculator")
WORDS = (
    "rollup window shuffle block delta gorilla spark codec tier stream "
    "partition salt skew checkpoint lineage decode encode bucket gapfill "
    "agg quantile sketch merge cascade retention purge audit compact"
).split()
LEN_SIGMA = 0.8              # lognormal turns per conversation, around len_mu
MAX_TURNS = 20_000
HOT_CONVS = 3                # conversations with HOT_FACTOR x the typical turns
HOT_FACTOR = 25
SPAN_DAYS = 60               # conversation starts spread over this
STRIDE_MS = (400, 4000)      # per-conversation base stride
JITTER = 0.25                # +- share of the stride
GAP_PROB = 0.01              # chance a step is a long gap
GAP_MEAN_MS = 3_600_000
POOL = 2048                  # distinct texts
WORDS_SIGMA = 0.9            # lognormal word count per pool text


@dataclass
class Corpus:
    """Turn arrays, one entry per turn, grouped by conversation and in
    turn order within each conversation."""
    conv_ids: np.ndarray         # object[str], one per conversation
    conv: np.ndarray             # int32 conversation index per turn
    turn_idx: np.ndarray         # int32
    ts_ms: np.ndarray            # int64
    text_id: np.ndarray          # int32 into the pool
    pool_text: list
    pool_len: np.ndarray         # float64 characters (ASCII)
    pool_words: np.ndarray       # int64 whitespace tokens
    pool_hash: np.ndarray        # int64 Spark xxhash64(text)

    @property
    def n(self) -> int:
        return len(self.ts_ms)

    def channel_values(self, name: str) -> np.ndarray:
        if name == "len":
            return self.pool_len[self.text_id]
        if name == "words":
            return self.pool_words[self.text_id]
        if name == "text_hash":
            return self.pool_hash[self.text_id]
        if name == "role_idx":
            return (self.turn_idx % 3).astype(np.int64)
        raise KeyError(name)

    def role(self) -> np.ndarray:
        return np.asarray(ROLES, dtype=object)[self.turn_idx % 3]

    def tool(self) -> np.ndarray:
        return np.asarray(TOOLS, dtype=object)[self.turn_idx % 5]

    def texts(self) -> np.ndarray:
        return np.asarray(self.pool_text, dtype=object)[self.text_id]

    def take(self, mask: np.ndarray) -> "Corpus":
        return Corpus(self.conv_ids, self.conv[mask], self.turn_idx[mask],
                      self.ts_ms[mask], self.text_id[mask], self.pool_text,
                      self.pool_len, self.pool_words, self.pool_hash)


# -- Spark's xxhash64 (seed 42) over UTF-8 bytes, for the pool texts ----

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it, as a signed int64."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M,
             (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for k in range(4):
            h = _merge(h, v[k])
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
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
    return h - (1 << 64) if h >> 63 else h


def _text_pool(rng: np.random.Generator):
    fixed = np.random.default_rng(0)
    nwords = rng.permutation(np.clip(np.round(np.exp(
        fixed.normal(2.0, WORDS_SIGMA, POOL))), 1, 200))
    texts = []
    for k in nwords.astype(int):
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lens = np.array([len(t) for t in texts], dtype=np.float64)
    words = nwords.astype(np.int64)
    hashes = np.array([xxhash64(t.encode()) for t in texts], dtype=np.int64)
    return texts, lens, words, hashes


def generate(seed: int, n_convs: int, len_mu: float = 4.5,
             conv_prefix: str = "c") -> Corpus:
    """``n_convs`` conversations of lognormal length around
    ``exp(len_mu)`` turns."""
    rng = np.random.default_rng(seed)
    texts, lens, words, hashes = _text_pool(rng)
    C = n_convs
    fixed = np.random.default_rng(1)
    n_turns = np.clip(np.round(np.exp(fixed.normal(len_mu, LEN_SIGMA, C))),
                      3, MAX_TURNS).astype(np.int64)
    n_turns[:HOT_CONVS] = min(round(HOT_FACTOR * np.exp(len_mu)), MAX_TURNS)
    n_turns = rng.permutation(n_turns)
    N = int(n_turns.sum())
    conv = np.repeat(np.arange(C, dtype=np.int32), n_turns)
    starts = np.concatenate(([0], np.cumsum(n_turns)[:-1]))
    turn_idx = (np.arange(N) - np.repeat(starts, n_turns)).astype(np.int32)
    base_stride = rng.permutation(fixed.integers(*STRIDE_MS, C))
    stride = np.repeat(base_stride, n_turns) * (
        1.0 + JITTER * rng.uniform(-1.0, 1.0, N))
    gaps = rng.random(N) < GAP_PROB
    stride = np.round(stride).astype(np.int64)
    stride[gaps] += rng.exponential(GAP_MEAN_MS, int(gaps.sum())).astype(np.int64)
    stride[starts] = 0
    t0 = BASE_MS + rng.integers(0, SPAN_DAYS * DAY_MS, C)
    steps = np.cumsum(stride)
    ts = np.repeat(t0, n_turns) + steps - np.repeat(steps[starts], n_turns)
    text_id = rng.integers(0, POOL, N).astype(np.int32)
    conv_ids = np.array([f"{conv_prefix}{k:07d}" for k in range(C)], dtype=object)
    return Corpus(conv_ids, conv, turn_idx, ts.astype(np.int64), text_id,
                  texts, lens, words, hashes)


def to_arrow(c: Corpus) -> pa.Table:
    return pa.table({
        "conv_id": pa.array(c.conv_ids[c.conv], pa.string()),
        "turn_idx": pa.array(c.turn_idx, pa.int32()),
        "role": pa.array(c.role(), pa.string()),
        "text": pa.array(c.texts(), pa.string()),
        "tool": pa.array(c.tool(), pa.string()),
        "ts": pa.array(c.ts_ms.astype("datetime64[ms]"), pa.timestamp("ms", tz="UTC")),
    })


def write_parquet(c: Corpus, path: str, n_files: int) -> int:
    """Conversation-clustered parquet, ``n_files`` files of whole
    conversations with about the same number of turns each, so the scan
    tasks are balanced whatever order the seed put the long
    conversations in.  Returns bytes written."""
    os.makedirs(path, exist_ok=True)
    table = to_arrow(c)
    conv_rows = np.flatnonzero(np.diff(c.conv, prepend=-1))   # first row of each
    targets = np.linspace(0, c.n, n_files + 1)
    nearest = np.abs(conv_rows[None, :] - targets[1:-1, None]).argmin(axis=1)
    row_cuts = np.concatenate(([0], conv_rows[nearest], [c.n]))
    size = 0
    for i in range(n_files):
        part = table.slice(row_cuts[i], row_cuts[i + 1] - row_cuts[i])
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(part, f)
        size += os.path.getsize(f)
    return size


@dataclass
class LateBatch:
    """One raw JSONL batch and what a correct ingest keeps of it."""
    path: str
    lines: int
    bad_lines: int               # malformed JSON or a missing required field
    dup_lines: int               # extra copies of a turn
    kept: Corpus                 # turns that survive split + dedupe


def late_batch(rng: np.random.Generator, base: Corpus, path: str,
               n_late: int, conv_share: float, n_new_convs: int,
               bad_share: float, dup_share: float) -> LateBatch:
    """Late turns for a ``conv_share`` of the existing conversations
    (turn_idx after their last turn, timestamps a few ms after a random
    earlier turn, so inside the series and never equal to another
    turn's), a few wholly new conversations, corrupt lines and
    duplicates, written shuffled."""
    C = len(base.conv_ids)
    counts = np.bincount(base.conv, minlength=C)
    first_row = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # hot conversations stay out, so the batch's cost does not hinge on them
    typical = np.flatnonzero(counts <= 10 * np.median(counts))
    touched = rng.choice(typical, max(1, int(conv_share * C)), replace=False)
    conv = np.sort(rng.choice(touched, n_late))
    k = np.arange(n_late) - np.searchsorted(conv, conv)
    turn = (counts[conv] + k).astype(np.int32)
    after = first_row[conv] + (rng.random(n_late) * counts[conv]).astype(np.int64)
    # strides are >= 300 ms, so distinct small offsets stay unique
    order = np.lexsort((np.arange(n_late), after))
    rank = np.empty(n_late, dtype=np.int64)
    rank[order] = np.arange(n_late) - np.searchsorted(after[order], after[order])
    ts = base.ts_ms[after] + 1 + rank
    text = rng.integers(0, len(base.pool_text), n_late).astype(np.int32)
    # wholly new conversations, past the base corpus's ids
    nn = rng.integers(3, 40, n_new_convs)
    new_conv = np.repeat(np.arange(C, C + n_new_convs, dtype=np.int32), nn)
    new_turn = np.concatenate([np.arange(m, dtype=np.int32) for m in nn])
    new_ts = (np.repeat(BASE_MS + rng.integers(0, 30 * DAY_MS, n_new_convs), nn)
              + new_turn.astype(np.int64) * 1000)
    conv_ids = np.concatenate((base.conv_ids,
                               [f"{base.conv_ids[0][0]}n{j:06d}" for j in range(n_new_convs)]))
    conv_ids = np.asarray(conv_ids, dtype=object)
    kept = Corpus(conv_ids,
                  np.concatenate((conv, new_conv)).astype(np.int32),
                  np.concatenate((turn, new_turn)),
                  np.concatenate((ts, new_ts)),
                  np.concatenate((text, rng.integers(0, len(base.pool_text), len(new_conv)).astype(np.int32))),
                  base.pool_text, base.pool_len, base.pool_words, base.pool_hash)
    n_kept = kept.n
    rows = pd.DataFrame({
        "conv_id": kept.conv_ids[kept.conv], "turn_idx": kept.turn_idx,
        "role": kept.role(), "text": kept.texts(), "tool": kept.tool(),
        "ts_ms": kept.ts_ms})
    # duplicates: half exact copies, half an earlier re-send (the
    # dedupe keeps the latest ts, so the kept turn stays as generated)
    n_dup = int(round(dup_share * n_kept))
    dup = rows.iloc[rng.integers(0, n_kept, n_dup)].copy()
    earlier = rng.random(n_dup) < 0.5
    dup.loc[earlier, "ts_ms"] -= rng.integers(1, 5000, int(earlier.sum()))
    lines = [_json_line(r) for r in pd.concat((rows, dup)).itertuples(index=False)]
    n_bad = int(round(bad_share * n_kept))
    for j in range(n_bad):
        if j % 2:
            lines.append(lines[rng.integers(0, len(lines))][: 12])   # truncated
        else:
            lines.append(json.dumps({"conv_id": None, "turn_idx": j, "role": "user",
                                     "text": "orphan", "tool": None,
                                     "ts": "2023-11-15 00:00:00.000"}))
    order = rng.permutation(len(lines))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "batch.jsonl"), "w") as f:
        for i in order:
            f.write(lines[i])
            f.write("\n")
    return LateBatch(path, len(lines), n_bad, n_dup, kept)


def _json_line(r) -> str:
    ts = np.datetime_as_string(np.datetime64(int(r.ts_ms), "ms"), unit="ms")
    return json.dumps({"conv_id": r.conv_id, "turn_idx": int(r.turn_idx),
                       "role": r.role, "text": r.text, "tool": r.tool,
                       "ts": ts.replace("T", " ")})
