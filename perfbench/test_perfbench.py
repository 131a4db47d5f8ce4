"""Tests of the benchmark's generator, oracles and failure counting.
No Spark session is started.

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
import tracing  # noqa: E402
from tracing import Tracer  # noqa: E402



def small(seed: int) -> gen.Corpus:
    return gen.generate(seed, n_convs=40, len_mu=3.0)


def test_generator_is_seeded():
    a, b = small(5), small(5)
    c = small(6)
    for f in ("conv", "turn_idx", "ts_ms", "text_id"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert a.pool_text == b.pool_text
    assert a.n != c.n or not np.array_equal(a.ts_ms, c.ts_ms)


def test_timestamps_increase_within_each_conversation():
    c = small(7)
    same_conv = c.conv[1:] == c.conv[:-1]
    assert (np.diff(c.ts_ms)[same_conv] > 0).all()


def test_xxhash64_matches_spark():
    # Spark 4.1: SELECT xxhash64(s) for these strings
    assert gen.xxhash64(b"") == -7444071767201028348
    assert gen.xxhash64(b"gorilla") == -4948485169323475834
    assert gen.xxhash64(b"rollup window shuffle block delta gorilla spark") \
        == 5970987317398148796


def test_late_batch_counts(tmp_path):
    base = small(3)
    rng = np.random.default_rng(0)
    late = gen.late_batch(rng, base, str(tmp_path), n_late=60, conv_share=0.2,
                          n_new_convs=3, bad_share=0.05, dup_share=0.1)
    lines = (tmp_path / "batch.jsonl").read_text().splitlines()
    assert len(lines) == late.lines == late.kept.n + late.dup_lines + late.bad_lines
    keys = pd.DataFrame({"c": late.kept.conv, "t": late.kept.turn_idx})
    assert not keys.duplicated().any()
    # late turns never share a timestamp with another turn of their series
    both = pd.DataFrame({"c": np.concatenate((base.conv, late.kept.conv)),
                         "ts": np.concatenate((base.ts_ms, late.kept.ts_ms))})
    assert not both.duplicated().any()


def _blocks(c: gen.Corpus, channels) -> pd.DataFrame:
    """One block per (conversation, channel), encoded by the native codec."""
    from gorilla_tsc_spark.codec import native
    if native.get_lib() is None:
        pytest.skip("native codec unavailable")
    counts = np.bincount(c.conv).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    block_ts = (c.ts_ms[starts] // gen.DAY_MS) * gen.DAY_MS
    frames = []
    for ch in channels:
        v = c.channel_values(ch)
        bits = (v.astype(np.float64) if ch == "len" else v.astype(np.int64)).view(np.uint64)
        payloads, _ = native.encode_many(starts, counts, block_ts, c.ts_ms, bits)
        frames.append(pd.DataFrame({
            "conv_id": c.conv_ids, "channel": ch,
            "kind": "double" if ch == "len" else "long",
            "n_points": counts, "payload": payloads}))
    return pd.concat(frames, ignore_index=True)


def _matches(expected, blocks) -> bool:
    """A check as the workloads make it: a decode error is a failure."""
    try:
        return oracle.same(expected, oracle.blocks_fingerprint(blocks))
    except (ValueError, RuntimeError):
        return False


def test_flipped_payload_byte_is_a_failed_check():
    c = small(9)
    want = oracle.fingerprint_corpus(c, workloads.CHANNELS)
    blocks = _blocks(c, workloads.CHANNELS)
    assert _matches(want, blocks)
    for row in range(0, len(blocks), 7):
        for pos in (4, -2):
            bad = blocks.copy()
            p = bytearray(bad.at[row, "payload"])
            p[pos] ^= 0x10
            bad.at[row, "payload"] = bytes(p)
            assert not _matches(want, bad), (row, pos)


def test_dropped_serve_row_is_a_failed_check():
    c = small(11)
    mask = c.ts_ms < np.median(c.ts_ms)
    want = oracle.fingerprint_corpus(c, workloads.CHANNELS, mask)
    part = c.take(mask)
    answer = pd.concat(pd.DataFrame({
        "conv_id": part.conv_ids[part.conv], "channel": ch, "ts_ms": part.ts_ms,
        "v": oracle.value_as_long(part.channel_values(ch))})
        for ch in workloads.CHANNELS).reset_index(drop=True)
    assert oracle.same(want, oracle.points_fingerprint(answer))
    assert not oracle.same(want, oracle.points_fingerprint(answer.drop(index=17)))

    tier = oracle.tier_arrays(c, workloads.AGG, gen.DAY_MS)
    rows = tier.reset_index().itertuples(index=False)
    rows = [tuple(r) for r in rows]
    assert oracle.same(tier, oracle.collected_tier(rows))
    assert not oracle.same(tier, oracle.collected_tier(rows[:5] + rows[6:]))


class _Scripted:
    """A workload whose ops pass, fail their check, or raise, in turn."""
    min_ops = 3

    def op(self, i):
        if i == 2:
            raise ValueError("engine error")
        return {"points": 1}

    def check(self, i, out):
        return i == 0


def test_measure_counts_failed_checks_and_errors():
    outs, _, attempted, failed = run.measure(_Scripted(), Tracer(enabled=False),
                                             seconds=0, trace=False)
    assert (attempted, failed, len(outs)) == (3, 2, 2)


class _Warming:
    def __init__(self):
        self.ks = []

    def warm_op(self, k):
        self.ks.append(k)


def test_warm_up_runs_a_fixed_number_of_ops():
    w = _Warming()
    assert len(run.warm_up(w)) == run.WARM_OPS
    assert w.ks == list(range(run.WARM_OPS))


def test_tree_cpu_s_counts_exited_children():
    import subprocess
    t0 = tracing.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert tracing.tree_cpu_s() - t0 >= 0.25


def test_every_layer_is_exercised_by_some_workload():
    bypassed = [w.bypasses for w in workloads.WORKLOADS.values()]
    assert all(b <= set(run.PER_LAYER) for b in bypassed)
    assert not set.intersection(*bypassed)


def test_event_log_summary(tmp_path):
    """Only the stages of the traced ops' job groups count; skew is
    slowest / median task of the stage with the most task time."""
    from tracing import event_log_summary

    def task(stage, ms, gc, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms},
                "Task Metrics": {"JVM GC Time": gc, "Executor Run Time": ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        task(0, 100, 10, 500), task(0, 100, 0, 500),
        task(1, 100, 0, 0), task(1, 100, 0, 0), task(1, 400, 30, 0),
        task(2, 9000, 900, 7000),
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    ev = event_log_summary(str(tmp_path), {"op#1"})
    assert ev["shuffle_bytes"] == 1000
    assert ev["gc_share"] == pytest.approx(40 / 800)
    assert ev["task_skew"] == pytest.approx(4.0)
    assert [st["stage"] for st in ev["stages"]] == [0, 1]


def test_benchmark_json_matches_the_harness():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
