"""The workloads.  Each is a closed loop from one process: the next
operation starts when the previous one has returned and been checked.
Traced runs also run one untimed maintenance job next to the workload —
the nightly lifecycle cycle for ``ingest``, the tier-family build for
``serve`` — so that every layer has a ledger entry.

A workload provides
- ``prepare(rep)``: generate its inputs under ``rep``'s own directory
  (run several times to time set-up; the last one is used);
- ``build()``: engine work that builds the store the operation reads;
- ``warm_op(k)``: an untimed operation like ``op``; the harness runs a
  fixed number of them (Python workers started, hot paths
  JIT-compiled);
- ``warm()``: traced runs only — set up the untimed maintenance job;
- ``op(i)``: the timed operation, returning its output summary;
- ``check(i, out)``: compare that output with the NumPy oracle (after
  the timed loop);
- ``ledger(i, out)``: traced runs only — extra calls that split the
  operation into layers (prefix runs into the ``noop`` sink); returns
  False when an output it checks is wrong;
- ``end_to_end(outs)`` / ``layers(outs)``: the reported metrics;
- ``bypasses``: the per-layer metrics the workload does no work in,
  reported as 0 by its traced run.  Any other layer it fails to report
  counts as a failed op.
"""
from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import gen
import oracle
from gen import DAY_MS

AGG = ["len", "words"]
CHANNELS = ["len", "words", "text_hash"]      # default_channels()
FAMILIES = ["corr", "twa", "hb", "rate", "hist", "state", "candle",
            "exphist", "autocorr", "trend"]
FAMILY_CHANNELS = ["len", "words", "role_idx"]
HOUR_MS = 3_600_000
MINUTE_MS = 60_000
FAMILY_LAYERS = {f"{f}.{k}_s" for f in FAMILIES for k in ("build", "cascade")}
FAMILY_LAYERS.add("tiers.decode_s")
SERVE_LAYERS = {"serve.range_read_p50_ms", "serve.value_read_p50_ms",
                "serve.tier_read_p50_ms", "retention.blocks_decoded",
                "retention.prune_ratio", "retention.prune_s", "retention.decode_s"}
MAINTAIN_LAYERS = {"sources.jsonl_parse_s", "sources.quarantined_rows",
                   "sources.dedup_dropped_rows", "maintain.cycle_s",
                   "backfill_s", "compact_s", "audit_s", "purge_s",
                   "compact.blocks_in", "compact.blocks_out",
                   "compact.rewrite_amp", "compact.points_per_s"}
ENCODE_LAYERS = {"sources.scan_s", "functions.project_s", "encode.pack_s",
                 "encode.kernel_s", "encode.decode_s",
                 "encode.points_per_block_p50", "codec.glue_ratio",
                 "store.write_s", "store.bytes_written", "rollup.block_meta_s",
                 "rollup.tier_rows",
                 "trace.unaccounted_s"}      # what the ingest ladder leaves over


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def channel_list(names):
    """The engine's Channel objects for ``names`` (len is the one double
    channel; text_hash is a fingerprint, kept out of rollups)."""
    from gorilla_tsc_spark.functions.channels import Channel
    return [Channel(n, "double" if n == "len" else "long", agg=n != "text_hash")
            for n in names]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def med(xs) -> float:
    if not len(xs):
        raise ValueError("no samples")
    return float(np.median(xs))


class Workload:
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.codec = None       # set by the first traced ledger

    def build(self) -> None:
        """Engine work that builds what the operation reads (once)."""

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def span(self, name):
        return self.tr.span(name)

    def store_stats(self, store: str) -> tuple:
        """(payload bytes, on-disk bytes) per point of a block store."""
        from pyspark.sql import functions as F
        n, payload = self.spark.read.parquet(store).agg(
            F.sum("n_points"), F.sum(F.length("payload"))).first()
        return payload / n, dir_bytes(store) / n

    def codec_layers(self) -> dict:
        c = self.codec
        return {"codec.native": c["native"], "codec.encode_mpts_per_s": c["enc"],
                "codec.decode_mpts_per_s": c["dec"]}

    def codec_probe(self, blocks_df) -> dict:
        """Single-core C codec speed on the workload's own blocks: decode
        then re-encode the payloads of up to 4000 ``len`` blocks in the
        driver, the median of five rounds, in million points per second."""
        from gorilla_tsc_spark.codec import native
        rows = (blocks_df.where("channel = 'len'")
                .select("n_points", "block_start", "payload")
                .limit(4000).collect())
        payloads = [bytes(r.payload) for r in rows]
        counts = np.array([r.n_points for r in rows], dtype=np.int64)
        bts = np.array([r.block_start for r in rows], dtype=np.int64)
        if native.get_lib() is None:
            return {"native": 0, "enc": 0.0, "dec": 0.0}
        starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
        dec, enc = [], []
        for _ in range(5):
            t = time.perf_counter()
            ts, bits, _ = native.decode_many(payloads, counts)
            dec.append(time.perf_counter() - t)
            t = time.perf_counter()
            native.encode_many(starts, counts, bts, ts, bits)
            enc.append(time.perf_counter() - t)
        n = int(counts.sum()) / 1e6
        return {"native": 1, "enc": n / med(enc), "dec": n / med(dec)}

    def families(self, i: int, store: str) -> dict:
        """Decode the store once, then build and cascade the ten tier
        families at 1h -> 1d as jobs/tiers_job.py does: write the fine
        tier, read it back, cascade, write the coarse tier."""
        from pyspark.sql import functions as F

        from gorilla_tsc_spark.operators.encode import (block_value_column,
                                                        decode_blocks)
        out_dir = self.path("tiers", f"i{i}")
        read = self.spark.read.parquet
        with self.span("tiers.decode"):
            pts = (decode_blocks(read(store).where(F.col("channel").isin(*FAMILY_CHANNELS)))
                   .select("conv_id", "channel", "ts_ms",
                           block_value_column().alias("v"))
                   .persist())
            pts.count()
        for name, build, cascade in tier_families(pts):
            fine = os.path.join(out_dir, f"{name}_fine")
            with self.span(f"{name}.build"):
                build().write.mode("overwrite").parquet(fine)
            with self.span(f"{name}.cascade"):
                cascade(read(fine)).write.mode("overwrite") \
                    .parquet(os.path.join(out_dir, f"{name}_coarse"))
        pts.unpersist()
        return {"dir": out_dir}

    def family_layers(self) -> dict:
        m = self.tr.median
        return {"tiers.decode_s": m("tiers.decode"),
                **{f"{f}.{k}_s": m(f"{f}.{k}") for f in FAMILIES
                   for k in ("build", "cascade")}}

    def families_ok(self, tiers: dict, expect: pd.Series) -> bool:
        """Σn per conversation in every fine and coarse family tier equals
        the points that conversation has in the store."""
        from functools import reduce

        from pyspark.sql import functions as F
        read = self.spark.read.parquet
        parts = [read(os.path.join(tiers["dir"], f"{f}_{g}"))
                 .select(F.lit(f"{f}_{g}").alias("t"), "conv_id", "n")
                 for f in FAMILIES for g in ("fine", "coarse")]
        rows = (reduce(lambda a, b: a.unionByName(b), parts)
                .groupBy("t", "conv_id").agg(F.sum("n").alias("n")).collect())
        got = pd.DataFrame([tuple(r) for r in rows], columns=["t", "conv_id", "n"])
        ok = got["t"].nunique() == 2 * len(FAMILIES)
        for _, g in got.groupby("t"):
            s = g.set_index("conv_id")["n"].astype(np.int64).sort_index()
            ok = ok and s.index.equals(expect.index) and bool((s == expect).all())
        return bool(ok)


# ---------------------------------------------------------------------------
# ingest: batches -> encode_blocks -> block store -> rollup_from_block_meta


class Ingest(Workload):
    n_convs = 1000
    batches = 3
    # the tier families and the serve reads run in traced serve runs
    bypasses = FAMILY_LAYERS | SERVE_LAYERS

    def prepare(self, rep: int) -> None:
        self.inputs, self.corpora = [], []
        for b in range(self.batches):
            c = gen.generate(self.seed * 1000 + b, self.n_convs, conv_prefix=f"b{b}c")
            p = self.path(f"rep{rep}", "in", f"b{b}")
            gen.write_parquet(c, p, 2 * self.ctx.nproc)
            self.inputs.append(p)
            self.corpora.append(c)
        self.expect = {}

    def warm_op(self, k: int) -> None:
        self._run(-1 - k, k % self.batches)

    def warm(self) -> None:
        if self.ctx.trace:
            self.maint = Maintain(self.ctx)
            self.maint.prepare(0)
            self.maint.build()
            self.maint.warm()
            self.maint_outs = []

    def _run(self, i: int, b: int) -> dict:
        from gorilla_tsc_spark.operators.encode import encode_blocks
        from gorilla_tsc_spark.operators.rollup import rollup_from_block_meta
        store = self.path("store", f"batch={i}")
        day = self.path("day", f"batch={i}")
        with self.span("encode_write"):
            encode_blocks(self.spark.read.parquet(self.inputs[b])) \
                .write.mode("overwrite").parquet(store)
        with self.span("rollup_write"):
            rollup_from_block_meta(self.spark.read.parquet(store)) \
                .write.mode("overwrite").parquet(day)
        return {"b": b, "store": store, "day": day, "points": 3 * self.corpora[b].n}

    def op(self, i: int) -> dict:
        return self._run(i, i % self.batches)

    def _expected(self, b: int):
        if b not in self.expect:
            c = self.corpora[b]
            self.expect[b] = (oracle.fingerprint_corpus(c, CHANNELS),
                              oracle.tier_arrays(c, AGG, DAY_MS))
        return self.expect[b]

    def check(self, i: int, out: dict) -> bool:
        fp, day = self._expected(out["b"])
        blocks = self.spark.read.parquet(out["store"]).select(
            "conv_id", "channel", "kind", "n_points", "payload").toPandas()
        got = oracle.blocks_fingerprint(blocks)
        # the day tier also rolls up the text_hash fingerprint channel,
        # whose float sums are order-dependent: compare its counts only
        tier = oracle.collected_tier(self.spark.read.parquet(out["day"]).select(
            "conv_id", "channel", "bucket", *oracle.TIER_COLS).collect())
        got_day = tier[tier.index.get_level_values("channel").isin(AGG)]
        hashed = tier.xs("text_hash", level="channel")["cnt"]
        out.update(payload=int(blocks["payload"].map(len).sum()),
                   tier_rows=len(tier), disk=dir_bytes(out["store"]),
                   ppb=float(blocks["n_points"].median()))
        return (oracle.same(fp, got) and oracle.same(day, got_day)
                and hashed.equals(day.xs("len", level="channel")["cnt"])
                and int(blocks["n_points"].sum()) == out["points"])

    def ledger(self, i: int, out: dict) -> bool:
        from gorilla_tsc_spark.operators.encode import (decode_blocks,
                                                        encode_points,
                                                        pack_blocks,
                                                        points_for_encode)
        from gorilla_tsc_spark.functions.channels import default_channels
        src = self.spark.read.parquet(self.inputs[out["b"]])
        with self.span("ladder.scan"):
            noop(src)
        with self.span("ladder.project"):
            noop(points_for_encode(src))
        with self.span("ladder.pack"):
            noop(pack_blocks(points_for_encode(src), default_channels()))
        with self.span("ladder.encode"):
            noop(encode_points(points_for_encode(src), default_channels()))
        with self.span("ladder.decode"):
            noop(decode_blocks(self.spark.read.parquet(out["store"])))
        if self.codec is not None:
            return True
        self.codec = self.codec_probe(self.spark.read.parquet(out["store"]))
        # once per run: one nightly cycle over the maintenance store
        with self.span("maintain.cycle"):
            m = self.maint.cycle(i)
        ok = self.maint.check(i, m) and self.maint.ledger(i, m)
        self.maint_outs.append(m)
        return ok

    def end_to_end(self, outs) -> dict:
        return {
            "op_cpu_ms": 1e3 * med([o["cpu_s"] for o in outs]),
            "points_per_cpu_s": med([o["points"] / o["cpu_s"] for o in outs]),
            "bytes_per_point": med([o["payload"] / o["points"] for o in outs]),
            "store_bytes_per_point": med([o["disk"] / o["points"] for o in outs]),
        }

    def layers(self, outs) -> dict:
        m = self.tr.median
        d = self.tr.durations
        # prefix-plan ladder: each step's noop run minus the previous one
        steps = [d(s) for s in ("ladder.scan", "ladder.project", "ladder.pack",
                                "ladder.encode", "encode_write")]
        n = min(len(x) for x in steps)
        per_iter = np.array([x[:n] for x in steps]).T
        diffs = np.diff(per_iter, axis=1, prepend=0.0)
        scan, project, pack, kernel, write = np.median(diffs, axis=0).tolist()
        codec = self.codec_layers()
        # single-core codec time for the batch's points
        enc = codec["codec.encode_mpts_per_s"]
        codec_s = med([o["points"] for o in outs]) / (enc * 1e6) if enc else 0.0
        op_s = med([o["op_s"] for o in outs if o["traced"]])
        return {
            "trace.unaccounted_s": op_s - (scan + project + pack + kernel + write
                                           + m("rollup_write")),
            "sources.scan_s": scan,
            "functions.project_s": project,
            "encode.pack_s": pack,
            "encode.kernel_s": kernel,
            "encode.decode_s": m("ladder.decode"),
            "encode.points_per_block_p50": med([o["ppb"] for o in outs]),
            **codec,
            "codec.glue_ratio": kernel / codec_s if codec_s else 0.0,
            "store.write_s": write,
            "store.bytes_written": med([o["disk"] for o in outs]),
            "rollup.block_meta_s": m("rollup_write"),
            "rollup.tier_rows": med([o["tier_rows"] for o in outs]),
            **self.maint.layers(self.maint_outs),
        }


# ---------------------------------------------------------------------------
# serve: one waiting client refreshing a three-panel dashboard


class Serve(Workload):
    n_convs = 1500
    channels = CHANNELS + ["role_idx"]      # role_idx feeds the state family
    # encoding and the nightly cycle run in traced ingest runs
    bypasses = ENCODE_LAYERS | MAINTAIN_LAYERS
    range_turns = 3000          # turns inside each read_range window
    value_turns = 20000         # turns inside each threshold-scan window

    def prepare(self, rep: int) -> None:
        c = gen.generate(self.seed, self.n_convs)
        self.base = self.path(f"rep{rep}")
        gen.write_parquet(c, os.path.join(self.base, "in"), 2 * self.ctx.nproc)
        self.corpus = c
        self.ts_sorted = np.sort(c.ts_ms)
        self.now_ms = int(self.ts_sorted[-1])
        self.v_lo = float(np.quantile(c.pool_len, 0.9))

    def build(self) -> None:
        """Block store plus the 1m/1h/1d tiers, as the pipeline writes them."""
        from pyspark.sql import functions as F

        from gorilla_tsc_spark.operators.encode import (block_value_column,
                                                        decode_blocks,
                                                        encode_blocks)
        from gorilla_tsc_spark.operators.rollup import (TIER_MS, cascade,
                                                        rollup_points)
        read = self.spark.read.parquet
        at = lambda name: os.path.join(self.base, name)  # noqa: E731
        encode_blocks(read(at("in")), channel_list(self.channels)) \
            .write.mode("overwrite").parquet(at("store"))
        pts = decode_blocks(read(at("store"))).where(F.col("channel").isin(*AGG))
        rollup_points(pts, TIER_MS["1m"], block_value_column()) \
            .write.mode("overwrite").parquet(at("t1m"))
        cascade(read(at("t1m")), TIER_MS["1m"], TIER_MS["1h"]) \
            .write.mode("overwrite").parquet(at("t1h"))
        cascade(read(at("t1h")), TIER_MS["1h"], TIER_MS["1d"]) \
            .write.mode("overwrite").parquet(at("t1d"))
        self.blocks, self.t1m, self.t1h, self.t1d = (
            read(at(t)) for t in ("store", "t1m", "t1h", "t1d"))
        self.warm_rng = np.random.default_rng(self.seed + 7)
        self.rng = np.random.default_rng(self.seed)

    def warm_op(self, k: int) -> None:
        self.refresh(self.warm_rng)

    def warm(self) -> None:
        if self.ctx.trace:
            self.families(-1, os.path.join(self.base, "store"))

    def refresh(self, rng) -> dict:
        """A dashboard refresh, three panels queried one after another:
        raw points for a window (``read_range``), threshold exceedances
        of ``len`` in a wider window (``read_value_range``), and one
        conversation's history at the best resolution each age has
        (``serve_union``)."""
        from pyspark.sql import functions as F

        from gorilla_tsc_spark.operators.retention import (read_range,
                                                           read_value_range,
                                                           serve_union)
        c = self.corpus
        q = {}
        # windows hold a fixed number of turns, so answers are alike in size
        for kind, width in (("range", self.range_turns), ("value", self.value_turns)):
            j = int(rng.integers(0, c.n - width))
            t0, t1 = int(self.ts_sorted[j]), int(self.ts_sorted[j + width])
            with self.span(f"{kind}_read") as s:
                df = (read_range(self.blocks, t0, t1) if kind == "range" else
                      read_value_range(self.blocks, self.v_lo, channel="len",
                                       t0_ms=t0, t1_ms=t1))
                pdf = df.select("conv_id", "channel", "ts_ms",
                                oracle.value_long_column().alias("v")).toPandas()
            q[kind] = {"t0": t0, "t1": t1, "pdf": pdf, "s": s.dur}
        conv = c.conv_ids[int(rng.integers(0, len(c.conv_ids)))]
        with self.span("tier_read") as s:
            rows = (serve_union(self.t1m, self.t1h, self.t1d, self.now_ms)
                    .where(F.col("conv_id") == conv)
                    .select("conv_id", "channel", "bucket", *oracle.TIER_COLS,
                            "tier").collect())
        q["tier"] = {"conv": conv, "rows": rows, "s": s.dur}
        q["points"] = len(q["range"]["pdf"]) + len(q["value"]["pdf"])
        return q

    def op(self, i: int) -> dict:
        return self.refresh(self.rng)

    def check(self, i: int, out: dict) -> bool:
        from gorilla_tsc_spark.operators.retention import (RetentionPolicy,
                                                           cutoff_ms)
        c = self.corpus
        ok = True
        for kind in ("range", "value"):
            q = out[kind]
            mask = (c.ts_ms >= q["t0"]) & (c.ts_ms < q["t1"])
            chans = self.channels
            if kind == "value":
                mask &= c.channel_values("len") >= self.v_lo
                chans = ["len"]
            ok = ok and oracle.same(oracle.fingerprint_corpus(c, chans, mask),
                                    oracle.points_fingerprint(q.pop("pdf")))
        # serve_union: 1m buckets newer than the 1m horizon, 1h buckets
        # between the 1m and 1h horizons, 1d buckets beyond
        pol = RetentionPolicy()
        cuts = [cutoff_ms(self.now_ms, d) for d in
                (pol.keep_1m_days, pol.keep_1h_days, pol.keep_1d_days)]
        mine = c.conv_ids[c.conv] == out["tier"]["conv"]
        parts = []
        for (tier, ms), lo, hi in zip((("1m", MINUTE_MS), ("1h", HOUR_MS), ("1d", DAY_MS)),
                                      cuts, (None, cuts[0], cuts[1])):
            t = oracle.tier_arrays(c, AGG, ms, mine).reset_index()
            sel = (t["bucket"] >= lo) & ((t["bucket"] < hi) if hi else True)
            parts.append(t[sel].assign(tier=tier))
        want = pd.concat(parts).set_index(["conv_id", "channel", "bucket"])
        got = oracle.collected_tier(out["tier"].pop("rows"), extra=("tier",))
        return ok and oracle.same(want, got)

    def end_to_end(self, outs) -> dict:
        payload, disk = self.store_stats(os.path.join(self.base, "store"))
        return {
            "op_cpu_ms": 1e3 * med([o["cpu_s"] for o in outs]),
            "points_per_cpu_s": sum(o["points"] for o in outs) / sum(o["cpu_s"] for o in outs),
            "bytes_per_point": payload,
            "store_bytes_per_point": disk,
        }

    def ledger(self, i: int, out: dict) -> bool:
        from pyspark.sql import functions as F
        out.update(blocks_decoded=0, prune_s=0.0)
        for kind in ("range", "value"):
            # ladder: the read's metadata prune alone, into the noop sink
            q = out[kind]
            pruned = self.blocks.where((F.col("last_ts") >= q["t0"])
                                       & (F.col("first_ts") < q["t1"]))
            if kind == "value":
                pruned = pruned.where((F.col("channel") == "len")
                                      & (F.col("agg_max") >= self.v_lo))
            with self.span("ladder.prune") as s:
                noop(pruned)
            out["prune_s"] += s.dur
            out["blocks_decoded"] += pruned.count()
        if self.codec is not None:
            return True
        self.n_blocks = self.blocks.count()
        self.codec = self.codec_probe(self.blocks)
        # once per run: the ten tier families over the served store
        tiers = self.families(i, os.path.join(self.base, "store"))
        return self.families_ok(tiers, oracle.series_counts(self.corpus))

    def layers(self, outs) -> dict:
        plain = [o for o in outs if not o["traced"]]
        led = [o for o in outs if "blocks_decoded" in o]
        prune_s = med([o["prune_s"] for o in led])
        decoded = med([o["blocks_decoded"] for o in led])
        read_s = med([o["range"]["s"] + o["value"]["s"] for o in led])
        return {
            **{f"serve.{k}_read_p50_ms": 1e3 * med([o[k]["s"] for o in plain])
               for k in ("range", "value", "tier")},
            "retention.blocks_decoded": decoded,
            # share of the store's blocks the two decode reads decoded
            "retention.prune_ratio": decoded / (2 * self.n_blocks),
            "retention.prune_s": prune_s,
            "retention.decode_s": max(read_s - prune_s, 0.0),
            **self.codec_layers(),
            **self.family_layers(),
        }


# ---------------------------------------------------------------------------
# the nightly maintenance cycle over small-block debris (traced ingest runs)


class Maintain(Workload):
    """Every cycle starts from the same debris store and applies the same
    late batch and purge, so cycles repeat the same work."""
    n_convs, len_mu = 500, 4.3
    ppb = 64

    def prepare(self, rep: int) -> None:
        c = gen.generate(self.seed, self.n_convs, self.len_mu)
        self.base = self.path(f"rep{rep}")
        gen.write_parquet(c, os.path.join(self.base, "in"), 2 * self.ctx.nproc)
        rng = np.random.default_rng(self.seed + 1)
        self.late = gen.late_batch(rng, c, os.path.join(self.base, "late"),
                                   n_late=c.n // 30, conv_share=0.1,
                                   n_new_convs=20, bad_share=0.01, dup_share=0.05)
        # purge a 10-day window from five typical conversations inside it
        t0 = int(gen.BASE_MS + rng.integers(0, 40) * DAY_MS)
        t1 = t0 + 10 * DAY_MS
        n = np.bincount(c.conv)
        lo, hi = (np.minimum.reduceat(c.ts_ms, np.cumsum(n) - n),
                  np.maximum.reduceat(c.ts_ms, np.cumsum(n) - n))
        inside = np.flatnonzero((lo >= t0) & (hi < t1) & (n <= 2 * np.median(n)))
        ids = rng.choice(inside, min(5, len(inside)), replace=False)
        self.purge = (list(c.conv_ids[ids]), t0, t1)
        self.corpus = c
        self.expect = None

    def build(self) -> None:
        from gorilla_tsc_spark.operators.encode import encode_blocks
        encode_blocks(self.spark.read.parquet(os.path.join(self.base, "in")),
                      channel_list(CHANNELS), points_per_block=self.ppb) \
            .write.mode("overwrite").parquet(os.path.join(self.base, "store"))

    def warm(self) -> None:
        self.cycle(-1)

    def cycle(self, i: int) -> dict:
        from gorilla_tsc_spark.operators.audit import (audit_blocks,
                                                       audit_summary)
        from gorilla_tsc_spark.operators.backfill import ingest_backfill
        from gorilla_tsc_spark.operators.compact import compact_blocks
        from gorilla_tsc_spark.operators.purge import purge_range
        from gorilla_tsc_spark.sources.ingest import (dedupe_turns,
                                                      read_transcripts_jsonl,
                                                      split_corrupt)
        at = lambda name: os.path.join(self.path("cycle", f"i{i}"), name)  # noqa: E731
        read = self.spark.read.parquet
        with self.span("maintain.sources"):
            clean, quarantine = split_corrupt(
                read_transcripts_jsonl(self.spark, self.late.path))
            n_quar = quarantine.count()
        with self.span("backfill"):
            ingest_backfill(read(os.path.join(self.base, "store")),
                            dedupe_turns(clean), channel_list(CHANNELS)) \
                .write.mode("overwrite").parquet(at("merged"))
        with self.span("compact"):
            compact_blocks(read(at("merged"))).write.mode("overwrite") \
                .parquet(at("compacted"))
        with self.span("audit"):
            audit = audit_summary(audit_blocks(read(at("compacted")))).first()
        with self.span("purge"):
            purge_range(read(at("compacted")), *self.purge) \
                .write.mode("overwrite").parquet(at("purged"))
        return {"dir": at(""), "quarantined": n_quar, "audit_bad": sum(audit[1:])}

    def _expected(self):
        """Fingerprint and point count of the store after a cycle: base ∪
        late kept turns, minus the purge (the count before the purge)."""
        if self.expect is None:
            base, kept = self.corpus, self.late.kept
            merged = gen.Corpus(
                kept.conv_ids, *(np.concatenate((getattr(base, f), getattr(kept, f)))
                                 for f in ("conv", "turn_idx", "ts_ms", "text_id")),
                base.pool_text, base.pool_len, base.pool_words, base.pool_hash)
            ids, t0, t1 = self.purge
            gone = (np.isin(merged.conv_ids[merged.conv], ids)
                    & (merged.ts_ms >= t0) & (merged.ts_ms < t1))
            self.expect = (oracle.fingerprint_corpus(merged, CHANNELS, ~gone),
                           merged.n * len(CHANNELS))
        return self.expect

    def check(self, i: int, out: dict) -> bool:
        fp, merged_points = self._expected()
        cols = ("conv_id", "channel", "kind", "n_points", "payload")
        purged = self.spark.read.parquet(os.path.join(out["dir"], "purged")) \
            .select(*cols).toPandas()
        comp = self.spark.read.parquet(os.path.join(out["dir"], "compacted")) \
            .select("n_points", "payload").toPandas()
        out.update(points=int(comp["n_points"].sum()),
                   payload=int(comp["payload"].map(len).sum()), blocks_out=len(comp))
        return (oracle.same(fp, oracle.blocks_fingerprint(purged))
                and out["quarantined"] == self.late.bad_lines
                and out["audit_bad"] == 0 and out["points"] == merged_points)

    def ledger(self, i: int, out: dict) -> bool:
        from pyspark.sql import functions as F

        from gorilla_tsc_spark.sources.ingest import (dedupe_turns,
                                                      read_transcripts_jsonl,
                                                      split_corrupt)
        raw = read_transcripts_jsonl(self.spark, self.late.path)
        with self.span("ladder.jsonl_parse"):
            noop(raw)
        clean, _ = split_corrupt(raw)
        out["dedup_dropped"] = clean.count() - dedupe_turns(clean).count()
        merged = self.spark.read.parquet(os.path.join(out["dir"], "merged"))
        n, payload = merged.agg(F.count(F.lit(1)), F.sum(F.length("payload"))).first()
        out.update(blocks_in=n, payload_in=payload)
        return out["dedup_dropped"] == self.late.dup_lines

    def layers(self, outs) -> dict:
        m = self.tr.median
        led = [o for o in outs if "blocks_in" in o]
        return {
            "maintain.cycle_s": m("maintain.cycle"),
            "sources.jsonl_parse_s": m("ladder.jsonl_parse"),
            "sources.quarantined_rows": med([o["quarantined"] for o in outs]),
            "sources.dedup_dropped_rows": med([o["dedup_dropped"] for o in led]),
            "backfill_s": m("backfill"),
            "compact_s": m("compact"),
            "audit_s": m("audit"),
            "purge_s": m("purge"),
            "compact.blocks_in": med([o["blocks_in"] for o in led]),
            "compact.blocks_out": med([o["blocks_out"] for o in led]),
            "compact.rewrite_amp": med([o["payload_in"] / o["payload"] for o in led]),
            "compact.points_per_s": med([o["points"] for o in outs]) / m("compact"),
        }


def tier_families(pts):
    """(name, build() -> 1h tier, cascade(1h tier) -> 1d tier) for the
    ten families, with jobs/tiers_job.py's channel choices: corr over
    (len, words), state over role_idx, candle over len with words as
    volume, rate over words, every other family over len."""
    from pyspark.sql import functions as F

    from gorilla_tsc_spark.operators import (autocorr, candle, correlate,
                                             exphist, heartbeat, histogram,
                                             rate, statetier, timeweight,
                                             trend)
    b, c = HOUR_MS, DAY_MS
    hb_ms, nstates, (lo, width, nbins), ebins = 5 * MINUTE_MS, 3, (0.0, 32.0, 16), 12

    def ch(name):
        return pts.where(F.col("channel") == name)

    xy = (pts.where(F.col("channel").isin("len", "words"))
          .groupBy("conv_id", "ts_ms").pivot("channel", ["len", "words"])
          .agg(F.max("v"))
          .select("conv_id", "ts_ms", F.col("len").alias("x"),
                  F.col("words").alias("y")))
    vol = ch("words").select("conv_id", "ts_ms", F.col("v").alias("vol"))
    state = ch("role_idx").select("conv_id", "ts_ms", F.col("v").cast("int").alias("s"))
    return [
        ("corr", lambda: correlate.corr_tier(xy, b),
         lambda t: correlate.cascade_corr_tier(t, b, c)),
        ("twa", lambda: timeweight.twa_tier(ch("len"), b),
         lambda t: timeweight.cascade_twa_tier(t, b, c)),
        ("hb", lambda: heartbeat.heartbeat_tier(ch("len").select("conv_id", "ts_ms"),
                                                b, hb_ms),
         lambda t: heartbeat.cascade_heartbeat_tier(t, b, c, hb_ms)),
        ("rate", lambda: rate.rate_tier(ch("words"), b),
         lambda t: rate.cascade_rate_tier(t, b, c)),
        ("hist", lambda: histogram.histogram_tier(ch("len"), b, lo, width, nbins),
         lambda t: histogram.cascade_hist_tier(t, b, c, nbins)),
        ("state", lambda: statetier.state_tier(state, b, nstates),
         lambda t: statetier.cascade_state_tier(t, b, c, nstates)),
        ("candle", lambda: candle.candle_tier(
            ch("len").select("conv_id", "ts_ms", "v")
            .join(vol, ["conv_id", "ts_ms"], "left"), b, vol_col="vol"),
         lambda t: candle.cascade_candle_tier(t, b, c)),
        ("exphist", lambda: exphist.exphist_tier(ch("len"), b, ebins),
         lambda t: exphist.cascade_exphist_tier(t, b, c, ebins)),
        ("autocorr", lambda: autocorr.autocorr_tier(ch("len"), b),
         lambda t: autocorr.cascade_autocorr_tier(t, b, c)),
        ("trend", lambda: trend.trend_tier(ch("len"), b),
         lambda t: trend.cascade_trend_tier(t, b, c)),
    ]


WORKLOADS = {"ingest": Ingest, "serve": Serve}
