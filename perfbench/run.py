"""Seeded benchmark of the gorilla_tsc_spark engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates its inputs from ``--seed``,
sets up a ``local[nproc]`` Spark session, runs the workload's
operation in a closed loop for ``--seconds`` seconds, checks every
output against a NumPy oracle and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ledger with ``--trace 1``.
The line before it is the full record with the environment stamp.
Scratch files live under ``.bench_work/`` and are removed at exit;
traced runs also leave ``.bench_work/ledger-<workload>-<seed>.json``.
See perfbench/README.md for the workloads and metrics.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from tracing import tree_cpu_s
from workloads import FAMILIES, WORKLOADS  # numpy and pandas only; the engine loads later

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "2g"
LOOP_CAP_S = 100.0           # hard stop for a loop that must reach min_ops
SETUP_REPS = 3               # input generations per run; setup_s takes the median
WARM_OPS = 12                # untimed warm-up operations per run

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "op_cpu_ms": "ms",
    "points_per_cpu_s": "1/s", "bytes_per_point": "B",
    "store_bytes_per_point": "B",
}
_FAMILY_LAYERS = {f"{f}.{k}_s": "s" for f in FAMILIES for k in ("build", "cascade")}
PER_LAYER = {
    "sources.scan_s": "s", "sources.jsonl_parse_s": "s",
    "sources.quarantined_rows": "count", "sources.dedup_dropped_rows": "count",
    "functions.project_s": "s",
    "encode.pack_s": "s", "encode.kernel_s": "s", "encode.decode_s": "s",
    "encode.points_per_block_p50": "count",
    "codec.native": "bool", "codec.encode_mpts_per_s": "Mpts/s",
    "codec.decode_mpts_per_s": "Mpts/s", "codec.glue_ratio": "ratio",
    "store.write_s": "s", "store.bytes_written": "B",
    "rollup.block_meta_s": "s", "rollup.tier_rows": "count",
    "retention.blocks_decoded": "count", "retention.prune_ratio": "ratio",
    "retention.prune_s": "s", "retention.decode_s": "s",
    "serve.range_read_p50_ms": "ms", "serve.value_read_p50_ms": "ms",
    "serve.tier_read_p50_ms": "ms",
    "maintain.cycle_s": "s",
    "backfill_s": "s", "compact_s": "s", "audit_s": "s", "purge_s": "s",
    "compact.blocks_in": "count", "compact.blocks_out": "count",
    "compact.rewrite_amp": "ratio", "compact.points_per_s": "1/s",
    "tiers.decode_s": "s", **_FAMILY_LAYERS,
    "spark.jobs_per_op": "count", "spark.shuffle_bytes_per_point": "B",
    "spark.gc_share": "ratio", "spark.task_skew": "ratio",
    "trace.overhead_s": "s", "trace.unaccounted_s": "s",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    nproc: int
    tracer: object
    trace: bool


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def isolate(work: Path) -> None:
    """Keep every file the run writes (Spark scratch, the native
    kernel's build cache, temp files) under ``work``."""
    for sub in ("home", "tmp", "spark-local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "HOME": str(work / "home"), "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def start_spark(work: Path, cores: int, trace: bool):
    from gorilla_tsc_spark.session import get_spark
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a heap of fixed size, as SPARK_GRAFT_DRIVER_MEM sets its maximum:
        # left to grow, its size follows the collector's timing, and peak
        # RSS disagreed by ~20 % between runs; no hsperfdata in /tmp
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "events"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from tracing import tree_pids
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def warm_up(wl) -> list:
    """``WARM_OPS`` untimed operations: the Python workers start and the
    JVM's JIT compiles the hot paths over the first ones.  A fixed count,
    not a stopping rule on noisy op times, so that every run starts its
    timed loop from the same point.  Returns their times."""
    times: list = []
    for k in range(WARM_OPS):
        t = time.perf_counter()
        wl.warm_op(k)
        times.append(time.perf_counter() - t)
    return times


def measure(wl, tracer, seconds: float, trace: bool, rss=None):
    """Closed loop of operations for ``seconds``, then every output
    checked against its oracle.  In traced runs every other op is
    traced and followed by the layer ledger.  An op that raises or
    fails its check is a failed op."""
    outs, groups = [], set()
    attempted = failed = streak = 0
    t_loop = time.perf_counter()
    # a traced run needs untraced and traced ops to compare, two of each
    min_ops = max(wl.min_ops, 4 if trace else 1)
    i = 0
    while True:
        elapsed = time.perf_counter() - t_loop
        if (elapsed >= seconds and i >= min_ops) or elapsed >= LOOP_CAP_S:
            break
        traced = trace and i % 2 == 1
        tracer.enabled = traced
        attempted += 1
        try:
            if rss is not None:
                rss.active.set()
            try:
                cpu0 = tree_cpu_s()
                with tracer.span("op", trace=i, group=True) as s:
                    out = wl.op(i)
                cpu_s = tree_cpu_s() - cpu0
            finally:
                if rss is not None:
                    rss.sample()
                    rss.active.clear()
            out.update(i=i, op_s=s.dur, cpu_s=cpu_s,
                       traced=traced, ledger_ok=True)
            if traced:
                out["jobs"] = tracer.jobs_in_group(s)
                groups.add(s.group)
                with tracer.span("ledger", trace=i):
                    out["ledger_ok"] = wl.ledger(i, out)
            outs.append(out)
            streak = 0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            print(f"op {i} raised", file=sys.stderr)
            streak += 1
            if streak >= 3:
                break
        i += 1
    tracer.enabled = trace
    for out in outs:
        try:
            out["ok"] = wl.check(out["i"], out) and out["ledger_ok"]
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out["ok"] = False
        if not out["ok"]:
            failed += 1
            print(f"op {out['i']} failed its check", file=sys.stderr)
    return outs, groups, attempted, failed


def run(name: str, seed: int, seconds: float, trace: bool, work: Path) -> tuple:
    import numpy as np

    from tracing import (RssSampler, Tracer, cpu_times, env_stamp,
                         event_log_summary, host_state, steal_share)
    cores = nproc()
    stamp = env_stamp(seed, cores)
    rec: dict = {"workload": name, "env": stamp}
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_spark(work, cores, trace)
        rec["jvm_s"] = time.perf_counter() - t
        try:
            from gorilla_tsc_spark.codec import native
            t = time.perf_counter()
            stamp["codec_native"] = int(native.get_lib() is not None)
            rec["kernel_s"] = time.perf_counter() - t
            tracer = Tracer(enabled=False, sc=spark.sparkContext)
            wl = WORKLOADS[name](Ctx(spark, str(work), seed, cores, tracer, trace))
            reps = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                wl.prepare(r)
                reps.append(time.perf_counter() - t)
            rec["prepare_s"] = reps
            t = time.perf_counter()
            wl.build()
            rec["build_s"] = time.perf_counter() - t
            rec["warm_ops_s"] = warm_up(wl)
            t = time.perf_counter()
            wl.warm()
            rec["warm_s"] = time.perf_counter() - t + sum(rec["warm_ops_s"])
            setup_s = (rec["jvm_s"] + rec["kernel_s"] + float(np.median(reps))
                       + rec["build_s"] + rec["warm_s"])
            cpu0 = cpu_times()
            outs, groups, attempted, failed = measure(wl, tracer, seconds, trace,
                                                      None if trace else rss)
            stamp["steal_share"] = steal_share(cpu0, cpu_times())
            good = [o for o in outs if o["ok"]]
            plain = [o for o in good if not o["traced"]]
            metrics = {"setup_s": setup_s} if not trace else {}
            try:
                if trace:
                    metrics.update(wl.layers(good))
                elif plain:
                    metrics.update(wl.end_to_end(plain))
            except Exception:
                traceback.print_exc(file=sys.stderr)
        finally:
            stop_spark(spark)
    if trace:
        ev = event_log_summary(str(work / "events"), groups)
        rec["stages"] = ev["stages"]
        metrics.update(spark_layers(good, ev))
        metrics.update(overhead(good))
    elif rss.peak:
        metrics["peak_rss_mb"] = rss.peak / 2**20
        rec["peak_rss_mb_by_kind"] = {k: v / 2**20 for k, v in rss.peak_by_kind.items()}
    stamp["after"] = host_state()
    rec.update(attempted=attempted, failed=failed,
               op_wall_p50_ms=1e3 * statistics.median(
                   [o["op_s"] for o in outs if not o["traced"]] or [0.0]),
               op_s=[o["op_s"] for o in outs if not o["traced"]],
               op_cpu_s=[o["cpu_s"] for o in outs if not o["traced"]])
    units = PER_LAYER if trace else END_TO_END
    # layers the workload bypasses did no work; any other gap is a failure
    skipped = wl.bypasses if trace else set()
    missing = set(units) - set(metrics) - skipped
    if missing:
        failed += 1
        print(f"missing metrics: {sorted(missing)}", file=sys.stderr)
    metrics.update({k: 0 for k in set(units) - set(metrics)})
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    if trace:
        rec["spans"] = [
            {"id": s.id, "parent": s.parent, "trace": s.trace, "name": s.name,
             "start_s": s.t0, "dur_s": s.dur, "self_s": tracer.self_time(s)}
            for s in tracer.spans]
    return result, rec


def spark_layers(outs, ev: dict) -> dict:
    import numpy as np
    traced = [o for o in outs if o["traced"]]
    if not traced:
        return {}
    pts = sum(o["points"] for o in traced)
    return {
        "spark.jobs_per_op": float(np.median([o["jobs"] for o in traced])),
        "spark.shuffle_bytes_per_point": ev["shuffle_bytes"] / pts,
        "spark.gc_share": ev["gc_share"],
        "spark.task_skew": ev["task_skew"],
    }


def overhead(outs) -> dict:
    import numpy as np
    t = [o["op_s"] for o in outs if o["traced"]]
    u = [o["op_s"] for o in outs if not o["traced"]]
    if not t or not u:
        return {}
    return {"trace.overhead_s": float(np.median(t) - np.median(u))}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    isolate(work)
    try:
        import pyspark  # noqa: F401

        import gorilla_tsc_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        result, rec = run(args.workload, args.seed, args.seconds,
                          bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        ledger = ROOT / ".bench_work" / f"ledger-{args.workload}-{args.seed}.json"
        ledger.write_text(json.dumps({**rec, "metrics": result["metrics"]}, indent=1))
        rec.pop("spans")
        rec.pop("stages")
    print(json.dumps({**rec, "metrics": {k: v["value"] for k, v in
                                         result["metrics"].items()}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
