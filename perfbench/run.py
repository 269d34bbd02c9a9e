#!/usr/bin/env python3
"""CDC publisher benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/NOTES.md for why each exists):

- ``cdc_backfill``   catch-up drain of a recorded multi-table feed
- ``cdc_live_tail``  open-loop live tail through the simple reader

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, measured in a run that times the workload once
untraced and once traced (the difference is ``trace.overhead_pct``) and then
sweeps the layers the workload itself does not reach: direct layer probes,
and the analytics mix, checked against DuckDB and timed once. Lines before
it give each workload's own metric names, ``failed_share`` and the machine
weather.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, RssSampler, pin_environment  # noqa: E402


def make_workload(name: str, work: str, seed: int, seconds: int, phases: int):
    from cdc import Backfill, LiveTail

    return {"cdc_backfill": Backfill, "cdc_live_tail": LiveTail}[name](work, seed, seconds, phases)


def own_metrics(name: str, s: dict) -> list[tuple[str, float, str]]:
    """Each workload's headline numbers by their own names."""
    if name == "cdc_backfill":
        return [("backfill_rows_per_s", s["ops_per_s"], "rows/s")]
    return [("tail_latency_p50_ms", s["latency_p50_ms"], "ms"),
            ("tail_latency_p75_ms", s["latency_p75_ms"], "ms"),
            ("tail_latency_p90_ms", s["latency_p90_ms"], "ms"),
            ("tail_epochs_in_window", len(s["epochs"]), "count"),
            ("tail_epochs_beyond_p75", s["epochs_beyond"][75], "count"),
            ("tail_epochs_beyond_p90", s["epochs_beyond"][90], "count"),
            ("tail_drain_rows_per_s", s["ops_per_s"], "rows/s")]


def overhead_pct(name: str, untraced: dict, traced: dict) -> float:
    """How much worse the traced phase read on the workload's headline than
    the untraced phase of the same run. On the tail the traced window comes
    later in the loop, so the figure also holds the drift between the two
    windows. A negative value is scatter or drift, not a speed-up."""
    if name == "cdc_live_tail":
        key = "latency_p50_ms"
        return (traced[key] - untraced[key]) / untraced[key] * 100
    return (untraced["ops_per_s"] - traced["ops_per_s"]) / untraced["ops_per_s"] * 100


def layer_probes(spark, wl, seed: int, work: str) -> dict:
    import probes
    from cdc import TAIL_BATCH_LIMIT, Backfill

    if wl.name == "cdc_backfill":
        b = wl
    else:
        b = Backfill(os.path.join(work, "probe-chunks"), seed, 10, scale=0.25)
        b.inputs()
    chunks = [os.path.join(b.work, f"chunk-{i:03d}.jsonl") for i in range(len(b.sizes))]
    out = probes.partitioned_reader(work, chunks)
    out.update(probes.simple_fetch(work, seed, TAIL_BATCH_LIMIT))
    out.update(probes.dir_queue(work, seed))
    out.update(probes.epoch_rows_admission(spark, work, seed, 40_000, 10_000))
    return out


def run(args, work: str) -> tuple[dict, list[str]]:
    import analytics
    from common import shutdown_spark, start_session, weather

    traced = bool(args.trace)
    before = weather()
    wl = make_workload(args.workload, work, args.seed, args.seconds, 2 if traced else 1)
    t0 = time.perf_counter()
    wl.inputs()
    input_s = time.perf_counter() - t0

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark, session_s = start_session("perfbench")
        setup_s = time.perf_counter() - t0

        from cdc import Tracer

        tracer = Tracer()
        undo = tracer.install() if traced else (lambda: None)
        try:
            raw = wl.run(spark, tracer, 1 if traced else None, rss)
        finally:
            undo()
        rss.stop()
        s0 = wl.summarize(raw, 0)
        verdict = wl.verify(raw)
        if traced:
            s1 = wl.summarize(raw, 1)
            metrics = wl.layers(spark, raw, s1, tracer)
            # the layers the workload does not reach: the plans.* of the
            # analytics mix, whose DuckDB check counts in this run's verdict
            plans_metrics, oracle = analytics.sweep(spark, args.seed, work)
            metrics.update(plans_metrics)
            verdict.attempted += oracle.attempted
            verdict.failed += oracle.failed
            verdict.detail.update(oracle.detail)
            metrics.update(layer_probes(spark, wl, args.seed, work))
            metrics["session.start_s"] = session_s
            metrics["trace.overhead_pct"] = overhead_pct(wl.name, s0, s1)
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
                       "ops_per_s": s0["ops_per_s"], "latency_p50_ms": s0["latency_p50_ms"]}
    finally:
        rss.stop()
        if spark is not None:
            shutdown_spark(spark)
    after = weather()

    share = verdict.failed / verdict.attempted
    lines = [f"perfbench {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace}"]
    lines += [f"  {k} {v:.4f} {u}" for k, v, u in own_metrics(wl.name, s0)]
    for key in ("chunk_rows_per_s", "drain_rows_per_s"):
        if key in s0:
            lines.append(f"  {key.replace('_', ' ')} {s0[key]}")
    lines += [f"  failed_share {share:.6f} ({verdict.failed} of {verdict.attempted}) "
              f"{json.dumps(verdict.detail, sort_keys=True)}",
              f"  setup_s {setup_s:.3f}, input generation {input_s:.3f} s",
              f"  peak rss by process (MB) {[round(x) for x in rss.peak_split]}",
              f"  weather steal_jiffies {after['steal_jiffies'] - before['steal_jiffies']}, "
              f"iowait_jiffies {after['iowait_jiffies'] - before['iowait_jiffies']}, "
              f"loadavg_1m {before['loadavg_1m']:.2f} -> {after['loadavg_1m']:.2f}"]
    unit = units()
    result = {
        "correct": verdict.failed == 0,
        "attempted": verdict.attempted,
        "failed": verdict.failed,
        "metrics": {k: {"value": float(v), "unit": unit[k]} for k, v in sorted(metrics.items())},
    }
    return result, lines


def units() -> dict[str, str]:
    """Each metric's unit, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("cdc_backfill", "cdc_live_tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "crdb_changefeed_publisher_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from a checkout of the repository; the "
              "crdb_changefeed_publisher_spark package is missing", file=sys.stderr)
        return 2
    # a termination signal unwinds like an error, so the finally blocks stop
    # the JVM and the generator and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        result, lines = run(args, work)
    except Exception:  # noqa: BLE001 - report and fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
