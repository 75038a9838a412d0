#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload forward --seed 1 --seconds 10 --trace 0

Start it from the root of a checkout. It generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed on exit), starts one
``local[nproc]`` session, runs one warm-up pass (set-up ends there), then
repeats whole checked passes for ``--seconds``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import spec  # noqa: E402
from harness import CheckFailed, Clock, log, timed_passes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

perf = time.perf_counter


def _checked(wl, spark, inp, work, clock, tag, windows=None, stage=False):
    """One pass plus its checks. The result carries ``wall_s``, the pass's
    wall time with any staged prefixes and without the checks; the pass's
    epoch-ms span is appended to ``windows``. ``stage`` first runs the
    workload's staged layer prefixes, if it has any."""
    t0 = perf()
    stages = wl.stage_pass(spark, inp, clock) if stage and hasattr(wl, "stage_pass") else None
    w1 = time.time() * 1000.0
    res = wl.run_pass(spark, inp, work, tag, clock)
    wall = perf() - t0
    if windows is not None:
        windows.append((w1, time.time() * 1000.0))
    wl.check(res, inp)
    if stages is not None:
        wl.check_stages(stages, inp)
        res["stages"] = stages
    res["wall_s"] = wall
    log(wl.name, "pass", tag, f"wall {wall:.3f}s", f"bulk rate {res['rate']:.1f}/s")
    return res


def measure(wl, args, work) -> tuple[dict, int]:
    t = perf()
    spark = harness.start_session(work)
    start_s = perf() - t
    try:
        t = perf()
        inp = wl.gen(args.seed, os.path.join(work, "in"))
        gen_s = perf() - t
        warm = _checked(wl, spark, inp, work, Clock(), "warmup")
        setup = {"session.start_s": start_s, "inputs.gen_s": gen_s, "warmup_s": warm["wall_s"]}
        log(wl.name, "setup", setup)
        passes = 1
        seconds = args.seconds / 2 if args.trace else args.seconds
        results = timed_passes(seconds, lambda i: _checked(wl, spark, inp, work, Clock(), i))
        passes += len(results)
        if not args.trace:
            return {"setup_s": sum(setup.values()), **wl.summarise(results)}, passes
        untraced_wall = harness.median([r["wall_s"] for r in results])
        # traced half: a fresh context of the same JVM with the event log on
        harness.stop_session(spark)
        ev = os.path.join(work, "eventlog")
        spark = harness.start_session(work, event_log_dir=ev)
        rewarm = []
        _checked(wl, spark, inp, work, Clock(), "rewarm", rewarm)
        clock, windows = Clock(), []
        traced = timed_passes(
            seconds, lambda i: _checked(wl, spark, inp, work, clock, f"t{i}", windows, True)
        )
        passes += 1 + len(traced)
        traced_wall = harness.median([r["wall_s"] for r in traced])
    finally:
        harness.stop_session(spark)
    events = harness.read_event_log(ev)
    metrics = dict(setup)
    metrics.update(harness.engine_metrics(events, windows, len(traced)))
    # workers are reused after the context's first pass, which starts them
    metrics["python.boot_s"] = harness.engine_metrics(events, rewarm, 1)["python.boot_s"]
    metrics.update(wl.layers(traced, clock, inp, events))
    metrics["trace.overhead_pct"] = 100.0 * (traced_wall - untraced_wall) / untraced_wall
    return spec.layer_metrics(metrics), passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size preset (tiny is for the benchmark's own tests)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "go_log_forwarder_spark")):
        log("no go_log_forwarder_spark package in", harness.ROOT)
        return 2
    wl = WORKLOADS[args.workload](args.size)
    with harness.work_dir(wl.name) as work:
        harness.pin_env(work)
        try:
            metrics, passes = measure(wl, args, work)
        except CheckFailed as e:
            log("CHECK FAILED:", e)
            harness.emit(False, wl.ops, 0, {}, {})
            return 1
        finally:
            harness.shutdown_jvm()
    harness.emit(True, passes * wl.ops, 0, metrics, spec.units())
    return 0


if __name__ == "__main__":
    sys.exit(main())
