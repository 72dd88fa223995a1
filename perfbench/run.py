#!/usr/bin/env python3
"""Benchmark of the import service and its layers.

Run from the repository root:

    python3 perfbench/run.py --workload service_import --seed 1 --seconds 26 --trace 0

Workloads: service_import (the live delta service beside bulk import
passes) and corpus_index (incremental BM25/IVF indexes beside batch
corpus operators); see BENCHMARK.json and perfbench/README.md. One
process, one fresh Spark session on local[4], one closed-loop caller.
The run:

1. sets up SETUP_ROUNDS times (fresh session, seeded inputs, the service
   or indexes started), then runs warm-up operations; ``setup_s`` is the
   median round plus the warm-up;
2. runs a fixed schedule that alternates the workload's two operation
   kinds, as many cycles as take about ``--seconds`` seconds on 4 cores,
   checking every output outside the timed interval;
3. prints a table of every metric with its unit and sample count, then,
   as the last line, one JSON object ``{correct, attempted, failed,
   metrics}``: end-to-end metrics with ``--trace 0``, per-layer metrics
   with ``--trace 1``.

The exit code is 0 only if every operation succeeded and every check
passed. All state (Spark local dirs, warehouse, stream and index dirs,
outputs, temp files) lives under ``.perfbench_state/<workload>-<pid>/``
in the working directory and is left there (see the end of ``main``);
delete ``.perfbench_state/`` between sets of runs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_ROUNDS = 3
OP_DEADLINE_S = 60.0
RUN_DEADLINE_S = 160


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cancel_after(spark, seconds: float) -> threading.Timer:
    """Cancel every running Spark job once ``seconds`` pass, so an
    operation that misses its deadline fails instead of hanging."""
    t = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
    t.daemon = True
    t.start()
    return t


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")


def _on_term(signum, frame):
    raise SystemExit(128 + signum)  # unwind, so the cleanup below runs


def _log(msg: str) -> None:
    print(f"perfbench {time.monotonic() - _T0:7.2f}s {msg}", file=sys.stderr,
          flush=True)


_T0 = time.monotonic()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    try:
        import harvesting_extract_to_ttl_service_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e})", file=sys.stderr)
        return 2
    import harness
    from workloads import PASS_EVERY, WORKLOADS, Workload

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    state = os.path.join(os.getcwd(), ".perfbench_state",
                         f"{args.workload}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(RUN_DEADLINE_S)
    events = harness.launch_env(state, REPO, bool(args.trace))
    tracer = harness.Tracer(bool(args.trace))
    wl = Workload(args.workload, args.seed, state, tracer)
    spark = None
    try:
        from harvesting_extract_to_ttl_service_spark import get_spark

        # memory is a per-layer metric: sample it only in the traced run,
        # so the plain run has no extra thread competing for the GIL
        with (harness.RssSampler() if args.trace
              else contextlib.nullcontext()) as rss:
            setups = []
            for r in range(SETUP_ROUNDS):
                if spark is not None:
                    wl.stop_round()
                    spark.stop()
                    _log("previous round stopped")
                t0 = time.perf_counter()
                spark = get_spark(f"perfbench-{args.workload}")
                wl.setup_round(spark, r)
                setups.append(time.perf_counter() - t0)
                _log(f"set-up round {r}: {setups[-1]:.2f} s")
            t0 = time.perf_counter()
            wl.warm_up()
            # flush what set-up wrote and deleted, so that its write-back
            # and block discards do not land in the timed phase
            os.sync()
            warm_s = time.perf_counter() - t0
            _log(f"warm-up: {warm_s:.2f} s")

            timed_from_ms = time.time() * 1e3
            lat = {"latency": [], "pass": []}
            lat_traced = {"latency": [], "pass": []}
            schedule = []
            attempted = failed = 0
            for i in range(wl.n_ops(args.seconds, bool(args.trace))):
                # traced runs alternate plain and traced cycles
                traced = bool(args.trace) and (i // PASS_EVERY) % 2 == 1
                timer = _cancel_after(spark, OP_DEADLINE_S)
                try:
                    op = wl.op(i, traced)
                except Exception as e:  # noqa: BLE001 — counted, reported
                    op = None
                    print(f"op {i} failed: {type(e).__name__}: {e}",
                          file=sys.stderr)
                finally:
                    timer.cancel()
                attempted += 1
                if op is None or not wl.check(op):
                    failed += 1
                    continue
                (lat_traced if traced else lat)[op.kind].extend(
                    t * 1e3 for t in op.samples_s)
                _log(f"op {i} {op.kind}{' traced' if traced else ''} "
                     + " ".join(f"{t * 1e3:.1f}" for t in op.samples_s)
                     + " ms")
                if op.kind == "latency" and not traced:
                    schedule.append(op.wall_s)
            _log(f"timed phase: {attempted} operations")
            f_attempted, f_failed = wl.final_checks()
            _log("final checks done")
            attempted += f_attempted
            failed += f_failed
            rows = wl.end_to_end(lat, schedule, setups, warm_s)
            tail = harness.tail(lat["latency"])
            wl.stop_round()
        spark.stop()
        spark = None
        if args.trace:
            rows = wl.per_layer(harness.read_event_log(events, timed_from_ms),
                                lat, lat_traced, rss.peak_kb)
            spans = os.path.join(os.getcwd(), ".perfbench_spans")
            os.makedirs(spans, exist_ok=True)
            tracer.dump(os.path.join(
                spans, f"{args.workload}-seed{args.seed}.jsonl"))
            for name, ms in sorted(tracer.self_ms().items()):
                print(f"self time {name:40s} {ms:14.1f} ms")
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                wl.stop_round()
            finally:
                spark.stop()
        harness.stop_jvm()
        # The state stays: deleting thousands of small files makes a file
        # system mounted with online discard trim their blocks, which on a
        # shared disk takes from a fraction of a second to half a minute
        # and, left to the kernel, runs into the next run's timed phase.
        # Flush it instead, so the next run starts on an idle disk.
        os.sync()
        _log(f"stopped; state left in {state}")

    for name, (value, unit, n) in rows.items():
        print(f"{name:40s} {value:14.4f} {unit:8s} n={n}")
    if not args.trace:
        # reported only where the samples support it: at least ten beyond
        print(f"{'latency_tail_ms':40s} " + (
            f"{tail:14.4f} ms       n={len(lat['latency'])}" if tail is not None
            and len(lat["latency"]) >= 21 else
            f"{'-':>14s} ms       n={len(lat['latency'])} (too few samples)"))
    correct = failed == 0
    print(f"attempted={attempted} failed={failed} "
          f"error_rate={failed / max(attempted, 1):.4f}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _n) in rows.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
