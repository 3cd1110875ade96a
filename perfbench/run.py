"""Repository benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload clips_mixed --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one driver, batch jobs):

* ``clips_mixed`` - the near-duplicate pipeline (``run_pipeline``) over a
  seeded synthetic clip corpus (``perfbench/clips.py``);
* ``headline_queries`` - ``bench.py``'s 18 headline queries over seeded
  synthetic tables (``perfbench/headline.py``).

A run starts a session sized to the visible cores (``local[n]``, 2n shuffle
partitions) with the driver memory and every scratch directory pinned,
warms the Python workers, generates its input (timed three times; the
median counts), executes the workload once cold, then a fixed number of
untimed warm-up executions, then timed warm executions until the
workload's minimum count ran and ``--seconds`` is spent, and checks every
output.  The input is checked against ``perfbench/fingerprints.json``
(re-record it with ``perfbench/fingerprints.py``); a mismatch exits 3.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` turns the Spark event log on and prints the per-layer metrics
instead: warm executions alternate between traced (span + job group) and
plain, which gives the tracing overhead, and the workload adds its layer
spans.  Spans are written to ``.perfbench/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``PERFBENCH_TINY=1`` shrinks the inputs for the
benchmark's own tests; fingerprints are not recorded for those sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# import the benchmark as the ``perfbench`` package from the checkout root,
# never its modules from the script directory
sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != HERE]
sys.path.insert(0, str(ROOT))

FINGERPRINTS = HERE / "fingerprints.json"


class FingerprintMismatch(RuntimeError):
    pass


@dataclass
class Ctx:
    spark: object
    env: object
    seed: int
    tracer: object
    ledger: object
    tiny: bool


def workloads() -> dict:
    from perfbench.clips import ClipsMixed
    from perfbench.headline import HeadlineQueries

    return {w.name: w for w in (ClipsMixed, HeadlineQueries)}


def recorded_fingerprints(workload) -> dict:
    return json.loads(FINGERPRINTS.read_text()).get(workload.name, {})


def check_probe(workload) -> None:
    """The generator probe must match whatever seed the run uses."""
    want, got = recorded_fingerprints(workload).get("probe"), workload.probe()
    if got != want:
        raise FingerprintMismatch(f"generator probe {got} != recorded {want}")


def check_input(workload, seed: int, fp: dict) -> None:
    """The generated input must match its recorded fingerprint, when the
    seed and size are recorded."""
    record = recorded_fingerprints(workload)
    if record.get("size") != workload.size:
        return
    want = record.get("seeds", {}).get(str(seed))
    if want is not None and want != fp:
        raise FingerprintMismatch(f"seed {seed} input {fp} != recorded {want}")


def measure(args, env, bench: dict):
    """Run the workload; returns (metrics by name, ledger)."""
    from datasketches_pig_spark.session import warm_python_workers

    from perfbench.harness import (
        STATE,
        Ledger,
        RssSampler,
        median,
        start_session,
        stop_session,
    )
    from perfbench.tracing import EventLog, Tracer, find_event_log

    traced = bool(args.trace)
    tiny = os.environ.get("PERFBENCH_TINY") == "1"
    wl_class = workloads()[args.workload]
    check_probe(wl_class)
    ledger = Ledger()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(env, traced)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark.sparkContext) if traced else None
            ctx = Ctx(spark, env, args.seed, tracer, ledger, tiny)
            t0 = time.perf_counter()
            with tracer.span("session.warm") if traced else nullcontext():
                warm_python_workers(spark)
            warm_s = time.perf_counter() - t0
            wl = wl_class(ctx)
            prep_s, fp = wl.prepare()
            print(f"perfbench: input {json.dumps(fp, sort_keys=True)}", flush=True)
            check_input(wl, args.seed, fp)
            setup_s = session_s + warm_s + prep_s

            mark = len(rss.samples)
            cold_s = wl.execute("cold", traced)
            # the JIT keeps speeding the workload up over its first warm
            # executions: a fixed number of them run untimed, so every run
            # measures the same stretch of that curve
            if not traced:
                for _ in range(wl.warmup):
                    wl.execute("warm-up", False)
            # closed loop: timed warm executions until the workload's minimum
            # ran and --seconds are spent.  A traced run alternates traced
            # and plain executions in order-balanced pairs instead
            plain, traced_warm = [], []
            min_warm = 1 if traced else wl.min_warm
            t_loop = time.perf_counter()
            while len(plain) < min_warm or time.perf_counter() - t_loop < args.seconds:
                if traced:
                    t, p = wl.warm_pair(len(plain))
                    traced_warm.append(t)
                    plain.append(p)
                else:
                    plain.append(wl.execute("warm", False))
            rss_mb = rss.median_mb(mark, len(rss.samples))
            print(f"perfbench: cold {cold_s:.3f}s warm {[round(x, 3) for x in plain]}",
                  file=sys.stderr, flush=True)
            if traced:
                wl.traced_extra()
        finally:
            stop_session(spark)

    if not traced:
        warm = wl.warm_wall(plain)
        return {
            "setup_s": setup_s,
            "cold_wall_s": cold_s,
            "warm_wall_s": warm,
            "items_per_s": wl.n_items / warm,
            "rss_mb": rss_mb,
        }, ledger

    tracer.dump(STATE / "traces" / f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
    log = EventLog(find_event_log(env.event_log_dir))
    metrics = {name: 0.0 for name in (m["name"] for m in bench["per_layer"])}
    metrics.update(wl.layer_metrics(log))
    metrics["session.warm_s"] = tracer.named("session.warm")[0].wall
    metrics["memory.peak_rss_mb"] = rss.peak_mb
    metrics["trace.warm_wall_s"] = median(plain)
    metrics["trace.overhead_s"] = median(traced_warm) - median(plain)
    return metrics, ledger


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    bench_file = ROOT / "BENCHMARK.json"
    try:
        import datasketches_pig_spark  # noqa: F401
        import pyspark  # noqa: F401

        bench = json.loads(bench_file.read_text())
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2

    from perfbench.harness import Env

    env = Env.create()
    print(
        f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} cores={env.cores} driver_memory={env.driver_memory} "
        f"local_dir={env.local_dir}",
        flush=True,
    )
    try:
        metrics, ledger = measure(args, env, bench)
    except FingerprintMismatch as e:
        print(f"perfbench: input fingerprint mismatch: {e}", file=sys.stderr)
        return 3
    finally:
        env.cleanup()

    spec = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 4
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {
                    m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in spec
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
