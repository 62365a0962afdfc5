"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload steady_tail --seed 1 --seconds 5 --trace 0

Run from the repository root (the engine is imported from there). The
result line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A full run record (seed, host record, every sample, spans
of a traced run) is written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _on_sigterm(*_):
    """Unwind like an exception, so the JVM and its workers are stopped
    and waited for on this way out too; a second SIGTERM does not cut
    that short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv=None) -> int:
    args = _args(argv)
    for need in ("arc_spark/__init__.py", "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness, metrics, query_headline, steady_tail

    workloads = {"steady_tail": steady_tail, "query_headline": query_headline}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(choose from {sorted(workloads)})", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _on_sigterm)
    harness.become_subreaper()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    host = harness.host_record()
    ticks = harness.cpu_ticks()
    work = harness.WorkDir(run_id)
    spark = None
    try:
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                spark = harness.spark_session(f"perfbench-{args.workload}", work)
                session_s = time.perf_counter() - t0
                out = workloads[args.workload].run(
                    spark, work, args.seed, args.seconds, bool(args.trace)
                )
            finally:
                harness.stop_spark(spark)
    finally:
        work.remove()
    host["steal_share"] = harness.steal_share(ticks, harness.cpu_ticks())

    e2e = {
        "throughput_per_s": out["throughput_per_s"],
        "latency_s": out["latency_s"],
        "read_s": out["read_s"],
        "setup_s": out["setup_s"],
    }
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "session_start_s": session_s,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "error_rate": out["failed"] / out["attempted"],
        "end_to_end": e2e,
        "peak_rss_mb": rss.peak_mb,
        "detail": out["record"],
    }
    if args.trace:
        measured = {**out["layers"], "process.peak_rss_mb": rss.peak_mb}
        layers = {name: measured.get(name, 0) for name in metrics.PER_LAYER}
        record["per_layer"] = layers
        record["spans"] = out["spans"].to_json()
        shown = {n: (v, metrics.PER_LAYER[n][0]) for n, v in layers.items()}
    else:
        shown = {n: (v, metrics.END_TO_END[n][0]) for n, v in e2e.items()}
    path = harness.write_record(run_id, record)
    harness.log(f"run record: {path}")
    print(harness.result_line(out["failed"] == 0, out["attempted"], out["failed"], shown))
    return 0


if __name__ == "__main__":
    sys.exit(main())
