"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last stdout line
is one JSON object holding every end-to-end metric; with ``--trace 1`` it
holds every per-layer metric, and the spans are written to
``.perfbench_traces/`` in the checkout.  Lines before it are a readable
report.  The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import time

T_NOW = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402


def _process_start() -> float:
    """perf_counter reading at process start (exec), from /proc."""
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
    return T_NOW - (time.clock_gettime(time.CLOCK_BOOTTIME) - started)


T_PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

WORKLOADS = ("batch_headline", "rule_deploy")
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
    "live_mem_mb": "MB",
    "ok_share": "share",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "ekuiper_spark", "__init__.py")):
        print(f"error: no ekuiper_spark package under {CHECKOUT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, CHECKOUT)
    import harness
    import layers
    import stats

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(args.workload, {})
    if args.workload == "batch_headline":
        import batch as workload
    else:
        import deploy as workload

    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = harness.Run(CHECKOUT, args.workload, args.seed, args.seconds,
                      bool(args.trace), T_PROCESS_START)
    try:
        run.start()
        res = workload.run(run, expected)
        diag = run.diagnostics()
    finally:
        run.close()

    if args.trace:
        metrics = layers.complete(res["layers"])
        out_dir = os.path.join(CHECKOUT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
        res["tracer"].write(path)
        print(f"# spans: {path} ({len(res['tracer'].spans)})")
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        print(f"# {args.workload:15s} {k:28s} {m['value']:14.4f} {m['unit']}")
    extras = {k: v for k, v in res.items() if k not in ("e2e", "layers", "tracer",
                                                        "attempted", "failed", "correct")}
    # the highest percentile the latencies support (>= 10 kinds beyond it)
    extras["tail_percentile"] = stats.tail_percentile(len(res["typical_ms"]))
    print("# diagnostics: " + json.dumps({**extras, **diag}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
