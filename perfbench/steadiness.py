"""Steadiness report: run one workload several times and summarise each
metric, or compare two saved sets against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py run --workload rule_deploy --runs 10 \\
        --first-seed 1 --out set-a.json
    python3 perfbench/steadiness.py compare set-a.json set-b.json

``run`` prints, per metric, the median, the quartiles and IQR/median of
the runs (quartiles as ``statistics.quantiles(values, n=4)`` gives them)
next to the metric's bound.  ``compare`` checks, per workload and metric,
that each set's IQR/median stays within the bound and that the second
median is not worse than the first by more than the bound; it exits 1
if any check fails.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import spread, worse_share

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_set(workload: str, runs: int, first_seed: int, seconds: int) -> dict:
    results = []
    for seed in range(first_seed, first_seed + runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        res = json.loads(lines[-1])
        diag = [ln for ln in lines if ln.startswith("# diagnostics: ")]
        results.append({"seed": seed, **res, "wall_s": wall,
                        "diagnostics": json.loads(diag[-1][15:]) if diag else {}})
        print(f"# seed {seed}: wall {wall:.1f} s " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    return {"workload": workload, "seconds": seconds, "runs": results}


def summarise(s: dict) -> dict[str, dict]:
    names = s["runs"][0]["metrics"]
    return {k: spread([r["metrics"][k]["value"] for r in s["runs"]]) for k in names}


def report(s: dict, bounds: dict[str, dict]) -> None:
    steal = [r["diagnostics"].get("cpu_steal_share", 0.0) for r in s["runs"]]
    # the host's weather: on a shared host, runs with a few per cent of CPU
    # steal ran 20-40 % slower than runs with almost none
    print(f"{s['workload']}: {len(s['runs'])} runs of {s['seconds']} s; CPU steal share "
          f"median {statistics.median(steal):.3f}, max {max(steal):.3f}")
    for k, sp in summarise(s).items():
        b = bounds[k]["bound"]
        flag = "" if sp["iqr_share"] <= b / 3 else \
            ("  above bound/3" if sp["iqr_share"] <= b else "  ABOVE BOUND")
        print(f"  {k:18s} median {sp['median']:12.4f}  q1 {sp['q1']:12.4f}  "
              f"q3 {sp['q3']:12.4f}  iqr/median {sp['iqr_share']:.4f}  bound {b}{flag}")


def compare(a: dict, b: dict, bounds: dict[str, dict]) -> bool:
    if a["workload"] != b["workload"]:
        raise ValueError("the sets come from different workloads")
    ok = True
    sa, sb = summarise(a), summarise(b)
    for k, spec in bounds.items():
        bound = spec["bound"]
        checks = [(f"spread A {sa[k]['iqr_share']:.4f}", sa[k]["iqr_share"] <= bound),
                  (f"spread B {sb[k]['iqr_share']:.4f}", sb[k]["iqr_share"] <= bound)]
        w = worse_share(sa[k]["median"], sb[k]["median"], spec["better"])
        checks.append((f"B worse by {w:+.4f}", w <= bound))
        good = all(c for _t, c in checks)
        ok &= good
        print(f"  {a['workload']:15s} {k:18s} bound {bound:<5} "
              + ", ".join(t for t, _c in checks) + ("" if good else "  FAIL"))
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int, default=None)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()

    bench = _bench()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    if args.cmd == "run":
        s = run_set(args.workload, args.runs, args.first_seed,
                    args.seconds or bench["run_seconds"])
        with open(args.out, "w") as f:
            json.dump(s, f, indent=1)
        report(s, bounds)
        return 0
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    report(a, bounds)
    report(b, bounds)
    return 0 if compare(a, b, bounds) else 1


if __name__ == "__main__":
    sys.exit(main())
