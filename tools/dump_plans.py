"""Dump .explain("formatted") for headline bench queries (and optionally
any declared query) to plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/dump_plans.py <tag> <suffix> [query ...]
    python tools/dump_plans.py compare <tag> <suffix_a> <suffix_b>

e.g.  python tools/dump_plans.py r11 before            # all headline queries
      python tools/dump_plans.py r11 after q_sliding_window
      python tools/dump_plans.py compare r11 before after

``compare`` diffs every plans/<tag>/<name>_<suffix_a>.txt against its
<suffix_b> twin after normalizing expression ids (``#123``, ``#45L``) and
exits 1 when any plan differs or has no twin.

Plans are captured at sf0.01 (plan SHAPE is scale-independent; AQE final
plans may differ at runtime but the static formatted plan shows Exchange
count, join strategy, PushedFilters, ReadSchema, and Python nodes — what
the optimization evidence needs).  Streaming (s_*) queries execute an
availableNow run, so their "plan" here is the batch result frame; they
are skipped unless named explicitly.
"""

from __future__ import annotations

import difflib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_EXPR_ID = re.compile(r"#\d+L?")


def _normalized(path: str) -> list[str]:
    with open(path) as f:
        return _EXPR_ID.sub("#", f.read()).splitlines(keepends=True)


def compare(tag: str, suffix_a: str, suffix_b: str) -> int:
    """Number of plans in plans/<tag> that differ between the suffixes."""
    plan_dir = os.path.join(ROOT, "plans", tag)
    names = {}
    for fn in sorted(os.listdir(plan_dir)):
        for sfx in (suffix_a, suffix_b):
            if fn.endswith(f"_{sfx}.txt"):
                names.setdefault(fn[: -len(f"_{sfx}.txt")], set()).add(sfx)
    bad = 0
    for name, have in sorted(names.items()):
        a = os.path.join(plan_dir, f"{name}_{suffix_a}.txt")
        b = os.path.join(plan_dir, f"{name}_{suffix_b}.txt")
        if len(have) < 2:
            print(f"# {name}: only {sorted(have)[0]}")
            bad += 1
            continue
        diff = list(difflib.unified_diff(_normalized(a), _normalized(b), a, b))
        if diff:
            sys.stdout.writelines(diff)
            bad += 1
    print(f"# {len(names) - bad}/{len(names)} plans identical after id normalization")
    return bad


def main() -> None:
    if sys.argv[1:2] == ["compare"]:
        if len(sys.argv) != 5:
            sys.exit("usage: dump_plans.py compare <tag> <suffix_a> <suffix_b>")
        sys.exit(1 if compare(*sys.argv[2:5]) else 0)

    import bench as benchmod
    import __spark_entry__ as entrymod
    from ekuiper_spark import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    all_fns = dict(qs)
    all_fns.update(benchmod.BENCH_EXTRA)
    if not names:
        names = [n for n in benchmod.HEADLINE]

    for name in names:
        fn = all_fns.get(name)
        if fn is None:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:
            plan = f"ERROR capturing plan: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
