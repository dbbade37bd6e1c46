"""Dump .explain("formatted") for headline bench queries (and optionally
any declared query) to plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/dump_plans.py <tag> <suffix> [query ...]
    python tools/dump_plans.py stream <tag> <suffix> SOURCE [SOURCE ...]
    python tools/dump_plans.py compare <tag> <suffix_a> <suffix_b>

e.g.  python tools/dump_plans.py r11 before            # all headline queries
      python tools/dump_plans.py r11 after q_sliding_window
      python tools/dump_plans.py compare r11 before after
      python tools/dump_plans.py stream st before \
          tests/test_parity_fuzz_windows.py:_STATEMENTS \
          perfbench/workloads.py:DEPLOY_RULES tools/dump_plans.py:OPTION_SHAPES

``stream`` compiles each statement of each SOURCE in streaming mode (no
query starts) and writes its ANALYZED plan to
plans/<tag>/stream_<name>_<suffix>.txt, the statement on the first line.
The plan's stateful-operator line (``FlatMapGroupsInPandasWithState``)
shows the output attributes, the state schema's StructFields and the
timeout mode, so comparing two checkouts' dumps shows whether existing
checkpoints still restore.  A SOURCE is ``<file.py>:<NAME>``: a module
attribute holding statements, (statement, ...) tuples, or a dict of
name -> statement / (statement, ...).  Dicts name the plans by key,
lists by ``<NAME>_<index>``.  A (statement, options) entry whose
options is a dict compiles with its ``watermark``, ``event_col`` and
``props`` (passed as ``rule_ctx={"props": ...}``); other keys are
ignored.  Statements read the fixture tables at SPARK_GRAFT_SF_DIR as
streams, ordered by (ts, event_id); ``ev`` (the rule_deploy benchmark's
stream) reads the events fixture.  ``tools/dump_plans.py:OPTION_SHAPES``
holds the stateful-window shapes that need a watermark or rule options.

``compare`` diffs every plans/<tag>/<name>_<suffix_a>.txt against its
<suffix_b> twin after normalizing expression ids (``#123``, ``#45L``),
JVM object identities (``SparkSession@3ddf9f69``), random UUIDs (the
``EventTimeWatermark`` node's) and the Python
function a ``*InPandas*`` operator calls, and exits 1 when any plan
differs or has no twin.

Plans are captured at sf0.01 (plan SHAPE is scale-independent; AQE final
plans may differ at runtime but the static formatted plan shows Exchange
count, join strategy, PushedFilters, ReadSchema, and Python nodes — what
the optimization evidence needs).  Streaming (s_*) queries execute an
availableNow run, so their "plan" here is the batch result frame; they
are skipped unless named explicitly.
"""

from __future__ import annotations

import difflib
import importlib.util
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_EXPR_ID = re.compile(r"#\d+L?")
# JVM object identities in plan strings ("SparkSession@3ddf9f69")
_JVM_ID = re.compile(r"(?<=[A-Za-z])@[0-9a-f]+\b")
# per-query random ids ("EventTimeWatermark 9fc97769-437c-...")
_UUID = re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b")
# the Python function a pandas operator calls:
# "FlatMapGroupsInPandasWithState fn_count(...)" -> "... fn(...)"
_PY_FN = re.compile(r"(\w+InPandas\w*) \w+\(")


def _normalized(path: str) -> list[str]:
    with open(path) as f:
        text = _UUID.sub("<uuid>", _JVM_ID.sub("@", _EXPR_ID.sub("#", f.read())))
    return _PY_FN.sub(r"\1 fn(", text).splitlines(keepends=True)


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


# streaming stateful-window shapes that compile differently under a
# watermark, a long (epoch-ms) event column or rule options; the window
# parity fuzz compiles none of them
_WM = {"watermark": "1 minutes"}
OPTION_SHAPES: dict[str, tuple[str, dict]] = {
    "wm_sliding": (
        "SELECT count(*) AS n, sum(value) AS s FROM events "
        "GROUP BY SLIDINGWINDOW(mi, 30)", _WM),
    "wm_sliding_delay": (
        "SELECT event_id, count(*) AS n FROM events "
        "GROUP BY SLIDINGWINDOW(mi, 30, 10)", _WM),
    "wm_sliding_dims": (
        "SELECT event_type, count(*) AS n, max(value) AS m FROM events "
        "GROUP BY event_type, SLIDINGWINDOW(mi, 30)", _WM),
    "wm_sliding_dims_meta": (
        "SELECT event_type, window_start() AS ws, window_end() AS we, "
        "count(*) AS n FROM events GROUP BY event_type, SLIDINGWINDOW(mi, 30)",
        _WM),
    "wm_sliding_content": (
        "SELECT event_id, value FROM events GROUP BY SLIDINGWINDOW(mi, 30)",
        _WM),
    "wm_session": (
        "SELECT user_id, count(*) AS n, sum(value) AS s FROM events "
        "GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)", _WM),
    "wm_session_content": (
        "SELECT event_id, value FROM events GROUP BY SESSIONWINDOW(mi, 120, 30)",
        _WM),
    "wm_session_lag": (
        "SELECT user_id, max(lag(value) OVER (PARTITION BY user_id)) AS ml, "
        "count(*) AS n FROM events GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)",
        _WM),
    "session_flush": (
        "SELECT user_id, count(*) AS n, min(ts) AS s FROM events "
        "GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)",
        {"props": {"session_flush_ms": 300}}),
    "ms_sliding_gap_throttle": (
        "SELECT count(*) AS n FROM events GROUP BY SLIDINGWINDOW(ss, 90) "
        "OVER (WHEN event_id - last_hit_time() > 1000)",
        {"event_col": "event_id"}),
    "ms_wm_sliding_flag_gap_throttle": (
        "SELECT event_id, count(*) AS n FROM events GROUP BY "
        "SLIDINGWINDOW(ss, 90) OVER (WHEN event_type = 'error' "
        "AND event_id - last_hit_time() >= 5000)",
        {"event_col": "event_id", "watermark": "1 minutes"}),
    "ms_sliding_dims_gap_throttle": (
        "SELECT user_id, count(*) AS n FROM events GROUP BY user_id, "
        "SLIDINGWINDOW(ss, 90) OVER (WHEN event_id - last_hit_time() > 1000)",
        {"event_col": "event_id"}),
    "sliding_meta": (
        "SELECT window_start() AS ws, window_end() AS we, event_time() AS et, "
        "count(*) AS n FROM events GROUP BY SLIDINGWINDOW(mi, 30)", {}),
    "session_meta": (
        "SELECT user_id, window_start() AS ws, window_end() AS we, "
        "count(*) AS n FROM events GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)",
        {}),
    "wm_session_meta": (
        "SELECT window_start() AS ws, count(*) AS n FROM events "
        "GROUP BY SESSIONWINDOW(mi, 120, 30)", _WM),
    "sliding_frame_content": (
        "SELECT event_id, value FROM events GROUP BY SLIDINGWINDOW(mi, 30)", {}),
    "sliding_frame_content_where": (
        "SELECT event_id, value FROM events WHERE value > 50 "
        "GROUP BY SLIDINGWINDOW(mi, 30)", {}),
    "ms_sliding_meta": (
        "SELECT window_start() AS ws, count(*) AS n FROM events "
        "GROUP BY SLIDINGWINDOW(ss, 90)", {"event_col": "event_id"}),
    "ms_wm_sliding_dims": (
        "SELECT event_type, count(*) AS n FROM events "
        "GROUP BY event_type, SLIDINGWINDOW(ss, 90, 10)",
        {"event_col": "event_id", "watermark": "1 minutes"}),
    "ms_session": (
        "SELECT user_id, window_end() AS we, count(*) AS n FROM events "
        "GROUP BY user_id, SESSIONWINDOW(ss, 120, 30)",
        {"event_col": "event_id", "watermark": "1 minutes"}),
    "count_where": (
        "SELECT count(*) AS n FROM events WHERE value > 50 "
        "GROUP BY COUNTWINDOW(20)", _WM),
    "state_content": (
        "SELECT event_id, row_number() AS rn FROM events "
        "GROUP BY STATEWINDOW(event_type = 'signup', event_type = 'purchase', "
        "user_id)", _WM),
}


def _statements(source: str) -> list[tuple[str, str, dict]]:
    """(plan name, statement, compile options) of a ``<file.py>:<NAME>``
    source."""
    path, attr = source.rsplit(":", 1)
    path = os.path.abspath(path)
    sys.path.insert(0, os.path.dirname(path))  # the file's sibling imports
    spec = importlib.util.spec_from_file_location(
        os.path.splitext(os.path.basename(path))[0], path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    obj = getattr(mod, attr)
    items = obj.items() if isinstance(obj, dict) else (
        (f"{attr.strip('_').lower()}_{i:03d}", v) for i, v in enumerate(obj)
    )
    out = []
    for name, v in items:
        if isinstance(v, str):
            v = (v,)
        opts = v[1] if len(v) > 1 and isinstance(v[1], dict) else {}
        out.append((name, v[0], opts))
    return out


def stream(tag: str, suffix: str, sources: list[str], sf_dir: str) -> None:
    """Write the analyzed plan of every streaming statement in sources."""
    from ekuiper_spark import Catalog, compile_sql, get_spark

    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    cat = Catalog.from_dir(sf_dir)
    cat.register_df("ev", cat.load(spark, "events", streaming=True))
    for source in sources:
        for name, sql, opts in _statements(source):
            props = opts.get("props")
            try:
                df = compile_sql(
                    spark, sql, cat, streaming=True, order_cols=["ts", "event_id"],
                    event_col=opts.get("event_col"),
                    watermark=opts.get("watermark"),
                    rule_ctx={"props": props} if props is not None else None,
                )
                plan = df._jdf.queryExecution().analyzed().toString()
            except Exception as e:
                plan = f"ERROR capturing plan: {type(e).__name__}: {e}"
            path = os.path.join(out_dir, f"stream_{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(f"-- {sql}\n{plan}")
            print(f"# wrote {path} ({len(plan)} chars)")


def main() -> None:
    if sys.argv[1:2] == ["compare"]:
        if len(sys.argv) != 5:
            sys.exit("usage: dump_plans.py compare <tag> <suffix_a> <suffix_b>")
        sys.exit(1 if compare(*sys.argv[2:5]) else 0)
    if sys.argv[1:2] == ["stream"] and len(sys.argv) < 5:
        sys.exit("usage: dump_plans.py stream <tag> <suffix> SOURCE [SOURCE ...]")

    import bench as benchmod
    import __spark_entry__ as entrymod
    from ekuiper_spark import get_spark

    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if tag == "stream":  # stream <tag> <suffix> SOURCE ...
        stream(*sys.argv[2:4], sys.argv[4:], sf_dir)
        return
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
