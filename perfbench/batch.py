"""batch_headline: one client, closed loop, interleaved passes over the 21
headline queries.  Each operation is one query: build the DataFrame
(``compile_sql`` or a datapipe call), then materialize it through the
``noop`` writer."""

from __future__ import annotations

import itertools
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import layers
from harness import Run, fingerprint
from stats import closed_loop_rate, percentile, typical_ms
from spans import Tracer, self_times
from workloads import DIALECT, HEADLINE


def run(r: Run, expected: dict) -> dict:
    from ekuiper_spark import Catalog
    from ekuiper_spark.parser import Parser

    spark = r.spark
    with r.generating_inputs():
        datagen.write_tables(r.input_dir("tables"), r.seed)
    cat = Catalog.from_dir(r.input_dir("tables"))

    # untimed warm-up pass, which also checks every query's output; it
    # runs one query per core at a time, so JIT and code generation warm
    # up in a fraction of a serial pass
    def warm(item):
        name, build = item
        try:
            t = time.perf_counter()
            df = build(spark, cat)
            return name, (time.perf_counter() - t) * 1e3, fingerprint(df)
        except Exception as e:  # a failing query counts against ok_share
            print(f"# {name}: {type(e).__name__}: {e}")
            return name, None, None

    verified: dict[str, bool] = {}
    cold_compile_ms: list[float] = []
    rows: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=r.cores) as pool:
        for name, ms, got in pool.map(warm, HEADLINE.items()):
            verified[name] = got is not None and list(got) == expected.get(name)
            if got is None:
                continue
            cold_compile_ms.append(ms)
            rows[name] = got[0]
            if not verified[name]:
                print(f"# {name}: got {list(got)}, expected {expected.get(name)}")
    spark.catalog.clearCache()
    setup_s = r.setup_done()

    tracer = Tracer(r.trace)
    lat: dict[bool, list[float]] = {False: [], True: []}
    per_query: dict[str, list[float]] = {name: [] for name in HEADLINE}
    ok = attempted = 0
    agg = layers.Acc()
    queries = list(HEADLINE.items())
    cpu0, gc0 = r.cpu_s(), r.gc_ms()
    t_start = time.perf_counter()
    # queries until --seconds have passed, and at least one whole pass; a
    # traced run alternates traced and untraced operations and runs whole
    # passes, at least two, so that every query is measured both ways
    # equally often
    least = len(queries) * (2 if r.trace else 1)
    for j in itertools.count():
        if (j >= least and time.perf_counter() - t_start >= r.seconds
                and not (r.trace and j % len(queries))):
            break
        p, i = divmod(j, len(queries))
        name, build = queries[i]
        traced = r.trace and (p + i) % 2 == 1
        attempted += 1
        op = f"p{p}-{name}"
        try:
            if traced:
                ms = _traced_op(r, tracer, agg, op, name, build, cat, Parser)
            else:
                t = time.perf_counter()
                build(spark, cat).write.format("noop").mode("overwrite").save()
                ms = (time.perf_counter() - t) * 1e3
                per_query[name].append(ms)
            lat[traced].append(ms)
            ok += verified[name]
        except Exception as e:
            print(f"# {op}: {type(e).__name__}: {e}")
        finally:
            spark.catalog.clearCache()
    wall = time.perf_counter() - t_start
    # before live_mem_mb, whose full collection is not part of the ops
    cpu_s, gc_ms = r.cpu_s() - cpu0, r.gc_ms() - gc0

    typical = typical_ms(per_query)
    out = {
        "attempted": attempted,
        "failed": attempted - ok,
        "correct": ok == attempted,
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": percentile(list(typical.values()), 50),
            "latency_p90_ms": percentile(list(typical.values()), 90),
            "throughput_per_s": closed_loop_rate(typical),
            "live_mem_mb": r.live_mem_mb(),
            "ok_share": ok / attempted,
        },
        "samples": len(lat[False]),
        "queries_per_s": (len(lat[False]) + len(lat[True])) / wall,
        "typical_ms": {k: round(v, 1) for k, v in typical.items()},
    }
    if r.trace:
        # means are per operation; counts and sums are per pass
        out["layers"] = {
            "parser.parse_ms": agg.mean("parse_ms"),
            "translator.compile_ms": agg.mean("compile_ms"),
            "translator.compile_jobs": agg.per_round("compile_jobs"),
            "translator.cold_compile_ms": statistics.mean(cold_compile_ms),
            "plan.plan_ms": agg.mean("plan_ms"),
            **{f"plan.{k}": agg.per_round(k) for k in layers.PLAN_COUNTS},
            "exec.wall_ms": agg.mean("exec_ms"),
            **{f"exec.{k}": agg.per_round(k) for k in layers.EXEC_SUMS},
            "exec.busy_share": agg.per_round("run_s") / (agg.per_round("exec_ms") / 1e3 * r.cores),
            "exec.output_rows": sum(rows.values()),
            "datapipe.wall_ms": agg.mean("dp_ms"),
            "datapipe.exec_cpu_s": agg.per_round("dp_cpu_s"),
            "process.cpu_s": cpu_s / attempted,
            "jvm.gc_ms": gc_ms / attempted,
            "jvm.rss_mb": r.jvm_peak_rss_mb(),
            "python.rss_mb": r.python_rss_mb(),
            "trace.overhead_ms": statistics.mean(lat[True]) - statistics.mean(lat[False]),
            **layers.self_time_metrics(self_times(tracer.spans), len(lat[True])),
        }
        out["tracer"] = tracer
    return out


def _traced_op(r: Run, tracer: Tracer, agg, op: str, name: str, build, cat, Parser) -> float:
    """One query with every layer timed and accounted.  Returns the wall
    time of all of it, so that against an untraced op it gives what
    tracing costs."""
    spark = r.spark
    t_op = time.perf_counter()
    with tracer.span("op", trace=op):
        if name in DIALECT:
            with tracer.span("parser"):
                t = time.perf_counter()
                Parser(DIALECT[name][0]).parse()
                agg.add("parse_ms", name, (time.perf_counter() - t) * 1e3)
        with tracer.span("translator"), r.job_group(op + "-compile"):
            t = time.perf_counter()
            df = build(spark, cat)
            compile_ms = (time.perf_counter() - t) * 1e3
        with tracer.span("exec"), r.job_group(op):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_ms = (time.perf_counter() - t) * 1e3
        with tracer.span("plan"):
            plan = r.plan_counts(df)
        with tracer.span("accounting"):
            cstats = r.group_stats(op + "-compile")
            estats = r.group_stats(op)
    ms = (time.perf_counter() - t_op) * 1e3
    agg.add("compile_ms", name, compile_ms)
    agg.add("compile_jobs", name, cstats["jobs"])
    agg.add("exec_ms", name, exec_ms)
    for k in layers.PLAN_COUNTS + ("plan_ms",):
        agg.add(k, name, plan[k])
    for k in layers.EXEC_SUMS:
        agg.add(k, name, estats[k])
    if name.startswith("dp_"):
        agg.add("dp_ms", name, compile_ms + exec_ms)
        agg.add("dp_cpu_s", name, estats["cpu_s"])
    return ms
