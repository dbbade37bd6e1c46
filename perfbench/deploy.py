"""rule_deploy: one client, closed loop, over one HTTP client connection
to ``RestServer``.  Each operation is one deploy cycle of a streaming
rule with a ``nop`` sink: ``POST /rules`` (created stopped), ``POST
/rules/{id}/start?availableNow=1`` (returns when the bounded run ends),
``GET /rules/{id}/status`` and ``DELETE /rules/{id}``.  Rounds cycle
through every rule of ``DEPLOY_RULES`` once."""

from __future__ import annotations

import http.client
import itertools
import json
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import layers
from harness import Run
from stats import closed_loop_rate, percentile, typical_ms
from spans import Tracer, self_times
from workloads import DEPLOY_RULES, EVENTS_STREAM_DDL

SINK_KEY = "sink_nop_0_0_records_out_total"
NO_TRACE = Tracer(False)
EXC_KEY = "source_ev_0_exceptions_total"


class Client:
    """JSON over one ``http.client`` connection."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def __call__(self, method: str, path: str, body: dict | None = None):
        data = json.dumps(body).encode() if body is not None else None
        self.conn.request(method, path, body=data,
                          headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")

    def close(self) -> None:
        self.conn.close()


def run(r: Run, expected: dict) -> dict:
    from ekuiper_spark import Catalog
    from ekuiper_spark.server import RestServer

    with r.generating_inputs():
        paths = datagen.write_tables(r.input_dir("tables"), r.seed)
    cat = Catalog.from_dir(r.input_dir("tables"))
    srv = RestServer(r.spark, cat).start()
    client = Client(srv.httpd.server_address[1])
    try:
        code, body = client("POST", "/streams",
                            {"sql": EVENTS_STREAM_DDL.format(path=paths["events"])})
        if code != 201:
            raise RuntimeError(f"stream DDL failed: {code} {body}")
        return _measure(r, srv, client, expected)
    finally:
        client.close()
        srv.stop()
        shutil.rmtree(srv.upload_dir, ignore_errors=True)  # stop() leaves it


def _measure(r: Run, srv, client: Client, expected: dict) -> dict:
    tracer = Tracer(r.trace)
    agg = layers.Acc()
    cold_compile_ms: list[float] = []
    ids = itertools.count(1)
    rules = list(DEPLOY_RULES)

    def cycle(rule: str, traced: bool, via: Client = client) -> tuple[float, bool]:
        rid = f"{rule}_{next(ids)}"  # a fresh id per cycle: counters start at zero
        sql, opts = DEPLOY_RULES[rule]
        if traced:
            return _traced_cycle(r, srv, via, tracer, agg, rid, rule, sql, opts, expected)
        t = time.perf_counter()
        codes, st, _times, _span = _cycle_requests(via, rid, sql, opts)
        ms = (time.perf_counter() - t) * 1e3
        return ms, _cycle_ok(codes, st, expected.get(rule), rid)

    if r.trace:  # cold compiles, before anything has warmed them
        for sql, opts in DEPLOY_RULES.values():
            t = time.perf_counter()
            _compile(r, srv.catalog, sql, opts)
            cold_compile_ms.append((time.perf_counter() - t) * 1e3)
    t = time.perf_counter()
    _warm_up(srv, rules, cycle)
    warmup_s = time.perf_counter() - t
    setup_s = r.setup_done()

    lat: dict[bool, list[float]] = {False: [], True: []}
    per_rule: dict[str, list[float]] = {rule: [] for rule in rules}
    ok = attempted = 0
    cpu0, gc0 = r.cpu_s(), r.gc_ms()
    t_start = time.perf_counter()
    # cycles until --seconds have passed, and at least one whole round; a
    # traced run alternates traced and untraced cycles and runs whole
    # rounds, at least two, so that every rule is measured both ways
    # equally often
    least = len(rules) * (2 if r.trace else 1)
    for i in itertools.count():
        if (i >= least and time.perf_counter() - t_start >= r.seconds
                and not (r.trace and i % len(rules))):
            break
        rnd, k = divmod(i, len(rules))
        rule = rules[k]
        traced = r.trace and (rnd + k) % 2 == 1
        attempted += 1
        try:
            ms, good = cycle(rule, traced)
        except (OSError, http.client.HTTPException, ValueError) as e:
            print(f"# {rule}: {type(e).__name__}: {e}")
            continue
        lat[traced].append(ms)
        if not traced:
            per_rule[rule].append(ms)
        ok += good
    wall = time.perf_counter() - t_start
    # before live_mem_mb, whose full collection is not part of the ops
    cpu_s, gc_ms = r.cpu_s() - cpu0, r.gc_ms() - gc0

    typical = typical_ms(per_rule)
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
        "warmup_s": warmup_s,
        "cycles_per_s": (len(lat[False]) + len(lat[True])) / wall,
        "typical_ms": {k: round(v, 1) for k, v in typical.items()},
    }
    if r.trace:
        ins = agg.per_round("rows_in")
        # means are per cycle; counts and sums are per round of all rules
        out["layers"] = {
            "parser.parse_ms": agg.mean("parse_ms"),
            "translator.compile_ms": agg.mean("compile_ms"),
            "translator.compile_jobs": agg.per_round("compile_jobs"),
            "translator.cold_compile_ms": statistics.mean(cold_compile_ms),
            "exec.wall_ms": agg.mean("add_batch_ms"),
            **{f"exec.{k}": agg.per_round(k) for k in layers.EXEC_SUMS},
            "exec.busy_share": agg.per_round("run_s")
            / (agg.per_round("add_batch_ms") / 1e3 * r.cores),
            "exec.output_rows": agg.per_round("rows_out"),
            **{f"server.{k}_ms": agg.mean(f"{k}_ms")
               for k in ("create", "start", "status", "delete")},
            "runtime.start_overhead_ms": agg.mean("start_overhead_ms"),
            **{k: agg.mean(k) for k in agg.values if k.startswith(("stream.", "state."))},
            "sink.rows_out": agg.per_round("rows_out"),
            "sink.out_in_ratio": agg.per_round("rows_out") / ins if ins else 0.0,
            "process.cpu_s": cpu_s / attempted,
            "jvm.gc_ms": gc_ms / attempted,
            "jvm.rss_mb": r.jvm_peak_rss_mb(),
            "python.rss_mb": r.python_rss_mb(),
            "trace.overhead_ms": statistics.mean(lat[True]) - statistics.mean(lat[False]),
            **layers.self_time_metrics(self_times(tracer.spans), len(lat[True])),
        }
        out["tracer"] = tracer
    return out


def _warm_up(srv, rules: list[str], cycle) -> None:
    """Untimed warm-up: one round of every rule, two cycles at a time
    over two connections of their own, which spends less set-up time on
    the cold round than one cycle at a time.  The JVM keeps getting
    faster for many rounds after it (a cycle of the filter rule took
    690 ms in the round after the cold one and 380 ms by the fifteenth);
    no warm-up the time budget allows reaches that plateau.  Timed
    cycles then run one at a time over the main connection."""
    port = srv.httpd.server_address[1]
    clients = [Client(port), Client(port)]
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            for a, b in zip(rules[0::2], rules[1::2] + [None]):
                jobs = [pool.submit(cycle, a, False, clients[0])]
                if b is not None:
                    jobs.append(pool.submit(cycle, b, False, clients[1]))
                for j in jobs:
                    j.result()
    finally:
        for c in clients:
            c.close()


def _cycle_requests(client: Client, rid: str, sql: str, opts: dict,
                    tracer: Tracer = NO_TRACE, before_delete=None):
    """The four requests of one deploy cycle.  Returns the status codes,
    the status body, per-request seconds and the span of the start
    request (None when ``tracer`` is off)."""
    steps = [
        ("create", "POST", "/rules", {"id": rid, "sql": sql, "actions": [{"nop": {}}],
                                      "options": opts, "triggered": False}),
        ("start", "POST", f"/rules/{rid}/start?availableNow=1", None),
        ("status", "GET", f"/rules/{rid}/status", None),
        ("delete", "DELETE", f"/rules/{rid}", None),
    ]
    codes, status, times, start_span = [], None, {}, None
    for step, method, path, body in steps:
        if step == "delete" and before_delete is not None:
            before_delete()
        t = time.perf_counter()
        with tracer.span("runtime" if step == "start" else "server") as s:
            code, resp = client(method, path, body)
        times[step] = time.perf_counter() - t
        codes.append(code)
        if step == "start":
            start_span = s
        if step == "status":
            status = resp
    return codes, status, times, start_span


def _cycle_ok(codes: list[int], st, expect: int | None, rid: str) -> bool:
    st = st if isinstance(st, dict) else {}
    good = (codes == [201, 200, 200, 200] and st.get(EXC_KEY) == 0
            and st.get(SINK_KEY) == expect)
    if not good:
        print(f"# {rid}: codes {codes}, sink rows {st.get(SINK_KEY)}, expected {expect}")
    return good


def _compile(r: Run, cat, sql: str, opts: dict):
    from ekuiper_spark import compile_sql

    return compile_sql(r.spark, sql, cat, streaming=True,
                       order_cols=opts.get("order_cols"))


def _traced_cycle(r, srv, client, tracer, agg, rid, rule, sql, opts, expected):
    """One deploy cycle, then a separate parse and compile of its SQL (run
    after the cycle, so they cannot warm the server's compile), then the
    accounting.  Returns the wall time of all of it, so that against an
    untraced cycle it gives what tracing costs."""
    from ekuiper_spark.parser import Parser

    progress: list[dict] = []

    def grab_progress() -> None:  # the query object goes away on DELETE
        q = srv.runtime.queries.get(rid)
        progress.extend(q.recentProgress if q is not None else [])

    t_op = time.perf_counter()
    with tracer.span("op", trace=rid):
        codes, st, times, start_span = _cycle_requests(client, rid, sql, opts, tracer,
                                                        grab_progress)
        layers.add_batch_spans(tracer, start_span, progress)
        with tracer.span("parser"):
            t = time.perf_counter()
            Parser(sql).parse()
            agg.add("parse_ms", rule, (time.perf_counter() - t) * 1e3)
        with tracer.span("translator"), r.job_group(rid + "-compile"):
            t = time.perf_counter()
            _compile(r, srv.catalog, sql, opts)
            compile_ms = (time.perf_counter() - t) * 1e3
        with tracer.span("accounting"):
            cstats = r.group_stats(rid + "-compile")
            run_ids = {p["runId"] for p in progress}
            estats = [r.group_stats(x) for x in run_ids]
    ms = (time.perf_counter() - t_op) * 1e3
    agg.add("compile_ms", rule, compile_ms)
    agg.add("compile_jobs", rule, cstats["jobs"])
    for k in ("create", "start", "status", "delete"):
        agg.add(f"{k}_ms", rule, times[k] * 1e3)
    trig = sum((p.get("durationMs") or {}).get("triggerExecution", 0) for p in progress)
    agg.add("start_overhead_ms", rule, times["start"] * 1e3 - compile_ms - trig)
    agg.add("add_batch_ms", rule,
            sum((p.get("durationMs") or {}).get("addBatch", 0) for p in progress))
    for k in layers.EXEC_SUMS:
        agg.add(k, rule, sum(s[k] for s in estats))
    for k, v in layers.progress_layers(progress).items():
        agg.add(k, rule, v)
    agg.add("rows_in", rule, sum(p.get("numInputRows", 0) for p in progress))
    agg.add("rows_out", rule, st.get(SINK_KEY, 0) if isinstance(st, dict) else 0)
    return ms, _cycle_ok(codes, st, expected.get(rule), rid)
