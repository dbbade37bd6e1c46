"""Rule runtime: one ekuiper *rule* = one Structured Streaming query.

Reference model (internal/pkg/def/rule.go:149-159): a rule is JSON holding
one SQL string + sink actions + options; the rule registry manages
create/start/stop/status (internal/server/rest.go:195-254).  Here:

    Rule(id, sql, actions, options) -> RuleRuntime.start() -> StreamingQuery

Sinks map to writeStream adapters (memory/console/file/foreachBatch) — the
reference's sink-side transform chain (fields/dataTemplate/batch/cache,
internal/topo/planner/planner_sink.go:36-165) becomes select/to_json +
foreachBatch, with delivery reliability from Spark checkpointing.

Bounded runs (the reference's EOF-driven tests) use trigger(availableNow)
— processes everything available, then stops.
"""

from __future__ import annotations

import hashlib
import json
import re
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ekuiper_spark.catalog import Catalog
from ekuiper_spark.translator import compile_sql


@dataclass
class Rule:
    id: str
    sql: str
    actions: list[dict[str, Any]] = field(default_factory=list)  # [{"memory": {...}}]
    options: dict[str, Any] = field(default_factory=dict)
    tags: list[str] = field(default_factory=list)  # def.Rule Tags (rule_tag.go)
    name: str = ""                 # def.Rule Name
    version: str = ""              # def.Rule Version (update rejects lower)
    triggered: bool = True         # def.Rule Triggered: false = create stopped

    @classmethod
    def from_spec(cls, spec: dict[str, Any] | str, rule_id: Optional[str] = None) -> "Rule":
        """Build a rule from its JSON spec (REST body, export entry or a
        JSON string of either); ``rule_id`` overrides the spec's id."""
        if isinstance(spec, str):
            spec = json.loads(spec)
        return cls(
            id=spec["id"] if rule_id is None else rule_id,
            sql=spec["sql"],
            actions=spec.get("actions", []),
            options=spec.get("options", {}),
            tags=spec.get("tags", []),
            name=spec.get("name", ""),
            version=str(spec.get("version", "")),
            triggered=bool(spec.get("triggered", True)),
        )


@dataclass
class RuleRecord:
    """Everything the runtime holds for one rule id (the reference keeps
    one state machine per rule, topo/rule/state.go).  Deleting the rule
    drops the record, and with it every counter, trace and handle."""

    rule: Rule
    stmt: Any = None  # parsed once at create; never handed to the translator
    parse_error: Optional[Exception] = None  # set instead of stmt
    query: Any = None
    scheduler: Any = None  # cron rules (streaming/scheduler.py)
    restarts: Optional[int] = None  # set once a restartStrategy monitors
    closer: Any = None  # rolling file writer / zmq socket, closed on stop
    # actionAfterRead sources: stream name -> files present at start
    read_snapshot: dict[str, list[str]] = field(default_factory=dict)
    checkpoint: Optional[str] = None
    started_at: Optional[int] = None  # query-start epoch ms
    # rows written by foreachBatch sinks (Spark reports numOutputRows
    # = -1 for them; the reference's sink_*_records_out_total counts)
    sink_count: int = 0
    # "always" | "head" while traced (rest.go StringToStrategy): always
    # samples a wide per-batch window, head keeps the batch head
    tracing: Optional[str] = None
    # batch -> sampled sink rows, for the trace span tree
    samples: dict[int, list] = field(default_factory=dict)
    # per-TUPLE trace ids (reference: every traced tuple carries its own
    # otel trace, tracer.go GetTraceIDListByRuleID; Catalyst fuses the op
    # chain, so sampling is head-of-micro-batch): trace id -> (batch,
    # sink row) in insertion order
    tuples: dict[str, tuple] = field(default_factory=dict)
    start_error: str = ""  # why the create/update auto-start failed


class RuleRuntime:
    """Manages named rules -> running StreamingQueries (the control plane).

    ``records`` is the only per-rule store; only these methods change it."""

    def __init__(self, spark: SparkSession, catalog: Catalog) -> None:
        self.spark = spark
        self.catalog = catalog
        self.records: dict[str, RuleRecord] = {}
        # scan-table buffers by table name (sources/scantable.py), so the
        # control plane can snapshot a joining rule's aligned content
        # (rest.go:224 /rules/{name}/scantables)
        self.scan_tables: dict[str, Any] = {}

    @property
    def rules(self) -> dict[str, Rule]:
        """Read view: rule id -> Rule."""
        return {rid: rec.rule for rid, rec in self.records.items()}

    @property
    def queries(self) -> dict[str, Any]:
        """Read view: rule id -> running StreamingQuery."""
        return {
            rid: rec.query for rid, rec in self.records.items() if rec.query is not None
        }

    def _count_fb(self, rec: RuleRecord, fn: Callable) -> Callable:
        """Wrap a foreachBatch body so sink_*_records_out_total counts the
        rows the sink actually received (and, when the rule is traced, a
        small row sample feeds the trace span tree's data attributes)."""
        def wrapped(batch_df: DataFrame, epoch: int) -> None:
            batch_df.persist()
            try:
                n = batch_df.count()
                fn(batch_df, epoch)
                rec.sink_count += n
                if rec.tracing and n:
                    cap = 64 if rec.tracing == "always" else 3
                    sample = [
                        r.asDict(recursive=True)
                        for r in batch_df.limit(cap).collect()
                    ]
                    rec.samples[int(epoch)] = sample
                    for k in sorted(rec.samples)[:-32]:  # bounded retention
                        del rec.samples[k]
                    # one trace id per sampled TUPLE (32-hex like otel;
                    # deterministic so bounded replays reproduce)
                    for i, row in enumerate(sample):
                        tid = hashlib.md5(
                            f"{rec.rule.id}|{epoch}|{i}".encode()
                        ).hexdigest()
                        rec.tuples[tid] = (int(epoch), row)
                    for k in list(rec.tuples)[:-96]:  # bounded span store
                        del rec.tuples[k]
            finally:
                batch_df.unpersist()

        return wrapped

    def register_scan_table(self, name: str, buffer: Any) -> None:
        self.scan_tables[name] = buffer

    def create_rule(self, rule: Rule) -> RuleRecord:
        """Register a rule without starting it; its SQL is parsed here,
        once."""
        from ekuiper_spark.parser import parse_sql

        if rule.id in self.records:
            raise ValueError(f"rule {rule.id} exists")
        rec = RuleRecord(rule)
        try:
            rec.stmt = parse_sql(rule.sql)
        except Exception as e:  # the rule still registers; its start fails
            rec.parse_error = e
        self.records[rule.id] = rec
        return rec

    def put_rule(self, rule: Rule) -> RuleRecord:
        """Create or replace a rule and start it unless ``triggered`` is
        false.  A replaced rule is deleted first and passes on only its
        tracing setting.  Start failures are runtime errors: the rule
        stays registered and ``start_error`` carries the message."""
        old = self.records.get(rule.id)
        if old is not None:
            self.delete_rule(rule.id)
        rec = self.create_rule(rule)
        if old is not None:
            rec.tracing = old.tracing
        if rule.triggered:
            try:
                self.start_rule(rule.id)
            except Exception as e:
                rec.start_error = str(e)
        return rec

    def delete_rule(self, rule_id: str) -> None:
        """Stop the rule and drop its record."""
        self.stop_rule(rule_id)
        del self.records[rule_id]

    def set_tracing(self, rule_id: str, strategy: Optional[str]) -> None:
        """Trace the rule with ``strategy`` ("always" | "head"), or stop
        tracing it with None."""
        self.records[rule_id].tracing = strategy

    def reset_state(self, rule_id: str) -> None:
        """Drop the rule's checkpointed state so the next start replays
        fresh."""
        import shutil

        rec = self.records[rule_id]
        if rec.checkpoint:
            shutil.rmtree(rec.checkpoint, ignore_errors=True)
        rec.checkpoint = None
        rec.read_snapshot = {}

    def start_rule(self, rule_id: str, available_now: bool = False) -> Any:
        """Start a rule.  With a ``cron`` option (rule.go:40-48) the rule
        becomes *scheduled*: a daemon thread fires a duration-bounded run
        per cron match (gated by ``cronDatetimeRange``); ``duration``
        without cron bounds this single run."""
        from ekuiper_spark.functions.scalar import parse_go_duration

        rec = self.records[rule_id]
        if rec.query is not None:
            # start on a started rule = restart (idempotent control plane)
            try:
                rec.query.stop()
            except Exception:
                pass
        opts = rec.rule.options
        cron_expr = opts.get("cron")
        duration = opts.get("duration")
        if cron_expr:
            from ekuiper_spark.streaming.scheduler import RuleScheduler

            if not duration:
                raise ValueError("cron rules require a duration option")
            if rec.scheduler is not None and not rec.scheduler.stopped:
                raise ValueError(f"rule {rule_id} already scheduled")
            rec.scheduler = RuleScheduler(
                cron_expr,
                parse_go_duration(duration),
                start_fn=lambda: self._start_query(rec, available_now=False),
                stop_fn=lambda q: q.stop(),
                ranges=opts.get("cronDatetimeRange"),
            )
            rec.scheduler.start()
            return rec.scheduler
        q = self._start_query(rec, available_now)
        if duration:
            import threading

            timer = threading.Timer(parse_go_duration(duration), q.stop)
            timer.daemon = True
            timer.start()
        strategy = opts.get("restartStrategy")
        if strategy:
            self._monitor_restart(rec, strategy, available_now)
        return q

    def _monitor_restart(
        self, rec: RuleRecord, strategy: dict[str, Any], available_now: bool
    ) -> None:
        """Auto-restart on failure with exponential backoff
        (def.RestartStrategy, rule.go: attempts/delay/multiplier/maxDelay/
        jitterFactor; state machine topo/rule/state.go).  A clean stop
        (no exception), a stop or restart from outside, or deleting the
        rule ends monitoring."""
        import random
        import threading
        import time

        from ekuiper_spark.functions.scalar import parse_go_duration

        attempts = int(strategy.get("attempts", 0))
        delay = parse_go_duration(str(strategy.get("delay", "1s")))
        multiplier = float(strategy.get("multiplier", 2.0))
        max_delay = parse_go_duration(str(strategy.get("maxDelay", "30s")))
        jitter = float(strategy.get("jitterFactor", 0.1))
        rec.restarts = 0

        def run() -> None:
            wait = delay
            while rec.restarts < attempts:
                q = rec.query
                if q is None:
                    return
                try:
                    q.awaitTermination()
                except Exception:
                    pass
                if q.exception() is None:
                    return  # clean stop/finish
                rec.restarts += 1
                time.sleep(min(wait, max_delay) * (1 + jitter * random.random()))
                wait *= multiplier
                if self.records.get(rec.rule.id) is not rec or rec.query is not q:
                    return  # deleted, replaced, stopped or restarted meanwhile
                try:
                    self._start_query(rec, available_now)
                except Exception:
                    continue

        threading.Thread(target=run, daemon=True).start()

    def _start_query(self, rec: RuleRecord, available_now: bool = False) -> Any:
        import time

        from ekuiper_spark.functions.scalar import parse_go_duration

        self._snapshot_read_files(rec)
        rule = rec.rule
        rule_id = rule.id
        opts = rule.options
        # reference option keys (def/rule.go): lateTolerance applies only
        # to event-time rules (isEventTime); the Go duration converts to
        # Spark's watermark wording.  late_tolerance is this runtime's
        # pre-existing direct passthrough.
        watermark = opts.get("late_tolerance")
        if watermark is None and opts.get("isEventTime") and opts.get("lateTolerance"):
            watermark = f"{parse_go_duration(str(opts['lateTolerance']))} seconds"
        df = compile_sql(
            self.spark,
            rule.sql,
            self.catalog,
            streaming=True,
            event_col=opts.get("event_col"),
            watermark=watermark,
            order_cols=opts.get("order_cols"),
            # rule execution context backing rule_id()/rule_start()/props()
            rule_ctx={
                "rule_id": rule_id,
                "rule_start": int(time.time() * 1000),
                "props": opts,
            },
        )
        action = rule.actions[0] if rule.actions else {"memory": {}}
        (sink_type, sink_opts), = action.items()
        if "sendNilField" in opts and "sendNilField" not in sink_opts:
            # def.RuleOption.SendNil is rule-level; thread it into the
            # sink transform chain
            sink_opts = {**sink_opts, "sendNilField": opts["sendNilField"]}
        writer = df.writeStream.outputMode(opts.get("output_mode", self._default_mode(df)))
        if available_now:
            writer = writer.trigger(availableNow=True)
        if sink_type == "memory":
            # reference memory sink publishes on `topic` (io/memory/sink.go);
            # here topic -> the in-session table name (subscribers poll it)
            name = sink_opts.get(
                "table", re.sub(r"\W", "_", str(sink_opts.get("topic", f"rule_{rule_id}")))
            )
            if rec.tracing:
                # per-tuple tracing needs sink-row access, which the
                # native memory sink doesn't expose — an equivalent
                # foreachBatch accumulator serves the same table name;
                # untraced rules keep the native path (identical plan)
                mode = opts.get("output_mode", self._default_mode(df))
                mem_buf: list = []

                def _mem_batch(batch_df: DataFrame, _epoch: int) -> None:
                    rows = batch_df.collect()
                    if mode == "complete":
                        mem_buf[:] = rows
                    else:
                        mem_buf.extend(rows)
                    batch_df.sparkSession.createDataFrame(
                        mem_buf, batch_df.schema
                    ).createOrReplaceTempView(name)

                q = writer.foreachBatch(self._count_fb(rec, _mem_batch)).start()
            else:
                q = writer.format("memory").queryName(name).start()
        elif sink_type in ("nop", "log"):
            # nop sink discards (io/sink/nop_sink.go); log sink writes the
            # conf log — a counted no-op foreachBatch so the reference's
            # sink_*_records_out_total metric and trace samples still flow
            def _nop_batch(batch_df: DataFrame, _epoch: int) -> None:
                pass

            q = writer.foreachBatch(self._count_fb(rec, _nop_batch)).start()
        elif sink_type == "console":
            q = writer.format("console").start()
        elif sink_type == "file" and (
            any(
                k in sink_opts
                for k in ("rollingInterval", "rollingCount", "rollingSize", "rollingNamePattern")
            )
            or sink_opts.get("fileType") in ("csv", "lines", "json")
        ):
            # reference file-sink rolling (internal/io/file/sink.go:38-43):
            # single-writer append file rolled by count/interval with
            # timestamped names; payloads go through the sink transform
            # chain (fields/dataTemplate/format) like any message sink
            from ekuiper_spark.streaming.sinks import RollingFileWriter, sink_batch

            has_rolling = any(
                k in sink_opts
                for k in ("rollingInterval", "rollingCount", "rollingSize")
            )
            header = ""
            if sink_opts.get("fileType") == "csv" and sink_opts.get("hasHeader"):
                # header = the delimited encoder's column order (explicit
                # fields, else sorted names — delimited/converter.go:52)
                delim = str(sink_opts.get("delimiter", ","))
                hcols = sink_opts.get("fields") or sorted(df.columns)
                header = delim.join(hcols)
            roller = RollingFileWriter(
                path=sink_opts["path"],
                rolling_interval_ms=int(sink_opts.get("rollingInterval", 0)),
                # sink.go Provision default: RollingCount 1,000,000 when
                # no rolling key is set (plain single-file message sink)
                rolling_count=int(sink_opts.get("rollingCount", 0 if has_rolling else 1_000_000)),
                rolling_size=int(sink_opts.get("rollingSize", 0)),
                rolling_name_pattern=str(sink_opts.get("rollingNamePattern", "none")),
                header=header,
            )
            rec.closer = roller

            def _roll_batch(batch_df: DataFrame, _epoch: int, _w=roller, _o=sink_opts) -> None:
                _w.write_payloads(sink_batch(batch_df, _o))

            q = writer.foreachBatch(self._count_fb(rec, _roll_batch)).start()
        elif sink_type == "file":
            ckpt = sink_opts.get("checkpoint", f"/tmp/ckpt_{rule_id}_{uuid.uuid4().hex}")
            rec.checkpoint = ckpt
            q = (
                writer.format(sink_opts.get("format", "parquet"))
                .option("path", sink_opts["path"])
                .option("checkpointLocation", ckpt)
                .start()
            )
        elif sink_type == "foreach_batch":
            q = writer.foreachBatch(sink_opts["fn"]).start()
        elif sink_type == "mqtt":
            # publish per partition (sources/mqtt.py write_mqtt_sink);
            # reference sink.go resolves topic from the action config
            from ekuiper_spark.sources.mqtt import write_mqtt_sink

            # the reference action carries `server` ("tcp://host:port",
            # mqtt conn.go); explicit host/port still win
            host = sink_opts.get("host")
            port = sink_opts.get("port")
            if (host is None or port is None) and sink_opts.get("server"):
                from urllib.parse import urlparse

                u = urlparse(str(sink_opts["server"]))
                host = host or u.hostname or "127.0.0.1"
                port = port or u.port
            host = host or "127.0.0.1"

            def _mqtt_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts,
                            _h=host, _p=int(port)) -> None:
                write_mqtt_sink(
                    batch_df,
                    _h,
                    _p,
                    _o["topic"],
                    qos=int(_o.get("qos", 0)),
                )

            q = writer.foreachBatch(self._count_fb(rec, _mqtt_batch)).start()
        elif sink_type == "websocket":
            # per-partition JSON text frames (websocket_sink.go)
            from ekuiper_spark.sources.websocket import write_websocket_sink

            def _ws_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_websocket_sink(batch_df, _o["url"])

            q = writer.foreachBatch(self._count_fb(rec, _ws_batch)).start()
        elif sink_type == "sse":
            # SSE broadcast via the in-process broker (sse/sink.go)
            from ekuiper_spark.sources.sse import write_sse_sink

            def _sse_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_sse_sink(
                    batch_df, int(_o["port"]), _o.get("endpoint", "/stream")
                )

            q = writer.foreachBatch(self._count_fb(rec, _sse_batch)).start()
        elif sink_type == "neuron":
            # nanomsg PAIR publish (neuron sink.go message shape)
            from ekuiper_spark.sources.neuron import write_neuron_sink

            def _neuron_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_neuron_sink(
                    batch_df, _o["url"],
                    group_name=_o.get("groupName", "grp"),
                    node_name=_o.get("nodeName", "node"),
                )

            q = writer.foreachBatch(self._count_fb(rec, _neuron_batch)).start()
        elif sink_type == "edgex":
            # AddEventRequest envelopes on the redis bus (edgex sink.go)
            from ekuiper_spark.sources.edgex import write_edgex_sink

            def _edgex_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_edgex_sink(
                    batch_df,
                    _o.get("host", "127.0.0.1"),
                    int(_o["port"]),
                    topic=_o.get("topic", "edgex/events/device/ekuiperProfile/ekuiper/ruleResult"),
                    device_name=_o.get("deviceName", "ekuiper"),
                )

            q = writer.foreachBatch(self._count_fb(rec, _edgex_batch)).start()
        elif sink_type == "influx":
            # line-protocol HTTP writes, one POST per partition
            # (extensions/impl/influx/influx.go BatchPoints analog)
            from ekuiper_spark.sources.influx import write_influx_sink

            def _influx_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                # reference tags conf is a template MAP (tspoint
                # WriteOptions.Tags); a plain list means column tags
                tags_conf = _o.get("tags")
                write_influx_sink(
                    batch_df,
                    addr=_o["addr"],
                    database=_o.get("database", ""),
                    measurement=_o["measurement"],
                    tags=tags_conf if isinstance(tags_conf, list) else None,
                    tag_templates=tags_conf if isinstance(tags_conf, dict) else None,
                    ts_col=_o.get("tsFieldName"),
                    v2_bucket=_o.get("bucket"),
                    token=_o.get("token"),
                    fields=_o.get("fields"),
                    precision=str(_o.get("precision", "ns")),
                )

            q = writer.foreachBatch(self._count_fb(rec, _influx_batch)).start()
        elif sink_type == "tdengine3":
            # per-row INSERT statements merged per partition, shipped over
            # the REST API (extensions/impl/tdengine3/tdengine3.go)
            from ekuiper_spark.sources.tdengine import write_tdengine_sink

            def _tdengine_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_tdengine_sink(batch_df, _o, addr=_o.get("addr"))

            q = writer.foreachBatch(self._count_fb(rec, _tdengine_batch)).start()
        elif sink_type == "image":
            # save binary payloads as image files with count pruning
            # (extensions/impl/image/image.go)
            from ekuiper_spark.streaming.sinks import write_image_sink

            def _image_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_image_sink(
                    batch_df,
                    path=_o["path"],
                    payload_col=_o.get("payloadField", "image"),
                    image_format=_o.get("imageFormat", "png"),
                    max_count=int(_o.get("maxCount", 0)),
                )

            q = writer.foreachBatch(self._count_fb(rec, _image_batch)).start()
        elif sink_type == "zmq":
            # PUB the batch as JSON payloads (extensions/impl/zmq/sink.go);
            # the binding PUB socket lives for the rule's lifetime
            from ekuiper_spark.sources.zmq import ZmqPubSocket, write_zmq_sink

            zpub = ZmqPubSocket(sink_opts["server"])
            # closed by stop_rule like the rolling writer (both expose close())
            rec.closer = zpub

            def _zmq_batch(batch_df: DataFrame, _epoch: int, _p=zpub, _o=sink_opts) -> None:
                write_zmq_sink(batch_df, _p, topic=_o.get("topic", ""))

            q = writer.foreachBatch(self._count_fb(rec, _zmq_batch)).start()
        elif sink_type == "sql":
            # DB writes with insert/update/delete rowkind semantics
            # (extensions/impl/sql/sink.go:53-56)
            from ekuiper_spark.sources.sqldb import write_sql_sink

            def _sql_batch(batch_df: DataFrame, _epoch: int, _o=sink_opts) -> None:
                write_sql_sink(
                    batch_df,
                    dburl=_o["dburl"],
                    table=_o["table"],
                    fields=_o.get("fields"),
                    key_field=_o.get("keyField"),
                    row_kind_field=_o.get("rowKindField"),
                )

            q = writer.foreachBatch(self._count_fb(rec, _sql_batch)).start()
        elif sink_type == "kafka":
            # extensions/impl/kafka sink -> Spark's native kafka writer;
            # rows become JSON `value` (+ optional string `key`)
            from ekuiper_spark.sources.kafka import kafka_stream_writer

            kw = kafka_stream_writer(
                df,
                brokers=sink_opts["brokers"],
                topic=sink_opts["topic"],
                key_field=sink_opts.get("key"),
                checkpoint=sink_opts.get("checkpoint"),
                output_mode=opts.get(
                    "output_mode", self._default_mode(df)
                ),
                options=sink_opts.get("properties"),
            )
            if available_now:
                kw = kw.trigger(availableNow=True)
            q = kw.start()
        else:
            raise ValueError(f"unknown sink {sink_type}")
        rec.query = q
        rec.started_at = int(time.time() * 1000)
        self._monitor_bounded_sources(rec, q)
        return q

    def _monitor_bounded_sources(self, rec: RuleRecord, q: Any) -> None:
        """A rule whose every stream source is a bounded simulator
        (loop=false) stops once the canned data is replayed — the
        reference rule goes to "stopped" on source EOF (simulator.go
        loop=false ends the source; fvt csv_test.go waits on it).  Spark's
        rate-backed simulator never terminates on its own, so a monitor
        stops the query after all rows flowed through one final empty
        micro-batch."""
        import threading
        import time as _time

        stmt = rec.stmt
        if stmt is None:
            return
        expected = 0
        for n in [stmt.source] + [j.source for j in stmt.joins]:
            d = self.catalog.get(n)
            if d is None:
                continue
            if d.kind in ("scan", "lookup"):
                continue
            if (d.options.get("type") or "").lower() != "simulator":
                return  # unbounded source: rule runs until stopped
            from ekuiper_spark.sources import mock as _mock

            conf: dict = {}
            ck = d.options.get("conf_key")
            if ck:
                try:
                    conf.update(_mock.get_simulator_conf(str(ck)))
                except KeyError:
                    pass  # an unknown key fails the source itself at start
            conf.update(d.options)
            if bool(conf.get("loop", True)):
                return  # looping simulator: unbounded
            expected += len(conf.get("data") or [])
        if expected <= 0:
            return

        def watch() -> None:
            # numInputRows counts the rate source's TICKS (1:1 with data
            # rows while seq < n, then empty post-filter rows) — once the
            # cumulative tick count covers the data and one further batch
            # commits, every data row has flushed through the sink
            seen: set = set()
            total = 0
            done_bid = None
            deadline = _time.time() + 120
            while q.isActive and _time.time() < deadline:
                _time.sleep(0.05)
                try:
                    p = q.lastProgress
                except Exception:
                    continue
                if not p:
                    continue
                bid = p.get("batchId")
                if bid not in seen:
                    seen.add(bid)
                    total += int(p.get("numInputRows") or 0)
                if done_bid is None and total >= expected:
                    done_bid = bid
                if done_bid is not None and bid is not None and bid > done_bid:
                    try:
                        q.stop()
                    except Exception:
                        pass
                    return

        threading.Thread(target=watch, daemon=True).start()

    @staticmethod
    def _has_agg(df: DataFrame) -> bool:
        return "Aggregate" in df._jdf.queryExecution().analyzed().toString()

    @staticmethod
    def _default_mode(df: DataFrame) -> str:
        """append unless the plan aggregates WITHOUT a watermark: a
        watermarked windowed aggregation emits finalized windows in
        append mode (and a stream-stream JOIN upstream outright rejects
        complete mode); an unwatermarked aggregation needs complete."""
        plan = df._jdf.queryExecution().analyzed().toString()
        if "Aggregate" not in plan:
            return "append"
        return "append" if "EventTimeWatermark" in plan else "complete"

    def stop_rule(self, rule_id: str) -> None:
        rec = self.records.get(rule_id)
        if rec is None:
            return
        sched, rec.scheduler = rec.scheduler, None
        if sched is not None:
            sched.stop()
        q, rec.query = rec.query, None
        if q is not None:
            q.stop()
        closer, rec.closer = rec.closer, None
        if closer is not None:
            closer.close()
        self._after_read_actions(rec)

    def _snapshot_read_files(self, rec: RuleRecord) -> None:
        """At rule start, record the file list of every actionAfterRead
        source — the bounded run reads exactly the files present then;
        files that appear later are NOT acted on (source.go:317-330 only
        dispatches after a full read)."""
        import glob
        import os

        files: dict[str, list[str]] = {}
        for d in self._after_read_defs(rec):
            if os.path.isfile(d.path):
                files[d.name] = [d.path]
            else:
                files[d.name] = sorted(
                    f
                    for f in glob.glob(os.path.join(d.path, "*"))
                    if os.path.isfile(f)
                )
        rec.read_snapshot = files

    def _after_read_defs(self, rec: RuleRecord):
        stmt = rec.stmt
        if stmt is None:
            return []
        out = []
        for n in [stmt.source] + [j.source for j in stmt.joins]:
            d = self.catalog.get(n)
            if d is not None and int(d.options.get("actionAfterRead", 0)):
                out.append(d)
        return out

    @staticmethod
    def _processed_files_from_checkpoint(ckpt: str) -> list[str]:
        """Paths the FileStreamSource committed, read from the
        checkpoint's source log (<ckpt>/sources/<i>/<batch>: a version
        header then one JSON entry per fully-read file) — the exact
        'fully read' set the reference acts on."""
        import glob
        import json
        import os

        out = []
        for f in sorted(glob.glob(os.path.join(ckpt, "sources", "*", "*"))):
            if not os.path.isfile(f):
                continue
            try:
                for line in open(f):
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    p = json.loads(line).get("path", "")
                    if p:
                        out.append(p)
            except (OSError, ValueError):
                continue
        return out

    def _after_read_actions(self, rec: RuleRecord) -> None:
        """File-source actionAfterRead (internal/io/file/source.go:317-330):
        when a rule over a file stream with actionAfterRead set stops,
        the fully-read files are deleted (1) or moved to moveTo (2) —
        driver-side metadata ops.  With a checkpoint, the source log is
        the authoritative read set (covers files that arrived mid-run);
        otherwise the start-time snapshot stands in (exact for bounded
        availableNow runs)."""
        import os

        from ekuiper_spark.sources.filesource import apply_after_read

        snap, rec.read_snapshot = rec.read_snapshot, {}
        defs = self._after_read_defs(rec)
        if not defs:
            return
        processed = None
        ckpt, rec.checkpoint = rec.checkpoint, None
        if ckpt:
            logged = self._processed_files_from_checkpoint(ckpt)
            if logged:
                processed = [
                    p[len("file:"):] if p.startswith("file:") else p for p in logged
                ]
        for d in defs:
            if processed is not None:
                root = os.path.abspath(d.path)
                files = [p for p in processed if os.path.abspath(p).startswith(root)]
            else:
                files = snap.get(d.name, [])
            if files:
                apply_after_read(
                    files, int(d.options["actionAfterRead"]), d.options.get("moveTo")
                )

    def status(self, rule_id: str) -> dict[str, Any]:
        rec = self.records.get(rule_id)
        if rec is None:
            return {"state": "stopped", "status": "stopped"}
        sched = rec.scheduler
        if sched is not None and not sched.stopped:
            # reference scheduled-rule states (topo/rule/state.go): the
            # rule alternates running (in a bounded run) / scheduled
            running = sched.active_query is not None
            return {
                "state": "running" if running else "scheduled",
                "status": "running" if running else "scheduled",
                "runs": sched.runs,
                "cron": sched.cron_expr,
            }
        q = rec.query
        if q is None:
            return {"state": "stopped", "status": "stopped"}
        state = "running" if q.isActive else "finished"
        out = {
            "state": state,
            # reference status string (topo/rule/state.go): a finished
            # bounded run reports "stopped"
            "status": "running" if q.isActive else "stopped",
            "progress": q.lastProgress,
        }
        if rec.restarts is not None:
            out["restarts"] = rec.restarts
        out.update(self._ref_metrics(rec, q))
        return out

    def _ref_metrics(self, rec: RuleRecord, q: Any) -> dict[str, Any]:
        """Reference-style status metric keys (rule status JSON in
        rest.go / topotest assertions: source_<name>_0_records_in_total,
        sink_<type>_0_records_out_total), synthesized from the query's
        recent progress — monitoring dashboards keyed on the reference's
        names keep working.  Sums cover the retained progress window
        (Spark keeps ~100 recent batches), cumulative-enough for health
        dashboards; exact lifetime totals live in the checkpoint."""
        rule = rec.rule
        src = rec.stmt.source if rec.stmt is not None else "stream"
        action = rule.actions[0] if rule.actions else {"memory": {}}
        (sink_type, _), = action.items()
        rows_in = 0
        rows_out = 0
        for p in q.recentProgress or []:
            for s in p.get("sources") or []:
                rows_in += int(s.get("numInputRows") or 0)
            sink = p.get("sink") or {}
            n = int(sink.get("numOutputRows") or 0)
            rows_out += max(n, 0)  # -1 = unreported (foreachBatch)
        # foreachBatch sinks count their own rows (_count_fb)
        rows_out = max(rows_out, rec.sink_count)
        exc = 0
        try:
            exc = 1 if q.exception() is not None else 0
        except Exception:
            pass
        out = {
            f"source_{src}_0_records_in_total": rows_in,
            # fvt key shape: sink_<type>_<sinkIndex>_<instance>_... —
            # one sink, instance 0 (rule_test.go sink_mqtt_0_0_...)
            f"sink_{sink_type}_0_0_records_out_total": rows_out,
            f"source_{src}_0_exceptions_total": exc,
        }
        started = rec.started_at
        if started is not None:
            out[f"source_{src}_0_connection_last_connected_time"] = started
        # named-connection reachability (fvt conn_test.go TestConnStatus:
        # source_<selector>/<datasource>_0_connection_status = 1 | -1)
        d = self.catalog.get(src)
        if d is not None:
            from ekuiper_spark.sources import confstore

            typ = (d.options.get("type") or "").lower()
            props = confstore.resolve_props(typ, d.options)
            sel = props.get("connectionSelector")
            if sel:
                ok = confstore.probe(typ, props, timeout=0.5) == "connected"
                out[f"source_{sel}/{d.path or ''}_0_connection_status"] = (
                    1.0 if ok else -1.0
                )
        return out

    # -- persistence (the reference keeps rules in a KV store,
    # internal/processor/rule.go:54; here a JSON file per registry) --------
    def save(self, path: str) -> None:
        from dataclasses import asdict

        with open(path, "w") as f:
            json.dump({rid: asdict(r) for rid, r in self.rules.items()}, f, indent=2)

    def load(self, path: str) -> None:
        with open(path) as f:
            for rid, spec in json.load(f).items():
                if rid not in self.records:
                    self.create_rule(Rule.from_spec(spec, rid))


def run_rule_available_now(
    spark: SparkSession,
    catalog: Catalog,
    sql: str,
    table: Optional[str] = None,
    output_mode: Optional[str] = None,
    event_col: Optional[str] = None,
    watermark: Optional[str] = None,
    order_cols: Optional[list[str]] = None,
) -> DataFrame:
    """Run one rule over the currently-available data and return the result
    table — the engine analog of the reference's bounded EOF test runs
    (internal/topo/topotest/mock_topo.go:136).
    """
    name = table or f"rt_{uuid.uuid4().hex[:8]}"
    df = compile_sql(
        spark, sql, catalog, streaming=True, event_col=event_col,
        watermark=watermark, order_cols=order_cols,
    )
    mode = output_mode or RuleRuntime._default_mode(df)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
