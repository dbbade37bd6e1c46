"""Cron-scheduled / duration-bounded rules (internal/pkg/def/rule.go:40-48,
internal/topo/rule/state.go scheduled transitions)."""

from __future__ import annotations

import time
import uuid as _uuid
from datetime import datetime

import pytest

from ekuiper_spark import compile_sql
from ekuiper_spark.streaming.runtime import Rule, RuleRuntime
from ekuiper_spark.streaming.scheduler import cron_matches, in_datetime_ranges


def test_cron_matcher():
    dt = datetime(2024, 3, 5, 14, 30, 45)  # a Tuesday
    assert cron_matches("30 14 5 3 *", dt)
    assert cron_matches("*/15 * * * *", dt)
    assert cron_matches("0-40 14 * * 2", dt)  # dow 2 = Tuesday
    assert not cron_matches("31 14 5 3 *", dt)
    # standard cron (robfig too): BOTH dom and dow restricted -> the day
    # matches when EITHER matches — "the 5th OR Sundays" fires on the 5th
    assert cron_matches("30 14 5 3 0", dt)
    assert cron_matches("30 14 1 3 2", dt)   # "the 1st OR Tuesdays": Tuesday
    assert not cron_matches("30 14 1 3 0", dt)  # neither the 1st nor Sunday
    # only one of dom/dow restricted -> plain AND
    assert not cron_matches("30 14 * 3 0", dt)  # Sundays only
    assert not cron_matches("30 14 1 3 *", dt)  # the 1st only
    # 6-field (robfig WithSeconds): leading seconds
    assert cron_matches("45 30 14 * * *", dt)
    assert cron_matches("*/5 * * * * *", dt)
    assert not cron_matches("44 30 14 * * *", dt)
    with pytest.raises(ValueError):
        cron_matches("* * *", dt)


def test_datetime_ranges():
    dt = datetime(2024, 3, 5, 14, 30, 45)
    assert in_datetime_ranges([], dt)
    assert in_datetime_ranges(
        [{"begin": "2024-03-05 00:00:00", "end": "2024-03-05 23:59:59"}], dt
    )
    assert not in_datetime_ranges(
        [{"begin": "2024-03-06 00:00:00", "end": "2024-03-07 00:00:00"}], dt
    )


def test_duration_bounded_rule_stops_itself(spark, catalog):
    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(
            id="dur1",
            sql="SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
            actions=[{"memory": {"table": "t_dur_" + _uuid.uuid4().hex[:6]}}],
            options={"duration": "2s"},
        )
    )
    q = rt.start_rule("dur1")
    assert q.isActive
    deadline = time.time() + 15
    while time.time() < deadline and q.isActive:
        time.sleep(0.25)
    assert not q.isActive
    rt.stop_rule("dur1")


def test_cron_rule_requires_duration(spark, catalog):
    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(id="cr0", sql="SELECT event_id FROM events",
             options={"cron": "* * * * *"})
    )
    with pytest.raises(ValueError, match="duration"):
        rt.start_rule("cr0")


def test_cron_rule_fires_bounded_runs(spark, catalog):
    """A cron rule fires >= 2 duration-bounded runs whose emissions match
    a plain run of the same SQL (the round's 'done' gate)."""
    table = "t_cron_" + _uuid.uuid4().hex[:6]
    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(
            id="cr1",
            sql="SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
            actions=[{"memory": {"table": table}}],
            options={"cron": "*/5 * * * * *", "duration": "4s"},
        )
    )
    sched = rt.start_rule("cr1")
    assert rt.status("cr1")["state"] in ("scheduled", "running")
    deadline = time.time() + 45
    while time.time() < deadline and sched.runs < 2:
        time.sleep(0.25)
    # let the second run finish its bounded window before comparing
    while time.time() < deadline and sched.active_query is not None:
        time.sleep(0.25)
    rt.stop_rule("cr1")
    assert sched.runs >= 2
    assert rt.status("cr1")["state"] == "stopped"
    got = sorted(
        (r["user_id"], r["n"]) for r in spark.table(table).collect()
    )
    plain = compile_sql(
        spark, "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
        rt.catalog,
    )
    expected = sorted((r["user_id"], r["n"]) for r in plain.collect())
    assert got == expected


def test_cron_rule_outside_datetime_range_never_fires(spark, catalog):
    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(
            id="cr2",
            sql="SELECT event_id FROM events",
            actions=[{"memory": {"table": "t_never_" + _uuid.uuid4().hex[:6]}}],
            options={
                "cron": "* * * * * *",
                "duration": "1s",
                "cronDatetimeRange": [
                    {"begin": "2000-01-01 00:00:00", "end": "2000-12-31 00:00:00"}
                ],
            },
        )
    )
    sched = rt.start_rule("cr2")
    time.sleep(2.5)
    assert sched.runs == 0
    assert rt.status("cr2")["state"] == "scheduled"
    rt.stop_rule("cr2")


def test_restart_strategy_recovers_failing_rule(spark, catalog, tmp_path):
    """def.RestartStrategy: a rule whose sink fails on the first run is
    restarted with backoff and completes on the retry."""
    import os

    marker = str(tmp_path / "failed_once")
    seen = []

    def flaky_sink(batch_df, epoch):
        if not os.path.exists(marker):
            open(marker, "w").write("x")
            raise RuntimeError("injected first-run failure")
        seen.append(batch_df.count())

    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(
            id="rs1",
            sql="SELECT event_id FROM events WHERE value > 150",
            actions=[{"foreach_batch": {"fn": flaky_sink}}],
            options={"restartStrategy": {"attempts": 3, "delay": "500ms"}},
        )
    )
    rt.start_rule("rs1", available_now=True)
    deadline = time.time() + 60
    while time.time() < deadline and not seen:
        time.sleep(0.5)
    rt.stop_rule("rs1")
    assert seen and seen[0] > 0
    assert rt.records["rs1"].restarts == 1


def test_restart_monitor_exits_after_delete(spark, catalog):
    """Deleting a rule while its restartStrategy backs off ends the
    monitor thread quietly: the dropped rule never restarts, and no
    thread raises."""
    import threading

    def failing_sink(batch_df, epoch):
        raise RuntimeError("injected failure")

    errors = []
    hook = threading.excepthook
    threading.excepthook = lambda a: errors.append(a.exc_value)
    try:
        before = {q.id for q in spark.streams.active}
        rt = RuleRuntime(spark, catalog)
        rec = rt.create_rule(
            Rule(
                id="rs_del",
                sql="SELECT event_id FROM events WHERE value > 150",
                actions=[{"foreach_batch": {"fn": failing_sink}}],
                options={"restartStrategy": {
                    "attempts": 3, "delay": "2s", "jitterFactor": 0,
                }},
            )
        )
        rt.start_rule("rs_del", available_now=True)
        deadline = time.time() + 60
        while time.time() < deadline and not rec.restarts:
            time.sleep(0.1)
        assert rec.restarts == 1  # failed once; the monitor is backing off
        rt.delete_rule("rs_del")
        time.sleep(3)  # past the backoff
    finally:
        threading.excepthook = hook
    assert errors == []
    assert "rs_del" not in rt.records
    assert rec.restarts == 1 and rec.query is None
    assert {q.id for q in spark.streams.active} == before
