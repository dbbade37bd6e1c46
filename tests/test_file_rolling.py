"""File-sink rolling (internal/io/file/sink.go:38-43 conf, :285-291 name
patterns): rollingCount/rollingInterval split the output into timestamped
files named per rollingNamePattern."""

from __future__ import annotations

import os

import pytest

from ekuiper_spark.streaming.sinks import RollingFileWriter


def test_rolling_count_and_suffix_pattern(tmp_path):
    clock = {"ms": 1000}
    w = RollingFileWriter(
        path=str(tmp_path / "out.log"),
        rolling_count=3,
        rolling_name_pattern="suffix",
        clock=lambda: clock["ms"],
    )
    for i in range(8):
        w.write_payloads([f"row{i}"])
        clock["ms"] += 10
    w.close()
    # 8 rows / 3 per file -> 3 files, suffix-timestamped before the ext
    assert len(w.files) == 3
    names = [os.path.basename(f) for f in w.files]
    assert names == ["out-1000.log", "out-1030.log", "out-1060.log"]
    assert open(w.files[0]).read().splitlines() == ["row0", "row1", "row2"]
    assert open(w.files[2]).read().splitlines() == ["row6", "row7"]


def test_rolling_interval_and_prefix_pattern(tmp_path):
    clock = {"ms": 5000}
    w = RollingFileWriter(
        path=str(tmp_path / "data.txt"),
        rolling_interval_ms=100,
        rolling_name_pattern="prefix",
        clock=lambda: clock["ms"],
    )
    w.write_payloads(["a", "b"])       # t=5000, same file
    clock["ms"] = 5099
    w.write_payloads(["c"])            # 99ms later: still inside interval
    clock["ms"] = 5100
    w.write_payloads(["d"])            # 100ms: rolls
    w.close()
    names = [os.path.basename(f) for f in w.files]
    assert names == ["5000-data.txt", "5100-data.txt"]
    assert open(w.files[0]).read().splitlines() == ["a", "b", "c"]
    assert open(w.files[1]).read().splitlines() == ["d"]


def test_rolling_validation():
    with pytest.raises(ValueError, match="one of rollingInterval, rollingCount"):
        RollingFileWriter(path="x")
    with pytest.raises(ValueError, match="rollingNamePattern"):
        RollingFileWriter(path="x", rolling_count=1, rolling_name_pattern="bogus")


def test_rolling_sub_ms_rolls_get_distinct_names(tmp_path):
    w = RollingFileWriter(
        path=str(tmp_path / "f.log"),
        rolling_count=1,
        rolling_name_pattern="suffix",
        clock=lambda: 7000,  # frozen clock: every roll same ms
    )
    w.write_payloads(["a", "b", "c"])
    w.close()
    assert len(set(w.files)) == 3  # bumped timestamps, no silent append


def test_streaming_file_action_rolls(spark, catalog, tmp_path):
    """Bounded rule run through the runtime: the file action with
    rollingCount produces multiple timestamped files whose line count
    matches the query output."""
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    rt = RuleRuntime(spark, catalog)
    out = str(tmp_path / "roll" / "out.log")
    rule = Rule(
        id="roll1",
        sql="SELECT event_id, value FROM events WHERE value > 190",
        actions=[
            {
                "file": {
                    "path": out,
                    "rollingCount": 10,
                    "rollingNamePattern": "suffix",
                    "format": "json",
                }
            }
        ],
        options={"output_mode": "append"},
    )
    rt.create_rule(rule)
    q = rt.start_rule("roll1", available_now=True)
    q.awaitTermination()
    roller = rt.records["roll1"].closer
    rt.stop_rule("roll1")
    n_rows = sum(len(open(f).read().splitlines()) for f in roller.files)
    from ekuiper_spark import compile_sql

    expect = compile_sql(
        spark, "SELECT event_id FROM events WHERE value > 190", catalog
    ).count()
    assert n_rows == expect and expect > 10
    assert len(roller.files) == (expect + 9) // 10
    for f in roller.files:
        base = os.path.basename(f)
        assert base.startswith("out-") and base.endswith(".log")


def test_rolling_size(tmp_path):
    """rollingSize (bytes, sink.go:43): the file rolls once the written
    byte count reaches the limit."""
    w = RollingFileWriter(
        path=str(tmp_path / "sz.log"),
        rolling_size=20,
        rolling_name_pattern="suffix",
        clock=lambda: 9000,
    )
    w.write_payloads(["aaaaaaaaa"] * 5)  # 10 bytes per line with newline
    w.close()
    assert len(w.files) == 3  # 2 lines per file (20 bytes), last file 1
    assert open(w.files[0]).read().splitlines() == ["aaaaaaaaa"] * 2
    assert open(w.files[2]).read().splitlines() == ["aaaaaaaaa"]
