"""CLI parity tests (defaults match the reference cli.yml)."""

from __future__ import annotations

import json
import os

import pytest

from crdb_changefeed_publisher_spark.cli import main, parse_args


def test_defaults_match_reference():
    args = parse_args(["--table", "foo"])
    assert args.table == "foo"
    assert args.queue == "rabbitmq"
    assert args.cursor_store == "cockroachdb"
    assert args.cursor_frequency == "10s"


def test_table_required():
    with pytest.raises(SystemExit):
        parse_args([])


def test_spark_extensions_parse():
    args = parse_args(
        [
            "--table", "foo", "--replay", "f.jsonl", "--queue", "dir",
            "--out-dir", "/tmp/o", "--once", "--read-partitions", "8",
            "--epoch-rows", "500000", "--idempotent", "--fan-out-tables",
        ]
    )
    assert args.read_partitions == 8 and args.epoch_rows == 500000
    assert parse_args(["--table", "foo"]).read_partitions is None
    assert args.idempotent and args.fan_out_tables and args.once


def test_replay_only_flags_rejected_on_a_live_feed(monkeypatch, capsys):
    """--epoch-rows and --read-partitions shape the recorded-feed reader
    only; on a live feed they exit 2 before any Spark session starts
    instead of being dropped."""

    def no_spark(*args, **kwargs):
        raise AssertionError("main reached get_spark")

    monkeypatch.setattr("crdb_changefeed_publisher_spark.session.get_spark", no_spark)
    assert main(["--table", "foo", "--epoch-rows", "10"]) == 2
    assert main(["--table", "foo", "--read-partitions", "4"]) == 2
    assert "require --replay" in capsys.readouterr().err


def test_replay_once_bounds_epochs_and_mirrors_cursor(spark, tmp_path, monkeypatch):
    """A real --replay --once run: --epoch-rows reaches the recorded-feed
    reader (40 lines at 10 per epoch publish under 4 batch ids with the
    batch-keyed sink), and the cursor file ends at the feed's last mark."""
    feed = tmp_path / "feed.jsonl"
    with open(feed, "w", encoding="utf-8") as f:
        for i in range(40):
            if i % 10 == 0:
                f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0,0"})]) + "\n")
            else:
                f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"a": i}})]) + "\n")
    out, cursor = tmp_path / "out", tmp_path / "cursor.json"
    monkeypatch.setenv("PROMETHEUS_ADDR", "127.0.0.1:0")
    rc = main(
        [
            "--table", "t", "--replay", str(feed), "--epoch-rows", "10", "--once",
            "--queue", "dir", "--out-dir", str(out), "--idempotent",
            "--cursor-store", "file", "--cursor-path", str(cursor),
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    batch_ids = {name.split("-")[1] for name in os.listdir(out) if name.startswith("batch-")}
    assert len(batch_ids) == 4, sorted(os.listdir(out))
    with open(cursor, encoding="utf-8") as f:
        assert json.load(f)["cursor"] == "30.0,0"
