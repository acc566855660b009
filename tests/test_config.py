"""Config loading: YAML + the reference's default chain (main.go:206-244)."""

from __future__ import annotations

from filebeat_to_clickhouse_spark.config import load_config


def test_defaults_without_file(tmp_path, monkeypatch):
    monkeypatch.setenv("CONFIG_PATH", str(tmp_path / "missing.yaml"))
    cfg = load_config()
    assert cfg.server.host == "0.0.0.0" and cfg.server.port == 8080
    ch = cfg.clickhouse
    assert (ch.host, ch.port, ch.database, ch.table) == ("localhost", 8123, "logs", "logs_table")
    assert ch.idempotent is False and ch.batch_id_col is None  # reference wire behavior
    assert cfg.inputs == {} and cfg.trigger_seconds is None


def test_yaml_overrides_and_input_toggles(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(
        """
server:
  port: 9090
clickhouse:
  host: ch.internal
  password: secret
  idempotent: true
  batch_id_col: _batch_id
inputs:
  elasticsearch:
    enabled: true
    port: 8080
  kafka:
    enabled: false
    brokers: ["k1:9092"]
    topics: ["filebeat"]
spark:
  spool_dir: /data/spool
  trigger_seconds: 5
  parquet_idempotent: true  # a removed key: still loads, ignored
"""
    )
    cfg = load_config(str(p))
    assert cfg.server.port == 9090 and cfg.server.host == "0.0.0.0"
    assert cfg.clickhouse.host == "ch.internal" and cfg.clickhouse.password == "secret"
    assert cfg.clickhouse.database == "logs"  # default survives partial yaml
    assert cfg.clickhouse.idempotent is True
    assert cfg.clickhouse.batch_id_col == "_batch_id"
    assert cfg.inputs["elasticsearch"].enabled is True
    assert cfg.inputs["kafka"].enabled is False
    assert cfg.inputs["kafka"].options["brokers"] == ["k1:9092"]
    assert cfg.spool_dir == "/data/spool" and cfg.trigger_seconds == 5
