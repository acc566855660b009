"""Pipeline configuration: YAML file + defaults, mirroring the reference's
config surface (loadConfig, main.go:206-244; config.yaml) — server address,
ClickHouse connection, and per-input enablement — plus the Spark-specific
knobs the reference delegated to deployment (spool dir, checkpoint dir,
trigger interval).

``CONFIG_PATH`` env var points at the YAML (default
``/etc/filebeat-to-ck/config.yaml``, same as main.go:208-211); a missing
file yields pure defaults instead of an error, since the Spark engine is
usable as a library without any config file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

DEFAULT_CONFIG_PATH = "/etc/filebeat-to-ck/config.yaml"


@dataclass
class ServerConfig:
    host: str = "0.0.0.0"  # main.go:222-224
    port: int = 8080  # main.go:225-227


@dataclass
class ClickHouseConfig:
    host: str = "localhost"  # main.go:230-232
    port: int = 8123  # main.go:233-235
    database: str = "logs"  # main.go:236-238
    table: str = "logs_table"  # main.go:239-241
    user: str = "default"
    password: str = ""
    # Delivery semantics (r3; no reference analog — main.go is lossy
    # at-most-once): insert_deduplication_token per (epoch, partition) so
    # micro-batch replays store once, and an optional per-row batch-id
    # column for ReplacingMergeTree dedup (see streaming/sink.py).
    idempotent: bool = False
    batch_id_col: str | None = None


@dataclass
class InputConfig:
    """One input source toggle (config.yaml inputs.*)."""

    enabled: bool = False
    options: dict = field(default_factory=dict)


@dataclass
class PipelineConfig:
    server: ServerConfig = field(default_factory=ServerConfig)
    clickhouse: ClickHouseConfig = field(default_factory=ClickHouseConfig)
    inputs: dict[str, InputConfig] = field(default_factory=dict)
    log_level: str = "info"
    # Spark-side additions (no reference analog; deployment concerns there)
    spool_dir: str = "/var/spool/filebeat-to-ck"
    checkpoint_dir: str = "/var/lib/filebeat-to-ck/checkpoints"
    trigger_seconds: int | None = None  # None → availableNow drains


def _get(d: dict, *path, default=None):
    for k in path:
        if not isinstance(d, dict) or k not in d:
            return default
        d = d[k]
    return d


def load_config(path: str | None = None) -> PipelineConfig:
    """Load YAML config with the reference's default chain; absent file or
    keys fall back to defaults (main.go:220-242)."""
    path = path or os.environ.get("CONFIG_PATH") or DEFAULT_CONFIG_PATH
    raw: dict = {}
    if os.path.exists(path):
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f) or {}

    cfg = PipelineConfig()
    cfg.server.host = _get(raw, "server", "host", default=cfg.server.host) or cfg.server.host
    cfg.server.port = _get(raw, "server", "port", default=cfg.server.port) or cfg.server.port
    ch = cfg.clickhouse
    ch.host = _get(raw, "clickhouse", "host", default=ch.host) or ch.host
    ch.port = _get(raw, "clickhouse", "port", default=ch.port) or ch.port
    ch.database = _get(raw, "clickhouse", "database", default=ch.database) or ch.database
    ch.table = _get(raw, "clickhouse", "table", default=ch.table) or ch.table
    ch.user = _get(raw, "clickhouse", "user", default=ch.user) or ch.user
    ch.password = _get(raw, "clickhouse", "password", default=ch.password)
    ch.idempotent = bool(_get(raw, "clickhouse", "idempotent", default=ch.idempotent))
    ch.batch_id_col = _get(raw, "clickhouse", "batch_id_col", default=ch.batch_id_col)
    for name, section in (_get(raw, "inputs", default={}) or {}).items():
        section = dict(section or {})
        cfg.inputs[name] = InputConfig(
            enabled=bool(section.pop("enabled", False)), options=section
        )
    cfg.log_level = _get(raw, "log_level", default=cfg.log_level) or cfg.log_level
    cfg.spool_dir = _get(raw, "spark", "spool_dir", default=cfg.spool_dir)
    cfg.checkpoint_dir = _get(raw, "spark", "checkpoint_dir", default=cfg.checkpoint_dir)
    cfg.trigger_seconds = _get(raw, "spark", "trigger_seconds", default=cfg.trigger_seconds)
    return cfg
