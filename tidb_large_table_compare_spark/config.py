"""Engine configuration — reference `config.toml` parity (SURVEY.md §1.1, A7/A8).

The reference "parses" its TOML with grep/cut/awk (only top-level ``key =
value`` lines are visible to it, ``step1_query_tables.sh:67-95``) and decodes
base64 passwords with a decode-or-passthrough fallback
(``step1_query_tables.sh:30-48``, duplicated at
``step2_generate_configs.sh:32-46``). Here: a real ``tomllib`` parse into a
dataclass and the same password fallback semantics. The per-table job that
replaces the 12-rule ``sed`` template substitution
(``step2_generate_configs.sh:112-124``) is :class:`..plans.pipeline.CompareJob`,
which the CLI builds once per table.
"""

from __future__ import annotations

import base64
import binascii
import tomllib
from dataclasses import dataclass, field
from pathlib import Path

DEFAULT_CHECK_SQL = (
    "SELECT TABLE_SCHEMA, TABLE_NAME, TABLE_ROWS FROM information_schema.tables "
    "WHERE TABLE_ROWS > 1000000000 AND TIDB_PK_TYPE = 'NONCLUSTERED'"
)


def decode_password(value: str) -> str:
    """Base64-decode with passthrough fallback (reference A7 semantics).

    The reference supports both base64-encoded and plaintext passwords: a
    failed decode returns the input unchanged. Strict validation mirrors the
    shell ``base64 -d`` behavior (reject non-base64, reject non-UTF-8).
    """
    try:
        decoded = base64.b64decode(value, validate=True)
        return decoded.decode("utf-8")
    except (binascii.Error, UnicodeDecodeError, ValueError):
        return value


@dataclass(frozen=True)
class EndpointConfig:
    """One side of the comparison (reference: master_* / slave_* keys)."""

    host: str = "127.0.0.1"
    port: int = 4000
    user: str = "root"
    password: str = ""  # already decoded


@dataclass(frozen=True)
class EngineConfig:
    """Parsed engine configuration (reference ``syncdiff_config2/config.toml``)."""

    master: EndpointConfig = field(default_factory=EndpointConfig)
    slave: EndpointConfig = field(default_factory=EndpointConfig)
    check_sql: str = DEFAULT_CHECK_SQL
    thread_count: int = 8  # → check-thread-count (config.toml:20)
    chunk_size: int = 5000  # → chunk-size (config.toml:21)
    output_dir: str = "./output"
    export_fix_sql: bool = True
    range_sql: str = "1 = 1"  # my_database_users.toml:46


def _endpoint(cfg: dict, prefix: str) -> EndpointConfig:
    return EndpointConfig(
        host=cfg.get(f"{prefix}_host", "127.0.0.1"),
        port=int(cfg.get(f"{prefix}_port", 4000)),
        user=cfg.get(f"{prefix}_user", "root"),
        password=decode_password(cfg.get(f"{prefix}_password", "")),
    )


def load_config(path: str | Path) -> EngineConfig:
    """Parse a reference-shaped TOML config into an :class:`EngineConfig`."""
    with open(path, "rb") as fh:
        cfg = tomllib.load(fh)
    return EngineConfig(
        master=_endpoint(cfg, "master"),
        slave=_endpoint(cfg, "slave"),
        check_sql=cfg.get("check_sql", DEFAULT_CHECK_SQL),
        thread_count=int(cfg.get("thread_count", 8)),
        chunk_size=int(cfg.get("chunk_size", 5000)),
        output_dir=cfg.get("output_dir", "./output"),
        export_fix_sql=bool(cfg.get("export_fix_sql", True)),
        range_sql=cfg.get("range", "1 = 1"),
    )
