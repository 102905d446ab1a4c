"""Typed job configuration.

Reproduces the reference's environment contract (reference task.ts:74-82,
task.ts:104-105): a declared schema with per-field defaults, validated once
at job start; unknown/missing required fields fail fast before any data is
touched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields


class ConfigError(ValueError):
    pass


@dataclass(frozen=True)
class Environment:
    """Mirror of the reference `Environment` TypeBox object (task.ts:74-82)."""

    DroneSenseToken: str = ""
    DEBUG: bool = False  # default per reference task.ts:79

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "Environment":
        env = dict(os.environ) if env is None else env
        kwargs = {}
        for f in fields(cls):
            if f.name not in env:
                continue
            raw = env[f.name]
            if f.type in ("bool", bool):
                if raw.lower() not in ("true", "false", "1", "0"):
                    raise ConfigError(f"{f.name}: expected boolean, got {raw!r}")
                kwargs[f.name] = raw.lower() in ("true", "1")
            else:
                kwargs[f.name] = raw
        return cls(**kwargs)

