"""Single-file deployment profile (VERDICT r4 next-round #7).

Reference parity: featherstore drives every deployment knob through one
viper-loaded ``config.yaml`` with defaults-with-override semantics —
defaults < config file < ``FEATHERSTORE_*`` environment variables
(/root/reference/pkg/config/config.go:72-125, config.yaml).  This module
is that layer for the Spark engine: the sections map the reference's
storage/server/metrics groups onto their Spark-world equivalents
(session conf, pipeline params, serving ports), and cli.py / session.py
consume it without ever clobbering spark-submit-owned cluster conf
(launcher conf stays authoritative — see session.get_spark).

Precedence (viper parity):
1. ``DEFAULTS`` below,
2. the YAML file (deep-merged; unknown keys pass through),
3. ``FEATHERSTORE_<SECTION>_<KEY>`` environment variables, coerced to
   the default value's type (``FEATHERSTORE_PIPELINE_N_BUCKETS=256``).
"""

from __future__ import annotations

import copy
import os
from typing import Any, Mapping

DEFAULTS: dict[str, dict[str, Any]] = {
    # Spark session knobs (cluster sizing stays with spark-submit).
    "spark": {
        "master": None,            # None: sandbox local[N] / launcher-owned
        "app_name": "featherstore_spark",
        "shuffle_partitions": None,  # None: core-count heuristic
        "conf": {},                # raw spark conf passthrough (explicit intent)
    },
    # Materialization pipeline params (cli.py materialize defaults).
    "pipeline": {
        "n_buckets": 64,
        "trailing": "10 minutes",
        "session_gap": "30 minutes",
        "asof_strategy": "window",
        "asof_bucket": "1 day",
    },
    # Output format (reference storage.backend / storage.parquet.*).
    "storage": {
        "format": None,            # None: auto-detect Iceberg extensions
        "compression": "lz4_raw",
    },
    # Serving tier (reference server.http_port/flight_port defaults).
    "serving": {
        "root": "./data/features",
        "http_port": 8080,
        "flight_port": 8081,
    },
    "metrics": {"enabled": True},
    "logging": {"level": "info"},
}


class ConfigError(ValueError):
    pass


def _deep_merge(base: dict, override: Mapping) -> dict:
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, Mapping) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def _coerce(raw: str, template: Any) -> Any:
    """Env strings coerced to the default value's type (viper parity:
    AutomaticEnv unmarshals through the struct field type)."""
    if isinstance(template, bool):
        if raw.lower() in ("1", "true", "yes", "on"):
            return True
        if raw.lower() in ("0", "false", "no", "off"):
            return False
        raise ConfigError(f"cannot parse {raw!r} as a boolean")
    if isinstance(template, int) and not isinstance(template, bool):
        return int(raw)
    if isinstance(template, float):
        return float(raw)
    return raw


def load_config(
    path: str | None = None, env: Mapping[str, str] | None = None
) -> dict[str, Any]:
    """Resolved config dict: DEFAULTS < YAML file < FEATHERSTORE_* env.

    ``path=None`` skips the file layer (pure defaults + env); a missing
    explicit path is an error, never a silent fallback.  Scalar section
    values where a mapping is required fail loudly — a typo'd indent in
    the YAML must not half-apply."""
    cfg = copy.deepcopy(DEFAULTS)
    if path is not None:
        import yaml

        try:
            with open(path) as fh:
                loaded = yaml.safe_load(fh) or {}
        except FileNotFoundError:
            raise ConfigError(f"config file not found: {path!r}") from None
        except yaml.YAMLError as exc:
            raise ConfigError(f"invalid YAML in {path!r}: {exc}") from exc
        if not isinstance(loaded, Mapping):
            raise ConfigError(f"config root must be a mapping, got {type(loaded).__name__}")
        for section, value in loaded.items():
            if section in cfg and not isinstance(value, Mapping):
                raise ConfigError(
                    f"config section {section!r} must be a mapping, got {value!r}"
                )
        cfg = _deep_merge(cfg, loaded)
    env = os.environ if env is None else env
    for var, raw in env.items():
        if not var.startswith("FEATHERSTORE_"):
            continue
        parts = var[len("FEATHERSTORE_"):].lower().split("_", 1)
        if len(parts) != 2:
            continue
        section, key = parts
        if section in cfg and isinstance(cfg[section], dict) and key in cfg[section]:
            cfg[section][key] = _coerce(raw, DEFAULTS.get(section, {}).get(key))
    return cfg
