"""TOML configuration loader with include-globs.

Parity target: reference ``kukur/config.py:27-51`` — a root TOML file may
contain ``[[include]]`` entries with a ``glob`` whose matched files are
merged into the config (sources from included files are added to
``[source]``; scalar keys from later files win).
"""

from __future__ import annotations

import glob as globlib
import tomllib
from typing import Any, Dict


def _merge(base: Dict[str, Any], extra: Dict[str, Any]) -> Dict[str, Any]:
    for key, value in extra.items():
        if key in base and isinstance(base[key], dict) and isinstance(value, dict):
            _merge(base[key], value)
        elif key in base and isinstance(base[key], list) and isinstance(value, list):
            base[key] = base[key] + value  # reference extends lists
        else:
            base[key] = value
    return base


def from_toml(path: str) -> Dict[str, Any]:
    """Load TOML with include-globs; included files may themselves declare
    ``[[include]]`` entries (the reference processes nested includes —
    the work queue grows as fragments are merged)."""
    with open(path, "rb") as handle:
        config = tomllib.load(handle)
    pending = list(config.pop("include", []))
    seen = set()
    while pending:
        include = pending.pop(0)
        for match in sorted(globlib.glob(include["glob"])):
            if match in seen:
                continue
            seen.add(match)
            with open(match, "rb") as handle:
                fragment = tomllib.load(handle)
            pending.extend(fragment.pop("include", []))
            _merge(config, fragment)
    return config
