"""Config resolution with environment-variable indirection (R16).

Mirrors the reference's ``Hivent.Config.get/get_integer``
(/root/reference/lib/hivent/config.ex:21-56): a config value may be a
direct value, or an indirection marker naming an environment variable —
``("system", "VAR")`` resolves to ``$VAR`` (falling back to the call-site
default), and ``("system", "VAR", preconfigured)`` falls back to its own
preconfigured default instead. ``get_integer`` additionally coerces to
int with leading-integer parse semantics (``"12abc"`` → 12, like
Elixir's ``Integer.parse``), returning the default when unparseable.

The engine's own knobs (``SPARK_GRAFT_*``) are declared in ``SETTINGS``
and read exclusively through this module, so a deployment can override
any of them via config dict or environment.
"""

from __future__ import annotations

import os
import re
from typing import Any, Mapping

# Marker tuple first element — ("system", "VAR"[, default]).
SYSTEM = "system"

#: The engine's settings, each env-indirected (config.ex's pattern of
#: declaring {:system, "VAR"} entries in config.exs).
SETTINGS: dict[str, tuple] = {
    "cpus": (SYSTEM, "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
    "sf_dir": (SYSTEM, "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    "driver_memory": (SYSTEM, "SPARK_DRIVER_MEMORY", "8g"),
    "master": (SYSTEM, "SPARK_MASTER", None),
    # Raw bytes of table data per task when spread_table fans a
    # below-parallelism scan out (r17): the spread target is
    # ceil(uncompressed_bytes / this), capped at defaultParallelism —
    # derived from the input, not a constant per core count.
    "spread_split_bytes": (SYSTEM, "SPARK_GRAFT_SPREAD_SPLIT_BYTES", "65536"),
}


def _is_system_marker(value: Any) -> bool:
    return (
        isinstance(value, tuple)
        and len(value) in (2, 3)
        and value[0] == SYSTEM
        and isinstance(value[1], str)
    )


def get(config: Mapping[str, Any], key: str, default: Any = None) -> Any:
    """Fetch ``key`` from ``config``, resolving env indirection.

    - ``("system", "VAR")``: ``$VAR`` if set, else ``default``;
    - ``("system", "VAR", pre)``: ``$VAR`` if set, else ``pre``;
    - missing key: ``default``; anything else: the value itself.
    """
    value = config.get(key)
    if _is_system_marker(value):
        env = os.environ.get(value[1])
        if env is not None:
            return env
        return value[2] if len(value) == 3 else default
    if value is None:
        return default
    return value


def get_integer(
    config: Mapping[str, Any], key: str, default: int | None = None
) -> int | None:
    """``get`` + integer coercion: ints pass through; strings parse
    their leading integer (sign included); unparseable → default."""
    value = get(config, key, None)
    if value is None:
        return default
    if isinstance(value, int):
        return value
    m = re.match(r"^\s*([+-]?\d+)", str(value))
    return int(m.group(1)) if m else default


def setting(key: str, default: Any = None) -> Any:
    """Engine setting by name (see SETTINGS), env-overridable."""
    return get(SETTINGS, key, default)


def setting_integer(key: str, default: int | None = None) -> int | None:
    return get_integer(SETTINGS, key, default)
