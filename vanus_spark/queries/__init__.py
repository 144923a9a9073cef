"""The registry queries, one module per family.

Each family module defines its Spark builders as module-level ``q_<name>``
callables, each ``(spark, sf_dir) -> DataFrame``, and an ``oracle_sql()``
that returns the DuckDB twins of those builders keyed by ``<name>``.
Helpers used by one family live in that family's module; helpers used by
several live in ``common``.

The registry is derived from the modules, not kept by hand: a name that
two families define is an error. Importing this package imports no
family; builders import their engine modules lazily, so a Python worker
that unpickles a builder's UDF imports only that family's module.
"""

from __future__ import annotations

import importlib

from collections.abc import Callable, Iterable
from types import ModuleType

FAMILIES = (
    "bus",
    "actions",
    "tpch",
    "events",
    "series",
    "stats",
    "forecast",
    "dedup",
    "search",
    "corpus",
    "graphs",
    "multimodal",
    "tables",
    "privacy",
)


def family_modules() -> list[ModuleType]:
    return [importlib.import_module(f"{__name__}.{f}") for f in FAMILIES]


def _merge(parts: Iterable[tuple[str, dict]], what: str) -> dict:
    out: dict = {}
    owner: dict[str, str] = {}
    for family, entries in parts:
        for name, value in entries.items():
            if name in out:
                raise ValueError(
                    f"{what} {name!r} is defined by both {owner[name]} and {family}"
                )
            out[name] = value
            owner[name] = family
    return out


def builders(modules: Iterable[ModuleType] | None = None) -> dict[str, Callable]:
    """Every family's ``q_<name>`` callables as ``{name: builder}``, family
    by family, each in its module's definition order."""
    mods = family_modules() if modules is None else modules
    return _merge(
        (
            (m.__name__, {k[2:]: v for k, v in vars(m).items() if k.startswith("q_") and callable(v)})
            for m in mods
        ),
        "query",
    )


def twins(modules: Iterable[ModuleType] | None = None) -> dict[str, str]:
    """Every family's DuckDB twins merged into one ``{name: sql}`` dict."""
    mods = family_modules() if modules is None else modules
    return _merge(((m.__name__, m.oracle_sql()) for m in mods), "oracle")
