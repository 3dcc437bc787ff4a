"""Query plans, one module per family.

A module takes part in the registry iff it defines ``QUERIES``
(key -> ``(spark, sf_dir) -> DataFrame``); it must then define
``ORACLES`` (key -> DuckDB SQL) over the same keys. Helper modules
such as ``analyzed_store`` define neither and are skipped.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Iterable
from types import ModuleType


def merge(modules: Iterable[ModuleType]) -> tuple[dict, dict]:
    """Union the ``QUERIES``/``ORACLES`` of ``modules``. Raises
    ``ValueError`` when a module's two key sets differ or a key is
    defined by more than one module."""
    queries: dict = {}
    oracles: dict = {}
    owner: dict[str, str] = {}
    for mod in modules:
        q = getattr(mod, "QUERIES", None)
        if q is None:
            continue
        o = getattr(mod, "ORACLES", {})
        if q.keys() != o.keys():
            raise ValueError(
                f"{mod.__name__}: QUERIES and ORACLES keys differ: "
                f"{sorted(q.keys() ^ o.keys())}")
        for key in q:
            if key in owner:
                raise ValueError(f"query key {key!r} defined in both "
                                 f"{owner[key]} and {mod.__name__}")
            owner[key] = mod.__name__
        queries.update(q)
        oracles.update(o)
    return queries, oracles


def discover() -> tuple[dict, dict]:
    """``merge`` over every module of this package, in name order."""
    return merge(importlib.import_module(f"{__name__}.{m.name}")
                 for m in pkgutil.iter_modules(__path__))
