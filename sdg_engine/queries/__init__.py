"""Harness queries, one module per family; this package is the registry
behind ``__spark_entry__.queries()``.

Each builder takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names and values match its DuckDB oracle in the
:mod:`sdg_engine.oracles` module of the same family name.  ``QUERIES``
maps every query name to its builder wrapped with ``_prep``; ``FAMILY``
maps it to its family.

Float policy (oracle parity): spatial math is bit-identical by
construction (sqlgen.py); aggregate sums over many doubles are rounded
coarsely (ROUND(sum, -2)) because partial-agg order differs between
engines; averages/ratios get finer rounding (error shrinks by 1/n).
"""

from __future__ import annotations

import importlib

from ._common import _prep

FAMILIES = (
    "spatial",
    "image",
    "text",
    "ann",
    "graph",
    "streaming",
    "lakehouse",
    "relational",
)


def _with_prep(fn):
    """Every registry entry runs _prep first: non-ANSI arithmetic and
    the pyfiles zip (executor workers must import sdg_engine to unpickle
    pandas UDFs) — a caller's own session has neither by default."""

    def _wrapped(spark, sf_dir, _fn=fn):
        _prep(spark)
        return _fn(spark, sf_dir)

    _wrapped.__name__ = getattr(fn, "__name__", "query")
    _wrapped.__doc__ = fn.__doc__
    return _wrapped


QUERIES = {}
FAMILY = {}
for _family in FAMILIES:
    _module = importlib.import_module(f".{_family}", __name__)
    for _name, _fn in _module.QUERIES.items():
        QUERIES[_name] = _with_prep(_fn)
        FAMILY[_name] = _family

flagship_rai = QUERIES["flagship_rai"]
