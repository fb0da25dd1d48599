"""DuckDB oracle SQL for every registered query, one module per family
(the same family names as :mod:`sdg_engine.queries`).

Each runs in DuckDB on the same parquet (views pre-registered) and is
compared by row count + schema + order-insensitive values against the
Spark result (``paritycheck``).  Spatial oracles are *generated from
the same sqlgen fragments* the Spark plans execute, so doubles are
bit-identical; they also deliberately use an INDEPENDENT formulation
where possible (e.g. kNN is brute-force cross-join here vs cell-pruned
join in Spark) so the check validates semantics, not just plumbing.
"""

from __future__ import annotations

import importlib

from ..queries import FAMILIES

_MODULES = [importlib.import_module(f".{f}", __name__) for f in FAMILIES]

ORACLES = {name: sql for m in _MODULES for name, sql in m.ORACLES.items()}


def all_oracles() -> dict[str, str]:
    """ORACLES plus each family's ``fixture_oracles()``: those embed the
    absolute sf0.01 fixture path and ensure it exists, so building them
    at import time would trigger fixture generation on every import."""
    out = dict(ORACLES)
    for m in _MODULES:
        if hasattr(m, "fixture_oracles"):
            out.update(m.fixture_oracles())
    return out
