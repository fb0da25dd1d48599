"""Helpers shared by more than one oracle family."""

from __future__ import annotations

import os


def fixture_paths() -> tuple[str, str, str, str]:
    """``(fdir, roads, img, gdir)`` for the fixture oracles: the sf0.01
    image-fixture directory (generated on first use, then cached), its
    roads and images parquet, and the committed goldens directory.  The
    last three are quoted for SQL string literals."""
    from ..jobs.rai import fixture_dir

    fdir = fixture_dir(0.01)
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    roads = os.path.join(fdir, "roads.parquet").replace("'", "''")
    img = os.path.join(fdir, "images.parquet").replace("'", "''")
    gdir = os.path.join(root, "tests", "goldens").replace("'", "''")
    return fdir, roads, img, gdir
