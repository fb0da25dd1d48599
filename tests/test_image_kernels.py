"""The per-image integer kernel table (queries/image.py ``_KERNELS``):
every row is a registered, oracle-checked query whose kernel emits one
int per output field, and two rows match their committed goldens."""

import numpy as np
import pytest


def test_kernel_rows_emit_one_int_per_schema_field():
    """Spark-free: each kernel on a small seeded int64 milli-luma raster
    returns exactly as many Python ints as its row's schema has fields,
    and every row name is a query with a golden-backed oracle."""
    from sdg_engine.oracles.image import fixture_oracles
    from sdg_engine.queries.image import _KERNELS, QUERIES

    oracles = fixture_oracles()
    lum = np.random.default_rng(12).integers(0, 255_001, size=(32, 32))
    assert lum.dtype == np.int64
    for name, (kernel, schema) in _KERNELS.items():
        assert name in QUERIES and name in oracles, name
        out = kernel(lum.copy())
        assert len(out) == len(schema.split(",")), name
        assert all(type(v) is int for v in out), (name, out)


@pytest.mark.parametrize("name", ["image_sobel_edges", "image_watershed"])
def test_kernel_query_matches_golden(spark, sf_dir, name):
    """Driver-shaped compare against the committed golden: sobel's
    kernel was a closure and watershed's a one-caller wrapper before
    both became table rows."""
    from sdg_engine.oracles.image import fixture_oracles
    from sdg_engine.paritycheck import compare, run_oracle
    from sdg_engine.queries import QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    ok, msg = compare(sdf, run_oracle(fixture_oracles()[name], sf_dir))
    assert ok, msg
