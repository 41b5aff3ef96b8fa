"""bench.py helpers that need no Spark session."""

from __future__ import annotations

import bench


def test_scale_factor_reads_last_sf_component_else_none():
    assert bench.scale_factor("/data/sf0.1") == 0.1
    assert bench.scale_factor("/data/sf0.01/") == 0.01
    assert bench.scale_factor("/data/sf1/parquet") == 1.0
    # no sf<N> component: null in the JSON, not a crash after the sweep
    assert bench.scale_factor("/data/replica") is None
    assert bench.scale_factor("/data/sfx/parquet") is None
