"""Driver gates vs their DuckDB oracles through the one dtype-strict compare
(tools/compare_oracle.py), at the tiny scale factor: the spatial joins and
the MVT tile aggregates."""

import pytest

from tests.conftest import SF_TINY
from tools.compare_oracle import compare, oracle_db

GATES = [
    "pip_join",
    "bbox_join",
    "point_tile_assign",
    "knn_join",
    "mvt_tiles",
    "mvt_pyramid",
    "mvt_lines",
    "mvt_points",
]


@pytest.fixture(scope="module")
def con():
    c = oracle_db(SF_TINY)
    yield c
    c.close()


@pytest.mark.parametrize("name", GATES)
def test_gate_matches_oracle(spark, con, name):
    assert compare(spark, con, name, SF_TINY) is None
