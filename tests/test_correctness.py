"""The correctness gate, locally: every registry query vs its DuckDB
oracle at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from datafusion_dist_spark import registry
from tests.conftest import SF_DIR
from tests.oracle_compare import assert_frames_match

SPECS = registry.all_specs()
ORACLE_NAMES = [n for n, s in SPECS.items() if s.oracle is not None]


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    sdf = spec.spark_fn(spark, SF_DIR).toPandas()
    odf = duck.execute(spec.oracle).fetchdf()
    assert_frames_match(sdf, odf, name)


def test_every_entry_has_an_oracle():
    assert [n for n, s in SPECS.items() if s.oracle is None] == []
