"""DuckDB-differential check for every oracle-backed query in the corpus.

This is the same gate the driver runs (at sf0.01); here on sf0.001 for speed.
"""

import pytest

from trino_spark.queries import all_specs
from trino_spark.testing import run_differential

_SPECS = {n: s for n, s in all_specs().items() if s.oracle is not None}


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_oracle_differential(spark, duck, sf_dir, name):
    run_differential(spark, duck, _SPECS[name], sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_registry_size():
    # all_specs imports every query module without catching import errors;
    # a module renamed or dropped from its lists shrinks this count.
    assert len(all_specs()) == 304
