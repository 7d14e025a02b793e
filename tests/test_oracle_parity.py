"""Every registered query with an oracle must match DuckDB at sf0.001.

The same comparison runs at sf0.01 through ``__spark_entry__.py``
(``queries()`` against ``oracle_sql()``); no separate sf0.01 test
exists.
"""

from __future__ import annotations

import pytest

from zvdb_spark.queries.registry import all_queries


def _params():
    return [pytest.param(q, id=name) for name, q in sorted(all_queries().items())]


@pytest.mark.parametrize("q", _params())
def test_query_matches_oracle(q, spark, sf_dir):
    from tests.oracle_utils import assert_matches_oracle

    df = q.fn(spark, sf_dir)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver behavior
    else:
        assert_matches_oracle(df, q.oracle, sf_dir)
