"""``bench.py`` times every HEADLINE name; a renamed or removed registry
entry must fail here rather than drop out of the bench total."""

from __future__ import annotations

import bench
from big_data_analysis_for_stock_market_data_spark import queries as registry


def test_headline_names_are_registered():
    qs = registry.queries()
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE) == 40
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
