"""The bench's headline stays in step with the driver's query registry."""

from __future__ import annotations

import __spark_entry__ as spark_entry
import bench


def test_headline_names_are_queries():
    missing = set(bench.HEADLINE) - set(spark_entry.queries())
    assert not missing, sorted(missing)
