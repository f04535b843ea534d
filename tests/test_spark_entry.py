"""`__spark_entry__`'s hoist list stays a set of distinct registry names."""

from __future__ import annotations

import __spark_entry__ as E
from ureplicator_spark.queries import QUERIES


def test_hoist_list_is_distinct_registry_names():
    names = E._CHANGED_SINCE_LAST_CHECK
    assert len(names) == len(set(names))
    assert set(names) <= set(QUERIES)
