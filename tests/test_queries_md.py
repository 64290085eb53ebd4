"""QUERIES.md is the registry's published index: it must list exactly
the registered query names, so a retirement or an addition cannot
leave it stale (regenerate with ``python tools/gen_queries_md.py``)."""

from __future__ import annotations

import os
import re

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_md_lists_exactly_the_registry():
    with open(os.path.join(_ROOT, "QUERIES.md")) as f:
        listed = re.findall(r"^\| (q\d+_\w+) \|", f.read(), flags=re.M)
    assert len(listed) == len(set(listed)), "QUERIES.md lists a query twice"
    assert sorted(listed) == sorted(all_queries())
