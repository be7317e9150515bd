"""Seed urls and politeness hosts reach Spark as SQL string literals
inside one JVM-parsed expression (``operators.frontier.sql_string``):
the seed IN-list of ``_SeedSet.flag`` and the budget MAP of
``politeness_select``. Any string must come back as itself — control
characters, newlines, quotes, backslashes and escape-like text such as
``\\101`` included. Lone surrogates are left out: py4j cannot send
them to the JVM at all."""

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from supacrawler_spark.operators.frontier import politeness_select
from supacrawler_spark.plans.crawl import _SeedSet
from supacrawler_spark.schemas import FRONTIER_SCHEMA

TEXT = st.text(st.characters(blacklist_categories=("Cs",)), max_size=24)


def _frontier(spark, hosts):
    rows = [(f"u{i}", h, i, 1, 0, i, 0, h, 0.0, 0)
            for i, h in enumerate(hosts)]
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


@settings(max_examples=40, deadline=None)
@given(s=TEXT)
def test_literals_round_trip_at_both_sites(spark, s):
    other = s + "x"

    seeds = _SeedSet(spark, [], "unused", resume=False)
    seeds.urls = [s]
    df = spark.createDataFrame([(s,), (other,)], "url string")
    flags = {r["url"]: r["_seed"] for r in seeds.flag(df).collect()}
    assert flags == {s: True, other: False}

    frontier = _frontier(spark, [s] * 3 + [other] * 3)
    selected, _, _ = politeness_select(frontier, {s: 1}, 2, hint_count=6)
    assert Counter(r["host"] for r in selected.collect()) == \
        {s: 1, other: 2}
