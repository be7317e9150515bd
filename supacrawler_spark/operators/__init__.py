"""Frontier dataflow operators (SURVEY.md §2)."""

from supacrawler_spark.operators.rank import ordered_row_number  # noqa: F401
from supacrawler_spark.operators.frontier import (  # noqa: F401
    politeness_select,
)
from supacrawler_spark.operators.fetch import (  # noqa: F401
    fetch_join,
    make_extractor,
    expand_candidates,
)
