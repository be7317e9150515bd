"""Politeness-budgeted frontier selection (SURVEY.md §2.4 A6, §2.5).

The per-host budget is the batch determinization of colly's LimitRule
(Parallelism=10, RandomDelay 500ms — mapper/service.go:93,122): at most
B(host) URLs of a host are fetched per wave; the rest defer, keeping
their position in the total crawl order.

Skew: one hot host can dominate a wave (FIXTURES.md gives it ~30% of
pages). A plain Window.partitionBy(host) would put the hot host in one
task, so selection is two-phase (north_rule "hot-host skew salting"):

  phase 1: rank within (host, salt) buckets — a row ranked > B inside
           its bucket is provably ranked > B within the whole host, so
           it defers without ever being co-located;
  phase 2: exact per-host rank over the <= SALT_BUCKETS * B survivors.

Both phases are deterministic; the salt is a hash of the URL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal, for expressions parsed once
    by the JVM (``F.expr``) instead of one py4j literal call per value.
    Only the backslash and the quote need escaping: every other
    character, control characters and newlines included, is taken as
    written. (A lone surrogate never reaches the parser: py4j cannot
    send it.)"""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def order_exprs():
    """The deterministic total crawl order K (SURVEY.md §2.5): priority
    queue first (north_star), then BFS wave order. Oracle equivalence
    holds because default priority is constant 0."""
    return [F.col("priority").desc(), F.col("depth"), F.col("parent_ord"),
            F.col("link_pos"), F.col("url")]


# Below this frontier size the salted pre-phase costs more (one extra
# shuffle) than the skew it prevents; a single per-host window is fine.
SALT_THRESHOLD = 200_000


def politeness_select(
    frontier: DataFrame,
    politeness_df: "DataFrame | None" = None,
    default_budget: int = 10,
    hint_count: "int | None" = None,
    persist: bool = False,
):
    """Split the frontier into (selected, deferred) per host budgets.

    ``politeness_df(host, max_parallel, delay_ms)`` is broadcast (J4,
    the north_rule's "broadcast of robots/politeness state"); hosts
    absent from it get ``default_budget`` (= reference parallelism 10).

    ``hint_count``: driver-known frontier size; above SALT_THRESHOLD
    the salted two-phase path engages (identical output, skew-proof).
    """
    f = frontier
    if isinstance(politeness_df, dict):
        # small dim pre-collected by the caller: a literal MAP lookup
        # instead of a broadcast join — saves one broadcast-build job
        # per wave (the dim is identical every wave; a per-plan
        # broadcast exchange cannot be reused across wave jobs)
        if politeness_df:
            # one JVM-parsed expression instead of 2x|dim| F.lit py4j
            # round-trips rebuilt EVERY wave (r6: the wave loop's
            # driver gaps were partly this plan-construction chatter)
            entries = ", ".join(f"{sql_string(h)}, {int(b)}"
                                for h, b in politeness_df.items())
            f = f.withColumn("_budget", F.expr(
                f"coalesce(map({entries})[host], {int(default_budget)})"))
        else:
            f = f.withColumn("_budget", F.lit(default_budget))
    elif politeness_df is not None:
        pol = politeness_df.select("host", "max_parallel")
        f = f.join(F.broadcast(pol), "host", "left")
        f = f.withColumn(
            "_budget", F.coalesce(F.col("max_parallel"), F.lit(default_budget))
        ).drop("max_parallel")
    else:
        f = f.withColumn("_budget", F.lit(default_budget))

    salted = hint_count is None or hint_count > SALT_THRESHOLD
    if salted:
        salt = F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS))
        f = f.withColumn("_salt", salt)
        w_bucket = Window.partitionBy("host", "_salt").orderBy(*order_exprs())
        f = f.withColumn("_brank", F.row_number().over(w_bucket))
        survivors = f.filter(F.col("_brank") <= F.col("_budget"))
        pre_deferred = f.filter(F.col("_brank") > F.col("_budget"))
    else:
        survivors = f.withColumn("_salt", F.lit(0)).withColumn(
            "_brank", F.lit(0))
        pre_deferred = survivors.filter(F.lit(False))

    w_host = Window.partitionBy("host").orderBy(*order_exprs())
    ranked = survivors.withColumn("_hrank", F.row_number().over(w_host))
    cached = None
    if persist:
        # selected feeds the extraction commit, deferred the frontier
        # commit — cache the shared ranking so the second action
        # reuses it instead of re-running the windows
        ranked = ranked.persist()
        cached = ranked
    selected = ranked.filter(F.col("_hrank") <= F.col("_budget"))
    deferred = ranked.filter(F.col("_hrank") > F.col("_budget")).unionByName(
        pre_deferred.withColumn("_hrank", F.lit(None).cast("int")),
        allowMissingColumns=False,
    )
    drop = ("_budget", "_salt", "_brank", "_hrank")
    return selected.drop(*drop), deferred.drop(*drop), cached
