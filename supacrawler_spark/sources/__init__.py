"""Table sources: corpus readers + deterministic synthetic web."""

from supacrawler_spark.sources.synth import (  # noqa: F401
    gen_pages_df,
    gen_robots_df,
    gen_politeness_df,
    gen_seeds,
    page_url,
    synth_page,
    n_hosts,
)

from pyspark.sql import functions as F

from supacrawler_spark.functions import canon_info


def prepare_pages(pages_df, dedup: bool = False):
    """Add the canonical join key to the corpus: url_canon + host +
    url_hash via one Arrow pass. The fetch join (J1) is an equi-join on
    url_canon; Catalyst prunes html when downstream only needs links
    (SURVEY.md §4.2).

    The crawl assumes url_canon is UNIQUE (one page per URL, like the
    web). Pass dedup=True for corpora with re-captures (keeps the
    latest warc_ts — one shuffle)."""
    prep = pages_df.withColumn("_c", canon_info(F.col("url"))).select(
        F.col("_c.url_canon").alias("url_canon"),
        F.col("_c.host").alias("host"),
        "url", "warc_ts", "html", "text", "lang",
    )
    if dedup:
        from pyspark.sql import Window
        w = Window.partitionBy("url_canon").orderBy(
            F.col("warc_ts").desc_nulls_last(), F.col("url"))
        prep = (prep.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1").drop("_rn"))
    return prep
