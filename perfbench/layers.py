"""Per-layer metrics of the traced run: name -> (unit, better, what it
should move). "moves" names the end-to-end metric a change to the layer
should move and on which workload; the first workload named is where
the layer does most of its work. ``job_s`` is ``crawl_s`` on the
crawl workloads and ``suite_s`` on ``corpus_ops``.
Every traced run reports every metric; a layer a workload does not
exercise reads 0 there."""

from perfbench.workloads import SUITE

_FETCH = "job_s on crawl_wide; none on corpus_ops"
_WAVE = "job_s on crawl_wide (the fixed per-wave cost); none on corpus_ops"
_STATE = "job_s on crawl_wide; none on corpus_ops"
_SEEN = ("none of the workloads: the filters engage above 100k "
         "discovered URLs")
_ENGINE = "job_s and peak_rss_mb on every workload"

LAYER_METRICS = {
    # operators.fetch + htmlkit: the fetch join and extraction UDF
    "fetch.extract_busy_s": ("s", "lower", _FETCH),
    "fetch.extract_rows": ("count", "lower", _FETCH),
    "fetch.extract_html_mb": ("MB", "lower", _FETCH),
    "fetch.extract_rows_per_busy_s": ("rows/s", "higher", _FETCH),
    "fetch.hit_ratio": ("ratio", "higher", _FETCH),
    "htmlkit.pages_per_s": ("pages/s", "higher", _FETCH),
    "spark.extract_task_skew": ("ratio", "lower", _FETCH),
    "spark.extract_stage_s": ("s", "lower", _FETCH),
    # plans.crawl: the wave loop
    "crawl.preloop_s": ("s", "lower", _WAVE),
    "crawl.waves": ("count", "lower", _WAVE),
    "crawl.wave0_s": ("s", "lower", _WAVE),
    "crawl.wave_p50_s": ("s", "lower", _WAVE),
    "crawl.driver_s": ("s", "lower", _WAVE),
    "crawl.plan_build_s": ("s", "lower", _WAVE),
    "crawl.urls_per_s": ("urls/s", "higher", "the crawl workloads' job_s"),
    # operators.frontier + operators.rank: politeness and crawl order
    "frontier.rows_in": ("count", "lower", _WAVE),
    "frontier.scheduled": ("count", "higher", _WAVE),
    "frontier.deferral_ratio": ("ratio", "lower", _WAVE),
    "frontier.plan_s": ("s", "lower", _WAVE),
    "frontier.salted_waves": ("count", "lower", _SEEN.replace(
        "the filters engage above 100k discovered URLs",
        "salting starts above 200k frontier rows")),
    "rank.plan_s": ("s", "lower", _WAVE),
    "rank.two_phase_waves": ("count", "lower", _SEEN.replace(
        "the filters engage above 100k discovered URLs",
        "two-phase rank starts above 200k rows")),
    "spark.jobs": ("count", "lower", _WAVE),
    "spark.tasks": ("count", "lower", _WAVE),
    # plans.state: the state tables
    "state.results_write_s": ("s", "lower", _FETCH),
    "state.frontier_write_s": ("s", "lower", _STATE),
    "state.read_s": ("s", "lower", _STATE),
    "state.manifest_s": ("s", "lower", _STATE),
    "state.known_s": ("s", "lower", _SEEN.replace(
        "the filters engage", "the bucketed known table engages")),
    "state.written_mb": ("MB", "lower", _STATE),
    "spark.shuffle_write_mb": ("MB", "lower", _STATE),
    "spark.shuffle_read_mb": ("MB", "lower", _STATE),
    # urlkit: canonicalisation and hashing of discovered links
    "urlkit.urls_per_s": ("urls/s", "higher",
                          "state.frontier_write_s, hence job_s on "
                          "crawl_wide"),
    "fetch.candidates": ("count", "lower", "state.frontier_write_s"),
    "fetch.new_ratio": ("ratio", "higher", "state.frontier_write_s"),
    # bloom / cuckoo: the URL-seen pre-filter
    "seen.engaged_waves": ("count", "lower", _SEEN),
    "seen.add_s": ("s", "lower", _SEEN),
    # the engine as a whole
    "spark.executor_cpu_s": ("s", "lower", _ENGINE),
    "spark.gc_s": ("s", "lower", _ENGINE),
    "trace.overhead_s": ("s", "lower", "nothing: traced minus untraced "
                         "job_s of the same run"),
    "op_fail_ratio": ("ratio", "lower", "nothing: operations that raised "
                      "or failed the output check / attempted"),
    # textops / simsearch / graph: the corpus operators
    **{f"corpus.{op}_s": ("s", "lower", "job_s on corpus_ops")
       for op in SUITE},
}
