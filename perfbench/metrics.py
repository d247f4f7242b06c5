"""Every metric the benchmark prints, with its unit, its direction and — for
the per-layer metrics — the end-to-end metric and workload it is expected
to move. BENCHMARK.json lists the same names; `test_smoke.py` checks that
the two agree.

A traced run measures every layer on either workload: the extract layers
over the workload's corpus, the job layers over one crash-and-resume
cycle of it. The mapping names where a change in the layer shows up.
"""

from __future__ import annotations

PROFILES = (
    "banestes", "pagbank", "cef", "inter", "bbmod1", "bbmod2", "sicoob1",
    "sicoob2", "c6", "santander", "caixa", "ofx", "bradesco", "stone",
    "itau", "webpage", "webjt",
)

# name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "setup_s": ("s", "lower"),
    "python_peak_rss_mb": ("MB", "lower"),
}

MIXED = "docs_per_s on extract_mixed"
WEB = "docs_per_s on extract_web"
BOTH = "docs_per_s on both workloads"
SETUP = "setup_s on both workloads"
JOB = "no bounded metric: job.docs_per_s in the traced runs"
# Profiles whose branch runs an Arrow parse UDF (layout or state machine);
# the rest are pure-Catalyst text branches.
ARROW_PROFILES = {"banestes", "itau", "bradesco", "stone", "santander"}
WEB_PROFILES = {"webpage", "webjt"}

# name -> (unit, better, what it is expected to move)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.build_s": ("s", "lower", SETUP),
    "ship.ensure_s": ("s", "lower", SETUP),
    "setup.warmup_s": ("s", "lower", SETUP),
    "sources.scan_s": ("s", "lower", WEB + " most"),
    "sources.scan_bytes": ("bytes", "lower", WEB + " most"),
    "extract.salt_s": ("s", "lower", BOTH),
    "extract.salt_shuffle_bytes": ("bytes", "lower", BOTH),
    "extract.salt_shuffle_records": ("count", "lower", BOTH),
    "extract.full_s": ("s", "lower", BOTH),
    "extract.residual_s": ("s", "lower", BOTH),
    "trace.overhead_s": ("s", "lower", "nothing: traced minus untraced job cycle"),
}
for _p in PROFILES:
    _moves = (
        MIXED + " (Arrow parse UDF branch)" if _p in ARROW_PROFILES
        else WEB if _p in WEB_PROFILES
        else MIXED
    )
    PER_LAYER[f"profiles.{_p}.build_s"] = ("s", "lower", _moves)
    PER_LAYER[f"profiles.{_p}.records_out"] = ("count", "lower", _moves)
for _p in PROFILES:
    _moves = MIXED + ("" if _p in WEB_PROFILES else "; no change on extract_web")
    PER_LAYER[f"serialize.{_p}.s"] = ("s", "lower", _moves)
    PER_LAYER[f"serialize.{_p}.bytes_out"] = ("bytes", "lower", _moves)
PER_LAYER.update(
    {
        "job.docs_per_s": ("docs/s", "higher", JOB),
        "job.bucket_s_p50": ("s", "lower", JOB),
        "job.stage_s": ("s", "lower", JOB),
        "job.stage_bytes": ("bytes", "lower", JOB),
        "catalog.commit_s": ("s", "lower", JOB),
        "catalog.committed_urls_s": ("s", "lower", JOB),
        "job.spark_jobs_per_bucket": ("count", "lower", JOB),
        "quarantine.n_quarantined": ("count", "lower", "nothing: fixed by the planted poison rows"),
        "spark.python_nodes": ("count", "lower", BOTH),
        "spark.python_rows_returned": ("count", "lower", BOTH),
        "spark.python_bytes_sent": ("bytes", "lower", BOTH),
        "spark.python_bytes_returned": ("bytes", "lower", BOTH),
        "spark.python_exec_s": ("s", "lower", BOTH),
        "spark.python_boot_s": ("s", "lower", "unclear yet: summed over overlapping tasks"),
        "spark.python_init_s": ("s", "lower", "unclear yet: summed over overlapping tasks"),
        "spark.shuffle_bytes_total": ("bytes", "lower", BOTH),
        "spark.shuffle_records_total": ("count", "lower", BOTH),
        "spark.agg_sort_fallbacks": ("count", "lower", MIXED),
        # The JVM's resident memory follows how far G1 grew the heap, which
        # varies run to run by a quarter; hence a layer metric, not a bound.
        "spark.jvm_peak_rss_mb": ("MB", "lower", "nothing bounded: JVM heap sizing"),
    }
)


def render(values: dict, spec: dict) -> dict:
    """{name: {"value", "unit"}} for every metric in `spec`, in its order."""
    return {name: {"value": values[name], "unit": spec[name][0]} for name in spec}
