"""Metric registry: every name the benchmark reports, its unit and
direction, and -- for per-layer metrics -- the end-to-end metric and
workload it should move.  ``BENCHMARK.json`` lists the same names (a test
keeps the two in step); the map lives here because that file holds only
the keys its format allows.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

WORKLOADS = {
    "article_mix": (
        "production traffic shape: stratified mixed pages, mostly small, so "
        "per-doc fixed costs (Arrow bridge, chain setup, scheduling) dominate"
    ),
    "giant_docs": (
        "giant-stratum pages of up to 5,000 elements: per-block parse and "
        "filter cost and task skew dominate, per-doc bridge cost vanishes"
    ),
    "pipeline_job": (
        "run_pipeline composition: bucketed extract with commit markers, "
        "features, near-dup dedup, training write, crash and resume"
    ),
}

# name: (unit, better, what it is).  These are gated: BENCHMARK.json
# bounds them and the result line carries them.
END_TO_END = {
    "setup_s": ("s", "lower", "get_spark plus the first warm-up extract; "
                "median of 3 set-ups in one run (first is a cold JVM)"),
    "worker_cpu_ms_per_doc": ("ms/doc", "lower", "median over the timed "
                              "repetitions of the CPU time the Python workers "
                              "used, per doc"),
}

# Printed for every run but not gated.  On a shared 4-vCPU host, ten runs
# of unchanged code spread these by 0.2-0.3 (quartile distance over
# median): wall time moves with the CPU the hypervisor steals for other
# tenants, the JVM heap grows by a different amount each run, and the
# JVM's CPU time falls by half over a run as its JIT compiler settles.
REPORTED = {
    "cpu_ms_per_doc": ("ms/doc", "lower", "median over the timed repetitions "
                       "of the CPU time the driver, JVM and Python-worker tree "
                       "used, per doc"),
    "peak_rss_mb": ("MB", "lower", "peak RSS of the driver, JVM and Python "
                    "worker tree, sampled from /proc"),
    "docs_per_s": ("docs/s", "higher", "median over the timed repetitions"),
    "job_s": ("s", "lower", "median wall time, input to complete result"),
    "resume_s": ("s", "lower", "pipeline_job only: run_partitioned again "
                 "after a simulated crash lost half the bucket commit markers"),
}

# name: (unit, better, should move)
PER_LAYER = {
    "plans.session_s": ("s", "lower", "setup_s, all workloads"),
    "sources.scan_s": ("s", "lower", "docs_per_s on article_mix"),
    "sources.input_mb": ("MB", "lower", "docs_per_s on article_mix"),
    "htmlsax.self_s": ("s", "lower", "docs_per_s on giant_docs, then article_mix"),
    "htmlsax.mb_per_s": ("MB/s", "higher", "docs_per_s on giant_docs, then article_mix"),
    "parser.self_s": ("s", "lower", "docs_per_s on giant_docs"),
    "parser.blocks": ("count", "lower", "docs_per_s on giant_docs"),
    "parser.us_per_block": ("us", "lower", "docs_per_s on giant_docs"),
    "filters.self_s": ("s", "lower", "docs_per_s on giant_docs"),
    "filters.us_per_block": ("us", "lower", "docs_per_s on giant_docs"),
    "filters.content_frac": ("ratio", "higher", "docs_per_s on giant_docs"),
    "filters.throws": ("count", "lower", "docs_per_s on giant_docs"),
    "spans.self_s": ("s", "lower", "docs_per_s on article_mix"),
    "core.doc_p50_us": ("us", "lower", "docs_per_s on article_mix"),
    "core.doc_p99_us": ("us", "lower", "p99 shows stragglers on giant_docs"),
    "arrow_extract.wall_s": ("s", "lower", "docs_per_s on article_mix (bridge) "
                             "and giant_docs (skew)"),
    "arrow_extract.parallel_eff": ("ratio", "higher", "docs_per_s on "
                                   "article_mix and giant_docs"),
    "spark.tasks": ("count", "lower", "docs_per_s on article_mix and giant_docs"),
    "spark.failed_tasks": ("count", "lower", "docs_per_s on article_mix and "
                           "giant_docs"),
    "pipeline.run_partitioned_s": ("s", "lower", "job_s on pipeline_job"),
    "pipeline.commit_overhead_s": ("s", "lower", "job_s on pipeline_job"),
    "pipeline.resume_buckets_run": ("count", "lower", "resume_s on pipeline_job"),
    "pipeline.resume_docs_out": ("count", "lower", "resume_s on pipeline_job"),
    "pipeline.training_write_s": ("s", "lower", "job_s on pipeline_job"),
    "pretrain.features_s": ("s", "lower", "job_s on pipeline_job"),
    "pretrain.kept_frac": ("ratio", "higher", "job_s on pipeline_job"),
    "dedup.pairs_s": ("s", "lower", "job_s on pipeline_job only"),
    "dedup.candidate_pairs": ("count", "lower", "job_s on pipeline_job only"),
    "dedup.components_s": ("s", "lower", "job_s on pipeline_job only"),
    "dedup.components_spark_jobs": ("count", "lower", "job_s on pipeline_job only"),
    "dedup.clusters": ("count", "lower", "job_s on pipeline_job only"),
    "trace.overhead_frac": ("ratio", "lower", "none: traced against untraced "
                            "docs_per_s in the same run"),
}
