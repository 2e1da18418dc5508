"""One benchmark run inside a single driver process (started by run.py).

Closed loop: one job at a time on ``local[nproc]``, sessions from
``plans.get_spark`` at production defaults.  The program is reached only
through its public functions.  Writes one JSON result file; run.py adds
the memory figure read from outside and prints the result.
"""

from __future__ import annotations

import argparse
import contextlib
import gzip
import json
import os
import random
import shutil
import statistics
import sys
import time

import checks
import corpus
from proc import tree_cpu_seconds, worker_cpu_seconds
from tracer import Tracer, duration_by_name, group_counts, job_group, self_time_by_name

# docs per workload corpus
SIZES = {"article_mix": 2000, "giant_docs": 24, "pipeline_job": 400}
SETUPS = 3
WARM_DOCS = 16  # one file per core, so the warm-up starts every Python worker
SAMPLE_DOCS = {"article_mix": 64, "giant_docs": 3, "pipeline_job": 32}
MIN_REPS = {"article_mix": 3, "giant_docs": 3, "pipeline_job": 1}
# a trace run alternates untraced and traced repetitions: at least one each
MIN_TRACE_REPS = 2
N_BUCKETS = 8
# extract workloads: the trace run's pipeline probe covers this many docs
PROBE_DOCS = {"article_mix": 200, "giant_docs": 4}
GOLDEN = os.path.join("tests", "golden")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def materialize(work: str, name: str, docs: list[dict]) -> str:
    """Write ``docs`` once as one size-balanced parquet file per core
    (each file is then one scan task, so no seed gets an extra wave of
    tasks); returns the directory.  Its name carries a digest of the
    docs, so changed inputs never reuse stale files."""
    n_files = len(os.sched_getaffinity(0))
    out = os.path.join(work, "corpus", f"{name}-n{len(docs)}-f{n_files}-{corpus.digest(docs)}")
    done = os.path.join(out, "_COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        corpus.write_corpus(docs, out, n_files)
        open(done, "w").close()
    return out


class Noop:
    """SAX handler that does nothing: times the tokenizer alone."""

    def onopentag(self, name):
        pass

    def ontext(self, text, srcpos=-1):
        pass

    def onclosetag(self, name):
        pass


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.work = args.work
        self.tracer = Tracer() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.fail_reasons: dict[str, int] = {}
        self.info: dict = {}
        self._group = 0

    # -- bookkeeping ---------------------------------------------------
    def account(self, what: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.fail_reasons[what] = self.fail_reasons.get(what, 0) + failed

    def span(self, name: str):
        if not self.tracing:
            return contextlib.nullcontext({})
        return self.tracer.span(name)

    def group(self, name: str) -> str:
        self._group += 1
        return f"perfbench.{name}.{self._group}"

    # -- the program's public calls ------------------------------------
    def extract_digests(self, source: str, tag: str = "extract"):
        """scan -> extract -> forced per-doc output checksum."""
        from pyspark.sql import functions as F

        from boilerpipe_coffee_spark.operators import extract
        from boilerpipe_coffee_spark.sources import read_interleaved

        group = self.group(tag)
        with self.span(f"arrow_extract.{tag}") as attrs, job_group(self.spark, group):
            rows = (
                extract(read_interleaved(self.spark, source))
                .select(
                    "doc_id",
                    F.xxhash64("title", "spans", "error").alias("h"),
                    "error",
                )
                .collect()
            )
            attrs["group"] = group
        return [(r.doc_id, r.h, r.error) for r in rows], group

    def setup(self, warm_dir: str) -> list[float]:
        from boilerpipe_coffee_spark.operators import extract
        from boilerpipe_coffee_spark.plans import get_spark
        from boilerpipe_coffee_spark.sources import read_interleaved

        times = []
        self.spark = None
        for _ in range(1 if self.tracer else SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.span("plans.get_spark"):
                self.spark = get_spark()
            self.info.setdefault("session_s", time.perf_counter() - t0)
            with self.span("warmup"):
                extract(read_interleaved(self.spark, warm_dir)).collect()
            times.append(time.perf_counter() - t0)
        return times

    # -- correctness ---------------------------------------------------
    def golden_check(self) -> None:
        """t2 reference-truth docs through the same public call must equal
        the committed ArticleExtractor outputs exactly."""
        from boilerpipe_coffee_spark.operators import extract
        from boilerpipe_coffee_spark.sources import read_interleaved_jsonl

        with gzip.open(os.path.join(GOLDEN, "t2_ArticleExtractor.jsonl.gz"), "rt") as f:
            want = {}
            for line in f:
                g = json.loads(line)
                want[g["doc_id"]] = checks.as_output(g["title"], g["spans"], g["error"])
        rows = extract(
            read_interleaved_jsonl(self.spark, os.path.join(GOLDEN, "t2_docs.jsonl.gz"))
        ).collect()
        got = {r.doc_id: self.row_output(r) for r in rows}
        self.account("golden_t2", len(want), checks.output_failures(want, got))
        self.info["golden_docs"] = len(want)

    @staticmethod
    def row_output(r) -> dict:
        return checks.as_output(r.title, [s.asDict() for s in (r.spans or [])], r.error)

    def expected_sample(self, docs: list[dict]) -> dict:
        from boilerpipe_coffee_spark.spans import extract_spans

        want = {}
        for d in docs:
            title, spans, error = extract_spans(d["spans"])
            want[d["doc_id"]] = checks.as_output(title, spans, error)
        return want

    def sample_of(self, docs: list[dict]) -> list[dict]:
        k = SAMPLE_DOCS[self.workload]
        step = max(len(docs) // k, 1)
        return docs[::step][:k]

    def sample_check(self, source: str, sample: list[dict]) -> dict:
        """The workload's own output for a fixed sample equals
        ``spans.extract_spans``; returns the sample's verified digests."""
        from pyspark.sql import functions as F

        from boilerpipe_coffee_spark.operators import extract
        from boilerpipe_coffee_spark.sources import read_interleaved

        ids = [d["doc_id"] for d in sample]
        rows = (
            extract(read_interleaved(self.spark, source).filter(F.col("doc_id").isin(ids)))
            .withColumn("h", F.xxhash64("title", "spans", "error"))
            .collect()
        )
        got = {r.doc_id: self.row_output(r) for r in rows}
        self.account("sample", len(ids), checks.output_failures(self.expected_sample(sample), got))
        return {r.doc_id: r.h for r in rows}

    # -- workloads -----------------------------------------------------
    def extract_loop(self, docs, corpus_dir, seconds: float) -> dict:
        ids = [d["doc_id"] for d in docs]
        verified = self.sample_check(corpus_dir, self.sample_of(docs))
        # untimed pass: fixes the expected per-doc digests (the sample's
        # must match the checked ones) and warms every worker on the corpus
        rows, _ = self.extract_digests(corpus_dir)
        first = {d: h for d, h, _ in rows}
        expected = {d: first.get(d) for d in ids}
        expected.update(verified)
        self.account("extract", len(ids), checks.digest_failures(expected, rows))

        job, cpu, worker_cpu, traced_job = [], [], [], []
        pid = os.getpid()
        deadline = time.perf_counter() + seconds
        rep = 0
        while rep < self.min_reps() or time.perf_counter() < deadline:
            traced = self.tracer is not None and rep % 2 == 1
            self.tracer_on(traced, f"rep-{rep}")
            c0, w0, t0 = tree_cpu_seconds(pid), worker_cpu_seconds(pid), time.perf_counter()
            rows, group = self.extract_digests(corpus_dir)
            dt = time.perf_counter() - t0
            if traced:
                traced_job.append(dt)
                self.extract_groups.append((group, dt))
            else:
                job.append(dt)
                cpu.append(tree_cpu_seconds(pid) - c0)
                worker_cpu.append(worker_cpu_seconds(pid) - w0)
            self.account("extract", len(ids), checks.digest_failures(expected, rows))
            rep += 1
        self.tracer_on(self.tracer is not None, "post")
        if traced_job:
            self.traced_dps = median([len(ids) / t for t in traced_job])
        return {"job": job, "cpu": cpu, "worker_cpu": worker_cpu, "n_docs": len(ids)}

    def min_reps(self) -> int:
        if self.tracer is None:
            return MIN_REPS[self.workload]
        return max(MIN_REPS[self.workload], MIN_TRACE_REPS)

    def tracer_on(self, on: bool, trace_id: str) -> None:
        """Traced repetitions record spans; untraced ones record none."""
        if self.tracer is None:
            return
        self.tracer.trace_id = trace_id
        self._tracing = on

    def pipeline_rep(self, source: str, n_docs: int, out: str, rep: int,
                     first_keep: set | None, verify: list[dict] | None):
        """One run_pipeline composition, then a simulated crash and resume.
        Returns (job_s, resume_s, keep set, layer figures)."""
        from pyspark.sql import functions as F

        from boilerpipe_coffee_spark.operators import dedup
        from boilerpipe_coffee_spark.operators.pipeline import run_partitioned
        from boilerpipe_coffee_spark.operators.pretrain import content_features, near_dup_keep
        from boilerpipe_coffee_spark.sources import read_interleaved, write_bucketed

        spark = self.spark
        shutil.rmtree(out, ignore_errors=True)
        extract_dir = os.path.join(out, "extract")
        training_dir = os.path.join(out, "training")
        layer: dict = {}
        patched = self.patch_dedup(dedup, layer) if self.tracing else None
        try:
            t0 = time.perf_counter()
            with self.span("pipeline.job"):
                with self.span("pipeline.run_partitioned"):
                    s1 = run_partitioned(spark, read_interleaved(spark, source), extract_dir,
                                         n_buckets=N_BUCKETS)
                extracted = spark.read.parquet(os.path.join(extract_dir, "data"))
                with self.span("pretrain.content_features"):
                    features = content_features(extracted).persist()
                    exact_kept = features.filter(F.col("keep")).count()
                with self.span("pretrain.near_dup_keep"):
                    training = near_dup_keep(features, n_docs=exact_kept).filter(
                        F.col("keep_final")
                    ).drop("is_canonical", "passes_gates", "keep", "keep_final")
                with self.span("pipeline.training_write"):
                    write_bucketed(training, "perfbench_training", training_dir, "doc_id",
                                   n_buckets=N_BUCKETS)
                features.unpersist()
            job_s = time.perf_counter() - t0
        finally:
            if patched:
                patched()
        # -- checks (untimed) --
        metrics_dir = os.path.join(extract_dir, "metrics")
        markers = [r.asDict() for r in spark.read.parquet(metrics_dir).collect()]
        self.account("pipeline", n_docs, checks.pipeline_failures(n_docs, s1, markers, N_BUCKETS))
        if verify is not None:
            ids = [d["doc_id"] for d in verify]
            rows = (spark.read.parquet(os.path.join(extract_dir, "data"))
                    .filter(F.col("doc_id").isin(ids)).collect())
            got = {r.doc_id: self.row_output(r) for r in rows}
            self.account("sample", len(ids),
                         checks.output_failures(self.expected_sample(verify), got))
        kept = [(r.doc_id, r.content_hash) for r in
                spark.read.parquet(training_dir).select("doc_id", "content_hash").collect()]
        self.account("keep_set", len(kept), checks.keep_set_failures(kept, first_keep))
        data = spark.read.parquet(os.path.join(extract_dir, "data"))
        distinct_before = data.select("doc_id").distinct().count()
        # -- simulated crash: half the commit markers are lost --
        deleted = sorted(random.Random(self.seed * 7919 + rep).sample(range(N_BUCKETS),
                                                                       N_BUCKETS // 2))
        for b in deleted:
            shutil.rmtree(os.path.join(metrics_dir, f"partition_id={b}"))
        resumed_docs = sum(m["docs_out"] for m in markers if m["partition_id"] in deleted)
        t0 = time.perf_counter()
        with self.span("pipeline.resume"):
            s2 = run_partitioned(spark, read_interleaved(spark, source), extract_dir,
                                 n_buckets=N_BUCKETS)
        resume_s = time.perf_counter() - t0
        data = spark.read.parquet(os.path.join(extract_dir, "data"))
        markers_after = [r.asDict() for r in spark.read.parquet(metrics_dir).collect()]
        self.account("resume", resumed_docs, checks.resume_failures(
            deleted, s2, distinct_before, data.select("doc_id").distinct().count(),
            data.count(), markers_after, resumed_docs))
        layer.update({
            "pipeline.resume_buckets_run": s2["buckets_run"],
            "pipeline.resume_docs_out": s2["docs_out"],
            "pretrain.kept_frac": len(kept) / max(exact_kept, 1),
        })
        return job_s, resume_s, {d for d, _ in kept}, layer

    def patch_dedup(self, dedup, layer: dict):
        """Trace the two dedup calls near_dup_keep makes: the candidate
        pairs are materialized inside their span so pair cost lands there,
        and the component loop's Spark jobs are counted by job group."""
        orig_pairs = dedup.minhash_candidate_pairs
        orig_components = dedup.resolve_components

        def pairs(*a, **k):
            with self.span("dedup.minhash_candidate_pairs"):
                out = orig_pairs(*a, **k).localCheckpoint()
                layer["dedup.candidate_pairs"] = out.count()
            return out

        def components(*a, **k):
            group = self.group("components")
            with self.span("dedup.resolve_components"), job_group(self.spark, group):
                labels = orig_components(*a, **k)
            layer["dedup.components_spark_jobs"] = group_counts(self.spark, group)["jobs"]
            layer["_labels"] = labels
            return labels

        dedup.minhash_candidate_pairs = pairs
        dedup.resolve_components = components

        def restore():
            dedup.minhash_candidate_pairs = orig_pairs
            dedup.resolve_components = orig_components

        return restore

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and getattr(self, "_tracing", True)

    def pipeline_loop(self, docs, corpus_dir, seconds: float) -> dict:
        out = os.path.join(self.work, "out", "pipeline")
        verify = self.sample_of(docs)
        first_keep = None
        job, cpu, worker_cpu, resume, traced_job = [], [], [], [], []
        pid = os.getpid()
        deadline = time.perf_counter() + seconds
        rep = 0
        while rep < self.min_reps() or time.perf_counter() < deadline:
            traced = self.tracer is not None and rep % 2 == 1
            self.tracer_on(traced, f"rep-{rep}")
            # CPU here covers the whole repetition: job, checks and resume
            c0, w0 = tree_cpu_seconds(pid), worker_cpu_seconds(pid)
            job_s, resume_s, keep, layer = self.pipeline_rep(
                corpus_dir, len(docs), out, rep, first_keep, verify if rep == 0 else None)
            if traced:
                traced_job.append(job_s)
                self.pipeline_layers = layer
            else:
                job.append(job_s)
                cpu.append(tree_cpu_seconds(pid) - c0)
                worker_cpu.append(worker_cpu_seconds(pid) - w0)
            resume.append(resume_s)
            first_keep = keep if first_keep is None else first_keep
            rep += 1
        self.tracer_on(self.tracer is not None, "post")
        if traced_job:
            self.traced_dps = median([len(docs) / t for t in traced_job])
        return {"job": job, "cpu": cpu, "worker_cpu": worker_cpu, "resume": resume,
                "n_docs": len(docs)}

    # -- per-layer report (trace run) ----------------------------------
    def scan_layer(self, corpus_dir: str) -> dict:
        """Median of 3 scans that decode every span field."""
        from boilerpipe_coffee_spark.sources import read_interleaved

        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.span("sources.scan"):
                read_interleaved(self.spark, corpus_dir).selectExpr(
                    "count(*)",
                    "sum(aggregate(spans, 0L, (a, s) -> a + coalesce(length(s.kind), 0)"
                    " + coalesce(length(s.text), 0) + coalesce(length(s.media_ref), 0)"
                    " + coalesce(s.offset, 0)))",
                ).collect()
            times.append(time.perf_counter() - t0)
        size = sum(os.path.getsize(os.path.join(corpus_dir, f))
                   for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
        return {"sources.scan_s": median(times), "sources.input_mb": size / 1e6}

    def core_layer(self, docs: list[dict]) -> dict:
        """Serial pass over the workload's docs in this process, with
        spans around the calls into htmlsax, parser, extractors and spans."""
        import boilerpipe_coffee_spark.core.extractors as ext_mod
        import boilerpipe_coffee_spark.spans as spans_mod
        from boilerpipe_coffee_spark.core.htmlsax import sax_parse

        tracer = self.tracer
        tracer.trace_id = "core"
        counts = {"blocks": 0, "content": 0, "throws": 0}
        orig_dfh = spans_mod.document_from_html
        orig_parser = ext_mod.BoilerpipeParser

        class TracedParser(orig_parser):
            def parse_document_from_html(self, html):
                with tracer.span("parser.parse_document_from_html"):
                    doc = super().parse_document_from_html(html)
                counts["blocks"] += len(doc.text_blocks)
                return doc

        def traced_dfh(html, extractor):
            with tracer.span("extractors.document_from_html"):
                doc = orig_dfh(html, extractor)
            counts["content"] += sum(1 for tb in doc.text_blocks if tb.is_content)
            return doc

        noop = Noop()
        html_bytes = 0
        n0 = len(tracer.spans)
        spans_mod.document_from_html = traced_dfh
        ext_mod.BoilerpipeParser = TracedParser
        try:
            for d in docs:
                html = corpus.html_of(d)
                html_bytes += len(html.encode())
                with tracer.span("htmlsax.sax_parse_noop"):
                    sax_parse(html, noop)
                with tracer.span("spans.extract_spans"):
                    _, _, error = spans_mod.extract_spans(d["spans"])
                counts["throws"] += error is not None
        finally:
            spans_mod.document_from_html = orig_dfh
            ext_mod.BoilerpipeParser = orig_parser
        spans = tracer.spans[n0:]
        self_t = self_time_by_name(spans)
        dur = duration_by_name(spans)
        per_doc = sorted(s["end"] - s["start"] for s in spans if s["name"] == "spans.extract_spans")
        sax = dur.get("htmlsax.sax_parse_noop", 0.0)
        parser_self = dur.get("parser.parse_document_from_html", 0.0) - sax
        filters_self = self_t.get("extractors.document_from_html", 0.0)
        blocks = max(counts["blocks"], 1)
        q = (statistics.quantiles(per_doc, n=100, method="inclusive")
             if len(per_doc) > 1 else per_doc * 99)
        self.info["blocks"] = counts["blocks"]
        self.info["core_docs"] = len(per_doc)
        self.serial_core_s = dur.get("spans.extract_spans", 0.0)
        return {
            "htmlsax.self_s": sax,
            "htmlsax.mb_per_s": html_bytes / 1e6 / sax,
            "parser.self_s": parser_self,
            "parser.blocks": counts["blocks"],
            "parser.us_per_block": parser_self / blocks * 1e6,
            "filters.self_s": filters_self,
            "filters.us_per_block": filters_self / blocks * 1e6,
            "filters.content_frac": counts["content"] / blocks,
            "filters.throws": counts["throws"],
            "spans.self_s": self_t.get("spans.extract_spans", 0.0),
            "core.doc_p50_us": statistics.median(per_doc) * 1e6,
            "core.doc_p99_us": q[98] * 1e6,
        }

    def layer_report(self, docs, corpus_dir, loop) -> dict:
        layers = {"plans.session_s": self.info["session_s"]}
        self.tracer_on(True, "layers")
        layers.update(self.scan_layer(corpus_dir))
        layers.update(self.core_layer(docs))
        self.tracer_on(True, "layers")  # core_layer used its own trace id
        if self.workload == "pipeline_job":
            pipe = self.pipeline_layers
            pipe_source = corpus_dir
            # the extract layer on the pipeline's own corpus
            self.extract_groups = []
            for _ in range(3):
                t0 = time.perf_counter()
                _, group = self.extract_digests(corpus_dir)
                self.extract_groups.append((group, time.perf_counter() - t0))
        else:
            # the pipeline layers on a slice of this workload's corpus
            probe = docs[: PROBE_DOCS[self.workload]]
            pipe_source = materialize(self.work, f"{self.workload}-s{self.seed}-probe", probe)
            self.tracer_on(True, "pipeline-probe")
            _, _, _, pipe = self.pipeline_rep(
                pipe_source, len(probe), os.path.join(self.work, "out", "probe"), 0, None, None)
        walls = [w for _, w in self.extract_groups]
        counts = group_counts(self.spark, self.extract_groups[0][0])
        wall = median(walls)
        cores = self.spark.sparkContext.defaultParallelism
        layers.update({
            "arrow_extract.wall_s": wall,
            "arrow_extract.parallel_eff": self.serial_core_s / (wall * cores),
            "spark.tasks": counts["tasks"],
            "spark.failed_tasks": counts["failed_tasks"],
        })
        # pipeline spans of the last traced pipeline repetition
        spans = [s for s in self.tracer.spans if s["name"].startswith(("pipeline.", "pretrain.",
                                                                      "dedup."))]
        last = {}
        for s in spans:
            last[s["name"]] = s["end"] - s["start"]
        if pipe_source == corpus_dir:
            probe_wall = wall
        else:
            t0 = time.perf_counter()
            self.extract_digests(pipe_source, "probe")
            probe_wall = time.perf_counter() - t0
        labels = pipe.pop("_labels")
        layers.update({
            "pipeline.run_partitioned_s": last["pipeline.run_partitioned"],
            "pipeline.commit_overhead_s": last["pipeline.run_partitioned"] - probe_wall,
            "pipeline.resume_buckets_run": pipe["pipeline.resume_buckets_run"],
            "pipeline.resume_docs_out": pipe["pipeline.resume_docs_out"],
            "pipeline.training_write_s": last["pipeline.training_write"],
            "pretrain.features_s": last["pretrain.content_features"],
            "pretrain.kept_frac": pipe["pretrain.kept_frac"],
            "dedup.pairs_s": last["dedup.minhash_candidate_pairs"],
            "dedup.candidate_pairs": pipe["dedup.candidate_pairs"],
            "dedup.components_s": last["dedup.resolve_components"],
            "dedup.components_spark_jobs": pipe["dedup.components_spark_jobs"],
            "dedup.clusters": labels.select("cluster_id").distinct().count(),
        })
        untraced = median([loop["n_docs"] / t for t in loop["job"]])
        layers["trace.overhead_frac"] = 1.0 - self.traced_dps / untraced
        return layers

    # -- the run -------------------------------------------------------
    def run(self) -> dict:
        docs = corpus.build_docs(self.workload, self.seed, SIZES[self.workload])
        corpus_dir = materialize(self.work, f"{self.workload}-s{self.seed}", docs)
        warm_dir = materialize(self.work, f"warm-s{self.seed}",
                               corpus.article_docs(self.seed + 1, WARM_DOCS))
        self.info["corpus"] = corpus.corpus_stats(docs)
        if self.tracer is not None:
            self.tracer.trace_id = "setup"
        setup = self.setup(warm_dir)
        self.golden_check()
        self.extract_groups = []
        self._tracing = self.tracer is not None
        if self.workload == "pipeline_job":
            loop = self.pipeline_loop(docs, corpus_dir, self.args.seconds)
        else:
            loop = self.extract_loop(docs, corpus_dir, self.args.seconds)
        n = loop["n_docs"]
        e2e = {
            "setup_s": median(setup),
            "docs_per_s": median([n / t for t in loop["job"]]),
            "job_s": median(loop["job"]),
            "cpu_ms_per_doc": median([c * 1000 / n for c in loop["cpu"]]),
            "worker_cpu_ms_per_doc": median([c * 1000 / n for c in loop["worker_cpu"]]),
        }
        samples = {"setup": setup, "job": loop["job"], "cpu": loop["cpu"],
                   "worker_cpu": loop["worker_cpu"]}
        if "resume" in loop:
            e2e["resume_s"] = median(loop["resume"])
            samples["resume"] = loop["resume"]
        result = {"e2e": e2e, "samples_s": samples}
        if self.tracer is not None:
            result["layers"] = self.layer_report(docs, corpus_dir, loop)
            trace_dir = os.path.join(self.work, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{self.workload}-seed{self.seed}.jsonl")
            self.tracer.write(path)
            self.info["span_file"] = path
            self.info["spans"] = len(self.tracer.spans)
        self.spark.stop()
        result.update({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "fail_reasons": self.fail_reasons,
            "info": self.info,
        })
        return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    result = Run(args).run()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
