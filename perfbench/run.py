"""Benchmark of the committed quality + scrub job.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 5 \
        --trace 0

Generates the workload's corpus from the seed, writes it to parquet,
runs ``pii_spark.spark.jobs.run_quality_job`` on it in path mode on
local[nproc] for at least ``--seconds``, checks the committed output
and prints one JSON line last: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. Exits non-zero when a check
fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import replace
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import checks, corpus, harness, layers  # noqa: E402

END_TO_END_UNITS = {
    "job_s": "s", "docs_per_s": "docs/s", "entity_f1": "ratio",
    "peak_rss_mb": "MB", "setup_s": "s",
}
PER_LAYER_UNITS = {
    "quality.langid.us_per_doc": "us/doc",
    "quality.perplexity.us_per_doc": "us/doc",
    "tokenizer.us_per_kb": "us/KB",
    "detect.format_candidates.us_per_kb": "us/KB",
    "detect.format_candidates.cands_per_kb": "count/KB",
    "detect.token_candidates.us_per_kb": "us/KB",
    "detect.token_candidates.cands_per_kb": "count/KB",
    "detect.detect_spans.kept_ratio": "ratio",
    "detect.serving.us_per_kb": "us/KB",
    "detect.serving.residual_us_per_kb": "us/KB",
    "detect.serving.doc_ms_p50": "ms",
    "detect.serving.doc_ms_p99": "ms",
    "detect.serving.doc_ms_max": "ms",
    "detect.serving.warm_speedup": "ratio",
    "detect.serving.dropped_share": "ratio",
    "detect.scrub.us_per_kb": "us/KB",
    "spark.pipeline.compute_s": "s",
    "spark.pipeline.scaling_eff": "ratio",
    "spark.pipeline.partition_skew": "ratio",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.jobs.commit_overhead_s": "s",
    "spark.jobs.group_s_p50": "s",
    "spark.jobs.group_s_max": "s",
    "icelite.committed_groups_ms": "ms",
    "icelite.compact_s": "s",
    "icelite.data_files": "count",
    "icelite.bytes_written_per_input_byte": "ratio",
    "trace.job_s": "s",
}
CORPUS_BUILDS = 3   # set-ups per run; setup_s takes the median build
NOOP_RESUMES = 5    # re-launches over a complete table; resume_s = median


def _log(msg: str, payload=None) -> None:
    print(f"# {msg}" + ("" if payload is None else " " + json.dumps(payload)),
          flush=True)


def _run_job(spark, wl, input_dir: str, out_dir: str, audit_dir: str,
             fail_after: int | None = None) -> None:
    from pii_spark.spark.jobs import run_quality_job

    run_quality_job(spark, input_dir, out_dir, audit_dir, groups=wl.groups,
                    compact_every=wl.compact_every,
                    fail_after_groups=fail_after)


def run_rep(tracer, spark, wl, input_dir: str, rep_dir: Path) -> dict:
    """One timed job. A workload with ``fail_after_groups`` crashes after
    that many commits and is resumed: ``job_s`` covers both calls and
    ``resume_s`` the resume. The others run to completion and are then
    re-launched over the complete table, so ``resume_s`` is the no-op
    restart there."""
    from pii_spark.icelite.catalog import IceliteTable

    out_dir, audit_dir = str(rep_dir / "out"), str(rep_dir / "audit")
    spark.sparkContext.setJobGroup(harness.JOB_GROUP, wl.name)
    start_ms = time.time() * 1e3
    with tracer.span("job", workload=wl.name):
        t0 = time.perf_counter()
        with tracer.span("job.run"):
            try:
                _run_job(spark, wl, input_dir, out_dir, audit_dir,
                         wl.fail_after_groups)
            except RuntimeError as e:
                if not (wl.fail_after_groups
                        and "injected failure" in str(e)):
                    raise
            else:
                if wl.fail_after_groups:
                    raise checks.CheckFailed("the injected crash did not "
                                             "happen")
        run_s = time.perf_counter() - t0
        snaps = len(IceliteTable(out_dir).snapshots())
        resumes = []
        for _ in range(1 if wl.fail_after_groups else NOOP_RESUMES):
            with tracer.span("job.resume"):
                t0 = time.perf_counter()
                _run_job(spark, wl, input_dir, out_dir, audit_dir)
                resumes.append(time.perf_counter() - t0)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    if not wl.fail_after_groups and (
            len(IceliteTable(out_dir).snapshots()) != snaps):
        raise checks.CheckFailed("re-running over a complete table "
                                 "committed a snapshot")
    resume_s = statistics.median(resumes)
    return {"job_s": run_s + (resume_s if wl.fail_after_groups else 0.0),
            "resume_s": resume_s, "start_ms": start_ms,
            "out_dir": out_dir, "audit_dir": audit_dir}


def set_up(tracer, spark, wl, seed: int, run_dir: Path, failures: list):
    """Build the corpus CORPUS_BUILDS times (each must have the same
    digest) and keep the first. Then run the job once over a warm-up
    corpus of the same kind from another seed, so every Python worker has
    built its models and filled its memos, and the JVM has compiled the
    write and commit path, before the timed job, as in a long-running
    job. Returns the corpus, its path and the timings."""
    builds, digests = [], []
    for b in range(CORPUS_BUILDS):
        path = run_dir / f"input{b}"
        with tracer.span("setup.corpus"):
            t0 = time.perf_counter()
            corpus.write_corpus(spark, wl, seed, str(path))
            builds.append(time.perf_counter() - t0)
        loaded = corpus.load_corpus(spark, str(path))
        digests.append(corpus.corpus_digest(loaded))
        if b:
            shutil.rmtree(path)
        else:
            docs = loaded
    if len(set(digests)) != 1:
        failures.append(f"same seed, different corpus digests: {digests}")
    input_dir = str(run_dir / "input0")
    with tracer.span("setup.warm_up"):
        t0 = time.perf_counter()
        warm_dir = run_dir / "warm"
        corpus.write_corpus(spark, replace(wl, docs=wl.warm_docs),
                            seed + corpus.WARM_SEED_OFFSET,
                            str(warm_dir / "input"))
        _run_job(spark, replace(wl, groups=min(wl.groups, 2)),
                 str(warm_dir / "input"), str(warm_dir / "out"),
                 str(warm_dir / "audit"))
        shutil.rmtree(warm_dir)
        warm_s = time.perf_counter() - t0
    return docs, input_dir, digests[0], builds, warm_s


def verify(spark, wl, docs, input_dir: str, reps: list, failures: list
           ) -> tuple[float, float]:
    """Correctness of the first rep's table; returns its entity F1 and
    PII leak ratio."""
    def check(fn, *a):
        try:
            fn(*a)
        except checks.CheckFailed as e:
            failures.append(str(e))

    out = reps[0]["table"]
    check(checks.check_rows, out, docs)
    check(checks.check_scrub, out, docs)
    if len({r["digest"] for r in reps}) != 1:
        failures.append("reps of the same input committed different tables")
    if wl.fail_after_groups:
        from pii_spark.spark.pipeline import run_pipeline

        uninterrupted = run_pipeline(spark.read.parquet(input_dir)).select(
            "url", "keep", "drop_reason", "scrubbed_text").toPandas()
        check(checks.check_same_output, out, uninterrupted)
    f1 = checks.entity_f1(spark, reps[0]["out_dir"], input_dir)
    if wl.min_f1 is not None:
        check(checks.check_f1, f1, wl.min_f1)
    return f1, checks.leak_ratio(out, docs)


def bench(args, wl, tracer, run_dir: Path) -> tuple[dict, dict]:
    failures: list[str] = []
    t_run, steal0 = time.time(), harness.steal_ticks()
    load0 = os.getloadavg()[0]
    sampler = harness.RssSampler().start()
    spark = None
    try:
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("setup.session"):
                spark = harness.start_spark()
            session_s = time.perf_counter() - t0
            docs, input_dir, digest, builds, warm_s = set_up(
                tracer, spark, wl, args.seed, run_dir, failures)
        input_bytes = sum(len((t or "").encode("utf-8"))
                          for t in docs["text"])
        _log("corpus", {"workload": wl.name, "seed": args.seed,
                        "docs": len(docs), "text_bytes": input_bytes,
                        "digest": digest})

        reps = []
        sampler.reset()
        t_window = time.perf_counter()
        while not reps or time.perf_counter() - t_window < args.seconds:
            rep = run_rep(tracer, spark, wl, input_dir,
                          run_dir / f"rep{len(reps)}")
            out = checks.read_output(spark, rep["out_dir"])
            rep["failed"] = checks.failed_docs(out, docs)
            rep["digest"] = checks.output_digest(out)
            if reps:
                shutil.rmtree(Path(rep["out_dir"]).parent)
            else:
                rep["table"] = out
            reps.append(rep)
        peak_rss_mb, at_peak = sampler.peak_mb(), sampler.at_peak
        _log("output", {"reps": len(reps), "digest": reps[0]["digest"],
                        "job_s": [r["job_s"] for r in reps]})

        f1, leak = verify(spark, wl, docs, input_dir, reps, failures)
        job_s = statistics.median(r["job_s"] for r in reps)
        metrics = {
            "job_s": job_s,
            "docs_per_s": len(docs) / job_s,
            "resume_s": statistics.median(r["resume_s"] for r in reps),
            "entity_f1": f1,
            "peak_rss_mb": peak_rss_mb,
            "setup_s": session_s + statistics.median(builds) + warm_s,
        }
        _log("end_to_end", {**metrics, "failed_docs_ratio":
                            reps[0]["failed"] / len(docs),
                            "pii_leak_ratio": leak})
        if args.trace:
            metrics = traced_metrics(tracer, spark, wl, docs, reps[0],
                                     input_dir, input_bytes, job_s)
            if checks.output_digest(checks.read_output(
                    spark, reps[0]["out_dir"])) != reps[0]["digest"]:
                failures.append("compaction changed the committed rows")
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        sampler.stop()
    wall = time.time() - t_run
    info = {
        "failures": failures,
        "attempted": len(docs) * len(reps),
        "failed": sum(r["failed"] for r in reps),
        "disclosure": {
            "loadavg_start": load0, "loadavg_end": os.getloadavg()[0],
            "stolen_cores": (harness.steal_ticks() - steal0) / 100.0 / wall,
            "wall_s": wall, "session_s": session_s, "builds_s": builds,
            "warm_up_s": warm_s, "pss_kb_at_peak": at_peak,
        },
    }
    return metrics, info


def traced_metrics(tracer, spark, wl, docs, rep0, input_dir: str,
                   input_bytes: int, job_s: float) -> dict:
    # every hostile page plus the first normal docs in doc_id order, each
    # weighted by the share of the corpus it stands for
    hostile = docs[docs["kind"] == "hostile"]
    normal = docs[docs["kind"] != "hostile"]
    head = normal.head(wl.layer_sample - len(hostile))
    weights = [1.0] * len(hostile) + [len(normal) / len(head)] * len(head)
    keep = dict(zip(rep0["table"]["url"], rep0["table"]["keep"]))
    urls = [*hostile["url"], *head["url"]]
    with tracer.span("layers.single_core"):
        m = layers.single_core(
            tracer, [t or "" for t in [*hostile["text"], *head["text"]]],
            [not keep[u] for u in urls], weights)
    with tracer.span("layers.spark"):
        m.update(layers.spark_pass(tracer, spark, input_dir,
                                   wl.scaling_slice, rep0["audit_dir"]))
    groups = layers.group_seconds(rep0["out_dir"], rep0["start_ms"])
    m.update({
        "spark.jobs.commit_overhead_s":
            job_s - m["spark.pipeline.compute_s"],
        "spark.jobs.group_s_p50": statistics.median(groups),
        "spark.jobs.group_s_max": max(groups),
        "trace.job_s": job_s,
    })
    with tracer.span("layers.catalog"):
        m.update(layers.catalog(tracer, spark, rep0["out_dir"],
                                rep0["audit_dir"], input_bytes))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(corpus.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: a few docs per workload, for the tests")
    args = ap.parse_args(argv)
    wl = corpus.WORKLOADS[args.workload]
    if args.scale == "tiny":
        wl = wl.scaled(corpus.TINY_FACTOR)

    stamp = harness.stamp()  # fails before any work without the program
    harness.prepare_env()
    _log("stamp", stamp)
    run_dir = harness.WORK / f"run-{wl.name}-{args.seed}-{os.getpid()}"
    tracer = harness.Tracer(bool(args.trace), f"{wl.name}-{args.seed}")
    try:
        metrics, info = bench(args, wl, tracer, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    _log("disclosure", info["disclosure"])
    if args.trace:
        path = harness.WORK / "traces" / f"{wl.name}-{args.seed}.json"
        tracer.write(path, {"stamp": stamp, "metrics": metrics, **info})
        _log(f"trace written to {path}")
    for f in info["failures"]:
        _log(f"CHECK FAILED: {f}")
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(json.dumps({
        "correct": not info["failures"],
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }), flush=True)
    return 1 if info["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
