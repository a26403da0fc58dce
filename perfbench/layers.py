"""Per-layer metrics for the traced run, each measured from outside by
timing calls into that layer's public functions."""

from __future__ import annotations

import statistics
import time
from pathlib import Path

from .harness import JOB_GROUP, nproc


def _wquantile(values: list[float], weights: list[float], q: float) -> float:
    pairs = sorted(zip(values, weights))
    total, acc = sum(weights), 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def single_core(tracer, texts: list[str], dropped: list[bool],
                weights: list[float]) -> dict:
    """One-thread CPU time (``time.thread_time``) of each in-UDF layer
    over a fixed doc sample. ``weights`` make every figure an estimate
    for the whole corpus when the sample is stratified (each doc stands
    for ``weight`` docs). The fresh serve pass runs on cold memos and
    must come before any other detector call in this process; the warm
    pass then times every layer doc by doc, so all layers see the same
    memo state and the same machine load."""
    from pii_spark.detect.candidates import (
        detect_spans,
        format_candidates,
        token_candidates,
    )
    from pii_spark.detect.scrub import scrub_text
    from pii_spark.detect.serving import serve_doc
    from pii_spark.quality.langid import classify
    from pii_spark.quality.perplexity import perplexity
    from pii_spark.tokenizer import tokenize_with_offsets

    layers = {
        "serve": serve_doc,
        "langid": classify,
        "perplexity": perplexity,
        "tokenizer": lambda t: tokenize_with_offsets(t, with_ids=False),
        "format": format_candidates,
        "token": token_candidates,
        "detect": detect_spans,
    }
    with tracer.span("detect.serving.fresh"):
        fresh = []
        for t in texts:
            t0 = time.thread_time()
            serve_doc(t)
            fresh.append(time.thread_time() - t0)
    cpu = {k: [] for k in [*layers, "scrub"]}
    out: dict[str, list] = {k: [] for k in layers}
    with tracer.span("warm_pass"):
        for t in texts:
            for k, fn in layers.items():
                t0 = time.thread_time()
                out[k].append(fn(t))
                cpu[k].append(time.thread_time() - t0)
            t0 = time.thread_time()
            scrub_text(t, out["serve"][-1].entities)
            cpu["scrub"].append(time.thread_time() - t0)

    def total(xs) -> float:
        return sum(x * w for x, w in zip(xs, weights))

    kb = total([len(t.encode("utf-8")) / 1024.0 for t in texts])
    docs = sum(weights)
    us_per_kb = {k: total(v) * 1e6 / kb for k, v in cpu.items()}
    n_fc = total([len(c) for c in out["format"]])
    n_tc = total([len(c) for c in out["token"]])
    serve = total(cpu["serve"])
    ms = [s * 1e3 for s in cpu["serve"]]
    return {
        "quality.langid.us_per_doc": total(cpu["langid"]) * 1e6 / docs,
        "quality.perplexity.us_per_doc":
            total(cpu["perplexity"]) * 1e6 / docs,
        "tokenizer.us_per_kb": us_per_kb["tokenizer"],
        "detect.format_candidates.us_per_kb": us_per_kb["format"],
        "detect.format_candidates.cands_per_kb": n_fc / kb,
        "detect.token_candidates.us_per_kb": us_per_kb["token"],
        "detect.token_candidates.cands_per_kb": n_tc / kb,
        "detect.detect_spans.kept_ratio":
            total([len(c) for c in out["detect"]]) / max(1.0, n_fc + n_tc),
        "detect.serving.us_per_kb": us_per_kb["serve"],
        "detect.serving.residual_us_per_kb": us_per_kb["serve"]
            - us_per_kb["tokenizer"] - us_per_kb["detect"],
        "detect.serving.doc_ms_p50": _wquantile(ms, weights, 0.50),
        "detect.serving.doc_ms_p99": _wquantile(ms, weights, 0.99),
        "detect.serving.doc_ms_max": max(ms),
        "detect.serving.warm_speedup": total(fresh) / serve,
        "detect.serving.dropped_share":
            total([s * d for s, d in zip(cpu["serve"], dropped)]) / serve,
        "detect.scrub.us_per_kb": us_per_kb["scrub"],
    }


def pipeline_s(spark, df, partitions: int | None) -> float:
    """Wall time of the pipeline over ``df`` with every output column
    consumed and nothing written."""
    from pyspark.sql import functions as F

    from pii_spark.spark.pipeline import run_pipeline

    t0 = time.perf_counter()
    run_pipeline(df, partitions=partitions).agg(
        F.count("*"), F.sum(F.col("keep").cast("long")),
        F.sum(F.size("spans")), F.sum(F.length("scrubbed_text")),
    ).collect()
    return time.perf_counter() - t0


def spark_pass(tracer, spark, input_dir: str, scaling_slice: int,
               audit_dir: str) -> dict:
    from pii_spark.icelite.catalog import IceliteTable

    n = nproc()
    src = spark.read.parquet(input_dir)
    with tracer.span("spark.pipeline.compute"):
        compute_s = pipeline_s(spark, src, None)
    part = src.where(f"doc_id < {scaling_slice}")
    with tracer.span("spark.pipeline.scaling", partitions=1):
        one_s = pipeline_s(spark, part, 1)
    with tracer.span("spark.pipeline.scaling", partitions=2 * n):
        many_s = pipeline_s(spark, part, 2 * n)
    docs_in = [
        r.docs_in for r in
        IceliteTable(audit_dir).read(spark).select("docs_in").collect()
    ]
    tracker = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(JOB_GROUP):
        job = tracker.getJobInfo(jid)
        for sid in (job.stageIds if job else []):
            st = tracker.getStageInfo(sid)
            if st:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {
        "spark.pipeline.compute_s": compute_s,
        "spark.pipeline.scaling_eff": one_s / (n * many_s),
        "spark.pipeline.partition_skew":
            max(docs_in) / statistics.fmean(docs_in),
        "spark.tasks": tasks,
        "spark.tasks_failed": failed,
    }


def group_seconds(out_dir: str, start_ms: float) -> list[float]:
    """Seconds between consecutive group commits of the output table
    (snapshot ``committed_at_ms``), the first from the job's start."""
    from pii_spark.icelite.catalog import IceliteTable

    times = [s.committed_at_ms for s in IceliteTable(out_dir).snapshots()
             if "group" in s.summary]
    prev, out = start_ms, []
    for t in sorted(times):
        out.append((t - prev) / 1e3)
        prev = t
    return out


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*")
               if p.is_file())


def catalog(tracer, spark, out_dir: str, audit_dir: str,
            input_bytes: int) -> dict:
    """Ledger read, file count, bytes written and one compaction of the
    committed table. Compaction rewrites the table, so it runs last."""
    from pii_spark.icelite.catalog import IceliteTable

    ledger_ms = []
    for _ in range(5):
        with tracer.span("icelite.committed_groups"):
            t0 = time.perf_counter()
            IceliteTable(out_dir).committed_groups()
            ledger_ms.append((time.perf_counter() - t0) * 1e3)
    table = IceliteTable(out_dir)
    data_files = table.data_file_count()
    written = _dir_bytes(out_dir) + _dir_bytes(audit_dir)
    with tracer.span("icelite.compact"):
        t0 = time.perf_counter()
        table.compact(spark)
        compact_s = time.perf_counter() - t0
    return {
        "icelite.committed_groups_ms": statistics.median(ledger_ms),
        "icelite.compact_s": compact_s,
        "icelite.data_files": data_files,
        "icelite.bytes_written_per_input_byte": written / input_bytes,
    }
