"""Correctness checks on a committed output table. Each check raises
``CheckFailed`` with the reason; the runner turns any failure into a
non-zero exit."""

from __future__ import annotations

import hashlib

import pandas as pd


class CheckFailed(Exception):
    pass


def read_output(spark, out_dir: str) -> pd.DataFrame:
    from pii_spark.icelite.catalog import IceliteTable

    return (
        IceliteTable(out_dir).read(spark)
        .select("url", "keep", "drop_reason", "spans", "scrubbed_text")
        .toPandas()
    )


def failed_docs(out: pd.DataFrame, corpus: pd.DataFrame) -> int:
    """Input docs missing from the table or committed with a null
    ``scrubbed_text``."""
    present = out.loc[out["scrubbed_text"].notna(), "url"]
    return int((~corpus["url"].isin(set(present))).sum())


def check_rows(out: pd.DataFrame, corpus: pd.DataFrame) -> None:
    """Rows out equal docs in, each input url once, none failed."""
    if len(out) != len(corpus):
        raise CheckFailed(f"rows out {len(out)} != docs in {len(corpus)}")
    if out["url"].duplicated().any():
        raise CheckFailed("duplicate urls in the committed table")
    n_failed = failed_docs(out, corpus)
    if n_failed:
        raise CheckFailed(f"failed_docs_ratio {n_failed / len(corpus)} != 0")


def check_scrub(out: pd.DataFrame, corpus: pd.DataFrame) -> None:
    """Every committed ``scrubbed_text`` is the input text with exactly
    the committed spans replaced by their placeholders."""
    from pii_spark.detect.scrub import scrub_text

    text = dict(zip(corpus["url"], corpus["text"]))
    for url, spans, scrubbed in zip(out["url"], out["spans"],
                                    out["scrubbed_text"]):
        want = scrub_text(
            text.get(url) or "",
            [(s["label"], s["start"], s["end"]) for s in spans],
        )
        if scrubbed != want:
            raise CheckFailed(f"scrubbed_text of {url} does not match "
                              "its input text and committed spans")


def output_digest(out: pd.DataFrame) -> str:
    """sha256 over (url, keep, drop_reason, scrubbed_text) in url order."""
    h = hashlib.sha256()
    for row in out.sort_values("url").itertuples(index=False):
        h.update(repr((row.url, bool(row.keep), row.drop_reason,
                       row.scrubbed_text)).encode("utf-8"))
    return h.hexdigest()


def leak_ratio(out: pd.DataFrame, corpus: pd.DataFrame) -> float:
    """Share of truth PII values (8+ chars, unique in their doc) that
    survive verbatim in the committed ``scrubbed_text``."""
    scrubbed = dict(zip(out["url"], out["scrubbed_text"]))
    seen = leaked = 0
    for url, text, spans in zip(corpus["url"], corpus["text"],
                                corpus["spans"]):
        for s in spans if spans is not None else []:
            val = text[s["start"]:s["end"]]
            if len(val) >= 8 and text.count(val) == 1:
                seen += 1
                leaked += val in (scrubbed.get(url) or "")
    return leaked / seen if seen else 0.0


def check_same_output(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Same (keep, drop_reason, scrubbed_text) per url."""
    cols = ["url", "keep", "drop_reason", "scrubbed_text"]
    a = got[cols].sort_values("url").reset_index(drop=True)
    b = want[cols].sort_values("url").reset_index(drop=True)
    if len(a) != len(b) or not a.equals(b):
        raise CheckFailed("resumed table differs from the uninterrupted "
                          "run's table")


def entity_f1(spark, out_dir: str, input_dir: str) -> float:
    """Micro entity F1 of committed spans against the generator's truth
    on English docs (``pii_spark.spark.metrics.entity_confusion``)."""
    from pyspark.sql import functions as F

    from pii_spark.icelite.catalog import IceliteTable
    from pii_spark.spark.metrics import entity_confusion, entity_rows

    src = spark.read.parquet(input_dir).where("lang = 'en'")
    truth = src.select("doc_id", "text", "spans")
    pred = (
        IceliteTable(out_dir).read(spark)
        .select("url", F.col("spans").alias("pred"))
        .join(src.select("doc_id", "url", "text"), "url")
        .select("doc_id", "text", F.col("pred").alias("spans"))
    )
    tp = fp = fn = 0
    for r in entity_confusion(entity_rows(truth), entity_rows(pred)).collect():
        tp, fp, fn = tp + r.tp, fp + r.fp, fn + r.fn
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def check_f1(f1: float, minimum: float) -> None:
    if f1 < minimum:
        raise CheckFailed(f"entity_f1 {f1:.4f} < {minimum}")
