"""Workload definitions and seeded corpus generation.

Every input the job sees is generated here from the workload seed and
written to parquet during set-up; the job is then pointed at the path.
Mix workloads are the generator's native rows
(``pii_spark.spark.gen_job.generate_full``: 80% English, 20% other
languages, 35/50/15 positive / O-only / hard-negative, one hot domain
with ~30% of urls). Long pages concatenate generated English docs.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, replace

import numpy as np

# generated-row columns: the corpus schema plus the generator's truth
COLUMNS = ["doc_id", "url", "warc_ts", "html", "text", "lang", "kind", "spans"]


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                      # "mix" or "long"
    docs: int                      # pages for "long"
    files: int                     # parquet files in the input dir
    groups: int                    # job commit groups
    compact_every: int | None = None
    fail_after_groups: int | None = None
    warm_docs: int = 2000          # docs in the warm-up corpus
    layer_sample: int = 400        # docs in the single-core layer pass
    scaling_slice: int = 1200      # docs in the 1-vs-N partition pass
    min_f1: float | None = None    # correctness gate on entity_f1

    def scaled(self, factor: float) -> "Workload":
        """Same shape with fewer docs (tests run the tiny scale). The
        F1 gate is dropped: a few hundred docs hold too few entities
        for it."""
        def s(n: int) -> int:
            return max(self.files, int(n * factor))

        return replace(
            self, docs=s(self.docs), warm_docs=s(self.warm_docs),
            layer_sample=max(4, int(self.layer_sample * factor)),
            scaling_slice=s(self.scaling_slice), min_f1=None,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl_mix", "mix", docs=12000, files=8, groups=2,
                 min_f1=0.985),
        Workload("long_pages", "long", docs=240, files=8, groups=2,
                 warm_docs=60, layer_sample=24, scaling_slice=48),
        Workload("resume_many_groups", "mix", docs=1600, files=16,
                 groups=16, compact_every=4, fail_after_groups=8),
    )
}

TINY_FACTOR = 0.05
# the warm-up corpus is generated from the run's seed plus this offset,
# so the timed job never sees docs the workers were warmed on
WARM_SEED_OFFSET = 1 << 32

# long pages: lengths log-spaced over [1 KB, 32 KB]; 1% hostile pages
# of 2-4 KB built from the two shapes with superlinear detector cost
_PAGE_MIN, _PAGE_MAX = 1024, 32 * 1024
_HOSTILE_SHARE = 0.01
_HOSTILE_MIN, _HOSTILE_MAX = 2048, 4096
_POOL_PER_PAGE = 12


def _hostile_text(shape: int, size: int) -> str:
    if shape == 0:
        return "a." * ((size - 1) // 2) + "@"
    return "ABC " * (size // 4)


def long_page_rows(seed: int, pages: int, pool: list[dict]) -> list[dict]:
    """Pages made by concatenating English docs drawn from ``pool``
    (generated from the same seed), with truth spans shifted to page
    offsets. The length distribution is fixed (log-spaced, shuffled by
    the seed) so seeds change content and order, not total work."""
    rng = np.random.default_rng([seed, 0x10_96])
    lengths = np.exp(np.linspace(math.log(_PAGE_MIN), math.log(_PAGE_MAX),
                                 pages))
    rng.shuffle(lengths)
    n_hostile = max(1, round(pages * _HOSTILE_SHARE))
    hostile = set(rng.choice(pages, size=n_hostile, replace=False).tolist())
    hostile_sizes = np.linspace(_HOSTILE_MIN, _HOSTILE_MAX, n_hostile)
    rows = []
    for i in range(pages):
        if i in hostile:
            k = len([h for h in hostile if h < i])
            text = _hostile_text(k % 2, int(hostile_sizes[k]))
            spans: list[dict] = []
            kind = "hostile"
        else:
            parts, spans, cursor = [], [], 0
            while cursor < lengths[i]:
                doc = pool[int(rng.integers(len(pool)))]
                spans.extend(
                    {"start": s["start"] + cursor, "end": s["end"] + cursor,
                     "label": s["label"]}
                    for s in doc["spans"]
                )
                parts.append(doc["text"])
                cursor += len(doc["text"]) + 2
            text = "\n\n".join(parts)
            kind = "page"
        url = f"https://pages{i % 7}.example/{seed}/{i}"
        rows.append({
            "doc_id": i, "url": url, "warc_ts": pool[0]["warc_ts"],
            "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
            "text": text, "lang": "en", "kind": kind, "spans": spans,
        })
    return rows


def write_corpus(spark, wl: Workload, seed: int, path: str) -> None:
    """Generate ``wl``'s corpus for ``seed`` and write it as
    ``wl.files`` parquet files under ``path``."""
    from pii_spark.spark.gen_job import generate_full

    if wl.kind == "mix":
        df = generate_full(spark, wl.docs, seed=seed, partitions=wl.files)
    else:
        import pandas as pd

        pool = [
            r.asDict(recursive=True)
            for r in generate_full(spark, wl.docs * _POOL_PER_PAGE,
                                   seed=seed, partitions=wl.files)
            .where("lang = 'en'").collect()
        ]
        pdf = pd.DataFrame(long_page_rows(seed, wl.docs, pool))
        df = spark.createDataFrame(
            pdf, schema=generate_full(spark, 0).schema
        ).repartition(wl.files, "doc_id")
    df.select(*COLUMNS).write.parquet(path)


def load_corpus(spark, path: str):
    """The written corpus, read back, in doc_id order (pandas)."""
    return (
        spark.read.parquet(path)
        .select("doc_id", "url", "text", "lang", "kind", "spans")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )


def corpus_digest(corpus) -> str:
    """sha256 over (url, text) in doc_id order."""
    h = hashlib.sha256()
    for url, text in zip(corpus["url"], corpus["text"]):
        h.update(url.encode("utf-8") + b"\0"
                 + (text or "").encode("utf-8") + b"\0")
    return h.hexdigest()
