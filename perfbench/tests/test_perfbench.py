"""Tests of the benchmark itself: every workload runs at the tiny scale
and emits every metric BENCHMARK.json names, with its unit; each
correctness check trips on a deliberately corrupted table.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import uuid

import pytest

from perfbench import checks, corpus, harness

RUN = harness.ROOT / "perfbench" / "run.py"
SPEC = json.loads((harness.ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, cwd) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else {}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(corpus.WORKLOADS))
def test_tiny_run_emits_every_metric(workload, trace, tmp_path):
    # launched from outside the repository: the harness puts the repo on
    # the Python workers' path itself
    code, result = _run(workload, trace, tmp_path)
    assert code == 0, result
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_benchmark_json_names_the_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(corpus.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    harness.prepare_env()
    s = harness.start_spark()
    yield s
    harness.stop_spark(s)


@pytest.fixture(scope="module")
def committed(spark):
    """A tiny crawl_mix corpus and its committed table."""
    from pii_spark.spark.jobs import run_quality_job

    base = harness.WORK / f"test-{uuid.uuid4().hex[:8]}"
    wl = corpus.WORKLOADS["crawl_mix"].scaled(corpus.TINY_FACTOR)
    inp, out, audit = (str(base / d) for d in ("input", "out", "audit"))
    corpus.write_corpus(spark, wl, 7, inp)
    run_quality_job(spark, inp, out, audit, groups=2)
    yield inp, out, corpus.load_corpus(spark, inp)
    shutil.rmtree(base, ignore_errors=True)


def _overwrite(spark, out_dir: str, edit) -> str:
    """Commit an edited copy of the table into a sibling table dir."""
    from pii_spark.icelite.catalog import IceliteTable

    src = IceliteTable(out_dir).read(spark)
    pdf = edit(src.toPandas())
    dst = f"{out_dir}-corrupt-{uuid.uuid4().hex[:8]}"
    IceliteTable(dst).overwrite(spark.createDataFrame(pdf, src.schema))
    return dst


def test_checks_pass_on_the_committed_table(spark, committed):
    inp, out_dir, docs = committed
    out = checks.read_output(spark, out_dir)
    checks.check_rows(out, docs)
    checks.check_scrub(out, docs)
    checks.check_same_output(out, out)
    assert checks.entity_f1(spark, out_dir, inp) > 0.9


def test_row_checks_trip_on_a_deleted_row(spark, committed):
    _, out_dir, docs = committed
    bad = checks.read_output(spark, _overwrite(spark, out_dir,
                                               lambda p: p.iloc[1:]))
    assert checks.failed_docs(bad, docs) == 1
    with pytest.raises(checks.CheckFailed):
        checks.check_rows(bad, docs)
    with pytest.raises(checks.CheckFailed):
        checks.check_same_output(bad, checks.read_output(spark, out_dir))


def test_scrub_checks_trip_on_an_altered_scrubbed_text(spark, committed):
    _, out_dir, docs = committed

    def alter(p):
        p = p.copy()
        p.loc[p.index[0], "scrubbed_text"] += " "
        return p

    good = checks.read_output(spark, out_dir)
    bad = checks.read_output(spark, _overwrite(spark, out_dir, alter))
    checks.check_rows(bad, docs)  # same rows, so only the text checks trip
    with pytest.raises(checks.CheckFailed):
        checks.check_scrub(bad, docs)
    with pytest.raises(checks.CheckFailed):
        checks.check_same_output(bad, good)
    assert checks.output_digest(bad) != checks.output_digest(good)


def test_f1_check_trips_when_spans_are_lost(spark, committed):
    inp, out_dir, _ = committed

    def drop_spans(p):
        p = p.copy()
        p["spans"] = [[] for _ in range(len(p))]
        return p

    bad_dir = _overwrite(spark, out_dir, drop_spans)
    with pytest.raises(checks.CheckFailed):
        checks.check_f1(checks.entity_f1(spark, bad_dir, inp), 0.985)


def test_same_seed_same_corpus_digest(spark, committed):
    inp, _, docs = committed
    wl = corpus.WORKLOADS["crawl_mix"].scaled(corpus.TINY_FACTOR)
    again, other = inp + "-again", inp + "-other"
    corpus.write_corpus(spark, wl, 7, again)
    corpus.write_corpus(spark, wl, 8, other)
    digest = corpus.corpus_digest(docs)
    assert corpus.corpus_digest(corpus.load_corpus(spark, again)) == digest
    assert corpus.corpus_digest(corpus.load_corpus(spark, other)) != digest


def test_long_pages_shape():
    pool = [{"text": "Call Ann at 555-123-4567 today.", "warc_ts": None,
             "spans": [{"start": 5, "end": 8, "label": "PERSON"}]}]
    rows = corpus.long_page_rows(3, 100, pool)
    hostile = [r for r in rows if r["kind"] == "hostile"]
    assert len(hostile) == 1 and len(hostile[0]["text"]) <= 4096
    for r in rows:
        if r["kind"] == "page":
            assert len(r["text"]) >= 1024
            for s in r["spans"]:
                assert r["text"][s["start"]:s["end"]] == "Ann"
    assert rows == corpus.long_page_rows(3, 100, pool)
