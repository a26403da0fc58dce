"""Config-gated "strict" keep profile (VERDICT r4 #2) + the
quality-report ↔ pipeline consistency gate (VERDICT r4 #4).

default profile stays byte-stable; strict adds the C4 document
judgment and the full Gopher repetition flags as further conjuncts
with their own drop_reasons, never touching the output schema or the
scrub bytes."""

import pytest
from pyspark.sql import functions as F

from pii_spark.quality.c4_rules import c4_clean
from pii_spark.quality.gopher import THRESHOLDS, gopher_flags, gopher_stats
from pii_spark.spark.gen_job import generate_corpus
from pii_spark.spark.pipeline import run_pipeline

# handcrafted multi-line docs, one per strict drop_reason; flags are
# re-derived from the PURE twins inside the tests so the fixtures
# can't silently rot
CLEAN = "\n".join([
    "The river wound quietly past the old stone bridge this morning.",
    "Several travelers paused there to watch the ducks drift by.",
    "A baker across the road sold warm bread to early customers.",
    "Nobody hurried, and the town eased gently into its day.",
])
C4_FAIL = (  # single line: fails the >=3-surviving-lines rule
    "This single line of plain text reads naturally and would pass "
    "every heuristic gate, yet it has no sentence structure to keep."
)
GOPHER_LINES = "\n".join(
    ["The same sentence appears again and again in this document."] * 3
    + [
        "One distinct line follows the repeated block right here now.",
        "Another distinct line keeps the document looking reasonable.",
        "A final distinct line closes out this little test document.",
    ]
)
GOPHER_NGRAMS = "\n".join([
    "Good morning team, good morning folks, good morning dear friends.",
    "Good morning people, good morning crew, good morning once more.",
    "Good morning again, good morning all, good morning everyone here.",
    "Good morning now, good morning twice, good morning one last time.",
])


def _corpus(spark, rows):
    return spark.createDataFrame(
        [(f"https://t.example.com/{i}", t) for i, t in enumerate(rows)],
        "url string, text string",
    )


def test_fixture_flags_via_pure_twins():
    """The fixtures mean what they claim (pure-twin ground truth)."""
    assert c4_clean(CLEAN)["keep"]
    assert not any(gopher_flags(gopher_stats(CLEAN)).values())
    assert not c4_clean(C4_FAIL)["keep"]
    assert c4_clean(GOPHER_LINES)["keep"]
    s = gopher_stats(GOPHER_LINES)
    assert s["dup_line_frac"] > THRESHOLDS["dup_line_frac"]
    assert c4_clean(GOPHER_NGRAMS)["keep"]
    s = gopher_stats(GOPHER_NGRAMS)
    assert all(s[k] <= THRESHOLDS[k] for k in s if "line" in k or "para" in k)
    assert s["top_2gram_char_frac"] > THRESHOLDS["top_2gram_char_frac"]


def test_strict_drop_reasons(spark):
    corpus = _corpus(spark, [CLEAN, C4_FAIL, GOPHER_LINES, GOPHER_NGRAMS])
    out = {r.url: r for r in
           run_pipeline(corpus, profile="strict").collect()}
    dflt = {r.url: r for r in run_pipeline(corpus).collect()}
    # all four pass the default chain — the strict reasons are real
    assert all(r.keep for r in dflt.values()), {
        u: r.drop_reason for u, r in dflt.items()}
    assert out["https://t.example.com/0"].keep
    assert out["https://t.example.com/1"].drop_reason == "c4"
    assert out["https://t.example.com/2"].drop_reason == "gopher_lines"
    assert out["https://t.example.com/3"].drop_reason == "gopher_ngrams"
    # scrub bytes are profile-independent
    for u in out:
        assert out[u].scrubbed_text == dflt[u].scrubbed_text


def test_unknown_profile_rejected(spark):
    corpus = _corpus(spark, [CLEAN])
    with pytest.raises(ValueError, match="unknown profile"):
        run_pipeline(corpus, profile="lenient")


def test_strict_census_on_generated_corpus(spark):
    """Invariants on a real corpus: strict only tightens keep, new
    reasons come only from the new families, default rows unchanged."""
    corpus = generate_corpus(spark, 120).cache()
    d = {r.url: r for r in run_pipeline(corpus).collect()}
    s = {r.url: r for r in
         run_pipeline(corpus, profile="strict").collect()}
    assert set(d) == set(s)
    old = {"langid", "perplexity", "heuristics", "toxicity"}
    new = {"c4", "gopher_lines", "gopher_ngrams"}
    for u in d:
        assert s[u].scrubbed_text == d[u].scrubbed_text
        if s[u].keep:
            assert d[u].keep  # strict keep ⊆ default keep
        if d[u].drop_reason in old:
            # rows the default chain drops are untouched by strict
            assert s[u].drop_reason == d[u].drop_reason
            assert not s[u].keep
        elif not s[u].keep:
            assert s[u].drop_reason in new, (u, s[u].drop_reason)
    # generated docs are single-line: every default-kept row falls to
    # the C4 >=3-lines rule (the documented granularity caveat)
    kept_default = [u for u in d if d[u].keep]
    assert kept_default
    assert all(s[u].drop_reason == "c4" for u in kept_default)


def test_strict_reason_precedence_matches_pure_twins(spark):
    """The census-input pre-filter (docs failing c4/gopher_lines are
    excluded from the n-gram explode) must be output-invisible: for a
    corpus mixing every pathology, each strict drop_reason equals the
    one derived independently from the PURE twins under the documented
    precedence."""
    mix = {}
    mix["clean"] = CLEAN
    mix["c4_and_ngrams"] = (  # fails c4 AND has an n-gram pathology:
        GOPHER_NGRAMS.replace("\n", " ")  # single line → c4 wins
    )
    mix["lines_and_ngrams"] = "\n".join(  # line flag AND ngram flag
        ["Good morning team, good morning folks, good morning friends."]
        * 4
    )
    mix["ngrams_only"] = GOPHER_NGRAMS
    mix["c4_only"] = C4_FAIL
    mix["lines_only"] = GOPHER_LINES
    corpus = spark.createDataFrame(
        [(f"https://p.example.com/{k}", t) for k, t in mix.items()],
        "url string, text string",
    )
    dflt = {r.url: r for r in run_pipeline(corpus).collect()}
    out = {r.url: r for r in
           run_pipeline(corpus, profile="strict").collect()}
    for k, t in mix.items():
        u = f"https://p.example.com/{k}"
        if not dflt[u].keep:
            expected = dflt[u].drop_reason
        else:
            s = gopher_stats(t)
            line_bad = any(
                s[x] > THRESHOLDS[x]
                for x in ("dup_line_frac", "dup_para_frac",
                          "dup_line_char_frac", "dup_para_char_frac")
            )
            ngram_bad = any(
                s[x] > THRESHOLDS[x] for x in s if "gram" in x
            )
            if not c4_clean(t)["keep"]:
                expected = "c4"
            elif line_bad:
                expected = "gopher_lines"
            elif ngram_bad:
                expected = "gopher_ngrams"
            else:
                expected = None
        assert out[u].drop_reason == expected, (k, out[u].drop_reason,
                                                expected)


def test_resume_refuses_profile_mismatch(spark, tmp_path):
    """A table whose groups were committed under one profile must not
    be resumed under another — keep/drop would depend on crash timing.
    Pre-profile-tracking snapshots count as default."""
    from pii_spark.spark.jobs import run_quality_job

    corpus = generate_corpus(spark, 30).cache()
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(spark, corpus, str(tmp_path / "o"),
                        str(tmp_path / "a"), groups=3,
                        fail_after_groups=1, profile="strict")
    with pytest.raises(RuntimeError, match="profile"):
        run_quality_job(spark, corpus, str(tmp_path / "o"),
                        str(tmp_path / "a"), groups=3)
    # same profile resumes fine and completes
    out = run_quality_job(spark, corpus, str(tmp_path / "o"),
                          str(tmp_path / "a"), groups=3,
                          profile="strict")
    assert out.read(spark).count() == 30


def _other_head(tmp_path, monkeypatch):
    """Serve the same weights re-saved uncompressed: same
    FEATURE_VERSION, a different artifact sha256."""
    import numpy as np

    from pii_spark.detect import serving

    z = np.load(serving._HEAD_PATH)
    other = tmp_path / "token_head.npz"
    np.savez(other, W=z["W"], feature_version=z["feature_version"])
    monkeypatch.setattr(serving, "_HEAD_W", None)
    monkeypatch.setattr(serving, "_HEAD_PATH", other)


def test_resume_refuses_head_mismatch(spark, tmp_path, monkeypatch):
    """Every group commit records which head served (artifact sha256 +
    FEATURE_VERSION); a resume under another head refuses, and so does
    a resume of a table whose groups recorded none."""
    from pii_spark.icelite.catalog import IceliteTable
    from pii_spark.spark.jobs import run_quality_job

    corpus = generate_corpus(spark, 30).cache()
    o, a = str(tmp_path / "o"), str(tmp_path / "a")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_quality_job(spark, corpus, o, a, groups=3,
                        fail_after_groups=1)
    with monkeypatch.context() as m:
        _other_head(tmp_path, m)
        with pytest.raises(RuntimeError, match="token head"):
            run_quality_job(spark, corpus, o, a, groups=3)
    out = run_quality_job(spark, corpus, o, a, groups=3)
    assert out.read(spark).count() == 30
    assert len({s.summary["token_head"] for s in out.snapshots()
                if "group" in s.summary}) == 1

    # groups committed before the head was recorded: "unrecorded"
    tiny = spark.createDataFrame([(1,)], "x int")
    IceliteTable(str(tmp_path / "o2")).append(tiny, summary={"group": 0})
    IceliteTable(str(tmp_path / "a2")).append(tiny, summary={"group": 0})
    with pytest.raises(RuntimeError, match="unrecorded"):
        run_quality_job(spark, corpus, str(tmp_path / "o2"),
                        str(tmp_path / "a2"), groups=2)


def test_missing_head_fails_job_before_any_commit(spark, tmp_path,
                                                  monkeypatch):
    from pii_spark.detect import serving
    from pii_spark.spark.jobs import run_quality_job

    monkeypatch.setattr(serving, "_HEAD_W", None)
    monkeypatch.setattr(serving, "_HEAD_PATH", tmp_path / "absent.npz")
    with pytest.raises(FileNotFoundError, match="trained head"):
        run_quality_job(spark, generate_corpus(spark, 10),
                        str(tmp_path / "o"), str(tmp_path / "a"), groups=2)
    assert not (tmp_path / "o").exists()


def test_streaming_restart_refuses_profile_mismatch(spark, tmp_path):
    from pii_spark.spark.streaming import run_streaming_job

    src = str(tmp_path / "src")
    generate_corpus(spark, 20).write.parquet(src)
    ck = str(tmp_path / "ck")
    run_streaming_job(spark, src, str(tmp_path / "o"), ck,
                      profile="strict")
    with pytest.raises(RuntimeError, match="profile"):
        run_streaming_job(spark, src, str(tmp_path / "o"), ck)
    # same profile restarts cleanly (no new files → no new batches)
    out = run_streaming_job(spark, src, str(tmp_path / "o"), ck,
                            profile="strict")
    assert out.read(spark).count() == 20
    # review r5: the guard must survive manifest expiry — batch
    # summaries live on in the ledger carry, and the check consults it
    out.append(out.read(spark).limit(0), summary={"pad": True})
    out.expire_snapshots(keep_last=1)
    with pytest.raises(RuntimeError, match="profile"):
        run_streaming_job(spark, src, str(tmp_path / "o"), ck)


def test_streaming_restart_refuses_head_mismatch(spark, tmp_path,
                                                 monkeypatch):
    from pii_spark.spark.streaming import run_streaming_job

    src = str(tmp_path / "src")
    generate_corpus(spark, 20).write.parquet(src)
    ck = str(tmp_path / "ck")
    run_streaming_job(spark, src, str(tmp_path / "o"), ck)
    _other_head(tmp_path, monkeypatch)
    with pytest.raises(RuntimeError, match="token head"):
        run_streaming_job(spark, src, str(tmp_path / "o"), ck)


def test_report_keep_rate_matches_pipeline(spark):
    """VERDICT r4 #4: the report's composed rule_keep_rate equals the
    pipeline's actual keep fraction on a corpus where langid+perplexity
    pass — same exprs, two code paths (the drift class the twin-fuzz
    keeps catching)."""
    from pii_spark.spark.quality_report import quality_report

    corpus = generate_corpus(spark, 200).cache()
    first = run_pipeline(corpus).select("url", "keep", "drop_reason")
    good = first.filter(
        F.col("keep") | F.col("drop_reason").isin("heuristics",
                                                  "toxicity")
    ).select("url")
    sub = corpus.join(good, "url").cache()
    n = sub.count()
    assert n > 50  # the gate must act on a real sample

    out = run_pipeline(sub)
    keep_rate = out.agg(
        F.round(F.avg(F.col("keep").cast("double")), 4).alias("r")
    ).collect()[0].r
    report_rate = quality_report(
        sub, id_col="url"
    ).collect()[0].rule_keep_rate
    assert keep_rate == report_rate
