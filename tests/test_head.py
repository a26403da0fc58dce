"""Trained head artifact: version sync, deterministic serving, one
loader for a checkout and a --py-files zip, and loud failure when the
head is missing or stale."""

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from pii_spark.detect import serving
from pii_spark.detect.features import DIM, FEATURE_VERSION, featurize_doc
from pii_spark.detect.serving import serve_doc
from pii_spark.tokenizer import tokenize_with_offsets

ROOT = Path(__file__).resolve().parents[1]


def test_artifact_version_matches_features():
    z = np.load(serving._HEAD_PATH)
    assert int(z["feature_version"]) == FEATURE_VERSION
    assert z["W"].shape == (DIM, 37)


def test_head_loaded_and_deterministic():
    assert serving._head_weights().shape == (DIM, 37)
    text = "Contact john.smith@gmail.com or 555-123-4567."
    a = serve_doc(text)
    b = serve_doc(text)
    assert a.entities == b.entities
    assert {e[0] for e in a.entities} == {"EMAIL", "PHONE"}


def test_featurize_shapes():
    text = "ssn 123-45-6789 end"
    tokens, offsets, _ = tokenize_with_offsets(text)
    feats = featurize_doc(
        text, tokens, offsets, ["O"] * len(tokens), [0.0] * len(tokens)
    )
    assert len(feats) == len(tokens)
    assert len(feats[0]) == 0  # BOS carries no features
    assert all(
        (f >= 0).all() and (f < DIM).all() for f in feats if len(f)
    )


def test_missing_or_stale_head_raises(tmp_path, monkeypatch):
    """No silent fallback: a missing artifact, or one trained for
    another FEATURE_VERSION, fails serving loudly."""
    monkeypatch.setattr(serving, "_HEAD_W", None)
    monkeypatch.setattr(serving, "_HEAD_PATH", tmp_path / "absent.npz")
    with pytest.raises(FileNotFoundError, match="trained head"):
        serve_doc("Contact john.smith@gmail.com")
    with pytest.raises(FileNotFoundError, match="trained head"):
        serving.head_identity()

    stale = tmp_path / "stale.npz"
    np.savez(stale, W=np.zeros((DIM, 37), np.float16),
             feature_version=np.int64(FEATURE_VERSION - 1))
    monkeypatch.setattr(serving, "_HEAD_PATH", stale)
    with pytest.raises(RuntimeError, match="feature_version"):
        serve_doc("Contact john.smith@gmail.com")
    assert serving._HEAD_W is None  # a failed load caches nothing


_ZIP_PROBE = """
import hashlib, json, sys, zipfile
sys.path.insert(0, sys.argv[1])
from pii_spark.detect import serving
from pii_spark.textgrammar.generator import build_example
assert serving.__file__.startswith(sys.argv[1]), serving.__file__
assert isinstance(serving._HEAD_PATH, zipfile.Path), type(serving._HEAD_PATH)
ents = [serving.serve_doc(build_example(11, 900000 + i)["text"]).entities
        for i in range(int(sys.argv[2]))]
print(json.dumps({"loaded": serving._head_weights().shape,
                  "identity": serving.head_identity(),
                  "entities": hashlib.sha256(repr(ents).encode()).hexdigest()}))
"""


def test_pyfiles_zip_serves_the_checkout_head(tmp_path):
    """The --py-files zip ships the head: a fresh interpreter with only
    the zip on sys.path, from a cwd outside the repo, loads it through
    the package and labels generated docs exactly as the checkout."""
    sys.path.insert(0, str(ROOT / "scripts"))
    try:
        from build_pyfiles import build
    finally:
        sys.path.remove(str(ROOT / "scripts"))
    from pii_spark.textgrammar.generator import build_example

    zip_path = build(tmp_path / "dist" / "pii_spark.zip")
    n = 200
    work = tmp_path / "cwd"
    work.mkdir()
    r = subprocess.run(
        [sys.executable, "-I", "-c", _ZIP_PROBE, str(zip_path), str(n)],
        capture_output=True, text=True, cwd=work, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    want = [serve_doc(build_example(11, 900000 + i)["text"]).entities
            for i in range(n)]
    assert got["loaded"] == [DIM, 37]
    assert got["identity"] == serving.head_identity()
    assert got["entities"] == hashlib.sha256(repr(want).encode()).hexdigest()


def test_ctx_blocks_match_per_block_builders():
    """r9: the fused per-token block builder (_ctx_blocks, one hash pass
    for all five feature blocks) must agree element-for-element with the
    original per-block builders it replaced, over a generated-token
    sample including novel noise-mutated words."""
    import numpy as np

    import pii_spark.detect.features as Fe
    from pii_spark.textgrammar.generator import build_example

    seen = set()
    for i in range(300):
        text = build_example(11, 700_000 + i)["text"]
        for tok in text.split():
            if tok in seen:
                continue
            seen.add(tok)
            got = Fe._ctx_blocks(tok)
            ref = (
                Fe._ctx_feats("pp", tok, False),
                Fe._ctx_feats("p", tok, True),
                Fe._ctx_feats("n", tok, True),
                Fe._ctx_feats("nn", tok, False),
                Fe._self_feats(tok),
            )
            for g, r in zip(got, ref):
                assert np.array_equal(g, r), tok
    assert len(seen) > 1500
