"""Train the token-classification head (softmax regression over hashed
sparse features) on generator output — the offline stand-in for the
reference's RoBERTa fine-tune (model.ipynb), producing a frozen
artifact served exactly like the reference serves its model.

Training data: docs [TRAIN_LO, TRAIN_HI) from the seed-42 corpus
(English rows only), labels = ground-truth BILOU via the shared
tokenizer. Eval ranges used elsewhere (0-20k) are excluded.

Optimizer: averaged SGD on softmax cross-entropy with sparse updates.
Artifact: pii_spark/detect/token_head.npz (float16 weight matrix DIM×37),
shipped inside the package and loaded by detect/serving.py.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pii_spark.config import LABEL2ID, NUM_LABELS  # noqa: E402
from pii_spark.detect.candidates import detect_spans  # noqa: E402
from pii_spark.detect.features import DIM, FEATURE_VERSION, featurize_doc  # noqa: E402
from pii_spark.labeling import spans_to_token_labels  # noqa: E402
from pii_spark.textgrammar.generator import build_example  # noqa: E402
from pii_spark.tokenizer import tokenize_with_offsets  # noqa: E402

TRAIN_LO, TRAIN_HI = 20_000, 260_000
HEAD = (Path(__file__).resolve().parents[1]
        / "pii_spark" / "detect" / "token_head.npz")


def doc_examples(doc_id: int):
    ex = build_example(42, doc_id)
    if ex["lang"] != "en":
        return []
    text = ex["text"]
    tokens, offsets, _ = tokenize_with_offsets(text)
    true_tags, label_ids = spans_to_token_labels(offsets, ex["spans"])
    cands = [c for c in detect_spans(text) if c.label != "IP"]
    cand_spans = [
        {"start": c.start, "end": c.end, "label": c.label} for c in cands
    ]
    cand_tags, _ = spans_to_token_labels(offsets, cand_spans)
    confs = [0.0] * len(tokens)
    for c in cands:
        for t, (ts, te) in enumerate(offsets):
            if not (ts == te == 0) and te > c.start and ts < c.end:
                confs[t] = max(confs[t], c.conf)
    feats = featurize_doc(text, tokens, offsets, cand_tags, confs)
    out = []
    for t in range(len(tokens)):
        if label_ids[t] == -100:
            continue
        out.append((feats[t], LABEL2ID.get(true_tags[t], 0)))
    return out


def main(n_docs: int = TRAIN_HI - TRAIN_LO, epochs: int = 3,
         lr: float = 0.25, seed: int = 7, warm: bool = False) -> None:
    t0 = time.time()
    X: list[np.ndarray] = []
    y: list[int] = []
    for doc_id in range(TRAIN_LO, TRAIN_LO + n_docs):
        for f, lab in doc_examples(doc_id):
            X.append(f)
            y.append(lab)
    y_arr = np.array(y, dtype=np.int32)
    n = len(y_arr)
    print(f"tokens: {n} from ≤{n_docs} docs ({time.time()-t0:.0f}s)")

    rng = np.random.default_rng(seed)
    W = np.zeros((DIM, NUM_LABELS), dtype=np.float32)
    if warm and HEAD.exists():
        # ADVICE r1: a stale artifact (feature-space change or DIM bump)
        # must not silently seed training with weights from a different
        # feature space — validate like serving.py does, else cold-start
        z = np.load(HEAD)
        w_old = z["W"]
        if (int(z.get("feature_version", -1)) == FEATURE_VERSION
                and w_old.shape == (DIM, NUM_LABELS)):
            W = w_old.astype(np.float32)
            print("warm start from", HEAD)
        else:
            print(f"WARNING: artifact feature_version="
                  f"{int(z.get('feature_version', -1))} shape={w_old.shape} "
                  f"does not match current ({FEATURE_VERSION}, "
                  f"{(DIM, NUM_LABELS)}); cold start")
    for ep in range(epochs):
        order = rng.permutation(n)
        step = lr / (1 + ep)
        correct = 0
        for idx in order:
            f = X[idx]
            logits = W[f].sum(axis=0)
            logits -= logits.max()
            p = np.exp(logits)
            p /= p.sum()
            lab = y_arr[idx]
            if p.argmax() == lab:
                correct += 1
            g = p
            g[lab] -= 1.0
            W[f] -= step * g
        print(f"epoch {ep}: train acc {correct/n:.4f} "
              f"({time.time()-t0:.0f}s)")

    tmp = HEAD.with_name(".token_head.tmp.npz")  # savez appends .npz if missing
    np.savez_compressed(tmp, W=W.astype(np.float16),
                        feature_version=np.int64(FEATURE_VERSION))
    tmp.rename(HEAD)  # atomic publish
    print("saved", HEAD)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=120000)
    ap.add_argument("--epochs", type=int, default=3)
    ap.add_argument("--warm", action="store_true")
    ap.add_argument("--lr", type=float, default=0.25)
    args = ap.parse_args()
    main(n_docs=args.docs, epochs=args.epochs, warm=args.warm, lr=args.lr)
